"""Operator-query harness (SURVEY §2 inventory → driver contract M6).

``REGISTRY`` maps query name → ``(spark_fn, oracle_sql | None)``. Each
``spark_fn(spark, sf_dir)`` returns a DataFrame; the SQL string is the
DuckDB-equivalent over the same parquet tables. Column names are aliased
identically on both sides (the driver's compare sorts columns by name and
hashes values).

Determinism rules used throughout (so value hashes match across engines):

- double SUMs go through ``DECIMAL(18,4)`` (exact association-free
  addition) and are cast back to DOUBLE — both engines produce the
  identical IEEE double;
- averages divide two already-identical numbers and round ≥4 digits;
- every ORDER BY ... LIMIT has a total tiebreak key;
- shared hashing uses md5-hex → int (identical in both engines), never
  engine-native ``hash()``.

Operator citations refer to SURVEY.md §2 ids (S/P/J/A/W/F classes) which in
turn cite the reference ``work_order_extractor.py`` lines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def ld(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- shared SQL fragments -------------------------------------------------

def _dsum(col: str) -> str:
    """DuckDB exact-sum-of-doubles pattern."""
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE)"


def _spark_dsum(col) -> F.Column:
    return F.sum(col.cast("decimal(18,4)")).cast("double")


# ===========================================================================
# Aggregations (A1-A6) + filters/projections (P1-P6)
# ===========================================================================

def q_pricing_summary(spark, sf_dir):
    """A1/A3 analog at TPC-H Q1 shape: grouped running counters + cost math
    (reference session_stats :1887-1916, calculate_cost :815-835)."""
    li = ld(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= "1997-09-01")
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _spark_dsum(F.col("l_quantity")).alias("sum_qty"),
            _spark_dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _spark_dsum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                ).cast("double").cast("decimal(18,4)")
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
    )


SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base_price,
       CAST(SUM(CAST(CAST(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order,
       ROUND({_dsum('l_quantity')} / COUNT(*), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_filter_project(spark, sf_dir):
    """P1/P6 + F5: predicate pushdown + projection + row arithmetic
    (extension filter :1451; cost arithmetic :823-828)."""
    li = ld(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-02-01")
            & (F.col("l_discount") >= 0.05)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice*(1-l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
  AND l_discount >= 0.05
"""


def q_case_quality_flags(spark, sf_dir):
    """P4: min-size validity predicate as CASE quality buckets (:1713-1719)."""
    li = ld(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "quality",
            F.when(F.col("l_quantity") < 10, "too_small")
            .when(F.col("l_quantity") < 30, "ok")
            .otherwise("large"),
        )
        .groupBy("quality")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_CASE_QUALITY = """
SELECT CASE WHEN l_quantity < 10 THEN 'too_small'
            WHEN l_quantity < 30 THEN 'ok' ELSE 'large' END AS quality,
       COUNT(*) AS n
FROM lineitem GROUP BY 1
"""


def q_null_guard_coalesce(spark, sf_dir):
    """P5: null-guard projection (defensive dict check :1724-1730) —
    missing JSON key → null → coalesce default."""
    ev = ld(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.missing"), F.lit("absent")
        ).alias("guarded"),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("absent")).alias(
            "k_str"
        ),
    )


SQL_NULL_GUARD = """
SELECT event_id,
       COALESCE(json_extract_string(props, '$.missing'), 'absent') AS guarded,
       COALESCE(json_extract_string(props, '$.k'), 'absent') AS k_str
FROM events
"""


def q_status_counters(spark, sf_dir):
    """A1: success/failed counters by status column (:103-114, :1887-1916)."""
    ev = ld(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_failed"
        ),
    )


SQL_STATUS_COUNTERS = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
FROM events GROUP BY event_type
"""


def q_cost_sums(spark, sf_dir):
    """A2/A3: token/cost running sums with THB conversion ×33
    (track_api_usage :837-855, rate :95)."""
    ev = ld(spark, sf_dir, "events")
    usd = F.col("value") / 1e6 * 0.10
    return ev.groupBy("event_type").agg(
        _spark_dsum(usd.cast("decimal(18,4)").cast("double")).alias("cost_usd"),
        F.round(
            _spark_dsum(usd.cast("decimal(18,4)").cast("double")) * 33.0, 6
        ).alias("cost_thb"),
    )


SQL_COST_SUMS = """
SELECT event_type,
       CAST(SUM(CAST(CAST(CAST(value/1e6*0.10 AS DECIMAL(18,4)) AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS cost_usd,
       ROUND(CAST(SUM(CAST(CAST(CAST(value/1e6*0.10 AS DECIMAL(18,4)) AS DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) * 33.0, 6) AS cost_thb
FROM events GROUP BY event_type
"""


def q_count_distinct(spark, sf_dir):
    """A5: distinct keys (the reference set :977,988)."""
    li = ld(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


SQL_COUNT_DISTINCT = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
"""


def q_groupby_having(spark, sf_dir):
    """A1 variant with HAVING filter over grouped counters."""
    ev = ld(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= 25)
    )


SQL_GROUPBY_HAVING = """
SELECT user_id, COUNT(*) AS n_events FROM events
GROUP BY user_id HAVING COUNT(*) >= 25
"""


def q_progress_fraction(spark, sf_dir):
    """A6: processed/total fraction (:1919-1921)."""
    ev = ld(spark, sf_dir, "events")
    total = ev.select(F.count(F.lit(1)).alias("total"))
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(total)
        .select(
            "event_type",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("fraction"),
        )
    )


SQL_PROGRESS_FRACTION = """
SELECT event_type, COUNT(*) AS n,
       ROUND(COUNT(*) / (SELECT COUNT(*) FROM events), 6) AS fraction
FROM events GROUP BY event_type
"""


def q_rollup_agg(spark, sf_dir):
    """Grouping-sets family: ROLLUP subtotals + grand total (engine
    completeness beyond the reference, which has flat groupBy only)."""
    li = ld(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        _spark_dsum(F.col("l_quantity")).alias("sum_qty"),
    )


SQL_ROLLUP = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_counts(spark, sf_dir):
    """Pivot: per-user event-type count matrix (Spark .pivot vs CASE-sum)."""
    ev = ld(spark, sf_dir, "events")
    p = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


SQL_PIVOT = (
    "SELECT user_id, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type='{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id"
)


def q_salted_two_phase_agg(spark, sf_dir):
    """The skew pattern as a harness query: salt → per-(key,salt) partial
    aggregate → merge (SURVEY §4 'salting is plain column logic'). The
    oracle is the UNSALTED aggregate — proving the two-phase rewrite is
    semantics-preserving (exactness via DECIMAL partials)."""
    ev = ld(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(8)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("part_sum"),
        F.count(F.lit(1)).alias("part_n"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("part_sum").cast("double").alias("sum_value"),
        F.sum("part_n").alias("n"),
    )


SQL_SALTED_AGG = f"""
SELECT event_type, {_dsum('value')} AS sum_value, COUNT(*) AS n
FROM events GROUP BY event_type
"""


def q_conversation_rollup(spark, sf_dir):
    """Grouped-map UDF (applyInPandas) — per-conversation reassembly under
    the W2 stable-order guarantee (SURVEY §2.9 last row): each group sorts
    by (ts, event_id) and concatenates, exactly what per-conversation
    transcript ops do at scale; salting + merge keeps this correct for
    whales."""
    import pandas as pd

    ev = ld(spark, sf_dir, "events")

    def rollup(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(["ts", "event_id"])
        return pd.DataFrame(
            {
                "user_id": [g["user_id"].iloc[0]],
                "n_events": [len(g)],
                "event_seq": [",".join(g["event_type"])],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        rollup, schema="user_id long, n_events long, event_seq string"
    )


SQL_CONV_ROLLUP = """
SELECT user_id, COUNT(*) AS n_events,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq
FROM events GROUP BY user_id
"""


def q_percentiles(spark, sf_dir):
    """Exact percentiles (interpolated) per event type."""
    ev = ld(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


SQL_PERCENTILES = """
SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
"""


def q_approx_distinct(spark, sf_dir):
    """HLL++ sketch count-distinct — the at-scale variant of A5. The raw
    estimate is engine-specific, so what the oracle checks is the sketch's
    CONTRACT: ``within_bound`` = estimate within 5×rsd (rsd=0.02 → 10%) of
    the exact count, plus the exact count itself. DuckDB asserts the same
    exact counts and ``TRUE`` bounds — a value-hash-checkable end-to-end
    row instead of round 1's ``no_oracle``."""
    li = ld(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02)
                - F.countDistinct("l_partkey")
            )
            <= 0.1 * F.countDistinct("l_partkey")
        ).alias("within_bound"),
    )


SQL_APPROX_DISTINCT = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_percentile(spark, sf_dir):
    """GK-sketch quantile — the at-scale variant of `percentiles` (same
    contract-checking shape as `approx_distinct`): the sketch median must
    land within the exact [p47, p53] band (accuracy=200 ⇒ rank error
    0.5%, so the band is 6x the guarantee). Oracle asserts the exact
    median and a TRUE bound."""
    ev = ld(spark, sf_dir, "events")
    approx = F.expr("approx_percentile(value, 0.5, 200)")
    lo = F.expr("percentile(value, 0.47)")
    hi = F.expr("percentile(value, 0.53)")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
        ((approx >= lo) & (approx <= hi)).alias("within_bound"),
    )


SQL_APPROX_PERCENTILE = """
SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


# ===========================================================================
# Joins (J1-J3 + verification join)
# ===========================================================================

def q_semi_join(spark, sf_dir):
    """J1: broadcast hash semi-join membership (set probe :1752-1767,
    build side :976-996)."""
    orders = ld(spark, sf_dir, "orders")
    cust = ld(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


SQL_SEMI_JOIN = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING')
"""


def q_anti_join(spark, sf_dir):
    """J2: anti-join complement (not_match routing :1786-1797) —
    customers with no URGENT order."""
    cust = ld(spark, sf_dir, "customer")
    urgent = ld(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_outer_disposition(spark, sf_dir):
    """J1+J2 in ONE pass: outer join → disposition column, mirroring the
    reference's single probe feeding both branches (:1769-1797) and the
    pipeline's matched/not_matched design."""
    orders = ld(spark, sf_dir, "orders")
    rich = ld(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey"
    )
    j = orders.join(
        F.broadcast(rich), orders.o_custkey == rich.c_custkey, "left"
    )
    return (
        j.withColumn(
            "disposition",
            F.when(F.col("c_custkey").isNotNull(), "matched").otherwise(
                "not_matched"
            ),
        )
        .groupBy("disposition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _spark_dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


SQL_OUTER_DISPOSITION = f"""
SELECT CASE WHEN c.c_custkey IS NOT NULL THEN 'matched' ELSE 'not_matched' END AS disposition,
       COUNT(*) AS n,
       {_dsum('o_totalprice')} AS sum_price
FROM orders o LEFT JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) c
  ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


def q_dim_chain_join(spark, sf_dir):
    """J3: tiny-dim lookup chain customer→nation→region (pricing lookup
    :817-820 as broadcast joins)."""
    cust = ld(spark, sf_dir, "customer")
    nation = ld(spark, sf_dir, "nation")
    region = ld(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _spark_dsum(F.col("c_acctbal")).alias("sum_acctbal"),
        )
    )


SQL_DIM_CHAIN = f"""
SELECT r_name, COUNT(*) AS n_customers, {_dsum('c_acctbal')} AS sum_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r_name
"""


def q_golden_verify_join(spark, sf_dir):
    """The golden-equality verification join (SURVEY §2.3): FULL OUTER on
    the key, emitting per-key agreement flags — the shape the test suite
    uses for per-turn equality."""
    orders = ld(spark, sf_dir, "orders")
    cust = ld(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "full_outer"
    )
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.col("c_custkey").isNotNull().alias("in_customer"),
        (F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull()).alias(
            "sides_agree"
        ),
    )


SQL_GOLDEN_VERIFY = """
SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
       COALESCE(o.n_orders, 0) AS n_orders,
       c.c_custkey IS NOT NULL AS in_customer,
       (c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL) AS sides_agree
FROM customer c FULL OUTER JOIN
     (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
"""


# ===========================================================================
# Windows / ordering / limits (W1-W4)
# ===========================================================================

def q_window_tumbling(spark, sf_dir):
    """Event-time tumbling window aggregate (streaming-adjacent shape,
    SURVEY §2.8): 15-minute buckets of event counts + value sums — in
    Structured Streaming the identical expression runs under a watermark."""
    ev = ld(spark, sf_dir, "events")
    win = F.window(F.col("ts").cast("timestamp"), "15 minutes")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _spark_dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


SQL_WINDOW_TUMBLING = f"""
SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS bucket_start, event_type,
       COUNT(*) AS n, {_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


def q_countmin(spark, sf_dir):
    """Count–Min sketch frequency estimates for user event counts (the
    'novel sketch' tier: Spark has no CMS built-in, so it's composed from
    groupBy + broadcast join). All hashes are md5-derived, so the DuckDB
    oracle reproduces the ESTIMATES bit-for-bit — a full value check, not
    a bound check — and `never_under` pins the CMS guarantee in-data."""
    from .operators import dedup

    return dedup.countmin_estimates(
        ld(spark, sf_dir, "events"), "user_id",
        depth=dedup.CMS_DEPTH, width=dedup.CMS_WIDTH,
    )


def _cms_sql(depth: int, width: int) -> str:
    def bucket(i: int) -> str:
        return (
            f"CAST(CONCAT('0x', substr(md5('{i}#' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % {width}"
        )

    hashed_cols = ", ".join(f"{bucket(i)} AS b{i}" for i in range(depth))
    counters = " UNION ALL ".join(
        f"SELECT {i} AS rw, b{i} AS bucket, COUNT(*) AS cnt FROM hashed GROUP BY 2"
        for i in range(depth)
    )
    probe_case = " ".join(f"WHEN {i} THEN b{i}" for i in range(depth))
    bcols = ", ".join(f"b{i}" for i in range(depth))
    return f"""
WITH hashed AS (SELECT user_id, {hashed_cols} FROM events),
counters AS ({counters}),
keys AS (SELECT user_id, {bcols}, COUNT(*) AS exact_n FROM hashed GROUP BY ALL),
probes AS (
  SELECT user_id, exact_n, j AS rw, CASE j {probe_case} END AS bucket
  FROM keys, LATERAL (SELECT unnest(generate_series(0, {depth - 1})) AS j)),
est AS (
  SELECT user_id, exact_n, MIN(cnt) AS cms_n
  FROM probes JOIN counters USING (rw, bucket) GROUP BY 1, 2)
SELECT user_id, exact_n, cms_n, cms_n >= exact_n AS never_under FROM est
"""


SQL_COUNTMIN = _cms_sql(4, 256)


def q_hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: the DAILY rollup is computed
    FROM the hourly pre-aggregates (sum-of-sums / sum-of-counts), never
    from raw rows — the re-aggregation that makes multi-granularity
    dashboards O(buckets) instead of O(events) at 100 TB. The partial sums
    stay DECIMAL through both levels, so the oracle (a direct daily
    aggregation over raw events) matches exactly — proving the rollup is
    lossless."""
    ev = ld(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "sum_dec")
    )
    daily = (
        hourly.groupBy(
            F.window("hour_start", "1 day").alias("d"), "event_type"
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
        .select(
            F.col("d.start").cast("timestamp_ntz").alias("day_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return daily


SQL_HYPERTABLE_ROLLUP = f"""
SELECT time_bucket(INTERVAL 1 DAY, ts) AS day_start, event_type,
       COUNT(*) AS n, {_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2
"""


def q_asof_join(spark, sf_dir):
    """AS-OF join (temporal operator Spark lacks as a built-in): for every
    click, the latest purchase at-or-before it by the same user.
    Implemented as ONE per-key sort window over the unioned streams; the
    oracle is DuckDB's native ASOF JOIN — a fully independent
    implementation of the same semantics."""
    from .operators import temporal

    ev = ld(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = temporal.asof_join(clicks, purchases, "user_id", "ts", ["value"])
    return out.select(
        "event_id", "user_id", "asof_ts", F.col("asof_value")
    )


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
-- pre-reduce (user, ts) ties to MAX(value): DuckDB's native ASOF picks an
-- ARBITRARY row among equal timestamps, while the engine's window pins the
-- lexicographic-max tiebreak; after the reduction both semantics coincide
-- and the oracle stays the independent native-ASOF implementation
purchases AS (
  SELECT user_id, ts, MAX(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, p.ts AS asof_ts, p.value AS asof_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_range_join(spark, sf_dir):
    """Bounded range join: purchases within the 24h before each click
    (count + exact sum), banded into (user, 24h-bucket) hash-join probes —
    the inequality never reaches the join condition. Oracle: DuckDB's
    plain inequality join."""
    from .operators import temporal

    ev = ld(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return temporal.range_join_agg(
        clicks, purchases, "user_id", "ts", "value",
        range_seconds=86400, left_id_cols=["event_id"],
    )


SQL_RANGE_JOIN = f"""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id,
       COUNT(p.ts) AS n_in_range,
       {_dsum('p.value')} AS sum_in_range
FROM clicks c LEFT JOIN purchases p
  ON c.user_id = p.user_id
 AND p.ts > c.ts - INTERVAL 24 HOURS AND p.ts <= c.ts
GROUP BY 1, 2
"""


def q_window_sliding(spark, sf_dir):
    """Sliding (overlapping) event-time window: 48h windows sliding every
    24h — each event lands in exactly two windows. Completes the window
    family beside tumbling (`window_tumbling`) and session
    (`session_window`)."""
    ev = ld(spark, sf_dir, "events")
    win = F.window(F.col("ts").cast("timestamp"), "48 hours", "24 hours")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _spark_dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n",
            "sum_value",
        )
    )


SQL_WINDOW_SLIDING = f"""
WITH expanded AS (
  SELECT time_bucket(INTERVAL 24 HOURS, ts) - j * INTERVAL 24 HOURS AS window_start,
         value
  FROM events, LATERAL (SELECT unnest([0, 1]) AS j))
SELECT window_start, window_start + INTERVAL 48 HOURS AS window_end,
       COUNT(*) AS n, {_dsum('value')} AS sum_value
FROM expanded GROUP BY 1
"""


def q_session_window(spark, sf_dir):
    """Gap-based session window per user (12h inactivity gap): Spark's
    `session_window` merges events closer than the gap; the session ends
    at last-event + gap. The DuckDB oracle is the classic gaps-and-islands
    formulation (lag → new-session flag → running sum → group)."""
    ev = ld(spark, sf_dir, "events")
    sw = F.session_window(F.col("ts").cast("timestamp"), "12 hours")
    return (
        ev.groupBy(sw.alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _spark_dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SQL_SESSION_WINDOW = f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 12 HOURS
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 12 HOURS AS session_end,
       COUNT(*) AS n_events, {_dsum('value')} AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_dedup_materialize(spark, sf_dir):
    """Materialized exact dedup: the corpus with one keeper per duplicate
    group (hash semi-join back — never joins text)."""
    from .operators import dedup

    return dedup.deduplicate_exact(ld(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_DEDUP_MATERIALIZE = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
"""


def q_first_per_user(spark, sf_dir):
    """W1: first-page-per-document analog — first event per user (:1125)."""
    ev = ld(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


SQL_FIRST_PER_USER = """
SELECT user_id, event_id, event_type FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
"""


def q_turn_order_window(spark, sf_dir):
    """W2: stable intra-group ordering — the north rule's
    (conv_id, turn_idx) window on the events analog (:1415-1428)."""
    ev = ld(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", F.row_number().over(w).alias("turn_order")
    )


SQL_TURN_ORDER = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_order
FROM events
"""


def q_lag_gap(spark, sf_dir):
    """Analytic lag: inter-event gap seconds per user (throughput/ETA math
    :1927-1933 needs exactly this delta)."""
    ev = ld(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("double")
    return ev.select(
        "user_id",
        "event_id",
        F.round(sec - F.lag(sec).over(w), 6).alias("gap_sec"),
    )


SQL_LAG_GAP = """
SELECT user_id, event_id,
       ROUND(epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS gap_sec
FROM events
"""


def q_running_sum(spark, sf_dir):
    """Running totals (the reference's cumulative counters :842-846) as a
    window frame ROWS UNBOUNDED PRECEDING."""
    ev = ld(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


SQL_RUNNING_SUM = """
SELECT user_id, event_id,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
FROM events
"""


def q_top_k(spark, sf_dir):
    """W3: first-k sample with deterministic tiebreak (:1503, :1742)."""
    orders = ld(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


SQL_TOP_K = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_min_max_clamp(spark, sf_dir):
    """W4/P3: least/greatest clamp + abs/floor (:1218-1238)."""
    li = ld(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest(F.lit(5.0), F.least(F.lit(45.0), F.col("l_quantity"))).alias(
            "clamped_qty"
        ),
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("price_bucket"),
    )


SQL_MIN_MAX_CLAMP = """
SELECT l_orderkey, l_linenumber,
       greatest(5.0, least(45.0, l_quantity)) AS clamped_qty,
       abs(l_discount - 0.05) AS abs_disc_delta,
       CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_bucket
FROM lineitem
"""


# ===========================================================================
# Set operations (§2.6)
# ===========================================================================

def q_union_all(spark, sf_dir):
    orders = ld(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit("urgent").alias("bucket")
    )
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        "o_orderkey", F.lit("low").alias("bucket")
    )
    return a.unionByName(b)


SQL_UNION_ALL = """
SELECT o_orderkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority='1-URGENT'
UNION ALL
SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_orderpriority='5-LOW'
"""


def q_intersect_keys(spark, sf_dir):
    cust = ld(spark, sf_dir, "customer")
    orders = ld(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


SQL_INTERSECT = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment='BUILDING'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus='P'
"""


def q_except_keys(spark, sf_dir):
    cust = ld(spark, sf_dir, "customer")
    orders = ld(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b).distinct()


SQL_EXCEPT = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment='BUILDING'
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus='P'
"""


# ===========================================================================
# Scalar functions (F1-F9)
# ===========================================================================

def q_string_funcs(spark, sf_dir):
    """F1/F2: case/trim/affix + construction — the CS-{wo}-{equip}.pdf
    pattern (:1772-1774) over customer attrs."""
    cust = ld(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.lower(F.col("c_mktsegment")).alias("seg_lower"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias(
            "trimmed"
        ),
        F.col("c_name").endswith("1").alias("ends_1"),
        F.format_string(
            "CS-%s-%s.pdf", F.col("c_custkey").cast("string"), F.col("c_mktsegment")
        ).alias("out_name"),
    )


SQL_STRING_FUNCS = """
SELECT c_custkey, lower(c_mktsegment) AS seg_lower,
       trim('  ' || c_name || '  ') AS trimmed,
       c_name LIKE '%1' AS ends_1,
       printf('CS-%s-%s.pdf', CAST(c_custkey AS VARCHAR), c_mktsegment) AS out_name
FROM customer
"""


def q_regex_extract(spark, sf_dir):
    """F9: anchored regex extraction — the engine's core operator
    (prompt spec :1615-1624) exercised on driver tables: extract the 8-digit
    work-order key from a constructed 'Work Order No. :' line."""
    orders = ld(spark, sf_dir, "orders")
    text = F.concat(
        F.lit("Work Order No. : "),
        F.lpad(F.pmod(F.col("o_orderkey"), F.lit(100000000)).cast("string"), 8, "0"),
        F.lit(" Equipment: EQ-"),
        F.col("o_custkey").cast("string"),
    )
    wo = F.regexp_extract(text, r"Work\s+Order\s+No\.?\s*:?\s*(\d{8})", 1)
    eq = F.regexp_extract(text, r"Equipment:\s*([A-Za-z0-9\-]+)", 1)
    return orders.select(
        "o_orderkey",
        wo.alias("wo"),
        eq.alias("equip"),
        F.nullif(wo, F.lit("")).cast("long").alias("wo_num"),
    )


SQL_REGEX_EXTRACT = r"""
WITH t AS (
  SELECT o_orderkey,
         'Work Order No. : ' || lpad(CAST(o_orderkey % 100000000 AS VARCHAR), 8, '0')
         || ' Equipment: EQ-' || CAST(o_custkey AS VARCHAR) AS text
  FROM orders)
SELECT o_orderkey,
       regexp_extract(text, 'Work\s+Order\s+No\.?\s*:?\s*(\d{8})', 1) AS wo,
       regexp_extract(text, 'Equipment:\s*([A-Za-z0-9\-]+)', 1) AS equip,
       CAST(nullif(regexp_extract(text, 'Work\s+Order\s+No\.?\s*:?\s*(\d{8})', 1), '') AS BIGINT) AS wo_num
FROM t
"""


def q_json_funcs(spark, sf_dir):
    """F3: JSON path extraction (json.loads of the API response :1670)."""
    ev = ld(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


SQL_JSON_FUNCS = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
FROM events
"""


def q_cast_normalize(spark, sf_dir):
    """F4: str/int key normalization (:1752-1767) — zero-padded string keys
    cast back to numbers, both directions."""
    cust = ld(spark, sf_dir, "customer")
    padded = F.lpad(F.col("c_custkey").cast("string"), 8, "0")
    return cust.select(
        "c_custkey",
        padded.alias("padded_key"),
        padded.cast("long").alias("renormalized"),
        (padded.cast("long") == F.col("c_custkey")).alias("roundtrip_ok"),
        F.col("c_name").rlike("^Customer#[0-9]+$").alias("name_is_keyed"),
    )


SQL_CAST_NORMALIZE = """
SELECT c_custkey,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
       CAST(lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS BIGINT) AS renormalized,
       CAST(lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS BIGINT) = c_custkey AS roundtrip_ok,
       regexp_full_match(c_name, 'Customer#[0-9]+') AS name_is_keyed
FROM customer
"""


def q_datetime_funcs(spark, sf_dir):
    """F6: date formatting + extraction (:1000-1001) — month rollup."""
    orders = ld(spark, sf_dir, "orders")
    return (
        orders.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


SQL_DATETIME_FUNCS = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n,
       MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order
FROM orders GROUP BY 1
"""


def q_base64_funcs(spark, sf_dir):
    """F7: base64 encode/roundtrip (payload embedding :1609-1612)."""
    cust = ld(spark, sf_dir, "customer")
    b64 = F.base64(F.encode(F.col("c_name"), "utf-8"))
    return cust.select(
        "c_custkey",
        b64.alias("name_b64"),
        F.decode(F.unbase64(b64), "utf-8").alias("roundtrip"),
    )


SQL_BASE64_FUNCS = """
SELECT c_custkey, to_base64(encode(c_name)) AS name_b64,
       decode(from_base64(to_base64(encode(c_name)))) AS roundtrip
FROM customer
"""


def q_format_number(spark, sf_dir):
    """F8: thousands-separator + fixed-width formatting (:803-806)."""
    docs = ld(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.format_number(F.col("n_chars"), 0).alias("n_chars_fmt"),
        F.format_string("%08d", F.col("doc_id").cast("int")).alias("doc_key"),
    )


SQL_FORMAT_NUMBER = """
SELECT doc_id, format('{:,}', n_chars) AS n_chars_fmt,
       printf('%08d', doc_id) AS doc_key
FROM documents
"""


# ===========================================================================
# Explode / page split (S-page stream, §2.9 UDTF shape)
# ===========================================================================

def q_explode_words(spark, sf_dir):
    """Array explode + re-aggregation (page explode :1390-1445 subsumed by
    explode per SURVEY §2.6): word frequencies over documents."""
    docs = ld(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EXPLODE_WORDS = """
SELECT word, COUNT(*) AS n FROM
  (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
WHERE word <> '' GROUP BY word
"""


def q_page_split(spark, sf_dir):
    """The reference's 1→N page split with `_page_%03d` naming (:1415-1428)
    as sequence+posexplode, page count derived per row."""
    orders = ld(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    n_pages = (F.pmod(F.col("o_orderkey"), F.lit(3)) + 1).cast("int")
    arr = orders.select(
        "o_orderkey", F.sequence(F.lit(1), n_pages).alias("pages")
    )
    ex = arr.select("o_orderkey", F.explode("pages").alias("page_no"))
    return ex.select(
        "o_orderkey",
        "page_no",
        F.format_string("doc%d_page_%03d.pdf", "o_orderkey", "page_no").alias(
            "page_name"
        ),
    )


SQL_PAGE_SPLIT = """
SELECT o_orderkey, CAST(page_no AS INTEGER) AS page_no,
       printf('doc%d_page_%03d.pdf', o_orderkey, page_no) AS page_name
FROM (SELECT o_orderkey, unnest(generate_series(1, CAST(o_orderkey % 3 AS INTEGER) + 1)) AS page_no
      FROM orders WHERE o_orderkey < 2000)
"""


# ===========================================================================
# Training-data ops: dedup family (documents)
# ===========================================================================

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash groupBy keeping the smallest doc_id."""
    from .operators import dedup

    return dedup.exact_duplicates(ld(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
"""


_SQL_SHINGLES = """
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
  WHERE len(ws) >= 3
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup candidates: n-gram Jaccard over 3-word shingles — shingle
    self-join → common counts → |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.6."""
    from .operators import dedup

    return dedup.ngram_jaccard_pairs(
        ld(spark, sf_dir, "documents"), n=3, threshold=0.6
    )


SQL_NGRAM_JACCARD = f"""
WITH shingles AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc1, doc2,
       ROUND(n_common / (s1.n_sh + s2.n_sh - n_common), 6) AS jaccard
FROM common JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
WHERE ROUND(n_common / (s1.n_sh + s2.n_sh - n_common), 6) >= 0.6
"""


def q_repeated_spans(spark, sf_dir):
    """Repeated-span audit (substring-dedup / memorization-hazard
    metric): per document, the count and fraction of tokens covered by
    a 3-gram occurring >= 2 times anywhere in the corpus — cross-doc
    duplication and within-doc boilerplate both count. Linear plan
    (positioned shingles -> occurrence groupBy on the constant-size
    shingle key -> semi-join back -> bounded coverage explode); audits
    span MASS without the pair materialization full substring dedup
    needs."""
    from .operators import dedup

    return dedup.repeated_spans(ld(spark, sf_dir, "documents"), n=3, min_count=2)


SQL_REPEATED_SPANS = """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
psh AS (
  SELECT doc_id, i - 1 AS pos,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM ws, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
  WHERE len(ws) >= 3),
hot AS (SELECT shingle FROM psh GROUP BY shingle HAVING COUNT(*) >= 2),
rep AS (SELECT psh.doc_id, psh.pos FROM psh JOIN hot USING (shingle)),
cov AS (SELECT DISTINCT doc_id, p
        FROM rep, LATERAL (SELECT unnest(generate_series(pos, pos+2)) AS p)),
nrep AS (SELECT doc_id, COUNT(*) AS n_repeated_tokens FROM cov GROUP BY doc_id),
toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
SELECT t.doc_id, CAST(t.n_tokens AS INTEGER) AS n_tokens,
       CAST(COALESCE(n.n_repeated_tokens, 0) AS BIGINT) AS n_repeated_tokens,
       ROUND(COALESCE(n.n_repeated_tokens, 0) / t.n_tokens, 6) AS repeated_frac
FROM toks t LEFT JOIN nrep n ON t.doc_id = n.doc_id
"""


def q_containment_pairs(spark, sf_dir):
    """Asymmetric containment |A∩B|/|A| >= 0.8 over 3-gram shingles —
    the quote/subset detector symmetric Jaccard misses (a short doc
    fully quoted in a long one: Jaccard ~0, containment 1.0; Broder's
    resemblance-vs-containment distinction). doc1 = the contained side;
    both directions considered. At scale the intersection join runs on
    LSH candidates (the candidates= parameter), same discipline as the
    Jaccard verify."""
    from .operators import dedup

    return dedup.containment_pairs(
        ld(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


SQL_CONTAINMENT_PAIRS = f"""
WITH shingles AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT doc1, doc2, ROUND(n_common / s.n_sh, 6) AS containment
FROM common JOIN sizes s ON doc1 = s.doc_id
WHERE ROUND(n_common / s.n_sh, 6) >= 0.8
"""


N_MINHASH = 8
LSH_BANDS = 4  # 2 rows per band


def _mh_hash_sql(expr: str, i: int) -> str:
    """Affine MinHash family over one md5-derived base hash — must stay in
    lockstep with operators/dedup.py MH_A/MH_B/MH_P."""
    from .operators.dedup import MH_A, MH_B, MH_P

    base = f"CAST(CONCAT('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"
    return f"(({MH_A(i)} * {base} + {MH_B(i)}) % {MH_P})"


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 hashes) per document over 3-gram shingles —
    the scale path for dedup: signature size is constant regardless of doc
    length, so the shuffle carries 8 longs instead of the shingle set."""
    from .operators import dedup

    return dedup.minhash_signatures(ld(spark, sf_dir, "documents"), N_MINHASH)


SQL_MINHASH_SIG = f"""
WITH shingles AS ({_SQL_SHINGLES})
SELECT doc_id,
  {', '.join(f"MIN({_mh_hash_sql('shingle', i)}) AS mh{i}" for i in range(N_MINHASH))}
FROM shingles GROUP BY doc_id
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs: band the 8-hash signature into 4 bands
    of 2; docs sharing any band bucket become candidates (shingle→minhash→
    band→bucket-join). This is the 100 TB-shaped dedup: the join key is a
    small band hash, never the raw text."""
    from .operators import dedup

    return dedup.minhash_lsh_pairs(
        ld(spark, sf_dir, "documents"), N_MINHASH, LSH_BANDS
    )


SQL_MINHASH_LSH = f"""
WITH shingles AS ({_SQL_SHINGLES}),
sig AS (
  SELECT doc_id,
    {', '.join(f"MIN({_mh_hash_sql('shingle', i)}) AS mh{i}" for i in range(N_MINHASH))}
  FROM shingles GROUP BY doc_id),
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS bucket FROM sig"
      for b in range(LSH_BANDS)
  )})
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


LSH_MAX_DF = 3  # document-frequency cut for the stop-phrase-hygiene query


def q_minhash_lsh_dfcut(spark, sf_dir):
    """MinHash+LSH candidate pairs WITH the document-frequency cut
    (``max_df=3``): shingles appearing in more than 3 documents are
    dropped before signature generation — the standard MinHashLSH
    hygiene against corpus-wide stop phrases. At 100 TB this bounds each
    shingle's candidate contribution at max_df² pairs; without it one
    boilerplate phrase funnels unrelated documents into shared buckets
    and the verify fan-out goes quadratic (hot-bucket fixture test in
    tests/test_dedup_dfcut.py measures exactly that)."""
    from .operators import dedup

    return dedup.minhash_lsh_pairs(
        ld(spark, sf_dir, "documents"), N_MINHASH, LSH_BANDS, max_df=LSH_MAX_DF
    )


SQL_MINHASH_LSH_DFCUT = f"""
WITH sh0 AS ({_SQL_SHINGLES}),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= {LSH_MAX_DF}),
shingles AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sig AS (
  SELECT doc_id,
    {', '.join(f"MIN({_mh_hash_sql('shingle', i)}) AS mh{i}" for i in range(N_MINHASH))}
  FROM shingles GROUP BY doc_id),
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS bucket FROM sig"
      for b in range(LSH_BANDS)
  )})
SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


SIMHASH_BITS = 16


def q_simhash(spark, sf_dir):
    """SimHash document fingerprint: per-token md5-derived hash; bit j of
    the fingerprint = sign of Σ_tokens (±1 per bit). Near-dup docs differ
    in few bits (compare via hamming distance downstream)."""
    from .operators import dedup

    return dedup.simhash(ld(spark, sf_dir, "documents"), SIMHASH_BITS)


SQL_SIMHASH = f"""
WITH words AS (
  SELECT doc_id, w FROM
    (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
  WHERE w <> ''),
hashed AS (
  SELECT doc_id, CAST(CONCAT('0x', substr(md5(w),1,8)) AS BIGINT) AS h FROM words),
bits AS (
  SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, LATERAL (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
  GROUP BY doc_id, bit)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_simhash_near_pairs(spark, sf_dir):
    """Near-dup pairs by SimHash hamming distance ≤ 3, candidate-pruned by
    half-fingerprint buckets (pigeonhole: distance ≤ d ⇒ some segment of
    d+1 is equal; with 2 segments this catches distance ≤ 1 exactly and
    most of ≤ 3 — the recall/cost tradeoff of segment LSH)."""
    from .operators import dedup

    return dedup.simhash_near_pairs(
        ld(spark, sf_dir, "documents"), max_hamming=3, bits=SIMHASH_BITS
    )


SQL_SIMHASH_NEAR = f"""
WITH words AS (
  SELECT doc_id, w FROM
    (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
  WHERE w <> ''),
hashed AS (
  SELECT doc_id, CAST(CONCAT('0x', substr(md5(w),1,8)) AS BIGINT) AS h FROM words),
bits AS (
  SELECT doc_id, bit, SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, LATERAL (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
  GROUP BY doc_id, bit),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id),
segs AS (
  SELECT doc_id, simhash, 0 AS seg, simhash % {2 ** (SIMHASH_BITS // 2)} AS key FROM sh
  UNION ALL
  SELECT doc_id, simhash, 1 AS seg, simhash // {2 ** (SIMHASH_BITS // 2)} AS key FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
         a.simhash AS h1, b.simhash AS h2
  FROM segs a JOIN segs b
    ON a.seg = b.seg AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc1, doc2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(h1, h2)) <= 3
"""


EMB_DIMS = 16
EMB_PLANES = 6


def _plane_val_sql(j: str, d: str) -> str:
    """Integer hyperplane value for (plane j, dim d) — must stay in
    lockstep with operators/similarity.py `_planes_matrix`."""
    return f"(((1 + ({j}*64 + {d}) * 2654435761) % 2001) - 1000)"


def q_embedding_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup (third near-dup family): deterministic
    hashed-BoW embeddings (integer sums — cross-engine-exact), hyperplane-
    LSH buckets, within-bucket cosine ≥ 0.95. At sf0.01 this recovers the
    same 25 true near-dup pairs as the n-gram Jaccard verifier."""
    from .operators import dedup

    return dedup.embedding_near_pairs(
        ld(spark, sf_dir, "documents"),
        threshold=0.95, dims=EMB_DIMS, n_planes=EMB_PLANES,
    )


def _emb_sql_ctes() -> str:
    dim_sums = ", ".join(
        f"SUM(CAST(CONCAT('0x', substr(md5('{j}#' || w), 1, 8)) AS BIGINT) % 1001 - 500) AS e{j}"
        for j in range(EMB_DIMS)
    )
    arr = ", ".join(f"CAST(e{j} AS DOUBLE)" for j in range(EMB_DIMS))
    return f"""
words AS (
  SELECT doc_id, w FROM
    (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''),
emb AS (SELECT doc_id, {dim_sums} FROM words GROUP BY doc_id),
vec AS (SELECT doc_id, [{arr}] AS embedding FROM emb),
e AS (
  SELECT doc_id, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (SELECT doc_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS d FROM vec)),
ed AS (
  SELECT doc_id, d, x, j
  FROM e, LATERAL (SELECT unnest(generate_series(0, {EMB_PLANES - 1})) AS j)),
proj AS (
  SELECT doc_id, j,
         SUM(CAST(x * CAST({_plane_val_sql('j', 'd')} AS DOUBLE) AS DECIMAL(28,9))) AS proj
  FROM ed GROUP BY doc_id, j),
buckets AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS INTEGER) AS bucket
  FROM proj GROUP BY doc_id),
withv AS (
  SELECT b.doc_id, b.bucket, v.embedding FROM buckets b
  JOIN vec v ON b.doc_id = v.doc_id)
"""


SQL_EMBEDDING_NEAR = f"""
WITH {_emb_sql_ctes()}
SELECT a.doc_id AS doc1, c.doc_id AS doc2,
       ROUND(list_dot_product(a.embedding, c.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS sim
FROM withv a JOIN withv c ON a.bucket = c.bucket AND a.doc_id < c.doc_id
WHERE ROUND(list_dot_product(a.embedding, c.embedding) /
            (sqrt(list_dot_product(a.embedding, a.embedding)) *
             sqrt(list_dot_product(c.embedding, c.embedding))), 4) >= 0.95
"""


def q_dedup_near_materialize(spark, sf_dir):
    """End-to-end near-dup dedup — LSH candidates → Jaccard verify on
    candidates only → greedy keeper (drop larger id of each verified
    pair) → materialized corpus. The composition proves LSH prunes the
    cross product: Jaccard runs only on band-bucket collisions."""
    from .operators import dedup

    return dedup.deduplicate_near(
        ld(spark, sf_dir, "documents"), n=3, threshold=0.6,
        n_hashes=N_MINHASH, bands=LSH_BANDS,
    ).select("doc_id", "lang", "source", "n_chars")


# the LSH-candidates → Jaccard-verified near-dup pair CTEs, shared by the
# dedup materializer, the connected-components clustering oracle, and the
# composed corpus-build oracle (parametrized on the source CTE so the
# near-dup stage can run over an already-filtered subset)
def _sql_verified_ctes(src: str = "documents") -> str:
    shingles_src = _SQL_SHINGLES.replace("FROM documents", f"FROM {src}")
    return f"""shingles AS ({shingles_src}),
sig AS (
  SELECT doc_id,
    {', '.join(f"MIN({_mh_hash_sql('shingle', i)}) AS mh{i}" for i in range(N_MINHASH))}
  FROM shingles GROUP BY doc_id),
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS bucket FROM sig"
      for b in range(LSH_BANDS)
  )}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.doc1, c.doc2, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles s1 ON s1.doc_id = c.doc1
  JOIN shingles s2 ON s2.doc_id = c.doc2 AND s2.shingle = s1.shingle
  GROUP BY 1, 2),
verified AS (
  SELECT doc1, doc2 FROM common
  JOIN sizes z1 ON doc1 = z1.doc_id JOIN sizes z2 ON doc2 = z2.doc_id
  WHERE ROUND(n_common / (z1.n_sh + z2.n_sh - n_common), 6) >= 0.6)"""


_SQL_VERIFIED_CTES = _sql_verified_ctes()


SQL_DEDUP_NEAR = f"""
WITH {_SQL_VERIFIED_CTES}
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc2 FROM verified)
"""


def q_dedup_components(spark, sf_dir, persisted_out: list | None = None):
    """Duplicate-CLUSTER assignment: connected components over the
    verified near-dup pair graph by one union-find task (component id =
    min doc id of the cluster — the exact cluster semantics the greedy
    keeper rule approximates; training pipelines keep the assignment for
    cluster-size features and one-per-cluster sampling). Oracle: a DuckDB
    recursive-CTE transitive closure — a fully independent implementation
    of the same fixpoint."""
    from .operators import dedup

    docs = ld(spark, sf_dir, "documents")
    # persisted_out: the cache-lifecycle escape hatch for repeated callers
    verified = dedup._lsh_verified_pairs(
        docs, n_hashes=N_MINHASH, bands=LSH_BANDS, persisted_out=persisted_out
    )
    return dedup.connected_components(
        docs.select("doc_id"), verified.select("doc1", "doc2")
    )


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_SQL_VERIFIED_CTES},
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM verified
  UNION ALL SELECT doc2, doc1 FROM verified),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.src, e.b FROM reach JOIN edges e ON reach.dst = e.a)
SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src
"""


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics as a batch plan (the warehouse upsert sink
    the reference's destructive config/rename writes approximate): a
    deterministic change batch (every 7th order re-priced, every 11th a
    brand-new key) merged into orders — matched keys take the source
    row, unmatched keep the target, source-only keys insert. One full
    outer join on the key; at scale both sides bucket on o_orderkey and
    the join is co-located (plans/bucketing.py), never a fabric-wide
    shuffle per merge."""
    orders = ld(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
    ).unionAll(
        orders.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
    )
    t = orders.alias("t")
    s = src.alias("s")
    merged = t.join(s, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.coalesce(F.col("s.o_custkey"), F.col("t.o_custkey")).alias(
            "o_custkey"
        ),
        F.coalesce(F.col("s.o_totalprice"), F.col("t.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.when(
            F.col("s.o_custkey").isNotNull()
            & F.col("t.o_custkey").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("s.o_custkey").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("kept"))
        .alias("merge_action"),
    )
    return merged.groupBy("merge_action").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # decimal-exact sum, rendered as DOUBLE on both sides (the repo's
        # standard cross-engine money-sum contract, see cost_sums)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


SQL_MERGE_UPSERT = """
WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
s AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0),
merged AS (
  SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
         COALESCE(s.o_custkey, t.o_custkey) AS o_custkey,
         COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
         CASE WHEN s.o_custkey IS NOT NULL AND t.o_custkey IS NOT NULL
                THEN 'updated'
              WHEN s.o_custkey IS NOT NULL THEN 'inserted'
              ELSE 'kept' END AS merge_action
  FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
SELECT merge_action, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM merged GROUP BY 1
"""


def q_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type 2 from an event log: each
    customer's order events (ts, price) become versioned history rows
    with ``valid_from`` / ``valid_to`` (next event's ts, NULL while
    current) and a version number — the lag/lead windowing shape every
    warehouse dimension build runs. Aggregated to per-customer version
    counts + current-row stats so the result is compact and hash-stable."""
    orders = ld(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    hist = orders.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        "o_totalprice",
    )
    return hist.groupBy("o_custkey").agg(
        F.max("version").cast("int").alias("n_versions"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_current"),
        F.max(
            F.when(
                F.col("valid_to").isNull(),
                F.col("o_totalprice").cast("decimal(18,2)"),
            )
        )
        .cast("double")
        .alias("current_price"),
    )


SQL_SCD2_HISTORY = """
WITH hist AS (
  SELECT o_custkey,
         o_orderdate AS valid_from,
         lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS valid_to,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS version,
         o_totalprice
  FROM orders)
SELECT o_custkey,
       CAST(MAX(version) AS INTEGER) AS n_versions,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_current,
       CAST(MAX(CASE WHEN valid_to IS NULL
                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS current_price
FROM hist GROUP BY 1
"""


GROUP_SAMPLE_K = 20


def q_group_sample_k(spark, sf_dir):
    """Exactly-k-per-group sampling (the 'k examples per domain' op,
    complementing fraction-based stratified_sample): rank each group's
    docs by a deterministic md5 hash (uniform, reproducible across
    engines/partitionings/reruns) and keep rank ≤ k. One shuffle on the
    group key; at scale the rank window is the same single-shuffle shape
    as first_per_user."""
    from .operators.common import stable_hash64

    docs = ld(spark, sf_dir, "documents")
    h = stable_hash64(F.concat_ws("#", F.col("lang"), F.col("doc_id")))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= GROUP_SAMPLE_K)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("rk"))
    )


SQL_GROUP_SAMPLE_K = f"""
SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST(CONCAT('0x', substr(md5(lang || '#' ||
                     CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id
         ) AS rk
  FROM documents)
WHERE rk <= {GROUP_SAMPLE_K}
"""


INVIDX_MIN_DF = 3
INVIDX_POSTINGS = 5


def q_inverted_index(spark, sf_dir):
    """Search-index build: term → document frequency + the first
    ``INVIDX_POSTINGS`` postings (ascending doc ids, rendered as a
    stable string so the cross-engine hash compare is exact). The
    posting lists aggregate per term with map-side combine on 64-bit
    term keys at scale; terms below ``INVIDX_MIN_DF`` are dropped (the
    long-tail cut every index build makes)."""
    docs = ld(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    per = terms.distinct()
    agg = per.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.concat_ws(
            ",",
            F.slice(
                F.array_sort(F.collect_list("doc_id")), 1, INVIDX_POSTINGS
            ),
        ).alias("postings"),
    )
    return agg.filter(F.col("df") >= INVIDX_MIN_DF).select(
        "term", "df", "postings"
    )


SQL_INVERTED_INDEX = f"""
WITH terms AS (
  SELECT DISTINCT doc_id, w AS term FROM
    (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''),
agg AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         array_to_string(
           (list_sort(list(doc_id)))[1:{INVIDX_POSTINGS}], ',') AS postings
  FROM terms GROUP BY term)
SELECT term, df, postings FROM agg WHERE df >= {INVIDX_MIN_DF}
"""


DSIR_BUCKETS = 1024


def q_dsir_weights(spark, sf_dir):
    """Data selection by hashed n-gram importance (the DSIR shape, Xie
    et al. 2023): word uni+bigrams hashed into 1024 buckets; a doc's
    affinity to the TARGET slice (lang='en') vs the RAW corpus is the
    feature-count-weighted difference of the two bucket distributions.
    Same substitution the repo's tfidf makes (linear idf for log idf):
    the paper's Σ n_b·(log p̂_t[b] − log p̂_r[b]) becomes the integer-
    exact first-order twin Σ n_b·(cnt_t[b]·R − cnt_r[b]·T) (T, R the
    slice totals) — identical ranking intent, zero transcendental-ULP
    risk, so the score is oracle-exact to the last bit. Plan shape: the
    two bucket-count tables are ≤1024 rows (map-side-combined), the
    per-doc pass joins them BROADCAST — at 100 TB the corpus is read
    twice (target pass prunes by the slice predicate), nothing wide
    ever shuffles."""
    from .operators.common import stable_hash64

    docs = ld(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    bigr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i),
                                  F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select(
        "doc_id", "lang", F.explode(F.concat(toks, bigr)).alias("g")
    ).withColumn("b", stable_hash64(F.col("g")) % DSIR_BUCKETS).drop("g")

    per_doc = grams.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    cnt_r = grams.groupBy("b").agg(F.count(F.lit(1)).alias("cnt_r"))
    cnt_t = (
        grams.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    stats = (
        cnt_r.join(cnt_t, "b", "left")
        .withColumn("cnt_t", F.coalesce("cnt_t", F.lit(0)))
        .crossJoin(
            F.broadcast(
                cnt_r.agg(F.sum("cnt_r").alias("R")).crossJoin(
                    cnt_t.agg(F.sum("cnt_t").alias("T"))
                )
            )
        )
    )
    return (
        per_doc.join(F.broadcast(stats), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("n_b")
                * (F.col("cnt_t") * F.col("R") - F.col("cnt_r") * F.col("T"))
            )
            .cast("long")
            .alias("affinity")
        )
    )


SQL_DSIR_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, lang, g FROM (
    SELECT doc_id, lang, unnest(t) AS g FROM toks
    UNION ALL
    SELECT doc_id, lang, unnest(
      CASE WHEN len(t) >= 2 THEN
        list_transform(generate_series(1, CAST(len(t) - 1 AS BIGINT)),
                       i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i + 1 AS INTEGER)])
      ELSE [] END) AS g
    FROM toks)),
bucketed AS (
  SELECT doc_id, lang,
         CAST(CONCAT('0x', substr(md5(g), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM grams),
per_doc AS (SELECT doc_id, b, COUNT(*) AS n_b FROM bucketed GROUP BY 1, 2),
cnt_r AS (SELECT b, COUNT(*) AS cnt_r FROM bucketed GROUP BY 1),
cnt_t AS (SELECT b, COUNT(*) AS cnt_t FROM bucketed WHERE lang = 'en' GROUP BY 1),
stats AS (
  SELECT r.b, r.cnt_r, COALESCE(t.cnt_t, 0) AS cnt_t,
         (SELECT SUM(cnt_r) FROM cnt_r) AS R,
         (SELECT SUM(cnt_t) FROM cnt_t) AS T
  FROM cnt_r r LEFT JOIN cnt_t t ON r.b = t.b)
SELECT d.doc_id,
       CAST(SUM(d.n_b * (s.cnt_t * s.R - s.cnt_r * s.T)) AS BIGINT) AS affinity
FROM per_doc d JOIN stats s ON d.b = s.b
GROUP BY 1
"""


def q_cluster_sample(spark, sf_dir, persisted_out: list | None = None):
    """One-per-cluster sampling with cluster-size weights — what a
    training pipeline DOES with the component assignment: keep exactly
    the min-id document of every near-dup cluster and carry the cluster
    size as a feature (dedup weight / quality signal). Composes the
    LSH-candidates → Jaccard-verify → union-find connected-components chain
    into one lazy plan; the oracle replays it over a recursive-CTE
    transitive closure."""
    from .operators import dedup

    docs = ld(spark, sf_dir, "documents")
    # persisted_out: the cache-lifecycle escape hatch for repeated callers
    verified = dedup._lsh_verified_pairs(
        docs, n_hashes=N_MINHASH, bands=LSH_BANDS, persisted_out=persisted_out
    )
    comp = dedup.connected_components(
        docs.select("doc_id"), verified.select("doc1", "doc2")
    )
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.join(
        docs, sizes["component_id"] == docs["doc_id"]
    ).select(
        F.col("component_id").alias("doc_id"), "cluster_size", "lang"
    )


SQL_CLUSTER_SAMPLE = f"""
WITH RECURSIVE {_SQL_VERIFIED_CTES},
edges AS (
  SELECT doc1 AS a, doc2 AS b FROM verified
  UNION ALL SELECT doc2, doc1 FROM verified),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.src, e.b FROM reach JOIN edges e ON reach.dst = e.a),
comp AS (SELECT src AS doc_id, MIN(dst) AS component_id FROM reach GROUP BY src)
SELECT c.component_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       MIN(d.lang) AS lang
FROM comp c JOIN documents d ON d.doc_id = c.component_id
GROUP BY 1
"""


CORPUS_SAMPLE_FRACTION = 0.5


def q_corpus_build(spark, sf_dir):
    """The COMPOSED corpus build a training-data user actually ships:
    quality filter (drop too_short) → exact dedup (min-id keeper per
    content hash) → near-dup drop (LSH candidates → Jaccard verify →
    greedy keeper) → 50% stratified sample per language. Every stage is an
    already-oracled operator; this query proves they compose into one
    lazy plan (one action materializes the corpus). The oracle replays the
    full composition as chained CTEs."""
    from .operators import dedup, sampling, textstats

    docs = ld(spark, sf_dir, "documents")
    qs = textstats.quality_scores(docs, 50)
    keep = docs.join(
        qs.filter(~F.col("too_short")).select("doc_id"), "doc_id", "left_semi"
    )
    d1 = dedup.deduplicate_exact(keep)
    d2 = dedup.deduplicate_near(d1, n=3, threshold=0.6)
    return sampling.stratified_sample(
        d2, CORPUS_SAMPLE_FRACTION, "lang", "doc_id"
    ).select("doc_id", "lang", "source", "n_chars")


SQL_CORPUS_BUILD = f"""
WITH q AS (SELECT * FROM documents WHERE NOT (n_chars < 50)),
ex AS (SELECT * FROM q
       WHERE doc_id IN (SELECT MIN(doc_id) FROM q GROUP BY md5(text))),
{_sql_verified_ctes('ex')},
kept AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc2 FROM verified))
SELECT doc_id, lang, source, n_chars FROM kept
WHERE CAST(CONCAT('0x', substr(md5(lang || '#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 10000 < {int(CORPUS_SAMPLE_FRACTION * 10000)}
"""


# ===========================================================================
# Similarity search (embeddings)
# ===========================================================================

def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: for query vectors (vec_id < 5), the top-5
    nearest neighbors. Rank on ROUND(sim, 4) with vec_id tiebreak so both
    engines order identically despite last-ulp float differences. One
    numpy matmul per Arrow batch with per-batch local top-k, so only
    O(queries×k) rows per partition ever shuffle."""
    from .operators import annfast

    emb = ld(spark, sf_dir, "embeddings")
    return annfast.cosine_topk_fast2(
        emb, query_df=emb.filter(F.col("vec_id") < 5), k=5
    )


SQL_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
pairs AS (
  SELECT qid, nid,
         ROUND(list_dot_product(qv::DOUBLE[], nv::DOUBLE[]) /
               (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
                sqrt(list_dot_product(nv::DOUBLE[], nv::DOUBLE[]))), 4) AS sim
  FROM q, c WHERE qid <> nid)
SELECT qid, nid, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs)
WHERE rank <= 5
"""


N_PLANES = 8


def q_ann_lsh_buckets(spark, sf_dir):
    """ANN scale path: random-hyperplane LSH — 8 integer-valued planes
    (derived from index arithmetic, identical in both engines), bucket =
    sign bits of the 8 projections. Per-term DECIMAL rounding makes the
    projection sum order-independent, so signs agree across engines.
    At 100 TB you bucket-join instead of cross-joining embeddings.
    One numpy pass reproduces the decimal(28,9) HALF_UP per-term
    semantics exactly (operators/annfast.py), so no interpreted
    BigDecimal fold runs per row."""
    from .operators import annfast

    return annfast.hyperplane_buckets_fast_exact(
        ld(spark, sf_dir, "embeddings"), N_PLANES
    )


SQL_ANN_LSH = f"""
WITH e AS (
  SELECT vec_id, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings)),
ed AS (
  SELECT vec_id, d, x, j
  FROM e, LATERAL (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS j)),
proj AS (
  SELECT vec_id, j,
         SUM(CAST(x * CAST({_plane_val_sql('j', 'd')} AS DOUBLE) AS DECIMAL(28,9))) AS proj
  FROM ed GROUP BY vec_id, j)
SELECT vec_id,
       CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS INTEGER) AS bucket
FROM proj GROUP BY vec_id
"""


def q_lsh_topk(spark, sf_dir):
    """Approximate top-k: cosine ranking WITHIN hyperplane-LSH buckets —
    the scale path that replaces brute-force q_cosine_topk. Each
    bucket is scored by one grouped numpy matmul; pairs never
    materialize."""
    from .operators import annfast

    return annfast.lsh_topk_fast(
        ld(spark, sf_dir, "embeddings"), k=3, n_planes=N_PLANES
    )


SQL_LSH_TOPK = f"""
WITH e AS (
  SELECT vec_id, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings)),
ed AS (
  SELECT vec_id, d, x, j
  FROM e, LATERAL (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS j)),
proj AS (
  SELECT vec_id, j,
         SUM(CAST(x * CAST({_plane_val_sql('j', 'd')} AS DOUBLE) AS DECIMAL(28,9))) AS proj
  FROM ed GROUP BY vec_id, j),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS INTEGER) AS bucket
  FROM proj GROUP BY vec_id),
withv AS (
  SELECT b.vec_id, b.bucket, emb.embedding FROM buckets b
  JOIN embeddings emb ON b.vec_id = emb.vec_id),
pairs AS (
  SELECT a.vec_id AS qid, c.vec_id AS nid,
         ROUND(list_dot_product(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS sim
  FROM withv a JOIN withv c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id)
SELECT qid, nid, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs)
WHERE rank <= 3
"""


# Tuned r5 via tools/ann_sweep.py against the ann_recall gauge (table in
# SCALE.md): 8 bands x 3 planes lifts recall@3 from 0.47/0.42 (old 4x4,
# sf0.01/sf0.1) to 0.80/0.81 while the search gets FASTER (fewer planes
# per band -> bigger per-band buckets -> fewer near-empty groups; 4.8s vs
# 5.9s at sf0.1). 16x3 reaches 0.91 at ~1.5x the time — one knob away
# when a pipeline needs it.
LSH_TOPK_BANDS = 8
LSH_PLANES_PER_BAND = 3


def q_lsh_topk_banded(spark, sf_dir):
    """Banded (multi-table) LSH top-k — the de-skewed ANN shape: 8
    independent 3-plane hash tables; candidates collide in ANY band
    (OR-construction), so no single bucket needs to be big for recall and
    per-(band, bucket) join work stays 2^r-bounded. This is the 100-TB
    answer to the single-table hot-bucket risk. Bucket bits and local
    top-k selection are vectorized (operators/annfast.py)."""
    from .operators import annfast

    return annfast.lsh_topk_banded_fast(
        ld(spark, sf_dir, "embeddings"), k=3,
        bands=LSH_TOPK_BANDS, planes_per_band=LSH_PLANES_PER_BAND,
    )


SQL_LSH_TOPK_BANDED = f"""
WITH e AS (
  SELECT vec_id, d - 1 AS d, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings)),
ed AS (
  SELECT vec_id, d, x, j
  FROM e, LATERAL (SELECT unnest(generate_series(0, {LSH_TOPK_BANDS * LSH_PLANES_PER_BAND - 1})) AS j)),
proj AS (
  SELECT vec_id, j,
         SUM(CAST(x * CAST({_plane_val_sql('j', 'd')} AS DOUBLE) AS DECIMAL(28,9))) AS proj
  FROM ed GROUP BY vec_id, j),
buckets AS (
  SELECT vec_id, CAST(j // {LSH_PLANES_PER_BAND} AS INTEGER) AS band,
         CAST(SUM(CASE WHEN proj > 0 THEN (1 << (j % {LSH_PLANES_PER_BAND})) ELSE 0 END) AS INTEGER) AS bucket
  FROM proj GROUP BY vec_id, (j // {LSH_PLANES_PER_BAND})),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, c.vec_id AS nid
  FROM buckets a JOIN buckets c
    ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id <> c.vec_id),
pairs AS (
  SELECT qid, nid,
         ROUND(list_dot_product(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[]))), 4) AS sim
  FROM cand JOIN embeddings q ON qid = q.vec_id
            JOIN embeddings n ON nid = n.vec_id)
SELECT qid, nid, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs)
WHERE rank <= 3
"""


IVF_K = 8
IVF_ITERS = 2

_COS = (
    "ROUND(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 4)"
)


def _ivf_centroid_ctes(k: int = IVF_K, iters: int = IVF_ITERS) -> tuple[str, str]:
    """DuckDB oracle of operators.similarity.ivf_centroids: hash-seeded init
    + Lloyd iterations with DECIMAL(28,9) per-dimension sums (exact, so
    both engines produce bit-identical centroids). Returns (ctes, name of
    the final centroid CTE)."""
    parts = [f"""
seeded AS (
  SELECT vec_id, embedding,
         CAST(CONCAT('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
  FROM embeddings),
c0 AS (
  SELECT CAST(hh % {k} AS INTEGER) AS centroid_id, embedding::DOUBLE[] AS cv
  FROM (SELECT *, row_number() OVER (PARTITION BY hh % {k}
                   ORDER BY hh, vec_id) AS rn FROM seeded)
  WHERE rn = 1)"""]
    prev = "c0"
    for it in range(1, iters + 1):
        sim = _COS.format(a="v.embedding", b="c.cv")
        parts.append(f""",
a{it} AS (
  SELECT centroid_id, embedding FROM (
    SELECT v.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {sim} DESC, c.centroid_id) AS rn
    FROM embeddings v, {prev} c) WHERE rn = 1),
m{it} AS (
  SELECT centroid_id, d,
         CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,9))) AS DOUBLE)
           / COUNT(*) AS m
  FROM (SELECT centroid_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS d FROM a{it})
  GROUP BY 1, 2),
c{it} AS (
  SELECT centroid_id, list(m ORDER BY d) AS cv FROM m{it}
  GROUP BY centroid_id)""")
        prev = f"c{it}"
    return "".join(parts), prev


_IVF_CTES, _IVF_FINAL = _ivf_centroid_ctes()

_SQL_IVF_ASSIGN_CTE = f"""{_IVF_CTES},
v AS (SELECT vec_id, embedding AS vv FROM embeddings),
scored AS (
  SELECT vec_id, centroid_id,
         {_COS.format(a='vv', b='cv')} AS centroid_sim
  FROM v, {_IVF_FINAL}),
assigned AS (
  SELECT vec_id, centroid_id, centroid_sim FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY centroid_sim DESC, centroid_id) = 1)
"""


# Trained IVF model cache, keyed by (spark application id, sf_dir): the
# model is a property of the corpus, not of a query — a deployment trains
# once and amortizes it across every search (the same pattern as the
# pipeline's whale census / prepared reference dim). Without this, every
# ivf query re-ran the whole Lloyd-training subtree inside its own
# execution — 22 s of the r2 bench was exactly that re-training.
_IVF_MODEL_CACHE: dict[tuple[str, str], object] = {}


def _trained_ivf_centroids(spark, sf_dir):
    from .operators import similarity

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_MODEL_CACHE:
        trained = similarity.ivf_centroids(
            ld(spark, sf_dir, "embeddings"), IVF_K, IVF_ITERS
        )
        # materialize: K rows driver-side -> local relation (model is data)
        _IVF_MODEL_CACHE[key] = spark.createDataFrame(
            trained.collect(), trained.schema
        )
    return _IVF_MODEL_CACHE[key]


def q_ivf_assign(spark, sf_dir):
    """IVF coarse quantization: nearest-centroid assignment (one numpy
    matmul per Arrow batch against the n_centroids-row model — the linear
    half of IVF ANN). Centroids are TRAINED (hash-seeded init + 2
    deterministic Lloyd iterations with exact decimal sums), reproduced
    identically by the DuckDB oracle; the trained model is session-cached
    and passed in, so repeated queries never re-run training."""
    from .operators import annfast

    return annfast.ivf_assign_fast(
        ld(spark, sf_dir, "embeddings"),
        _trained_ivf_centroids(spark, sf_dir),
    )


SQL_IVF_ASSIGN = f"WITH {_SQL_IVF_ASSIGN_CTE} SELECT vec_id, centroid_id, centroid_sim FROM assigned"


def q_ivf_topk(spark, sf_dir):
    """IVF ANN: brute-force cosine within each IVF cell (nprobe=1) — the
    second scale path beside hyperplane LSH. Search runs against the
    session-cached TRAINED model (train once, search many — at 100 TB
    re-training per query would be the wrong default story)."""
    from .operators import annfast

    return annfast.ivf_topk_fast(
        ld(spark, sf_dir, "embeddings"), k=3, n_centroids=IVF_K,
        centroids=_trained_ivf_centroids(spark, sf_dir),
    )


SQL_IVF_TOPK = f"""
WITH {_SQL_IVF_ASSIGN_CTE},
withc AS (
  SELECT e.vec_id, e.embedding, a.centroid_id
  FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id),
pairs AS (
  SELECT a.vec_id AS qid, c.vec_id AS nid,
         ROUND(list_dot_product(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS sim
  FROM withc a JOIN withc c
    ON a.centroid_id = c.centroid_id AND a.vec_id <> c.vec_id)
SELECT qid, nid, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs)
WHERE rank <= 3
"""


IVF_NPROBE = 6  # r6 sweep (tools/ivf_sweep.py, SCALE.md): recall@3
# 0.90 at sf0.01 / 0.94 at sf0.1 at K=8 — first operating point over
# the >=0.8 bar the banded-LSH default already meets; the old nprobe=2
# default sat at 0.47, a weak default the gauge itself condemned.


def q_ivf_topk_nprobe(spark, sf_dir):
    """IVF top-k with MULTI-CELL probing — the recall lever the
    single-cell ivf_topk leaves on the table: the corpus stays in its
    rank-1 cells, each query additionally searches its next-nearest
    cells, so a true neighbor lost to a cell boundary is recovered while
    per-query work stays nprobe x N/K. Default nprobe=6 chosen by the
    r6 sweep: recall@3 0.90 (sf0.01) / 0.94 (sf0.1) vs 0.31 at
    nprobe=1 and 0.47 at the old nprobe=2 default — see SCALE.md for
    the full (K, nprobe) curve incl. K ~ sqrt(N) sizing. Within-cell
    scoring is the chunked-numpy roles scorer, never a pair
    materialization."""
    from .operators import annfast

    return annfast.ivf_topk_nprobe_fast(
        ld(spark, sf_dir, "embeddings"), k=3, nprobe=IVF_NPROBE,
        centroids=_trained_ivf_centroids(spark, sf_dir),
    )


SQL_IVF_TOPK_NPROBE = f"""
WITH {_SQL_IVF_ASSIGN_CTE},
probes AS (
  SELECT vec_id, centroid_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id
          ORDER BY centroid_sim DESC, centroid_id) <= {IVF_NPROBE}),
withc AS (
  SELECT e.vec_id, e.embedding, a.centroid_id
  FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id),
withq AS (
  SELECT e.vec_id, e.embedding, p.centroid_id
  FROM embeddings e JOIN probes p ON e.vec_id = p.vec_id),
pairs AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid,
         ROUND(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4) AS sim
  FROM withq q JOIN withc c
    ON q.centroid_id = c.centroid_id AND q.vec_id <> c.vec_id)
SELECT qid, nid, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
  FROM pairs)
WHERE rank <= 3
"""




# ===========================================================================
# Text analysis (documents)
# ===========================================================================

# single source of truth — a hand-copied tuple here would silently diverge
# from the engine if either side were edited alone (ADVICE r2)
from .operators.textstats import STOPWORDS as _STOPWORDS  # noqa: E402


def q_langid(spark, sf_dir):
    """Language-ID heuristic: stopword-ratio thresholding (n-gram heuristic
    family). Emits the score so the rule is auditable."""
    from .operators import textstats

    return textstats.langid_scores(
        ld(spark, sf_dir, "documents"), _STOPWORDS, 0.05
    )


SQL_LANGID = f"""
WITH words AS (
  SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
  WHERE w <> ''),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN w IN {_STOPWORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
  FROM words GROUP BY doc_id)
SELECT doc_id, n_tokens, n_stop,
       ROUND(n_stop / n_tokens, 6) AS stop_ratio,
       CASE WHEN ROUND(n_stop / n_tokens, 6) >= 0.05 THEN 'en' ELSE 'other' END AS predicted_lang
FROM agg
"""


def q_langid_ngram(spark, sf_dir):
    """Character-n-gram language ID (the second member of the n-gram-
    heuristic family beside the stopword scorer): score = fraction of a
    fixed frequent-English trigram profile present in the document —
    row-local `instr` predicates, zero shuffle."""
    from .operators import textstats

    return textstats.langid_ngram_scores(ld(spark, sf_dir, "documents"))


def _sql_trigram_hits() -> str:
    from .operators.textstats import EN_TRIGRAMS

    return " + ".join(
        f"CASE WHEN position('{t}' IN text) > 0 THEN 1 ELSE 0 END"
        for t in EN_TRIGRAMS
    )


SQL_LANGID_NGRAM = f"""
SELECT doc_id,
       CAST(({_sql_trigram_hits()}) AS INTEGER) AS n_hits,
       ROUND(({_sql_trigram_hits()}) / 16, 6) AS ngram_score,
       CASE WHEN ROUND(({_sql_trigram_hits()}) / 16, 6) >= 0.25
            THEN 'en' ELSE 'other' END AS predicted_lang
FROM documents
"""


def q_quality_score(spark, sf_dir):
    """Quality scoring: length/avg-word-length/short-doc flags."""
    from .operators import textstats

    return textstats.quality_scores(ld(spark, sf_dir, "documents"), 50)


SQL_QUALITY = f"""
SELECT doc_id, n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       CASE WHEN length(text) > 0 THEN
         ROUND(n_chars / len(string_split(text, ' ')), 4) END AS chars_per_token,
       CASE WHEN length(text) > 0 THEN
         ROUND((length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')))
               / length(text), 6) END AS punct_ratio,
       CASE WHEN length(text) > 0 THEN
         ROUND(len(list_filter(string_split(text, ' '),
                               w -> w IN ({", ".join(f"'{w}'" for w in _STOPWORDS)})))
               / len(string_split(text, ' ')), 6) END AS stop_ratio,
       n_chars < 50 AS too_short
FROM documents
"""


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish regex tokens
    (letter-runs / digit-runs / single punctuation)."""
    from .operators import textstats

    return textstats.token_counts(ld(spark, sf_dir, "documents"))


SQL_TOKEN_COUNT = r"""
SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: 64-bit content fingerprint from md5 of
    canonicalized text (rolling-hash family, cross-engine-stable)."""
    from .operators import textstats

    return textstats.fingerprints(ld(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINT = """
SELECT doc_id, substr(md5(lower(trim(text))), 1, 16) AS fingerprint,
       CAST(CONCAT('0x', substr(md5(lower(trim(text))), 1, 8)) AS BIGINT) AS fingerprint_int
FROM documents
"""


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column + typed metadata
    (byte length, sha256 checksum). The decode stage is exercised
    end-to-end by `multimodal_decode`/`audio_decode` below."""
    docs = ld(spark, sf_dir, "documents")
    bin_col = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(bin_col).alias("n_bytes"),
        F.sha2(bin_col, 256).alias("sha256"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def q_multimodal_decode(spark, sf_dir):
    """REAL image decode end-to-end: a deterministic 24-bit BMP is built
    per document (pixel (x,y) = (x+3y+doc_id) mod 256, gray), round-tripped
    through the binary payload column, and decoded by the stdlib BMP parser
    in an Arrow-batched pass. The oracle reproduces width/height/n_px/
    sum_luma analytically — integer-exact, no float rounding in the hash."""
    from .operators import multimodal

    media = multimodal.media_bmp_from_documents(ld(spark, sf_dir, "documents"))
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_MULTIMODAL_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INTEGER) AS width,
         CAST(4 + (doc_id // 13) % 11 AS INTEGER) AS height
  FROM documents),
px AS (
  SELECT media_id, width, height, (x + 3*y + media_id) % 256 AS v
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y))
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_luma
FROM px GROUP BY 1, 2, 3
"""


def q_png_decode(spark, sf_dir):
    """COMPRESSED image decode end-to-end: a deterministic 8-bit RGB PNG
    per document (pixel (x,y) = (2x + y + doc_id) mod 256), zlib-deflated
    by the stdlib encoder and decoded by the stdlib inflate + filter
    reconstruction — closes the compressed-codec gap vs the reference's
    poppler render stage (work_order_extractor.py:1121-1146). The oracle
    reproduces the features analytically, integer-exact."""
    from .operators import multimodal

    media = multimodal.media_png_from_documents(ld(spark, sf_dir, "documents"))
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_PNG_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INTEGER) AS width,
         CAST(4 + (doc_id // 13) % 11 AS INTEGER) AS height
  FROM documents),
px AS (
  SELECT media_id, width, height, (2*x + y + media_id) % 256 AS v
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y))
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_luma
FROM px GROUP BY 1, 2, 3
"""


def q_jpeg_decode(spark, sf_dir):
    """ENTROPY-CODED image decode end-to-end: a deterministic baseline
    grayscale JFIF per document (8×8-block-constant raster, flat quant
    table → bit-exact round trip; see media_jpeg_from_documents) decoded
    by the real Huffman→dequant→IDCT pipeline in core/jpegcodec.py —
    closes the JPEG gap vs the reference's poppler render stage
    (work_order_extractor.py:1121-1146). The oracle reproduces the
    features analytically over the 8×8 block grid, integer-exact."""
    from .operators import multimodal

    media = multimodal.media_jpeg_from_documents(ld(spark, sf_dir, "documents"))
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_JPEG_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 * (1 + doc_id % 4) AS INTEGER) AS width,
         CAST(8 * (1 + CAST(doc_id // 4 AS BIGINT) % 3) AS INTEGER) AS height
  FROM documents),
blocks AS (
  SELECT media_id, width, height,
         (bx + 2*by + media_id) % 256 AS v
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, CAST(width // 8 AS BIGINT) - 1)) AS bx),
       LATERAL (SELECT unnest(generate_series(0, CAST(height // 8 AS BIGINT) - 1)) AS by))
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(64 * SUM(v) AS BIGINT) AS sum_luma
FROM blocks GROUP BY 1, 2, 3
"""


def q_jpeg_color_decode(spark, sf_dir):
    """COLOR (YCbCr 4:4:4) JPEG decode end-to-end: a 3-component
    interleaved baseline scan per document — separate chroma
    quant/Huffman tables, per-component DC predictors, JFIF YCbCr→RGB —
    kept integer-oracle-able by neutral chroma + block-constant Y (see
    media_color_jpeg_from_documents)."""
    from .operators import multimodal

    media = multimodal.media_color_jpeg_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_JPEG_COLOR_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 * (1 + doc_id % 3) AS INTEGER) AS width,
         CAST(8 * (1 + CAST(doc_id // 3 AS BIGINT) % 4) AS INTEGER) AS height
  FROM documents),
blocks AS (
  SELECT media_id, width, height,
         (2*bx + by + media_id) % 256 AS v
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, CAST(width // 8 AS BIGINT) - 1)) AS bx),
       LATERAL (SELECT unnest(generate_series(0, CAST(height // 8 AS BIGINT) - 1)) AS by))
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(64 * SUM(v) AS BIGINT) AS sum_luma
FROM blocks GROUP BY 1, 2, 3
"""


def q_jpeg420_decode(spark, sf_dir):
    """4:2:0 chroma-subsampled JPEG decode end-to-end — the most common
    crawled-corpus JPEG variant: 16×16 MCUs of four Y blocks + one
    Cb + one Cr at half resolution, decoded with real entropy decode,
    per-component DC predictors, chroma upsampling, and JFIF YCbCr→RGB
    with NON-neutral chroma. The oracle reproduces sum_luma analytically
    per 16×16 region: constant (Y, Cb, Cr) per region → constant RGB →
    BT.601 luma, with region areas clipped at the (non-MCU-aligned)
    image edges."""
    from .operators import multimodal

    media = multimodal.media_jpeg420_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_JPEG420_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(16 + 4 * (doc_id % 3) AS INTEGER) AS width,
         CAST(16 + 4 * (CAST(doc_id // 3 AS BIGINT) % 4) AS INTEGER) AS height,
         CAST(3 * (doc_id % 5) - 6 AS DOUBLE) AS dcb,
         CAST(4 * (CAST(doc_id // 5 AS BIGINT) % 5) - 8 AS DOUBLE) AS dcr
  FROM documents),
regions AS (
  SELECT media_id, width, height, dcb, dcr, rx, ry,
         CAST((2*rx + ry + media_id) % 256 AS DOUBLE) AS yv,
         LEAST(16, width - 16*rx) AS rw,
         LEAST(16, height - 16*ry) AS rh
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, CAST((width + 15) // 16 AS BIGINT) - 1)) AS rx),
       LATERAL (SELECT unnest(generate_series(0, CAST((height + 15) // 16 AS BIGINT) - 1)) AS ry)),
rgb AS (
  SELECT media_id, width, height, rw, rh,
         CAST(GREATEST(0, LEAST(255, ROUND(yv + 1.402 * dcr))) AS BIGINT) AS r,
         CAST(GREATEST(0, LEAST(255, ROUND(yv - 0.344136 * dcb - 0.714136 * dcr))) AS BIGINT) AS g,
         CAST(GREATEST(0, LEAST(255, ROUND(yv + 1.772 * dcb))) AS BIGINT) AS b
  FROM regions)
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(rw * rh * ((299*r + 587*g + 114*b) // 1000)) AS BIGINT) AS sum_luma
FROM rgb GROUP BY 1, 2, 3
"""


def q_jpeg411_decode(spark, sf_dir):
    """4:1:1 chroma-subsampled JPEG decode end-to-end — sampling factor
    4 (the DV/camcorder lineage), closing the 'sampling factors > 2'
    codec boundary: 32×8 MCUs of four horizontal Y blocks + one Cb +
    one Cr at quarter horizontal resolution, real entropy decode,
    4× replication upsampling, JFIF YCbCr→RGB with NON-neutral chroma.
    Oracle reproduces sum_luma analytically per 32×8 region (same
    construction and rounding-safe chroma offsets as the 4:2:0 twin)."""
    from .operators import multimodal

    media = multimodal.media_jpeg411_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_JPEG411_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(32 + 4 * (doc_id % 3) AS INTEGER) AS width,
         CAST(8 + 4 * (CAST(doc_id // 3 AS BIGINT) % 4) AS INTEGER) AS height,
         CAST(3 * (doc_id % 5) - 6 AS DOUBLE) AS dcb,
         CAST(4 * (CAST(doc_id // 5 AS BIGINT) % 5) - 8 AS DOUBLE) AS dcr
  FROM documents),
regions AS (
  SELECT media_id, width, height, dcb, dcr, rx, ry,
         CAST((2*rx + ry + media_id) % 256 AS DOUBLE) AS yv,
         LEAST(32, width - 32*rx) AS rw,
         LEAST(8, height - 8*ry) AS rh
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, CAST((width + 31) // 32 AS BIGINT) - 1)) AS rx),
       LATERAL (SELECT unnest(generate_series(0, CAST((height + 7) // 8 AS BIGINT) - 1)) AS ry)),
rgb AS (
  SELECT media_id, width, height, rw, rh,
         CAST(GREATEST(0, LEAST(255, ROUND(yv + 1.402 * dcr))) AS BIGINT) AS r,
         CAST(GREATEST(0, LEAST(255, ROUND(yv - 0.344136 * dcb - 0.714136 * dcr))) AS BIGINT) AS g,
         CAST(GREATEST(0, LEAST(255, ROUND(yv + 1.772 * dcb))) AS BIGINT) AS b
  FROM regions)
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(rw * rh * ((299*r + 587*g + 114*b) // 1000)) AS BIGINT) AS sum_luma
FROM rgb GROUP BY 1, 2, 3
"""


def q_jpeg_progressive_decode(spark, sf_dir):
    """PROGRESSIVE (SOF2) 4:2:0 JPEG decode end-to-end — the other half
    of crawled-web JPEGs: multi-scan spectral selection + successive
    approximation (DC Al=1 → AC band scans → refinements), EOBRUN
    coding, per-scan optimized Huffman tables, coefficients accumulated
    across scans, then the same dequant/IDCT/upsample/YCbCr→RGB finish
    as baseline. The oracle reproduces sum_luma analytically per 16×16
    region exactly as the baseline 4:2:0 oracle does (the progressive
    scan structure transmits identical coefficients), with this
    fixture's shifted per-doc constants."""
    from .operators import multimodal

    media = multimodal.media_progressive_jpeg_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_JPEG_PROGRESSIVE_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(16 + 4 * ((doc_id + 1) % 3) AS INTEGER) AS width,
         CAST(16 + 4 * ((CAST(doc_id // 3 AS BIGINT) + 1) % 4) AS INTEGER) AS height,
         CAST(3 * ((doc_id + 1) % 5) - 6 AS DOUBLE) AS dcb,
         CAST(4 * ((CAST(doc_id // 5 AS BIGINT) + 2) % 5) - 8 AS DOUBLE) AS dcr
  FROM documents),
regions AS (
  SELECT media_id, width, height, dcb, dcr, rx, ry,
         CAST((2*rx + ry + media_id) % 256 AS DOUBLE) AS yv,
         LEAST(16, width - 16*rx) AS rw,
         LEAST(16, height - 16*ry) AS rh
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, CAST((width + 15) // 16 AS BIGINT) - 1)) AS rx),
       LATERAL (SELECT unnest(generate_series(0, CAST((height + 15) // 16 AS BIGINT) - 1)) AS ry)),
rgb AS (
  SELECT media_id, width, height, rw, rh,
         CAST(GREATEST(0, LEAST(255, ROUND(yv + 1.402 * dcr))) AS BIGINT) AS r,
         CAST(GREATEST(0, LEAST(255, ROUND(yv - 0.344136 * dcb - 0.714136 * dcr))) AS BIGINT) AS g,
         CAST(GREATEST(0, LEAST(255, ROUND(yv + 1.772 * dcb))) AS BIGINT) AS b
  FROM regions)
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(rw * rh * ((299*r + 587*g + 114*b) // 1000)) AS BIGINT) AS sum_luma
FROM rgb GROUP BY 1, 2, 3
"""


def q_png_palette_decode(spark, sf_dir):
    """PALETTED (color type 3) PNG decode end-to-end — the icon/
    screenshot shape of crawled-web images: per-doc 16-entry PLTE,
    compressed index raster, decode = inflate + unfilter + palette
    lookup. The oracle recomputes every pixel's palette entry and BT.601
    luma analytically — integer-exact."""
    from .operators import multimodal

    media = multimodal.media_png_palette_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma"
    )


SQL_PNG_PALETTE_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(4 + doc_id % 13 AS INTEGER) AS width,
         CAST(4 + (doc_id // 13) % 11 AS INTEGER) AS height
  FROM documents),
px AS (
  SELECT media_id, width, height, (x + 2*y + media_id) % 16 AS i
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y)),
lum AS (
  SELECT media_id, width, height,
         (299 * ((7*i + 3 + media_id) % 256)
          + 587 * ((5*i + 11) % 256)
          + 114 * ((3*i + 29) % 256)) // 1000 AS v
  FROM px)
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_luma
FROM lum GROUP BY 1, 2, 3
"""


def q_mulaw_decode(spark, sf_dir):
    """G.711 μ-law WAV decode end-to-end — the telephony/call-recording
    codec: linear fixture samples companded by the real μ-law encoder,
    expanded back by the decoder; the oracle reproduces the quantization
    in CLOSED FORM (bias, exponent segment by threshold ladder, mantissa
    truncation + half-step) so features are integer-exact."""
    from .operators import multimodal

    media = multimodal.media_mulaw_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return multimodal.audio_features(media).select(
        "media_id", "channels", "sample_rate", "n_samples", "sum_abs", "peak"
    )


SQL_MULAW_DECODE = """
WITH n AS (
  SELECT doc_id AS media_id, CAST(16 + doc_id % 50 AS INTEGER) AS n_samples
  FROM documents),
s AS (
  SELECT media_id, n_samples, (37*i + 11*media_id) % 4096 - 2048 AS sv
  FROM n, LATERAL (SELECT unnest(generate_series(0, n_samples - 1)) AS i)),
enc AS (
  SELECT media_id, n_samples, sv, LEAST(ABS(sv), 32635) + 132 AS b FROM s),
ex AS (
  SELECT media_id, n_samples, sv, b,
         CASE WHEN b < 256 THEN 0 WHEN b < 512 THEN 1 WHEN b < 1024 THEN 2
              WHEN b < 2048 THEN 3 WHEN b < 4096 THEN 4 WHEN b < 8192 THEN 5
              WHEN b < 16384 THEN 6 ELSE 7 END AS e
  FROM enc),
dec AS (
  SELECT media_id, n_samples,
         (CASE WHEN sv < 0 THEN -1 ELSE 1 END)
         * (((b >> (e + 3)) << (e + 3)) + (1 << (e + 2)) - 132) AS v
  FROM ex)
SELECT media_id, CAST(1 AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate, n_samples,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM dec GROUP BY 1, 2, 3, 4
"""


def q_audio_decode(spark, sf_dir):
    """REAL audio decode end-to-end: a deterministic PCM16 WAV per document
    (n = 16 + doc_id mod 50 samples; sample[i] = (37i + 11·doc_id) mod 4096
    − 2048) decoded by the stdlib RIFF/WAVE parser; integer features only."""
    from .operators import multimodal

    media = multimodal.media_wav_from_documents(ld(spark, sf_dir, "documents"))
    return multimodal.audio_features(media).select(
        "media_id", "channels", "sample_rate", "n_samples", "sum_abs", "peak"
    )


SQL_AUDIO_DECODE = """
WITH n AS (
  SELECT doc_id AS media_id, CAST(16 + doc_id % 50 AS INTEGER) AS n_samples
  FROM documents),
s AS (
  SELECT media_id, n_samples, (37*i + 11*media_id) % 4096 - 2048 AS v
  FROM n, LATERAL (SELECT unnest(generate_series(0, n_samples - 1)) AS i))
SELECT media_id, CAST(1 AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate, n_samples,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM s GROUP BY 1, 2, 3, 4
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plan: every 2nd frame of a payload-size-derived
    frame count — the 1→N fan-out shape (sequence + explode), with each
    sampled frame's decode being the image path."""
    from .operators import multimodal

    media = multimodal.media_from_documents(ld(spark, sf_dir, "documents"))
    return multimodal.frame_sample_plan(media, every_n=2, bytes_per_frame=64)


SQL_FRAME_SAMPLE = """
SELECT doc_id AS media_id, CAST(frame_no AS INTEGER) AS frame_no
FROM (SELECT doc_id, octet_length(encode(text)) AS nb FROM documents),
     LATERAL (SELECT unnest(generate_series(0, CAST(nb // 64 AS INTEGER), 2)) AS frame_no)
"""


# ===========================================================================
# Sampling / splitting / sequence packing (training-data layout stage)
# ===========================================================================

SAMPLE_FRACTION = 0.2
TRAIN_FRACTION = 0.8
PACK_BUDGET = 256


def q_stratified_sample(spark, sf_dir):
    """Deterministic 20% stratified sample per language: md5-hash-threshold
    membership (reproducible across engines/partitionings/reruns — what
    makes a 100 TB corpus build auditable), equal rates per stratum by
    construction. Row-local predicate, zero shuffle."""
    from .operators import sampling

    return sampling.stratified_sample(
        ld(spark, sf_dir, "documents"), SAMPLE_FRACTION, "lang", "doc_id"
    ).select("doc_id", "lang", "source", "n_chars")


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE CAST(CONCAT('0x', substr(md5(lang || '#' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 10000 < {int(SAMPLE_FRACTION * 10000)}
"""


def q_train_test_split(spark, sf_dir):
    """Deterministic 80/20 train/test assignment by id hash — leakage-safe
    (membership depends on the id only, never on row order or partition),
    stable across reruns."""
    from .operators import sampling

    return sampling.train_test_split(
        ld(spark, sf_dir, "documents"), TRAIN_FRACTION
    ).select("doc_id", "lang", "split")


SQL_TRAIN_TEST_SPLIT = f"""
SELECT doc_id, lang,
       CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 10000 < {int(TRAIN_FRACTION * 10000)}
            THEN 'train' ELSE 'test' END AS split
FROM documents
"""


def q_pack_chunks(spark, sf_dir):
    """GPT-style sequence packing: per source shard, documents concatenate
    in doc_id order and cut into fixed 256-token chunks (documents straddle
    boundaries). One window per shard for the running prefix + sequence/
    explode over spanned chunks — sequential per shard BY SEMANTICS,
    parallel across shards (the production packing shape)."""
    from .operators import sampling

    docs = ld(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return sampling.pack_chunks(
        docs, PACK_BUDGET, shard_col="source", order_col="doc_id",
        token_col="n_tokens", id_col="doc_id",
    )


SQL_PACK_CHUNKS = f"""
WITH toks AS (
  SELECT source AS shard, doc_id AS id,
         len(string_split(text, ' ')) AS tok
  FROM documents WHERE len(string_split(text, ' ')) > 0),
pre AS (
  SELECT shard, id, tok,
         COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
  FROM toks),
spans AS (
  SELECT shard, id, tok, bef,
         CAST(bef // {PACK_BUDGET} AS BIGINT) AS first_c,
         CAST((bef + tok - 1) // {PACK_BUDGET} AS BIGINT) AS last_c
  FROM pre),
ex AS (
  SELECT shard, id, tok, bef, chunk_id
  FROM spans, LATERAL (SELECT unnest(generate_series(first_c, last_c)) AS chunk_id))
SELECT shard, CAST(chunk_id AS INTEGER) AS chunk_id, id,
       CAST(GREATEST(chunk_id*{PACK_BUDGET}, bef) - bef AS INTEGER) AS doc_off,
       CAST(GREATEST(chunk_id*{PACK_BUDGET}, bef) - chunk_id*{PACK_BUDGET} AS INTEGER) AS chunk_off,
       CAST(LEAST((chunk_id+1)*{PACK_BUDGET}, bef + tok)
            - GREATEST(chunk_id*{PACK_BUDGET}, bef) AS INTEGER) AS n_tok
FROM ex
"""


# ===========================================================================
# Connector round-trips (JSONL / CSV sources)
# ===========================================================================

def _roundtrip_dir(spark, sf_dir: str, kind: str) -> str:
    """Per-session round-trip scratch dir: keyed by the Spark application
    id as well as the sf basename, so two concurrent runs over the same sf
    (e.g. bench and correctness) never race on one directory (ADVICE r2)."""
    import os

    app_id = spark.sparkContext.applicationId
    return os.path.join(
        "/tmp",
        f"spark_graft_{kind}_{os.path.basename(sf_dir.rstrip('/'))}_{app_id}",
    )


def q_jsonl_source(spark, sf_dir):
    """JSONL connector proof: the documents table is round-tripped through
    line-delimited JSON (Spark writer → `sources.read_jsonl` with an
    explicit schema, no inference) and must match the parquet original
    byte-for-byte — md5(text) in the output pins content fidelity through
    JSON escaping. Real transcript corpora commonly arrive as JSONL."""
    from .sources.transcripts import read_jsonl

    out = _roundtrip_dir(spark, sf_dir, "jsonl")
    ld(spark, sf_dir, "documents").coalesce(4).write.mode("overwrite").json(out)
    back = read_jsonl(
        spark, out,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return back.select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("text_md5")
    )


SQL_JSONL_SOURCE = """
SELECT doc_id, lang, n_chars, md5(text) AS text_md5 FROM documents
"""


def q_bucketed_join(spark, sf_dir):
    """Bucketed-table surface, oracle-checked: orders and lineitem are
    written as co-bucketed metastore tables (bucketBy 8 on the order
    key) and joined WITHOUT any shuffle Exchange (the co-located join
    plans/bucketing.py provides; exchange-freedom is plan-asserted in
    tests/test_bucketing.py — this query checks the VALUES through the
    same layout). Output: per-orderpriority revenue over the bucketed
    join."""
    from .plans import bucketing

    db = "wob_bucketed"
    tag = _roundtrip_dir(spark, sf_dir, "buckdb")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tag}'")
    orders = ld(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = ld(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    bucketing.write_bucketed(orders, f"{db}.b_orders", "o_orderkey", 8)
    bucketing.write_bucketed(li, f"{db}.b_lineitem", "l_orderkey", 8)
    j = bucketing.read_bucketed(spark, f"{db}.b_orders").join(
        bucketing.read_bucketed(spark, f"{db}.b_lineitem"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


SQL_BUCKETED_JOIN = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


def q_jsonl_gz_source(spark, sf_dir):
    """Compressed-JSONL connector proof: crawled corpora ship as
    .jsonl.gz; the documents table is round-tripped through
    GZIP-compressed line-delimited JSON (Spark codec writer → schema'd
    reader) and must match the parquet original byte-for-byte. Note the
    100-TB caveat this query documents by existing: gzip is NOT
    splittable — one .gz file = one task — so the writer shards first
    (coalesce(4) here; thousands of shards in production) and the reader
    parallelizes across files, never within one."""
    from .sources.transcripts import read_jsonl

    out = _roundtrip_dir(spark, sf_dir, "jsonlgz")
    (
        ld(spark, sf_dir, "documents")
        .coalesce(4)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(out)
    )
    back = read_jsonl(
        spark, out,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return back.select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("text_md5")
    )


SQL_JSONL_GZ_SOURCE = """
SELECT doc_id, lang, n_chars, md5(text) AS text_md5 FROM documents
"""


def q_key_skew_profile(spark, sf_dir):
    """Key-skew profiler — the operational query behind every salting
    decision in this engine (extraction whales, LSH hot buckets): per-key
    row counts for a join/group key, reduced to the skew indicators that
    matter (max/p99/median key size, the skew ratio max/median, and the
    share of rows owned by the top-1 key). One map-side-combined count
    per key; the profile is what production persists as table metadata
    (the whale census `run_pipeline` consumes)."""
    li = ld(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_key"),
        F.expr("percentile(n, 0.99)").cast("double").alias("p99_key"),
        F.expr("percentile(n, 0.5)").cast("double").alias("median_key"),
        (F.max("n") / F.expr("percentile(n, 0.5)")).alias("skew_ratio"),
    )


SQL_KEY_SKEW_PROFILE = """
WITH counts AS (
  SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MAX(n) AS BIGINT) AS max_key,
       CAST(quantile_cont(n, 0.99) AS DOUBLE) AS p99_key,
       CAST(quantile_cont(n, 0.5) AS DOUBLE) AS median_key,
       MAX(n) / quantile_cont(n, 0.5) AS skew_ratio
FROM counts
"""


def q_length_buckets(spark, sf_dir):
    """Token-length histogram in power-of-two buckets — what a training
    pipeline inspects before choosing pack_chunks' sequence length:
    bucket = floor(log2(token_count)) via integer bit-length (no float
    log), with doc counts and total tokens per bucket."""
    docs = ld(spark, sf_dir, "documents")
    ntok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    b = F.when(ntok <= 0, F.lit(-1)).otherwise(
        (F.length(F.conv(ntok.cast("string"), 10, 2)) - 1).cast("int")
    )
    return (
        docs.select(ntok.alias("ntok"), b.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
    )


SQL_LENGTH_BUCKETS = """
WITH t AS (
  SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok
  FROM documents),
b AS (
  SELECT ntok,
         CASE WHEN ntok <= 0 THEN -1
              ELSE CAST(length(bin(ntok)) - 1 AS INTEGER) END AS bucket
  FROM t)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""


def q_csv_source(spark, sf_dir):
    """CSV connector proof (the reference's own ingest format,
    work_order_extractor.py:976-996): events round-tripped through CSV with
    an explicit schema; doubles survive because Spark writes shortest
    round-trip representations."""
    from .sources.transcripts import read_csv

    out = _roundtrip_dir(spark, sf_dir, "csv")
    ev = ld(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.coalesce(4).write.mode("overwrite").option("header", True).csv(out)
    return read_csv(
        spark, out,
        "event_id bigint, user_id bigint, event_type string, value double",
    )


SQL_CSV_SOURCE = """
SELECT event_id, user_id, event_type, value FROM events
"""


def q_orc_source(spark, sf_dir):
    """ORC connector proof: documents round-tripped through Spark's
    native columnar ORC writer/reader with an explicit schema — content
    fidelity pinned by md5(text), exactly like the JSONL round-trip.
    ORC scans get the same vectorized-reader/pushdown/pruning treatment
    as parquet, so a corpus stored either way runs the same plans."""
    from .sources.transcripts import read_orc

    out = _roundtrip_dir(spark, sf_dir, "orc")
    ld(spark, sf_dir, "documents").coalesce(4).write.mode("overwrite").orc(out)
    back = read_orc(
        spark, out,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return back.select(
        "doc_id", "lang", "n_chars", F.md5("text").alias("text_md5")
    )


SQL_ORC_SOURCE = """
SELECT doc_id, lang, n_chars, md5(text) AS text_md5 FROM documents
"""


# ===========================================================================
# Registry
# ===========================================================================

def q_rolling_range_window(spark, sf_dir):
    """RANGE-frame rolling aggregate (the window variant tumbling/
    sliding/session/rows-frames don't cover): per event, the count and
    sum of the user's events in the trailing 24 h — a true value-range
    frame over event time, not a row count. Sums run over integer cents
    (round(value·100)) so accumulation order can never differ between
    engines; same-timestamp rows share a frame by RANGE semantics, so
    the result is total-order independent."""
    ev = ld(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        # NTZ -> LTZ -> epoch seconds (ANSI forbids NTZ -> long directly);
        # the UTC interpretation shifts both frame edges identically, so
        # the 24 h span and ordering are unaffected
        .orderBy(F.col("ts").cast("timestamp_ltz").cast("long"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("int").alias("n_24h"),
        F.sum(cents).over(w).alias("sum_cents_24h"),
    )


SQL_ROLLING_RANGE = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS INTEGER) AS n_24h,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT)
         AS sum_cents_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
"""


def q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 salient terms by tf·(N/df) — the linear-idf
    variant of tf-idf, chosen deliberately: tf·N is an exact integer and
    one IEEE division by df is bit-identical across engines, where
    log-idf would hinge on transcendental ULPs. Ranking (score DESC,
    term ASC) is therefore fully deterministic. Standard two-aggregate
    shape: term frequency per (doc, term), document frequency per term,
    broadcast-scale df joined back.

    r7: the raw word explode runs ONCE — df derives from the tf table
    (one row per (doc, term), so count-per-term IS the distinct-doc
    count), and the n_docs scalar comes from a no-explode predicate
    (a doc has a non-empty token iff trim(text) <> '' — split drops no
    characters), where the old plan exploded the corpus three times
    (tf, df, and a mid-build distinct().count() action). (A Python
    Counter-per-doc tf variant was measured SLOWER — the df build and
    the join probe each re-ran the Arrow pass — and was reverted.)"""
    docs = ld(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.filter(F.trim(F.col("text")) != "").count()
    scored = tf.join(df_, "w").select(
        "doc_id",
        "w",
        ((F.col("tf") * F.lit(n_docs)) / F.col("df")).alias("score"),
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id", F.col("w").alias("term"),
            F.round("score", 4).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


SQL_TFIDF = """
WITH words AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM words GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM words),
scored AS (
  SELECT tf.doc_id, tf.w, (tf.tf * (SELECT n_docs FROM n)) / df.df AS score
  FROM tf JOIN df USING (w))
SELECT doc_id, w AS term, ROUND(score, 4) AS score,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT doc_id, w, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, w ASC) AS rank
      FROM scored)
WHERE rank <= 3
"""


def q_mix_corpus(spark, sf_dir):
    """Weighted domain mixing (static data-recipe step): three sources
    remixed to a 2:1:1 target — the scarcest-relative domain is kept
    whole, the rest subsample by the same md5-threshold rule as
    stratified_sample. One tiny count pass, then a row-local filter; the
    corpus never shuffles. Binary-fraction weights (0.5/0.25/0.25) keep
    the float fold order immaterial across engines."""
    from .operators import sampling

    docs = ld(spark, sf_dir, "documents")
    return sampling.mix_corpus(
        docs, {"src0": 0.5, "src1": 0.25, "src2": 0.25}
    ).select("doc_id", "source", "keep_frac")


SQL_MIX_CORPUS = """
WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)),
cnt AS (
  SELECT d.source, COUNT(*) AS n, MAX(w.wt) AS wt
  FROM documents d JOIN w ON d.source = w.source
  GROUP BY d.source),
norm AS (
  SELECT source, n, wt / (SELECT SUM(wt) FROM cnt) AS nw FROM cnt),
tm AS (SELECT MIN(n / nw) AS t FROM norm),
fr AS (
  SELECT source, (nw * (SELECT t FROM tm)) / n AS frac FROM norm)
SELECT d.doc_id, d.source, ROUND(f.frac, 6) AS keep_frac
FROM documents d
JOIN fr f ON d.source = f.source
WHERE CAST(CONCAT('0x', substr(md5(d.source || '#' || CAST(d.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 10000
      < CAST(FLOOR(f.frac * 10000) AS INTEGER)
"""


def q_fuzzy_semi_join(spark, sf_dir):
    """Fuzzy key matching (SymSpell deletion blocking + levenshtein
    verify): every 5th customer name gets a deterministic one-character
    deletion, then all names are matched against the clean reference set
    — typo'd keys recover their original at distance 1, clean keys match
    themselves at 0, with NO cross join anywhere (candidates come from a
    hash join on deletion variants). The noisy-extracted-key answer the
    reference's exact str/int probe (work_order_extractor.py:1752-1767)
    cannot give."""
    from .operators import fuzzy

    cust = ld(spark, sf_dir, "customer")
    pos = (F.col("c_custkey") % 10).cast("int")  # 0-based deletion point
    probe = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.concat(
                F.substring(F.col("c_name"), 1, pos),
                F.col("c_name").substr(pos + 2, F.length("c_name")),
            ),
        ).otherwise(F.col("c_name")).alias("pkey"),
    )
    return fuzzy.fuzzy_semi_join(probe, cust, "pkey", "c_name", "c_custkey")


SQL_FUZZY_SEMI_JOIN = """
WITH probe AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 5 = 0 THEN
           substr(c_name, 1, CAST(c_custkey % 10 AS INTEGER))
             || substr(c_name, CAST(c_custkey % 10 AS INTEGER) + 2)
         ELSE c_name END AS pkey
  FROM customer),
pv AS (
  SELECT DISTINCT c_custkey, pkey, v FROM (
    SELECT c_custkey, pkey,
           unnest(list_prepend(pkey,
             list_transform(generate_series(1, length(pkey)),
               i -> substr(pkey, 1, CAST(i - 1 AS INTEGER))
                    || substr(pkey, CAST(i + 1 AS INTEGER))))) AS v
    FROM probe)),
rv AS (
  SELECT DISTINCT c_name AS rkey, v FROM (
    SELECT c_name,
           unnest(list_prepend(c_name,
             list_transform(generate_series(1, length(c_name)),
               i -> substr(c_name, 1, CAST(i - 1 AS INTEGER))
                    || substr(c_name, CAST(i + 1 AS INTEGER))))) AS v
    FROM customer)),
cands AS (SELECT DISTINCT c_custkey, pkey, rkey FROM pv JOIN rv USING (v)),
ver AS (
  SELECT c_custkey, pkey, rkey, levenshtein(pkey, rkey) AS dist
  FROM cands WHERE levenshtein(pkey, rkey) <= 1)
SELECT c_custkey, pkey AS probe_key, rkey AS matched_key,
       CAST(dist AS INTEGER) AS dist
FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
        ORDER BY dist, rkey) AS rn FROM ver)
WHERE rn = 1
"""


def q_repetition_score(spark, sf_dir):
    """Gopher-style repetition rule: duplicate word-bigram fraction per
    document, flagged above 0.2 — built row-locally with
    transform(sequence(...)) so the plan is a narrow map (no explode, no
    shuffle) at any corpus size."""
    from .operators import textclean

    return textclean.repetition_scores(ld(spark, sf_dir, "documents"))


SQL_REPETITION = """
WITH g AS (
  SELECT doc_id, ws,
         CASE WHEN len(ws) >= 2 THEN
           list_transform(generate_series(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1]) END AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
SELECT doc_id,
       CAST(len(grams) AS INTEGER) AS n_grams,
       CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
       ROUND((len(grams) - len(list_distinct(grams))) / len(grams), 6)
         AS dup_ratio,
       COALESCE(
         ROUND((len(grams) - len(list_distinct(grams))) / len(grams), 6)
           > 0.2, FALSE) AS repetitive
FROM g
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction audit: emails/phones replaced with typed tokens,
    counts + a narrow fingerprint of the redacted text. Deterministic PII
    is injected into every 7th document first (identically in the oracle)
    so the redaction provably fires on known rows."""
    from .operators import textclean

    docs = ld(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact: user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567"),
                ),
            ).otherwise(""),
        ),
    )
    return textclean.pii_redact(docs)


SQL_PII_REDACT = r"""
WITH injected AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN
           ' contact: user' || doc_id || '@example.com or 555-123-4567'
           ELSE '' END AS text
  FROM documents),
red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                          '<EMAIL>', 'g'),
           '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted,
         len(regexp_extract_all(
           text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
         len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) AS n_phones
  FROM injected)
SELECT doc_id, n_emails, n_phones,
       CAST(length(redacted) AS BIGINT) AS redacted_len,
       md5(redacted) AS redacted_md5
FROM red
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: every 97th document plays the eval set;
    corpus docs sharing any 3-word shingle with it are flagged. Broadcast
    benchmark shingles, map-side overlap check, only per-doc counts
    shuffle — the standard published eval-hygiene technique at the 100-TB
    shape."""
    from .operators import textclean

    docs = ld(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return textclean.decontaminate(corpus, bench)


SQL_DECONTAMINATE = """
WITH shingles AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
  WHERE len(ws) >= 3),
bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 97 = 0),
hits AS (
  SELECT s.doc_id, CAST(COUNT(*) AS INTEGER) AS n_overlap
  FROM shingles s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id % 97 <> 0
  GROUP BY s.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 97 <> 0
"""


def q_decontaminate_spans(spark, sf_dir):
    """Span-level exact-substring decontamination (the GPT-3/FLAN recipe:
    locate VERBATIM benchmark n-grams, not just count overlap): per
    contaminated corpus doc, the maximal matched token spans as 0-based
    inclusive offsets. Positioned corpus shingles filtered map-side
    against the broadcast benchmark set; only hit (doc_id, pos) longs
    reach the per-doc island-merge window."""
    from .operators import decontam

    docs = ld(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return decontam.decontaminate_spans(corpus, bench)


_SQL_SPAN_HITS = """
cshingles AS (
  SELECT doc_id, i - 1 AS pos,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE doc_id % 97 <> 0),
       LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
  WHERE len(ws) >= 3),
bench AS (
  SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE doc_id % 97 = 0),
       LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i)
  WHERE len(ws) >= 3),
hits AS (SELECT doc_id, pos FROM cshingles JOIN bench USING (shingle)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 3
              THEN 1 ELSE 0 END AS new_island
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS UNBOUNDED PRECEDING) AS island_id
  FROM flagged),
spans AS (
  SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
         CAST(MAX(pos) + 2 AS INTEGER) AS span_end,
         CAST(COUNT(*) AS INTEGER) AS n_matched_shingles
  FROM islands GROUP BY doc_id, island_id)
"""

SQL_DECONTAMINATE_SPANS = f"""
WITH {_SQL_SPAN_HITS}
SELECT doc_id, span_start, span_end, n_matched_shingles FROM spans
"""


def q_excise_spans(spark, sf_dir):
    """Span-level EXCISION (the FLAN-style alternative to whole-doc
    removal): contaminated token ranges are dropped and the remainder
    kept. Emits (doc_id, clean_len, clean_md5, n_tokens_removed) — the
    md5 keeps the audit row narrow while still pinning the exact clean
    text, the same shape as pii_redact. Span table is the rare hit set;
    clean docs pass through with n_tokens_removed=0 and untouched text."""
    from .operators import decontam

    docs = ld(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    spans = decontam.decontaminate_spans(corpus, bench)
    out = decontam.excise_spans(corpus, spans)
    return out.select(
        "doc_id",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.md5("clean_text").alias("clean_md5"),
        "n_tokens_removed",
    )


SQL_EXCISE_SPANS = f"""
WITH {_SQL_SPAN_HITS},
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
toks AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) - 1 AS idx
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)),
kept AS (
  SELECT t.doc_id, t.w, t.idx FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id
                      AND t.idx BETWEEN s.span_start AND s.span_end)),
clean AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY idx) AS clean_text
  FROM kept GROUP BY doc_id),
removed AS (
  SELECT doc_id,
         CAST(SUM(span_end - span_start + 1) AS INTEGER) AS n_tokens_removed
  FROM spans GROUP BY doc_id)
SELECT c.doc_id,
       CAST(length(COALESCE(cl.clean_text, '')) AS BIGINT) AS clean_len,
       md5(COALESCE(cl.clean_text, '')) AS clean_md5,
       COALESCE(r.n_tokens_removed, 0) AS n_tokens_removed
FROM corpus c
LEFT JOIN clean cl ON c.doc_id = cl.doc_id
LEFT JOIN removed r ON c.doc_id = r.doc_id
"""


def q_boilerplate_spans(spark, sf_dir):
    """Cross-document boilerplate detection: fraction of each document's
    3-gram shingles recurring in >= 3 documents (the published
    repeated-span rule family). The document-frequency aggregation
    shuffles 64-bit shingle HASHES, never strings; the common-span set is
    broadcast back (boilerplate is the small heavy tail by definition)."""
    from .operators import textclean

    return textclean.boilerplate_spans(ld(spark, sf_dir, "documents"))


SQL_BOILERPLATE = f"""
WITH shingles AS ({_SQL_SHINGLES}),
sh AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
  FROM shingles),
common AS (
  SELECT h FROM (SELECT h, COUNT(*) AS c FROM sh GROUP BY h)
  WHERE c >= 3),
per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_common
  FROM sh s JOIN common c ON s.h = c.h GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(p.n_shingles, 0) AS INTEGER) AS n_shingles,
       CAST(COALESCE(h.n_common, 0) AS INTEGER) AS n_common,
       CASE WHEN p.n_shingles IS NOT NULL THEN
         ROUND(COALESCE(h.n_common, 0) / p.n_shingles, 6)
       END AS boilerplate_frac
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN hits h USING (doc_id)
"""


def q_fluency_score(spark, sf_dir):
    """Count-based char-bigram fluency scoring — the deterministic twin
    of the published LM-perplexity quality filter: every 20th document
    trains the bigram frequency model (the sample-training pattern shared
    with IVF/PQ), all documents are scored by average bigram corpus
    frequency. All-integer until the final rounded division, so the score
    never hinges on transcendental-function ULPs."""
    from .operators import textclean

    docs = ld(spark, sf_dir, "documents")
    return textclean.fluency_scores(docs.filter(F.col("doc_id") % 20 == 0), docs)


SQL_FLUENCY = """
WITH bg_model AS (
  SELECT substr(text, CAST(i AS INTEGER), 2) AS bg
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS i)
  WHERE doc_id % 20 = 0 AND length(text) >= 2),
model AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM bg_model GROUP BY bg),
doc_bg AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bg
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, length(text) - 1)) AS i)
  WHERE length(text) >= 2)
SELECT d.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_bigrams,
       CAST(SUM(COALESCE(m.cnt, 0)) AS BIGINT) AS sum_freq,
       ROUND(SUM(COALESCE(m.cnt, 0)) / COUNT(*), 4) AS fluency
FROM doc_bg d LEFT JOIN model m USING (bg)
GROUP BY d.doc_id
"""


PQ_M, PQ_KSUB, PQ_DSUB = 8, 16, 8  # 64-dim vectors -> 8 subspaces of 8


def _pq_d2(a: str, b: str) -> str:
    """DuckDB twin of operators.pq._d2: rounded squared L2 via the
    dot-product identity, every dot a sequential fold."""
    return (
        f"ROUND(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])"
        f" - 2*list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
        f" + list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]), 4)"
    )


def _pq_ctes(m: int = PQ_M, ksub: int = PQ_KSUB, dsub: int = PQ_DSUB) -> str:
    """DuckDB twin of operators.pq.pq_codebooks + the encode assignment:
    hash-seeded init, one Lloyd iteration with DECIMAL(28,9) per-dim
    means, nearest-codeword encoding — bit-identical to the engine."""
    return f"""
sub AS (
  SELECT vec_id AS sid, j,
         (embedding[(j*{dsub}+1):(j*{dsub}+{dsub})])::DOUBLE[] AS sv
  FROM embeddings,
       LATERAL (SELECT unnest(generate_series(0, {m - 1})) AS j)),
seeded AS (
  SELECT sid, j, sv,
         CAST(CONCAT('0x', substr(md5(CAST(sid AS VARCHAR)), 1, 8))
              AS BIGINT) AS hh
  FROM sub),
cb0 AS (
  SELECT j, CAST(hh % {ksub} AS INTEGER) AS code_id, sv AS cv
  FROM (SELECT *, row_number() OVER (PARTITION BY j, hh % {ksub}
               ORDER BY hh, sid) AS rn FROM seeded)
  WHERE rn = 1),
a1 AS (
  SELECT j, code_id, sv FROM (
    SELECT s.j, c.code_id, s.sv,
           row_number() OVER (PARTITION BY s.sid, s.j
             ORDER BY {_pq_d2('s.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM sub s JOIN cb0 c ON s.j = c.j) WHERE rn = 1),
m1 AS (
  SELECT j, code_id, d,
         CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*) AS mval
  FROM (SELECT j, code_id, unnest(sv) AS x,
               generate_subscripts(sv, 1) AS d FROM a1)
  GROUP BY 1, 2, 3),
cb1 AS (SELECT j, code_id, list(mval ORDER BY d) AS cv FROM m1
        GROUP BY 1, 2),
codes AS (
  SELECT sid, j, code FROM (
    SELECT s.sid, s.j, c.code_id AS code,
           row_number() OVER (PARTITION BY s.sid, s.j
             ORDER BY {_pq_d2('s.sv', 'c.cv')} ASC, c.code_id) AS rn
    FROM sub s JOIN cb1 c ON s.j = c.j) WHERE rn = 1)"""


# PQ model cache: same train-once-search-many pattern as the IVF cache.
_PQ_MODEL_CACHE: dict[tuple[str, str], object] = {}


def _trained_pq_codebooks(spark, sf_dir):
    from .operators import pq

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_MODEL_CACHE:
        trained = pq.pq_codebooks(ld(spark, sf_dir, "embeddings"))
        _PQ_MODEL_CACHE[key] = spark.createDataFrame(
            trained.collect(), trained.schema
        )
    return _PQ_MODEL_CACHE[key]


# The code table is the corpus's stored PQ representation — a deployment
# materializes it once next to the codebooks and searches IT, never the
# embeddings (at 100 TB: a parquet table ~30x smaller than the vectors).
_PQ_CODES_CACHE: dict[tuple[str, str], object] = {}


def _materialized_pq_codes(spark, sf_dir):
    from .operators import pq

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PQ_CODES_CACHE:
        codes = pq.pq_codes(
            ld(spark, sf_dir, "embeddings"),
            _trained_pq_codebooks(spark, sf_dir),
        )
        _PQ_CODES_CACHE[key] = spark.createDataFrame(
            codes.collect(), codes.schema
        )
    return _PQ_CODES_CACHE[key]


def q_pq_encode(spark, sf_dir):
    """Product quantization encode: every 64-dim vector compressed to 8
    nearest-codeword ids (~30x smaller searchable representation, the PQ
    storage win). Codebooks are TRAINED (hash-seeded init + 1 exact-
    decimal Lloyd iteration), session-cached, and reproduced identically
    by the oracle's CTE chain."""
    from .operators import pq

    return pq.pq_encode(
        ld(spark, sf_dir, "embeddings"), _trained_pq_codebooks(spark, sf_dir)
    )


SQL_PQ_ENCODE = f"""
WITH {_pq_ctes()}
SELECT sid AS vec_id,
       array_to_string(list(CAST(code AS VARCHAR) ORDER BY j), '-')
         AS code_str
FROM codes GROUP BY sid
"""


def q_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance search (ADC): queries keep exact
    subvectors, the corpus is searched through its codes only — one
    m x ksub LUT per query against the broadcast codebook, then a narrow
    (j, code) join + order-free DECIMAL sum. The corpus embedding column
    never reaches the search side.

    r7: the pq_topk_fast twin — the ADC accumulation runs as one integer
    gather-sum per Arrow batch of the wide code table instead of a
    |codes|×|queries| join + per-pair decimal aggregation; identical
    values (differential-tested)."""
    from .operators import pq

    emb = ld(spark, sf_dir, "embeddings")
    return pq.pq_topk_fast(
        _trained_pq_codebooks(spark, sf_dir),
        emb.filter(F.col("vec_id") % 100 == 0),
        k=3,
        codes=_materialized_pq_codes(spark, sf_dir),
    )


SQL_PQ_TOPK = f"""
WITH {_pq_ctes()},
q AS (SELECT sid AS qid, j, sv AS qv FROM sub WHERE sid % 100 = 0),
lut AS (
  SELECT q.qid, q.j, c.code_id, {_pq_d2('q.qv', 'c.cv')} AS dist
  FROM q JOIN cb1 c ON q.j = c.j),
adist AS (
  SELECT l.qid, co.sid AS nid,
         CAST(SUM(CAST(dist AS DECIMAL(18,4))) AS DOUBLE) AS adist
  FROM codes co JOIN lut l ON co.j = l.j AND co.code = l.code_id
  WHERE l.qid <> co.sid
  GROUP BY 1, 2)
SELECT qid, nid, adist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, nid, adist,
         row_number() OVER (PARTITION BY qid
           ORDER BY adist ASC, nid) AS rank
  FROM adist)
WHERE rank <= 3
"""


SEMDEDUP_TAU = 0.35


def q_semdedup(spark, sf_dir):
    """Semantic dedup (the SemDeDup shape, Abbas et al. 2023): IVF-
    cluster the embedding space with the session-cached trained
    centroids, then within each cluster drop every vector whose cosine
    to a smaller-id member is ≥ τ — the embedding-space twin of the
    text near-dup materializer's greedy keeper. Returns the kept
    (vec_id, centroid_id) corpus; the oracle replays clustering (same
    training CTEs as IVF) and the within-cell drop rule."""
    from .operators import annfast

    return annfast.semdedup_fast(
        ld(spark, sf_dir, "embeddings"), SEMDEDUP_TAU,
        centroids=_trained_ivf_centroids(spark, sf_dir),
    )


SQL_SEMDEDUP = f"""
WITH {_SQL_IVF_ASSIGN_CTE},
withc AS (
  SELECT e.vec_id, e.embedding, a.centroid_id
  FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id),
dropped AS (
  SELECT DISTINCT b.vec_id AS dropped FROM withc a JOIN withc b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
              (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
               sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
        >= {SEMDEDUP_TAU}
)
SELECT vec_id, centroid_id FROM withc
WHERE vec_id NOT IN (SELECT dropped FROM dropped)
"""


ANN_RECALL_Q = 100  # cosine-metric recall query set: vec_id < 100


def q_ann_recall(spark, sf_dir):
    """Recall@3 of every approximate ANN path against its exact ground
    truth on deterministic query sets — the number a training pipeline
    actually tunes bands/K/m against. lsh_topk_banded and ivf_topk are
    measured against exact cosine top-3 (queries vec_id < 100); pq_topk
    approximates squared L2, so it is measured against exact-L2 top-3 on
    its own query set (vec_id % 100 = 0). Both engines produce the SAME
    deterministic top-3 lists (round-4 sims, id tiebreaks), so the
    hit counts — and therefore recall — are integer-exact.

    Every search runs WITH the query set passed in (roles scorer): the gauge consumes only qid-in-query-set
    rows, and a query's top-k is independent of other queries, so the
    joined result is unchanged while the approximate searches stop
    scoring |corpus|² pairs for queries whose rows the recall join
    immediately drops. (The r2-era note about filtered self-joins losing
    Catalyst exchange reuse applied to the old join-shaped plans; the
    grouped roles scorer has no self-join to de-optimize.)"""
    from .operators import annfast, pq

    emb = ld(spark, sf_dir, "embeddings")
    qcos = emb.filter(F.col("vec_id") < ANN_RECALL_Q)
    exact_cos = annfast.cosine_topk_fast2(emb, query_df=qcos, k=3).select(
        "qid", "nid"
    )
    banded = annfast.lsh_topk_banded_fast(
        emb, k=3, bands=LSH_TOPK_BANDS, planes_per_band=LSH_PLANES_PER_BAND,
        query_df=qcos,
    )
    salted = annfast.lsh_topk_fast(
        emb, k=3, n_planes=N_PLANES, query_df=qcos
    )
    ivf = annfast.ivf_topk_fast(
        emb, k=3, n_centroids=IVF_K,
        centroids=_trained_ivf_centroids(spark, sf_dir), query_df=qcos,
    )
    pqq = emb.filter(F.col("vec_id") % 100 == 0)
    exact_l2 = annfast.l2_topk_fast(emb, query_df=pqq, k=3).select("qid", "nid")
    pq_res = pq.pq_topk_fast(
        _trained_pq_codebooks(spark, sf_dir), pqq, k=3,
        codes=_materialized_pq_codes(spark, sf_dir),
    )

    def one(name: str, exact: DataFrame, approx: DataFrame) -> DataFrame:
        j = exact.join(
            approx.select("qid", "nid").withColumn("hit", F.lit(1)),
            ["qid", "nid"],
            "left",
        )
        return j.agg(
            F.count(F.lit(1)).cast("long").alias("exact_rows"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("hit_rows"),
        ).select(
            F.lit(name).alias("method"),
            "exact_rows",
            "hit_rows",
            (F.col("hit_rows") / F.col("exact_rows")).alias("recall"),
        )

    ivf_np = annfast.ivf_topk_nprobe_fast(
        emb, k=3, nprobe=IVF_NPROBE,
        centroids=_trained_ivf_centroids(spark, sf_dir), query_df=qcos,
    )
    return (
        one("lsh_banded", exact_cos, banded)
        .unionAll(one("lsh_salted", exact_cos, salted))
        .unionAll(one("ivf", exact_cos, ivf))
        .unionAll(one(f"ivf_nprobe{IVF_NPROBE}", exact_cos, ivf_np))
        .unionAll(one("pq_adc", exact_l2, pq_res))
    )


_SQL_EXACT_COS3 = f"""
  WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
             WHERE vec_id < {ANN_RECALL_Q}),
  c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
  pairs AS (
    SELECT qid, nid,
           ROUND(list_dot_product(qv::DOUBLE[], nv::DOUBLE[]) /
                 (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) *
                  sqrt(list_dot_product(nv::DOUBLE[], nv::DOUBLE[]))), 4) AS sim
    FROM q, c WHERE qid <> nid)
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
    FROM pairs)
  WHERE rank <= 3
"""

_SQL_EXACT_L23 = """
  WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
             WHERE vec_id % 100 = 0),
  c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
  pairs AS (
    SELECT qid, nid,
           ROUND(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])
                 - 2.0 * list_dot_product(qv::DOUBLE[], nv::DOUBLE[])
                 + list_dot_product(nv::DOUBLE[], nv::DOUBLE[]), 4) AS d2
    FROM q, c WHERE qid <> nid)
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid) AS rank
    FROM pairs)
  WHERE rank <= 3
"""

SQL_ANN_RECALL = f"""
WITH exact_cos AS ({_SQL_EXACT_COS3}),
exact_l2 AS ({_SQL_EXACT_L23}),
lshb AS (SELECT qid, nid FROM ({SQL_LSH_TOPK_BANDED})
         WHERE qid < {ANN_RECALL_Q}),
lshs AS (SELECT qid, nid FROM ({SQL_LSH_TOPK})
         WHERE qid < {ANN_RECALL_Q}),
ivfr AS (SELECT qid, nid FROM ({SQL_IVF_TOPK})
         WHERE qid < {ANN_RECALL_Q}),
ivfnp AS (SELECT qid, nid FROM ({SQL_IVF_TOPK_NPROBE})
         WHERE qid < {ANN_RECALL_Q}),
pqr AS (SELECT qid, nid FROM ({SQL_PQ_TOPK})),
counts AS (
  SELECT 'lsh_banded' AS method,
         (SELECT COUNT(*) FROM exact_cos) AS exact_rows,
         (SELECT COUNT(*) FROM exact_cos e
          JOIN lshb a ON e.qid = a.qid AND e.nid = a.nid) AS hit_rows
  UNION ALL
  SELECT 'lsh_salted',
         (SELECT COUNT(*) FROM exact_cos),
         (SELECT COUNT(*) FROM exact_cos e
          JOIN lshs a ON e.qid = a.qid AND e.nid = a.nid)
  UNION ALL
  SELECT 'ivf',
         (SELECT COUNT(*) FROM exact_cos),
         (SELECT COUNT(*) FROM exact_cos e
          JOIN ivfr a ON e.qid = a.qid AND e.nid = a.nid)
  UNION ALL
  SELECT 'ivf_nprobe{IVF_NPROBE}',
         (SELECT COUNT(*) FROM exact_cos),
         (SELECT COUNT(*) FROM exact_cos e
          JOIN ivfnp a ON e.qid = a.qid AND e.nid = a.nid)
  UNION ALL
  SELECT 'pq_adc',
         (SELECT COUNT(*) FROM exact_l2),
         (SELECT COUNT(*) FROM exact_l2 e
          JOIN pqr a ON e.qid = a.qid AND e.nid = a.nid))
SELECT method, CAST(exact_rows AS BIGINT) AS exact_rows,
       CAST(hit_rows AS BIGINT) AS hit_rows,
       hit_rows / CAST(exact_rows AS DOUBLE) AS recall
FROM counts
"""


def q_bloom_dedup(spark, sf_dir):
    """Incremental-ingest dedup via a DETERMINISTIC distributed Bloom
    filter: every 10th document plays the incoming batch, the rest the
    existing corpus. The bitmap is a bit_or aggregate over md5-derived
    positions (16 KiB total at m=2^17), broadcast to the probe — the
    100-TB answer to 'is this doc already in the corpus' without joining
    the corpus. Both the verdicts AND the false positives are
    reproduced bit-for-bit by the oracle."""
    from .operators import membership

    docs = ld(spark, sf_dir, "documents")
    # overlapping splits: batch docs whose id is also in the corpus split
    # are guaranteed exact dups, so every verdict path provably fires
    corpus = docs.filter(F.col("doc_id") % 3 != 1)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    return membership.bloom_dedup_incremental(corpus, batch)


SQL_BLOOM_DEDUP = """
WITH corpus AS (
  SELECT lower(trim(text)) AS canon FROM documents WHERE doc_id % 3 <> 1),
batch AS (
  SELECT doc_id, lower(trim(text)) AS canon
  FROM documents WHERE doc_id % 10 = 0),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS i),
cpos AS (
  SELECT CAST(CONCAT('0x', substr(md5(CAST(i AS VARCHAR) || '#' || canon),
                                  1, 8)) AS BIGINT) % 131072 AS p
  FROM corpus, seeds),
words AS (
  SELECT CAST(p // 63 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS word
  FROM cpos GROUP BY 1),
bpos AS (
  SELECT doc_id, canon,
         CAST(CONCAT('0x', substr(md5(CAST(i AS VARCHAR) || '#' || canon),
                                  1, 8)) AS BIGINT) % 131072 AS p
  FROM batch, seeds),
hits AS (
  SELECT doc_id,
         SUM(CASE WHEN w.word IS NOT NULL
                   AND ((w.word >> CAST(p % 63 AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END) AS n_hits
  FROM bpos LEFT JOIN words w ON CAST(p // 63 AS BIGINT) = w.word_idx
  GROUP BY doc_id),
exact AS (SELECT DISTINCT b.doc_id
          FROM batch b JOIN corpus c ON b.canon = c.canon)
SELECT h.doc_id,
       h.n_hits = 4 AS bloom_maybe,
       e.doc_id IS NOT NULL AS exact_dup,
       (h.n_hits = 4) AND e.doc_id IS NULL AS false_positive
FROM hits h LEFT JOIN exact e ON h.doc_id = e.doc_id
"""


def q_incremental_ingest(spark, sf_dir):
    """The composed nightly ingest a 100-TB corpus operator actually
    runs, as ONE lazy plan: new batch → Bloom prefilter (broadcast
    bitmap, no corpus join for definite-news) → exact verify for the
    maybes only → banded MinHash-LSH near-dup check vs the standing
    corpus (Jaccard on candidates only) → disposition per batch doc.
    The scale twin of the reference's destructive-rename idempotence
    (work_order_extractor.py:1769-1797). Batch fixture: every 5th doc;
    multiples of 10 arrive verbatim (exact dups when their base is in
    the corpus), the others carry one appended token (near dups of
    their base at 3-gram Jaccard (W-2)/(W-1)). The plan's persisted
    shingle tables live for the session (one harness invocation per
    driver run)."""
    from .plans import ingest

    docs = ld(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 1).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" zzzq")))
        .alias("text"),
    )
    return ingest.incremental_ingest(corpus, batch)


_SQL_ING_SH_B = _SQL_SHINGLES.replace("FROM documents", "FROM surv")
_SQL_ING_SH_C = _SQL_SHINGLES.replace("FROM documents", "FROM corpusd")

SQL_INCREMENTAL_INGEST = f"""
WITH corpusd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 1),
batchd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text ELSE text || ' zzzq' END AS text
  FROM documents WHERE doc_id % 5 = 0),
corpc AS (SELECT lower(trim(text)) AS canon FROM corpusd),
batc AS (SELECT doc_id, lower(trim(text)) AS canon FROM batchd),
seeds AS (SELECT unnest([0, 1, 2, 3]) AS i),
cpos AS (
  SELECT CAST(CONCAT('0x', substr(md5(CAST(i AS VARCHAR) || '#' || canon),
                                  1, 8)) AS BIGINT) % 131072 AS p
  FROM corpc, seeds),
words AS (
  SELECT CAST(p // 63 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS word
  FROM cpos GROUP BY 1),
bpos AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(CAST(i AS VARCHAR) || '#' || canon),
                                  1, 8)) AS BIGINT) % 131072 AS p
  FROM batc, seeds),
hits AS (
  SELECT doc_id,
         SUM(CASE WHEN w.word IS NOT NULL
                   AND ((w.word >> CAST(p % 63 AS INTEGER)) & 1) = 1
                  THEN 1 ELSE 0 END) AS n_hits
  FROM bpos LEFT JOIN words w ON CAST(p // 63 AS BIGINT) = w.word_idx
  GROUP BY doc_id),
exact AS (SELECT DISTINCT b.doc_id
          FROM batc b JOIN corpc c ON b.canon = c.canon),
surv AS (SELECT doc_id, text FROM batchd
         WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
shb AS ({_SQL_ING_SH_B}),
shc AS ({_SQL_ING_SH_C}),
sigb AS (
  SELECT doc_id,
    {', '.join(f"MIN({_mh_hash_sql('shingle', i)}) AS mh{i}" for i in range(N_MINHASH))}
  FROM shb GROUP BY doc_id),
sigc AS (
  SELECT doc_id,
    {', '.join(f"MIN({_mh_hash_sql('shingle', i)}) AS mh{i}" for i in range(N_MINHASH))}
  FROM shc GROUP BY doc_id),
bandsb AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS bucket FROM sigb"
      for b in range(LSH_BANDS)
  )}),
bandsc AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS bucket FROM sigc"
      for b in range(LSH_BANDS)
  )}),
cand AS (
  SELECT DISTINCT a.doc_id AS bid, c.doc_id AS cid
  FROM bandsb a JOIN bandsc c ON a.band = c.band AND a.bucket = c.bucket),
zb AS (SELECT doc_id, COUNT(*) AS n1 FROM shb GROUP BY doc_id),
zc AS (SELECT doc_id, COUNT(*) AS n2 FROM shc GROUP BY doc_id),
common AS (
  SELECT cd.bid, cd.cid, COUNT(*) AS n_common
  FROM cand cd
  JOIN shb s1 ON s1.doc_id = cd.bid
  JOIN shc s2 ON s2.doc_id = cd.cid AND s2.shingle = s1.shingle
  GROUP BY 1, 2),
near AS (
  SELECT DISTINCT bid AS doc_id FROM common
  JOIN zb ON common.bid = zb.doc_id JOIN zc ON common.cid = zc.doc_id
  WHERE ROUND(n_common / (zb.n1 + zc.n2 - n_common), 6) >= 0.6)
SELECT b.doc_id, h.n_hits = 4 AS bloom_maybe,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS disposition
FROM batchd b
JOIN hits h ON b.doc_id = h.doc_id
LEFT JOIN exact e ON b.doc_id = e.doc_id
LEFT JOIN near nr ON b.doc_id = nr.doc_id
"""


def q_ingest_merge(spark, sf_dir):
    """The full nightly cycle: ingest dispositions the batch against the
    corpus (Bloom → exact verify → LSH near-dup), then the
    ``disposition='new'`` docs MERGE into the standing corpus (same-key
    rows update, fresh keys insert, untouched corpus rows keep) and the
    corpus Bloom metadata is rebuilt over the post-merge state — the two
    follow-on steps ``incremental_ingest`` alone stops short of. Output:
    per-action counts + text mass, plus a ``bloom_set_bits`` metadata
    row (set-bit population of the updated corpus bitmap), so the oracle
    checks corpus-state-after-night, not just the dispositions. One lazy
    plan: disposition feeds the merge via a semi-join; the merge is one
    full-outer join on the key (bucket-co-locatable at scale, see
    plans/bucketing.py); the Bloom rebuild is the same map-side-combined
    ``bit_or`` aggregate the prefilter uses. As with
    ``incremental_ingest``, the inner plan's persisted shingle tables
    live for the session in this one-shot harness shape."""
    from .operators.common import canon_text
    from .operators.membership import K_DEFAULT, M_BITS_DEFAULT, bloom_build
    from .plans import ingest

    docs = ld(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 1).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" zzzq")))
        .alias("text"),
    )
    disp = ingest.incremental_ingest(corpus, batch)
    new_docs = batch.join(
        disp.filter(F.col("disposition") == "new").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    t, s = corpus.alias("t"), new_docs.alias("s")
    merged = t.join(s, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("s.text"), F.col("t.text")).alias("text"),
        F.when(
            F.col("s.text").isNotNull() & F.col("t.text").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("s.text").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("kept"))
        .alias("merge_action"),
    )
    actions = merged.groupBy("merge_action").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.length("text")).cast("long").alias("sum_len"),
    )
    bloom = bloom_build(
        merged.select(canon_text("text").alias("canon")),
        "canon",
        M_BITS_DEFAULT,
        K_DEFAULT,
    )
    meta = bloom.agg(
        F.sum(F.bit_count("word")).cast("long").alias("n")
    ).select(
        F.lit("bloom_set_bits").alias("merge_action"),
        "n",
        F.lit(None).cast("long").alias("sum_len"),
    )
    return actions.unionByName(meta)


SQL_INGEST_MERGE = f"""
WITH disp AS (SELECT * FROM ({SQL_INCREMENTAL_INGEST})),
corpusd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 1),
batchd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text ELSE text || ' zzzq' END AS text
  FROM documents WHERE doc_id % 5 = 0),
newdocs AS (
  SELECT b.doc_id, b.text FROM batchd b
  JOIN disp d ON b.doc_id = d.doc_id AND d.disposition = 'new'),
merged AS (
  SELECT COALESCE(t.doc_id, s.doc_id) AS doc_id,
         COALESCE(s.text, t.text) AS text,
         CASE WHEN s.text IS NOT NULL AND t.text IS NOT NULL THEN 'updated'
              WHEN s.text IS NOT NULL THEN 'inserted'
              ELSE 'kept' END AS merge_action
  FROM corpusd t FULL OUTER JOIN newdocs s ON t.doc_id = s.doc_id),
actions AS (
  SELECT merge_action, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len(text)) AS BIGINT) AS sum_len
  FROM merged GROUP BY 1),
canonm AS (SELECT lower(trim(text)) AS canon FROM merged),
mseeds AS (SELECT unnest([0, 1, 2, 3]) AS i),
mpos AS (
  SELECT CAST(CONCAT('0x', substr(md5(CAST(i AS VARCHAR) || '#' || canon),
                                  1, 8)) AS BIGINT) % 131072 AS p
  FROM canonm, mseeds),
mwords AS (
  SELECT CAST(p // 63 AS BIGINT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER)) AS word
  FROM mpos GROUP BY 1),
meta AS (
  SELECT 'bloom_set_bits' AS merge_action,
         CAST(SUM(bit_count(word)) AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS sum_len
  FROM mwords)
SELECT * FROM actions UNION ALL SELECT * FROM meta
"""


# ===========================================================================
# Round-5 additions: Adam7 PNG, bigram LM, weighted sampling, LSH pair
# quality gauge, retention cohorts, per-language quality gate
# ===========================================================================

def q_png_adam7_decode(spark, sf_dir):
    """ADAM7-INTERLACED PNG decode end-to-end: seven independently-
    filtered passes (built by operators/adam7.py) deinterlaced back to
    the full raster by the one PNG decoder in operators/multimodal.py
    (reference analog: poppler renders anything,
    work_order_extractor.py:1121-1146). ``pos_sum`` weights each luma by
    its raster position, so the oracle checks pixel PLACEMENT — a
    deinterlacer that lands right pixels in wrong places keeps sum_luma
    but breaks pos_sum."""
    from .operators import adam7, multimodal

    media = adam7.media_png_adam7_from_documents(ld(spark, sf_dir, "documents"))
    return multimodal.image_features(media).select(
        "media_id", "width", "height", "n_px", "sum_luma", "pos_sum"
    )


SQL_PNG_ADAM7_DECODE = """
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(5 + doc_id % 12 AS INTEGER) AS width,
         CAST(5 + (doc_id // 12) % 9 AS INTEGER) AS height
  FROM documents),
px AS (
  SELECT media_id, width, height, x, y, (3*x + 2*y + media_id) % 256 AS v
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x),
       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y))
SELECT media_id, width, height,
       CAST(width * height AS INTEGER) AS n_px,
       CAST(SUM(v) AS BIGINT) AS sum_luma,
       CAST(SUM(v * (y * width + x + 1)) AS BIGINT) AS pos_sum
FROM px GROUP BY 1, 2, 3
"""


def q_bigram_lm_score(spark, sf_dir):
    """Corpus-trained bigram-LM quality score per document (the
    CCNet/KenLM gate, Spark-first): the "model" is two count tables built
    with one groupBy each; scoring is a join back onto them. Integer-
    scaled add-one-smoothed conditionals (same cross-engine-exact trick
    as dsir_weights) instead of float log-probs."""
    from .operators import lm

    return lm.bigram_lm_score(ld(spark, sf_dir, "documents"))


SQL_BIGRAM_LM = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
                     t -> t <> '') AS ts
  FROM documents),
bg AS (
  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i)),
uni AS (SELECT w1, COUNT(*) AS c1
        FROM (SELECT unnest(ts) AS w1 FROM toks) GROUP BY w1),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
v AS (SELECT COUNT(*) AS vsize FROM uni),
part AS (
  SELECT bg.doc_id, ((big.c12 + 1) * 1000000) // (uni.c1 + v.vsize) AS part
  FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v),
scored AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(part) AS lm_score
           FROM part GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(s.lm_score, 0) AS BIGINT) AS lm_score
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


WS_TICKET_K = 50  # weighted-sample output size


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement via ticket
    replication (integer-exact A-RES: a document with weight w holds w
    hash tickets and competes with its best one — min of w iid uniforms,
    the bottom-k weighted sketch). Weight = 1 + min(n_chars // 400, 7).
    Everything stays in 64-bit md5-derived integers, so Spark and DuckDB
    agree bit-for-bit where float u^(1/w) keys could ulp-flip near ties;
    the final top-k is TakeOrderedAndProject — per-partition top-k, O(k)
    on the driver."""
    from .operators.common import stable_hash64

    docs = ld(spark, sf_dir, "documents")
    w = (F.lit(1) + F.least(F.floor(F.col("n_chars") / 400), F.lit(7))).cast(
        "int"
    )
    tickets = (
        docs.select("doc_id", "lang", w.alias("w"))
        .withColumn("i", F.explode(F.sequence(F.lit(1), F.col("w"))))
        .select(
            "doc_id",
            "lang",
            "w",
            stable_hash64(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.col("i").cast("string")
                )
            ).alias("k"),
        )
    )
    return (
        tickets.groupBy("doc_id", "lang", "w")
        .agg(F.min("k").alias("best_ticket"))
        .orderBy("best_ticket", "doc_id")
        .limit(WS_TICKET_K)
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH t AS (
  SELECT doc_id, lang, CAST(1 + least(n_chars // 400, 7) AS INTEGER) AS w
  FROM documents),
tick AS (
  SELECT doc_id, lang, w,
         CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) AS k
  FROM t, LATERAL (SELECT unnest(generate_series(1, w)) AS i))
SELECT doc_id, lang, w, MIN(k) AS best_ticket
FROM tick GROUP BY 1, 2, 3
ORDER BY best_ticket, doc_id LIMIT {WS_TICKET_K}
"""


def q_lsh_pair_quality(spark, sf_dir, persisted_out: list | None = None):
    """Candidate-quality gauge for the dedup family (the ann_recall
    analog): MinHash-LSH candidate pairs vs the EXACT Jaccard ≥ 0.6
    ground truth, as integer tp/fp/missed counts plus integer recall/
    precision percentages. The exact truth is exhaustive for τ > 0
    because any pair with positive Jaccard shares a shingle — the
    inverted-index join IS the full pair set, no quadratic scan. One
    shingle table is persisted and shared by both branches (same pattern
    as dedup_near_materialize)."""
    from .operators import dedup

    docs = ld(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs).persist()
    if persisted_out is not None:  # cache-lifecycle escape hatch
        persisted_out.append(sh)
    cand = (
        dedup.minhash_lsh_pairs(docs, N_MINHASH, LSH_BANDS, shingles=sh)
        .select("doc1", "doc2")
        .withColumn("c", F.lit(1))
    )
    truth = (
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.6, shingles=sh)
        .select("doc1", "doc2")
        .withColumn("t", F.lit(1))
    )
    u = cand.join(truth, ["doc1", "doc2"], "full").select(
        F.coalesce("c", F.lit(0)).alias("c"), F.coalesce("t", F.lit(0)).alias("t")
    )
    agg = u.agg(
        F.sum("c").alias("n_candidates"),
        F.sum("t").alias("n_truth"),
        F.sum(F.col("c") * F.col("t")).alias("tp"),
    )
    return agg.select(
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("tp").cast("long").alias("tp"),
        F.expr("CAST(n_candidates - tp AS BIGINT)").alias("fp"),
        F.expr("CAST(n_truth - tp AS BIGINT)").alias("n_missed"),
        F.expr("CAST((100 * tp) div nullif(n_truth, 0) AS BIGINT)").alias(
            "recall_pct"
        ),
        F.expr("CAST((100 * tp) div nullif(n_candidates, 0) AS BIGINT)").alias(
            "precision_pct"
        ),
    )


SQL_LSH_PAIR_QUALITY = f"""
WITH cand AS ({SQL_MINHASH_LSH}),
truth AS (SELECT doc1, doc2 FROM ({SQL_NGRAM_JACCARD})),
u AS (
  SELECT CASE WHEN c.doc1 IS NOT NULL THEN 1 ELSE 0 END AS c,
         CASE WHEN t.doc1 IS NOT NULL THEN 1 ELSE 0 END AS t
  FROM cand c FULL OUTER JOIN truth t
    ON c.doc1 = t.doc1 AND c.doc2 = t.doc2)
SELECT CAST(SUM(c) AS BIGINT) AS n_candidates,
       CAST(SUM(t) AS BIGINT) AS n_truth,
       CAST(SUM(c * t) AS BIGINT) AS tp,
       CAST(SUM(c) - SUM(c * t) AS BIGINT) AS fp,
       CAST(SUM(t) - SUM(c * t) AS BIGINT) AS n_missed,
       CAST((100 * SUM(c * t)) // NULLIF(SUM(t), 0) AS BIGINT) AS recall_pct,
       CAST((100 * SUM(c * t)) // NULLIF(SUM(c), 0) AS BIGINT) AS precision_pct
FROM u
"""


def q_retention_cohorts(spark, sf_dir):
    """Retention cohort triangle over the events stream: cohort = each
    user's first ISO activity week, cell = distinct users from that
    cohort active k weeks later. Two hash aggregations + one join on
    user_id; the distinct-users count is exact because the activity
    table is already (user, week)-distinct."""
    ev = ld(spark, sf_dir, "events")
    act = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts").cast("timestamp"))
        .cast("timestamp_ntz")
        .alias("week"),
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("CAST(datediff(week, cohort_week) div 7 AS INT)").alias(
                "week_offset"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


SQL_RETENTION_COHORTS = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INTEGER) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM act a JOIN cohort f USING (user_id)
GROUP BY 1, 2
"""


def q_quality_percentile_gate(spark, sf_dir):
    """Per-language relative quality gate: keep each language's top
    decile by length score (rank·10 ≤ stratum size — pure integers, no
    percent_rank float). The per-stratum RELATIVE threshold is the
    production shape for multilingual corpora, where one absolute
    threshold over-prunes low-resource languages; both window functions
    share one partitioning, so the plan has a single shuffle."""
    docs = ld(spark, sf_dir, "documents")
    wo = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wp = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("int").alias("n_chars"),
            F.row_number().over(wo).alias("rnk"),
            F.count(F.lit(1)).over(wp).alias("n_lang"),
        )
        .filter(F.col("rnk") * 10 <= F.col("n_lang"))
        .select("doc_id", "lang", "n_chars", F.col("rnk").cast("int").alias("rnk"))
    )


SQL_QUALITY_GATE = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents)
SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars, CAST(rnk AS INTEGER) AS rnk
FROM r WHERE rnk * 10 <= n_lang
"""


def q_image_ahash_pairs(spark, sf_dir):
    """Perceptual-hash IMAGE near-dup pairs — the multimodal twin of the
    text near-dup family (operators/imagehash.py): decode each raster
    through the real stdlib codec path, compute the integer 8×8 average
    hash as four 16-bit bands, and find pairs within Hamming ≤ 3 via
    banded blocking (pigeonhole-complete for h < 4 — never a quadratic
    scan; the DuckDB oracle checks against the EXHAUSTIVE cross-pair
    truth, so blocking completeness is value-verified, same discipline
    as simhash_near_pairs). Fixture: 16×16 gray BMPs where docs sharing
    doc_id %% 25 differ in one perturbed pixel (near-dups) and groups
    differ in gradient orientation (far apart)."""
    from .operators import imagehash

    media = imagehash.media_bmp16_from_documents(ld(spark, sf_dir, "documents"))
    return imagehash.ahash_near_pairs(imagehash.image_ahash(media), max_hamming=3)


SQL_IMAGE_AHASH_PAIRS = """
WITH px AS (
  SELECT doc_id, x, y,
         CASE WHEN x = doc_id % 16 AND y = (doc_id // 16) % 16
              THEN ((x*(3 + doc_id % 25) + y*(5 + 2*(doc_id % 25))) % 256 + 128) % 256
              ELSE (x*(3 + doc_id % 25) + y*(5 + 2*(doc_id % 25))) % 256 END AS v
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0, 15)) AS x),
       LATERAL (SELECT unnest(generate_series(0, 15)) AS y)),
cell AS (
  SELECT doc_id, (y // 2) * 8 + (x // 2) AS k, SUM(v) AS s
  FROM px GROUP BY 1, 2),
tot AS (SELECT doc_id, SUM(s) AS t FROM cell GROUP BY doc_id),
bands AS (
  SELECT c.doc_id, c.k // 16 AS band,
         SUM(CASE WHEN c.s * 64 > t.t THEN 1 << (c.k % 16) ELSE 0 END) AS bv
  FROM cell c JOIN tot t USING (doc_id) GROUP BY 1, 2),
h AS (
  SELECT doc_id,
         CAST(MAX(CASE WHEN band = 0 THEN bv END) AS INTEGER) AS b0,
         CAST(MAX(CASE WHEN band = 1 THEN bv END) AS INTEGER) AS b1,
         CAST(MAX(CASE WHEN band = 2 THEN bv END) AS INTEGER) AS b2,
         CAST(MAX(CASE WHEN band = 3 THEN bv END) AS INTEGER) AS b3
  FROM bands GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INTEGER) AS hamming
  FROM h a JOIN h b ON a.doc_id < b.doc_id)
SELECT doc1, doc2, hamming FROM pairs WHERE hamming <= 3
"""


def q_image_phash_pairs(spark, sf_dir):
    """DCT perceptual-hash (pHash) image near-dup pairs — the frequency-
    domain sibling of image_ahash_pairs: integer 16-point DCT-II (basis
    shared VERBATIM with the oracle), 8×8 low-frequency block
    thresholded at the exact 63-AC median, four 16-bit bands, banded
    blocking complete for Hamming ≤ 3, oracle = EXHAUSTIVE cross-pair
    truth. Fixture: smooth md5-seeded bilinear rasters; same-group docs
    differ by an unclamped brightness shift (pHash-invariant by
    construction: only DC moves, and its bit is saturated at 1 on
    non-negative rasters) plus a ±6 dipole whose
    low-block leakage exercises the threshold. See SCALE.md for the
    measured aHash/pHash brittleness comparison on these rasters."""
    from .operators import imagehash

    media = imagehash.media_bmp16_smooth_from_documents(
        ld(spark, sf_dir, "documents")
    )
    return imagehash.ahash_near_pairs(
        imagehash.image_phash(media), max_hamming=3
    )


from .operators.imagehash import PHASH_BASIS as _PHASH_BASIS  # noqa: E402

_PHASH_BASIS_VALUES = ", ".join(
    f"({u}, {pos}, {c})"
    for u, row in enumerate(_PHASH_BASIS)
    for pos, c in enumerate(row)
)

SQL_IMAGE_PHASH_PAIRS = f"""
WITH basis AS (
  SELECT * FROM (VALUES {_PHASH_BASIS_VALUES}) t(u, pos, c)),
gids AS (SELECT DISTINCT doc_id % 25 AS gid FROM documents),
ctrl AS (
  SELECT gid, i, j,
         CAST(CONCAT('0x', substr(md5(CONCAT(gid, ':', i, ':', j)), 1, 8))
              AS BIGINT) % 200 + 28 AS c
  FROM gids,
       LATERAL (SELECT unnest(generate_series(0, 3)) AS i),
       LATERAL (SELECT unnest(generate_series(0, 3)) AS j)),
lum AS (
  SELECT d.doc_id, g.x, g.y,
         SUM(c.c * (CASE WHEN c.i = LEAST(g.x // 5, 2)
                         THEN 5 - (g.x - 5 * LEAST(g.x // 5, 2))
                         ELSE g.x - 5 * LEAST(g.x // 5, 2) END)
                 * (CASE WHEN c.j = LEAST(g.y // 5, 2)
                         THEN 5 - (g.y - 5 * LEAST(g.y // 5, 2))
                         ELSE g.y - 5 * LEAST(g.y // 5, 2) END)) // 25
         + 3 * ((d.doc_id // 25) % 6)
         + CASE WHEN g.y = (d.doc_id // 16) % 16 AND g.x = d.doc_id % 15
                THEN 6
                WHEN g.y = (d.doc_id // 16) % 16 AND g.x = d.doc_id % 15 + 1
                THEN -6 ELSE 0 END AS v
  FROM documents d,
       LATERAL (SELECT x, y FROM
                  (SELECT unnest(generate_series(0, 15)) AS x),
                  (SELECT unnest(generate_series(0, 15)) AS y)) g
  JOIN ctrl c
    ON c.gid = d.doc_id % 25
   AND c.i IN (LEAST(g.x // 5, 2), LEAST(g.x // 5, 2) + 1)
   AND c.j IN (LEAST(g.y // 5, 2), LEAST(g.y // 5, 2) + 1)
  GROUP BY d.doc_id, g.x, g.y),
r1 AS (
  SELECT p.doc_id, b.u, p.x, SUM(b.c * p.v) AS r
  FROM lum p JOIN basis b ON b.pos = p.y
  GROUP BY 1, 2, 3),
co AS (
  SELECT r1.doc_id, r1.u, b2.u AS vfreq, SUM(b2.c * r1.r) AS cval
  FROM r1 JOIN basis b2 ON b2.pos = r1.x
  WHERE r1.u < 8 AND b2.u < 8
  GROUP BY 1, 2, 3),
low AS (SELECT doc_id, u * 8 + vfreq AS k, cval FROM co),
med AS (
  SELECT doc_id, cval AS m FROM low WHERE k > 0
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cval, k) = 32),
bands AS (
  SELECT l.doc_id, l.k // 16 AS band,
         SUM(CASE WHEN l.cval > med.m THEN 1 << (l.k % 16) ELSE 0 END) AS bv
  FROM low l JOIN med USING (doc_id) GROUP BY 1, 2),
h AS (
  SELECT doc_id,
         CAST(MAX(CASE WHEN band = 0 THEN bv END) AS INTEGER) AS b0,
         CAST(MAX(CASE WHEN band = 1 THEN bv END) AS INTEGER) AS b1,
         CAST(MAX(CASE WHEN band = 2 THEN bv END) AS INTEGER) AS b2,
         CAST(MAX(CASE WHEN band = 3 THEN bv END) AS INTEGER) AS b3
  FROM bands GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS INTEGER) AS hamming
  FROM h a JOIN h b ON a.doc_id < b.doc_id)
SELECT doc1, doc2, hamming FROM pairs WHERE hamming <= 3
"""


REGISTRY: dict[str, tuple[Callable, str | None]] = {
    "decontaminate_spans": (q_decontaminate_spans, SQL_DECONTAMINATE_SPANS),
    "excise_spans": (q_excise_spans, SQL_EXCISE_SPANS),
    "image_phash_pairs": (q_image_phash_pairs, SQL_IMAGE_PHASH_PAIRS),
    "image_ahash_pairs": (q_image_ahash_pairs, SQL_IMAGE_AHASH_PAIRS),
    "lsh_pair_quality": (q_lsh_pair_quality, SQL_LSH_PAIR_QUALITY),
    "cluster_sample": (q_cluster_sample, SQL_CLUSTER_SAMPLE),
    "incremental_ingest": (q_incremental_ingest, SQL_INCREMENTAL_INGEST),
    "ingest_merge": (q_ingest_merge, SQL_INGEST_MERGE),
    "ivf_topk_nprobe": (q_ivf_topk_nprobe, SQL_IVF_TOPK_NPROBE),
    "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_materialize": (q_dedup_materialize, SQL_DEDUP_MATERIALIZE),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIG),
    "countmin": (q_countmin, SQL_COUNTMIN),
    "dedup_near_materialize": (q_dedup_near_materialize, SQL_DEDUP_NEAR),
    "embedding_near_pairs": (q_embedding_near_pairs, SQL_EMBEDDING_NEAR),
    "lsh_topk_banded": (q_lsh_topk_banded, SQL_LSH_TOPK_BANDED),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH),
    "minhash_lsh_dfcut": (q_minhash_lsh_dfcut, SQL_MINHASH_LSH_DFCUT),
    "repeated_spans": (q_repeated_spans, SQL_REPEATED_SPANS),
    "containment_pairs": (q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near_pairs": (q_simhash_near_pairs, SQL_SIMHASH_NEAR),
    "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
    "corpus_build": (q_corpus_build, SQL_CORPUS_BUILD),
    "repetition_score": (q_repetition_score, SQL_REPETITION),
    "boilerplate_spans": (q_boilerplate_spans, SQL_BOILERPLATE),
    "fluency_score": (q_fluency_score, SQL_FLUENCY),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "ann_lsh_buckets": (q_ann_lsh_buckets, SQL_ANN_LSH),
    "tfidf_terms": (q_tfidf_terms, SQL_TFIDF),
    "fuzzy_semi_join": (q_fuzzy_semi_join, SQL_FUZZY_SEMI_JOIN),
    "pq_encode": (q_pq_encode, SQL_PQ_ENCODE),
    "pq_topk": (q_pq_topk, SQL_PQ_TOPK),
    "jpeg411_decode": (q_jpeg411_decode, SQL_JPEG411_DECODE),
    "jpeg420_decode": (q_jpeg420_decode, SQL_JPEG420_DECODE),
    "jpeg_color_decode": (q_jpeg_color_decode, SQL_JPEG_COLOR_DECODE),
    "jpeg_decode": (q_jpeg_decode, SQL_JPEG_DECODE),
    "jpeg_progressive_decode": (q_jpeg_progressive_decode, SQL_JPEG_PROGRESSIVE_DECODE),
    "multimodal_decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "png_adam7_decode": (q_png_adam7_decode, SQL_PNG_ADAM7_DECODE),
    "png_decode": (q_png_decode, SQL_PNG_DECODE),
    "png_palette_decode": (q_png_palette_decode, SQL_PNG_PALETTE_DECODE),
    "frame_sample": (q_frame_sample, SQL_FRAME_SAMPLE),
    "mulaw_decode": (q_mulaw_decode, SQL_MULAW_DECODE),
    "audio_decode": (q_audio_decode, SQL_AUDIO_DECODE),
    "approx_percentile": (q_approx_percentile, SQL_APPROX_PERCENTILE),
    "base64_funcs": (q_base64_funcs, SQL_BASE64_FUNCS),
    "case_quality_flags": (q_case_quality_flags, SQL_CASE_QUALITY),
    "conversation_rollup": (q_conversation_rollup, SQL_CONV_ROLLUP),
    "cost_sums": (q_cost_sums, SQL_COST_SUMS),
    "count_distinct": (q_count_distinct, SQL_COUNT_DISTINCT),
    "datetime_funcs": (q_datetime_funcs, SQL_DATETIME_FUNCS),
    "dim_chain_join": (q_dim_chain_join, SQL_DIM_CHAIN),
    "except_keys": (q_except_keys, SQL_EXCEPT),
    "explode_words": (q_explode_words, SQL_EXPLODE_WORDS),
    "filter_project": (q_filter_project, SQL_FILTER_PROJECT),
    "first_per_user": (q_first_per_user, SQL_FIRST_PER_USER),
    "format_number": (q_format_number, SQL_FORMAT_NUMBER),
    "groupby_having": (q_groupby_having, SQL_GROUPBY_HAVING),
    "hypertable_rollup": (q_hypertable_rollup, SQL_HYPERTABLE_ROLLUP),
    "intersect_keys": (q_intersect_keys, SQL_INTERSECT),
    "json_funcs": (q_json_funcs, SQL_JSON_FUNCS),
    "lag_gap": (q_lag_gap, SQL_LAG_GAP),
    "min_max_clamp": (q_min_max_clamp, SQL_MIN_MAX_CLAMP),
    "null_guard_coalesce": (q_null_guard_coalesce, SQL_NULL_GUARD),
    "page_split": (q_page_split, SQL_PAGE_SPLIT),
    "percentiles": (q_percentiles, SQL_PERCENTILES),
    "pivot_counts": (q_pivot_counts, SQL_PIVOT),
    "pricing_summary": (q_pricing_summary, SQL_PRICING),
    "progress_fraction": (q_progress_fraction, SQL_PROGRESS_FRACTION),
    "regex_extract": (q_regex_extract, SQL_REGEX_EXTRACT),
    "rollup_agg": (q_rollup_agg, SQL_ROLLUP),
    "running_sum": (q_running_sum, SQL_RUNNING_SUM),
    "session_window": (q_session_window, SQL_SESSION_WINDOW),
    "status_counters": (q_status_counters, SQL_STATUS_COUNTERS),
    "string_funcs": (q_string_funcs, SQL_STRING_FUNCS),
    "top_k": (q_top_k, SQL_TOP_K),
    "turn_order_window": (q_turn_order_window, SQL_TURN_ORDER),
    "union_all": (q_union_all, SQL_UNION_ALL),
    "window_sliding": (q_window_sliding, SQL_WINDOW_SLIDING),
    "window_tumbling": (q_window_tumbling, SQL_WINDOW_TUMBLING),
    "anti_join": (q_anti_join, SQL_ANTI_JOIN),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "cast_normalize": (q_cast_normalize, SQL_CAST_NORMALIZE),
    "csv_source": (q_csv_source, SQL_CSV_SOURCE),
    "golden_verify_join": (q_golden_verify_join, SQL_GOLDEN_VERIFY),
    "jsonl_source": (q_jsonl_source, SQL_JSONL_SOURCE),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "orc_source": (q_orc_source, SQL_ORC_SOURCE),
    "outer_disposition": (q_outer_disposition, SQL_OUTER_DISPOSITION),
    "rolling_range_window": (q_rolling_range_window, SQL_ROLLING_RANGE),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "bucketed_join": (q_bucketed_join, SQL_BUCKETED_JOIN),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "dsir_weights": (q_dsir_weights, SQL_DSIR_WEIGHTS),
    "group_sample_k": (q_group_sample_k, SQL_GROUP_SAMPLE_K),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "ivf_assign": (q_ivf_assign, SQL_IVF_ASSIGN),
    "jsonl_gz_source": (q_jsonl_gz_source, SQL_JSONL_GZ_SOURCE),
    "key_skew_profile": (q_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    "langid": (q_langid, SQL_LANGID),
    "length_buckets": (q_length_buckets, SQL_LENGTH_BUCKETS),
    "lsh_topk": (q_lsh_topk, SQL_LSH_TOPK),
    "merge_upsert": (q_merge_upsert, SQL_MERGE_UPSERT),
    "pack_chunks": (q_pack_chunks, SQL_PACK_CHUNKS),
    "quality_score": (q_quality_score, SQL_QUALITY),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "scd2_history": (q_scd2_history, SQL_SCD2_HISTORY),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "train_test_split": (q_train_test_split, SQL_TRAIN_TEST_SPLIT),
    "approx_distinct": (q_approx_distinct, SQL_APPROX_DISTINCT),
    "salted_two_phase_agg": (q_salted_two_phase_agg, SQL_SALTED_AGG),
    "bigram_lm_score": (q_bigram_lm_score, SQL_BIGRAM_LM),
    "bloom_dedup": (q_bloom_dedup, SQL_BLOOM_DEDUP),
    "langid_ngram": (q_langid_ngram, SQL_LANGID_NGRAM),
    "mix_corpus": (q_mix_corpus, SQL_MIX_CORPUS),
    "quality_percentile_gate": (q_quality_percentile_gate, SQL_QUALITY_GATE),
    "retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
}
