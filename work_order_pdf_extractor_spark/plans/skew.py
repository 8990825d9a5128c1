"""Salted-key skew mitigation for long conversations (north_star).

A conversation with 10^6 turns would land on one task if we naively
``repartition("conv_id")``. AQE's skew handling covers JOIN skew but not
repartition/groupBy skew, so salting is plain column logic (SURVEY §4):

- conversations at or above ``DEFAULT_WHALE_THRESHOLD`` turns get a salt
  of ``pmod(hash(conv_id, turn_idx), DEFAULT_N_SALTS)`` — their rows
  spread over ``DEFAULT_N_SALTS`` partitions;
- everyone else salts to 0, keeping conversation locality.

The salt is only a PHYSICAL distribution key. Logical ordering is
re-established by :func:`with_turn_order`'s window, so the north rule's
"stable turn ordering" survives the spread (sort after merge, SURVEY §7
risk 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# read at call time, so a test can monkeypatch them
DEFAULT_WHALE_THRESHOLD = 1000
DEFAULT_N_SALTS = 16
# None: spark.sql.shuffle.partitions, which AQE may coalesce
N_PARTITIONS: int | None = None


def conversation_lengths(df: DataFrame) -> DataFrame:
    """conv_id → n_turns (one shuffle on conv_id; map-side partial counts)."""
    return df.groupBy("conv_id").agg(F.count("*").alias("n_turns"))


def repartition_salted(
    df: DataFrame,
    lengths_source: DataFrame | None = None,
    whales: DataFrame | None = None,
) -> DataFrame:
    """Distribute by (conv_id, salt) with whales spread across salts.

    The whale set is computed with one lightweight aggregation and
    broadcast back (it is tiny by definition — only conversations above the
    threshold). At 100 TB this is a count per key, a map-side-combined
    shuffle of ~n_convs rows, not a data shuffle.

    ``lengths_source``: where to count conversation lengths. Pass the RAW
    input table here when ``df`` is the output of an expensive operator —
    counting on ``df`` itself would re-execute that operator for the census
    (Spark re-evaluates uncached lineage per action), whereas counting on
    the input reads a single pruned column from parquet.

    ``whales``: a precomputed whale set (one ``conv_id`` column). The census
    is a property of the DATA, not of a run — production deployments keep it
    as table metadata (an Iceberg key histogram) and amortize it across
    jobs; pass it here to keep the census job out of the per-run path.
    """
    if whales is None:
        whales = (
            conversation_lengths(
                (lengths_source if lengths_source is not None else df).select("conv_id")
            )
            .filter(F.col("n_turns") >= DEFAULT_WHALE_THRESHOLD)
            .select("conv_id")
        )
    whales = whales.select("conv_id").withColumn("is_whale", F.lit(True))
    salted = df.join(F.broadcast(whales), "conv_id", "left").withColumn(
        "salt",
        F.when(
            F.col("is_whale").isNotNull(),
            F.pmod(F.hash("conv_id", "turn_idx"), F.lit(DEFAULT_N_SALTS)),
        ).otherwise(F.lit(0)),
    ).drop("is_whale")
    if N_PARTITIONS:
        salted = salted.repartition(N_PARTITIONS, "conv_id", "salt")
    else:
        salted = salted.repartition("conv_id", "salt")
    return salted.drop("salt")


def with_turn_order(df: DataFrame) -> DataFrame:
    """Stable turn ordering guarantee (north rule; SURVEY §2.5 W2):
    ``row_number`` over ``(conv_id, turn_idx)`` — deterministic because
    ``(conv_id, turn_idx)`` is a key of the table."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_order", F.row_number().over(w))
