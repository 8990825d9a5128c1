"""Fuzzy key matching: deletion-blocking completeness vs brute force,
deterministic tiebreaks, no cross join in the plan, edge guards."""

from __future__ import annotations

import random

import pytest

from work_order_pdf_extractor_spark.operators import fuzzy


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.fixture(scope="module")
def ref_keys():
    rng = random.Random(11)
    return [
        "".join(rng.choice("abcdef0123") for _ in range(rng.randrange(5, 12)))
        for _ in range(40)
    ]


def test_blocking_is_complete_for_distance_one(spark, ref_keys):
    """Every probe within levenshtein 1 of some reference key (built by a
    random substitution/insertion/deletion) MUST be matched — the
    SymSpell depth-1 guarantee, checked against brute force."""
    rng = random.Random(7)
    probes = []
    for i, k in enumerate(ref_keys):
        pos = rng.randrange(len(k))
        op = i % 3
        if op == 0:  # substitution
            p = k[:pos] + ("z" if k[pos] != "z" else "y") + k[pos + 1 :]
        elif op == 1:  # deletion
            p = k[:pos] + k[pos + 1 :]
        else:  # insertion
            p = k[:pos] + "q" + k[pos:]
        probes.append((i, p))
    probe_df = spark.createDataFrame(probes, "pid long, key string")
    ref_df = spark.createDataFrame([(k,) for k in ref_keys], "rkey string")
    out = {
        r["pid"]: r
        for r in fuzzy.fuzzy_semi_join(
            probe_df, ref_df, "key", "rkey", "pid"
        ).collect()
    }
    for pid, p in probes:
        best = min(_lev(p, k) for k in ref_keys)
        assert best <= 1
        assert pid in out, f"probe {p!r} lost by blocking"
        # the reported match must BE a best match under the tiebreak
        assert out[pid]["dist"] == best
        expect = min(k for k in ref_keys if _lev(p, k) == best)
        assert out[pid]["matched_key"] == expect


def test_unmatched_probes_absent(spark, ref_keys):
    probe_df = spark.createDataFrame(
        [(0, "zzzzzzzzzzzzzz"), (1, ref_keys[0])], "pid long, key string"
    )
    ref_df = spark.createDataFrame([(k,) for k in ref_keys], "rkey string")
    out = {
        r["pid"]: r
        for r in fuzzy.fuzzy_semi_join(
            probe_df, ref_df, "key", "rkey", "pid"
        ).collect()
    }
    assert 0 not in out
    assert out[1]["dist"] == 0


def test_no_cross_join_in_plan(spark, ref_keys):
    probe_df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(ref_keys)], "pid long, key string"
    )
    ref_df = spark.createDataFrame([(k,) for k in ref_keys], "rkey string")
    plan = (
        fuzzy.fuzzy_semi_join(probe_df, ref_df, "key", "rkey", "pid")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_broadcasts_ref_and_single_exchange(spark, ref_keys):
    """The candidate path must be a BroadcastHashJoin on the reference
    variant side with exactly ONE shuffle Exchange in the whole plan
    (the closing per-probe-id window) — no pre-verify distinct, no
    shuffled join of the probe side."""
    probe_df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(ref_keys)], "pid long, key string"
    )
    ref_df = spark.createDataFrame([(k,) for k in ref_keys], "rkey string")
    plan = (
        fuzzy.fuzzy_semi_join(probe_df, ref_df, "key", "rkey", "pid")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # every Exchange that is NOT a broadcast exchange is a shuffle; the
    # PROBE (fact) side is allowed exactly one — hashpartitioning on pid
    # for the window. A shuffle of bare rkeys for the dim-side dedupe is
    # tolerable (it is O(dim), feeds the broadcast) but must be on rkey
    # alone, never on the exploded variants or the candidate set.
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    probe_side = [ln for ln in shuffles if "hashpartitioning(pid" in ln]
    assert len(probe_side) == 1, shuffles
    for ln in shuffles:
        if ln not in probe_side:
            assert "hashpartitioning(rkey" in ln and ", v#" not in ln, ln


def test_depth_guard_and_empty_key(spark):
    probe_df = spark.createDataFrame([(0, ""), (1, "a")], "pid long, key string")
    ref_df = spark.createDataFrame([("a",), ("bb",)], "rkey string")
    out = {
        r["pid"]: r
        for r in fuzzy.fuzzy_semi_join(
            probe_df, ref_df, "key", "rkey", "pid"
        ).collect()
    }
    # "" is distance 1 from "a" (via the deletion variant of "a")
    assert out[0]["matched_key"] == "a" and out[0]["dist"] == 1
    assert out[1]["dist"] == 0


def test_empty_probe_and_empty_ref(spark, ref_keys):
    ref_df = spark.createDataFrame([(k,) for k in ref_keys], "rkey string")
    empty_p = spark.createDataFrame([], "pid long, key string")
    assert fuzzy.fuzzy_semi_join(empty_p, ref_df, "key", "rkey", "pid").count() == 0
    probe_df = spark.createDataFrame([(1, ref_keys[0])], "pid long, key string")
    empty_r = spark.createDataFrame([], "rkey string")
    assert fuzzy.fuzzy_semi_join(probe_df, empty_r, "key", "rkey", "pid").count() == 0


def test_repeated_probe_ids_get_one_row(spark):
    """A probe id that repeats gets exactly ONE row — its best match over
    all of its keys: the same exact hit twice collapses, and an exact
    hit beats a distance-1 match of the same id's other key."""
    probe_df = spark.createDataFrame(
        [(1, "ABC"), (1, "ABC"), (2, "ABC"), (2, "ABD")], "pid long, key string"
    )
    ref_df = spark.createDataFrame([("ABC",), ("ABX",)], "rkey string")
    rows = sorted(
        tuple(r)
        for r in fuzzy.fuzzy_semi_join(
            probe_df, ref_df, "key", "rkey", "pid"
        ).collect()
    )
    assert rows == [(1, "ABC", "ABC", 0), (2, "ABC", "ABC", 0)]
