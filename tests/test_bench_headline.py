"""bench.py's HEADLINE list must stay a subset of the query registry —
a typo'd name would silently crash the driver's per-round bench — and the
multiprocessing ceilings of ``--scaling`` must do the engine's own work,
or the attainment ratio measures a different job."""

from __future__ import annotations

import importlib.util
import os
import random

from work_order_pdf_extractor_spark.core import extractor
from work_order_pdf_extractor_spark.operators import dedup

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_headline_is_subset_of_registry():
    from work_order_pdf_extractor_spark.queries import REGISTRY

    missing = [q for q in _bench().HEADLINE if q not in REGISTRY]
    assert missing == [], missing


def test_dedup_ceiling_buckets_equal_engine(spark):
    """On 20 sf-style docs (a near-duplicate, a double space, one doc of
    fewer than 3 words), every replica's ``(band, bucket, doc_id)`` rows
    from the ceiling equal ``band_buckets(minhash_signatures(...))``."""
    bench = _bench()
    rng = random.Random(5)
    vocab = "key agg row scan slow fast table value part hash merge batch spark".split()
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(6, 40))) for _ in range(17)]
    texts += [texts[0] + " tail", "a  spaced  doc here", "two words"]
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for r in (0, 3):
        engine = dedup.band_buckets(dedup.minhash_signatures(bench._dedup_replica(docs, r)))
        want = {(x.band, x.bucket, x.doc_id) for x in engine.collect()}
        got = bench._mp_dedup_work((r, rows))
        assert len(got) == len(set(got)) and set(got) == want
        assert {d for *_, d in got} == {i + r * 1_000_000 for i in range(19)}


def test_extract_ceiling_runs_engine_core(tmp_path, monkeypatch, tiny_transcripts_pd):
    """The extraction ceiling calls ``core.extractor.extract_turn`` once
    per turn, on the turn's text and tool."""
    turns = tiny_transcripts_pd.head(60)
    path = str(tmp_path / "turns.parquet")
    turns.to_parquet(path)
    calls = []
    real = extractor.extract_turn
    monkeypatch.setattr(
        extractor, "extract_turn", lambda text, tool: calls.append((text, tool)) or real(text, tool)
    )
    assert _bench()._mp_work(path) == 60
    assert calls == list(zip(turns.text, turns.tool))
