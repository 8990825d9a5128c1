"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(seed, size)``. Transcripts come from the
library's own fixture generator; the ``documents`` and ``embeddings`` tables
that the registry queries read are generated here in the shape of the
repository's scale-factor tables (30-word vocabulary, 5% near-duplicates
that repeat an earlier document plus one word; 64-d unit vectors with ten
labels), so the benchmark never reads anything outside its checkout.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
         "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
EMB_DIM = 64


def gen_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """``(doc_id, text, lang, source, n_chars)``; every 20th document on
    average is an earlier document's text with `` dup`` appended."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def gen_embeddings(n_vecs: int, seed: int) -> pd.DataFrame:
    """``(vec_id, embedding float[64] unit-norm, label int32)``."""
    rs = np.random.default_rng(seed)
    x = rs.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(x),
            "label": rs.integers(0, 10, n_vecs).astype(np.int32),
        }
    )


def write_table(df: pd.DataFrame, path: str) -> str:
    """Write once (tmp + rename), so a cut run never leaves half a table."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path
