"""Deterministic synthetic pre-tokenized training-sequence table.

Schema per BASELINE.json input_hint:
    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Generation is seeded PER DOC (rng = default_rng(SEED + doc_index)) so it is
order-independent, partition-independent and resume-safe: any subset of docs
regenerates byte-identically, which is the per-row token-array invariant the
pipeline tests check (FIXTURES.md §B).  Generated distributed via
``spark.range(N).mapInPandas`` — no driver-side materialization, scales to
any N by adding partitions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

SEED = 42
VOCAB = 1 << 17
ZIPF_S = 1.2
SOURCES = np.array(["web", "books", "code", "wiki", "chat"])
SOURCE_WEIGHTS = np.array([0.55, 0.20, 0.15, 0.07, 0.03])
MAX_LEN = 2048

SEQS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_token_cdf = None


def _get_token_cdf() -> np.ndarray:
    global _token_cdf
    if _token_cdf is None:
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        w = ranks ** (-ZIPF_S)
        _token_cdf = np.cumsum(w / w.sum())
        _token_cdf[-1] = 1.0
    return _token_cdf


def generate_docs(indices: np.ndarray):
    """Generate rows for the given doc indices (vectorized per doc batch).

    Returns (doc_ids, tokens_list, n_toks, sources).
    """
    cdf = _get_token_cdf()
    source_cdf = np.cumsum(SOURCE_WEIGHTS)
    doc_ids, tokens_list, n_toks, sources = [], [], [], []
    for i in indices:
        rng = np.random.default_rng(SEED + int(i))
        length = int(np.clip(rng.lognormal(mean=np.log(200.0), sigma=0.6), 1, MAX_LEN))
        toks = np.searchsorted(cdf, rng.random(length)).astype(np.int32)
        src = SOURCES[int(np.searchsorted(source_cdf, rng.random()))]
        doc_ids.append(f"doc-{int(i):012d}")
        tokens_list.append(toks)
        n_toks.append(length)
        sources.append(src)
    return doc_ids, tokens_list, np.array(n_toks, dtype=np.int32), sources


def seqs_table(spark: SparkSession, n_docs: int, partitions: int = 32) -> DataFrame:
    """Distributed deterministic seqs table of n_docs rows."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            idx = pdf["id"].to_numpy()
            doc_ids, tokens, n_toks, sources = generate_docs(idx)
            yield pd.DataFrame({
                "doc_id": doc_ids,
                "tokens": tokens,
                "n_tok": n_toks,
                "source": sources,
            })

    base = spark.range(0, n_docs, numPartitions=partitions)
    return base.mapInPandas(gen, schema=SEQS_SCHEMA)
