"""Single-pass multi-sketch profile: each co-built sketch must match its
individually-built counterpart byte-for-byte."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.operators.profile import profile_summary, token_profile
from python_hll_spark.sketches.hll import HLLConfig, HLLSketch
from python_hll_spark.sketches.multi import sketch_from_bytes
from python_hll_spark.sources.seqs import seqs_table


@pytest.fixture(scope="module")
def seqs(spark):
    return seqs_table(spark, 300, partitions=8)


def test_profile_hll_matches_standalone(spark, seqs):
    prof = token_profile(seqs, by="source").cache()
    rows = {(r["source"], r["sketch"]): bytes(r["state"]) for r in prof.collect()}

    pdf = seqs.toPandas()
    for src, sub in pdf.groupby("source"):
        flat = np.concatenate([np.asarray(t, dtype=np.int64) for t in sub["tokens"]])
        seq_hll = HLLSketch(HLLConfig.create(11, 5))
        seq_hll.add_hashed(splitmix64(flat))
        assert rows[(src, "hll_tokens")] == seq_hll.to_bytes(), src

    # every sketch kind present per source, deserializable, counts correct
    kinds = {"hll_tokens", "cms_tokens", "bloom_tokens", "kll_n_tok"}
    sources = set(pdf["source"])
    assert {k[0] for k in rows} == sources
    for src in sources:
        got = {k[1] for k in rows if k[0] == src}
        assert got == kinds, (src, got)
        for kind in kinds:
            sk = sketch_from_bytes(rows[(src, kind)])
            assert sk is not None


def test_profile_kll_tracks_n_tok(spark, seqs):
    prof = token_profile(seqs, by="source")
    summary = {r["source"]: r for r in profile_summary(prof).collect()}
    pdf = seqs.select("source", "n_tok").toPandas()
    for src, sub in pdf.groupby("source"):
        exact_p50 = np.quantile(sub["n_tok"], 0.5)
        got = summary[src]["n_tok_p50"]
        n = len(sub)
        assert summary[src]["n_docs"] == n
        # rank-error bound check
        rank = (sub["n_tok"] <= got).mean()
        assert abs(rank - 0.5) < 0.06, (src, got, exact_p50, rank)


def test_profile_cms_counts(spark, seqs):
    prof = token_profile(seqs, by="source")
    rows = {(r["source"], r["sketch"]): bytes(r["state"]) for r in prof.collect()}
    pdf = seqs.toPandas()
    for src, sub in pdf.groupby("source"):
        flat = np.concatenate([np.asarray(t, dtype=np.int64) for t in sub["tokens"]])
        cms = sketch_from_bytes(rows[(src, "cms_tokens")])
        assert cms.total == len(flat)
        uniq, cnt = np.unique(flat, return_counts=True)
        top = uniq[np.argsort(-cnt)[:5]]
        est = cms.estimate(splitmix64(top.astype(np.int64)))
        exact = np.sort(cnt)[::-1][:5]
        assert (est >= exact).all()
        assert (est - exact <= cms.cfg.eps * len(flat) + 1).all()
