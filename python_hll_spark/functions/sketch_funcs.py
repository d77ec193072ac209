"""Pandas UDFs for reading and merging sketch states in DataFrame columns —
and a one-call SQL registration so ``spark.sql()`` users get the full
sketch algebra: ``SELECT source, hll_card(hll_union_agg(state)) FROM
daily_states GROUP BY source``.

Scope note for the merge aggregates: grouped-agg pandas UDFs shuffle their
input rows without map-side partial aggregation, so they are the right tool
for rolling up PRE-AGGREGATED state rows (days x groups of KB-sized blobs —
the SketchStore shape), not for sketching raw data; raw-data builds go
through the Arrow partial builders in operators/aggregate.py.  Every merge
here folds blobs with ``operators.aggregate.merge_states``, the same loop
``merge_sketches`` runs after its JVM ``collect_list`` (which, unlike
these UDFs, does aggregate map-side)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, LongType


@F.pandas_udf(LongType())
def hll_cardinality(states: pd.Series) -> pd.Series:
    from python_hll_spark.sketches.hll import HLLSketch

    return states.map(lambda b: HLLSketch.from_bytes(bytes(b)).cardinality())


@F.pandas_udf(DoubleType())
def hll_cardinality_float(states: pd.Series) -> pd.Series:
    from python_hll_spark.sketches.hll import HLLSketch

    return states.map(lambda b: HLLSketch.from_bytes(bytes(b)).cardinality_float())


def _merge_agg_udf(spec_loader):
    """Grouped-agg pandas UDF merging serialized states with a spec's monoid."""

    @F.pandas_udf(BinaryType())
    def merge_agg(states: pd.Series) -> bytes:
        from python_hll_spark.operators.aggregate import merge_states
        return merge_states(spec_loader(), states)

    return merge_agg


def _hll_spec():
    from python_hll_spark.sketches.specs import HLLSpec
    return HLLSpec()  # config is read from each blob's own header


def _cms_spec():
    from python_hll_spark.sketches.specs import CMSSpec
    return CMSSpec()


def _bloom_spec():
    from python_hll_spark.sketches.specs import BloomSpec
    return BloomSpec()


def _kll_spec():
    from python_hll_spark.sketches.specs import KLLSpec
    return KLLSpec()


def _tdigest_spec():
    from python_hll_spark.sketches.specs import TDigestSpec
    return TDigestSpec()


hll_union_agg = _merge_agg_udf(_hll_spec)
cms_merge_agg = _merge_agg_udf(_cms_spec)
bloom_merge_agg = _merge_agg_udf(_bloom_spec)
kll_merge_agg = _merge_agg_udf(_kll_spec)
tdigest_merge_agg = _merge_agg_udf(_tdigest_spec)


@F.pandas_udf(DoubleType())
def hll_intersection_udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    """Inclusion-exclusion intersection estimate |A|+|B|-|A∪B| of two
    serialized HLL states, vectorized over rows — the caller-side
    composition the reference documents (it ships no intersection
    operator).  Error compounds across the three estimates; callers bound
    it with ~3 sigma per term."""
    from python_hll_spark.sketches.hll import HLLSketch, intersection_estimate

    return pd.Series([
        float(intersection_estimate(HLLSketch.from_bytes(bytes(a)),
                                    HLLSketch.from_bytes(bytes(b))))
        for a, b in zip(sa, sb)])


@F.pandas_udf(BinaryType())
def hll_union_pair_udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    """Two-state HLL union as a scalar column — the pair-row variant of the
    grouped ``hll_union_agg`` for matrix-shaped state frames."""
    from python_hll_spark.operators.aggregate import merge_states
    from python_hll_spark.sketches.specs import HLLSpec

    spec = HLLSpec()
    return pd.Series([merge_states(spec, pair) for pair in zip(sa, sb)])


@F.pandas_udf(DoubleType())
def kll_quantile_udf(states: pd.Series, qs: pd.Series) -> pd.Series:
    from python_hll_spark.sketches.kll import KLLSketch

    return pd.Series([
        float(KLLSketch.from_bytes(bytes(b)).quantile(float(q)))
        for b, q in zip(states, qs)])


@F.pandas_udf(DoubleType())
def tdigest_quantile_udf(states: pd.Series, qs: pd.Series) -> pd.Series:
    from python_hll_spark.sketches.tdigest import TDigestSketch

    return pd.Series([
        float(TDigestSketch.from_bytes(bytes(b)).quantile(float(q)))
        for b, q in zip(states, qs)])


SQL_FUNCTIONS = {
    "hll_card": hll_cardinality,
    "hll_card_float": hll_cardinality_float,
    "hll_union_agg": hll_union_agg,
    "cms_merge_agg": cms_merge_agg,
    "bloom_merge_agg": bloom_merge_agg,
    "kll_merge_agg": kll_merge_agg,
    "tdigest_merge_agg": tdigest_merge_agg,
    "kll_quantile": kll_quantile_udf,
    "tdigest_quantile": tdigest_quantile_udf,
    "hll_intersection": hll_intersection_udf,
}


def register_sql_functions(spark) -> list[str]:
    """Register the sketch algebra for ``spark.sql()`` callers.  Returns the
    registered names."""
    for name, udf in SQL_FUNCTIONS.items():
        spark.udf.register(name, udf)
    return sorted(SQL_FUNCTIONS)
