"""Token-membership queries via distributed Bloom filters."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.sketches.bloom import BloomConfig
from python_hll_spark.sketches.specs import BloomSpec


def _hash_keys(keys: np.ndarray) -> np.ndarray:
    return splitmix64(keys.astype(np.int64, copy=False))


def bloom_build(df: DataFrame, key_col: str, by: list[str] | None = None,
                cfg: BloomConfig | None = None) -> DataFrame:
    """Build per-group Bloom states over an integral key column
    (Arrow-native stage 1, any group-key arity).

    Returns (by..., state binary, n_values bigint)."""
    from python_hll_spark.operators.aggregate import (
        SplitmixSpec, merge_sketches, scalar_partials_arrow)

    spec = BloomSpec(cfg or BloomConfig())
    by = by or []
    pruned = df.select(*by, F.col(key_col).cast("long").alias("__key"))
    partials = scalar_partials_arrow(pruned, by, "__key", SplitmixSpec(spec))
    return merge_sketches(partials, by, spec)


def bloom_probe(states: DataFrame, probes: DataFrame, key_col: str,
                by: list[str] | None = None) -> DataFrame:
    """Probe keys against per-group Bloom states.

    The states (MiB-sized blobs, one per group) are shipped ONCE per
    executor via ``sc.broadcast`` — never as a join column, which would
    duplicate the blob onto every probe row crossing Arrow.

    Returns probes columns + ``might_contain`` boolean."""
    by = by or []
    state_map = {tuple(r[c] for c in by): bytes(r["state"])
                 for r in states.select(*by, "state").collect()}
    sc = probes.sparkSession.sparkContext
    bc = sc.broadcast(state_map)

    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in probes.schema.fields]
        + ["might_contain boolean"])

    def probe_fn(batches):
        from python_hll_spark.sketches.bloom import BloomSketch
        sketches = {k: BloomSketch.from_bytes(v) for k, v in bc.value.items()}
        for pdf in batches:
            flags = np.zeros(len(pdf), dtype=bool)
            if by:
                groups = pdf.groupby(by, sort=False).indices.items()
            else:
                groups = [((), np.arange(len(pdf)))]
            for gkey, idx in groups:
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                sk = sketches.get(gkey)
                if sk is not None:
                    keys = pdf[key_col].to_numpy(dtype=np.int64)[idx]
                    flags[idx] = sk.might_contain(_hash_keys(keys))
            out = pdf.copy()
            out["might_contain"] = flags
            yield out

    return probes.mapInPandas(probe_fn, schema=out_schema)
