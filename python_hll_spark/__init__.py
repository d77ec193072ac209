"""python_hll_spark — a PySpark-native distributed sketch/approximate-aggregation library.

A brand-new engine (NOT a port) with the query capabilities of
AdRoll/python-hll (reference at /root/reference), re-expressed Spark-first:

- ``sketches``  — pure-numpy mergeable sketch kernels (HLL storage-spec v1
  compatible, count-min, KLL, t-digest, Bloom).  No Spark dependency; all
  batch updates are vectorized (no per-element Python in the hot path).
- ``operators`` — distributed aggregation: ``mapInArrow`` partial builds,
  salted two-level tree merges, dedup, similarity search, top-k.
- ``functions`` — vectorized hashing, text analysis, scalar pandas UDFs.
- ``sources``   — deterministic synthetic token-sequence tables
  (input_hint schema), parquet/Iceberg-style readers, checkpoint state.
- ``plans``     — job drivers / SparkSession builders for spark-submit.
- ``streaming`` — Structured Streaming sketch builds.
"""

__version__ = "0.1.0"

from python_hll_spark.sketches.hll import HLLConfig, HLLSketch, HLLType  # noqa: F401
