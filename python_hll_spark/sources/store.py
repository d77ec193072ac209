"""Persistent partitioned sketch store: the daily-rollup workflow.

At 100 TB/day you sketch each increment ONCE, persist the per-group states
(a few KB per group), and answer any-range NDV / frequency / quantile
queries by unioning state rows — never re-reading raw data.  A year of
100 TB days collapses to ``days x groups x state_size`` bytes of parquet.

Layout: ``<path>/<partition_col>=<value>/*.parquet`` with columns
``(group_cols..., state binary, n_rows, n_values, n_partials)``.  Writes
go to a staging directory and are committed with an atomic local-FS
rename (same recipe as sources/state.py); on an object store you would
swap this commit for an Iceberg/Delta transactional write — see
sources/tables.py for the documented swap point.

The reference library has no persistence layer at all (its sketches live
and die in one process, reference hll.py); the store is the distributed
capability its storage spec (STORAGE.markdown interchange bytes) exists
to enable.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_STATE_COLS = ["state", "n_rows", "n_values", "n_partials"]


class SketchStore:
    """Partitioned store of pre-aggregated sketch states.

    ``spec`` is any SketchSpec (HLL, CMS, KLL, t-digest, Bloom) — rollups
    use its merge monoid, so everything the engine can build it can also
    store and roll up incrementally.
    """

    def __init__(self, spark: SparkSession, path: str, spec,
                 group_cols: list[str], partition_col: str = "part"):
        if partition_col in group_cols:
            raise ValueError("partition_col must not be a group column")
        self.spark = spark
        self.path = path
        self.spec = spec
        self.group_cols = list(group_cols)
        self.partition_col = partition_col

    # ------------------------------------------------------------- paths
    def _part_dir(self, value) -> str:
        return os.path.join(self.path, f"{self.partition_col}={value}")

    def partitions(self) -> list[str]:
        """Committed partition values (staging dirs are never listed)."""
        if not os.path.isdir(self.path):
            return []
        prefix = self.partition_col + "="
        return sorted(d[len(prefix):] for d in os.listdir(self.path)
                      if d.startswith(prefix))

    def _prep(self, states: DataFrame) -> DataFrame:
        cols = [*self.group_cols, "state", "n_rows", "n_values"]
        missing = [c for c in cols if c not in states.columns]
        if missing:
            raise ValueError(f"states frame missing columns {missing}")
        n_partials = (F.col("n_partials") if "n_partials" in states.columns
                      else F.lit(1).cast("bigint"))
        return states.select(*cols, n_partials.alias("n_partials"))

    def _commit(self, df: DataFrame, value) -> None:
        """Write to staging, then atomically swap into place — a crashed
        write leaves only a staging dir that the next attempt overwrites,
        so re-running a failed increment is idempotent."""
        part_dir = self._part_dir(value)
        staging = os.path.join(self.path,
                               f".staging-{self.partition_col}={value}")
        df.write.mode("overwrite").parquet(staging)
        if os.path.isdir(part_dir):
            shutil.rmtree(part_dir)
        os.rename(staging, part_dir)

    # ------------------------------------------------------------ writes
    def write_partition(self, states: DataFrame, value) -> None:
        """Replace one partition with pre-aggregated states (idempotent)."""
        self._commit(self._prep(states), value)

    def merge_into_partition(self, new_states: DataFrame, value) -> None:
        """Merge additional states into an existing partition (late data /
        intra-day increments).  Union is the spec's monoid, so replaying
        the SAME increment is NOT idempotent — use write_partition for
        at-least-once replays, or dedupe increments upstream."""
        from python_hll_spark.operators.aggregate import merge_sketches

        new_states = self._prep(new_states)
        part_dir = self._part_dir(value)
        if os.path.isdir(part_dir):
            existing = self.spark.read.parquet(part_dir)
            combined = existing.unionByName(new_states)
            merged = merge_sketches(combined, self.group_cols, self.spec,
                                    two_level=False)
        else:
            merged = merge_sketches(new_states, self.group_cols, self.spec,
                                    two_level=False)
        self._commit(merged, value)

    # ------------------------------------------------------------- reads
    def read(self, partitions: list | None = None) -> DataFrame:
        """State rows, partition-pruned when ``partitions`` is given (the
        filter is on the directory-derived partition column, so the scan
        never opens excluded partitions' files)."""
        df = self.spark.read.parquet(self.path)
        if partitions is not None:
            df = df.where(F.col(self.partition_col)
                          .isin([str(p) for p in partitions]))
        return df

    def rollup(self, partitions: list | None = None,
               by: list[str] | None = None) -> DataFrame:
        """Union states across partitions down to one row per ``by`` group
        (default: the store's group columns; ``[]`` for a global state).
        Shuffles only state rows — partitions x groups of them."""
        from python_hll_spark.operators.aggregate import merge_sketches

        by = self.group_cols if by is None else list(by)
        bad = [c for c in by if c not in self.group_cols]
        if bad:
            raise ValueError(f"rollup columns {bad} not in store group "
                             f"columns {self.group_cols}")
        states = self.read(partitions).select(*by, *_STATE_COLS)
        return merge_sketches(states, by, self.spec, two_level=False)

    def ndv(self, partitions: list | None = None,
            by: list[str] | None = None) -> DataFrame:
        """HLL convenience: rollup + cardinality column."""
        from python_hll_spark.functions.sketch_funcs import hll_cardinality
        from python_hll_spark.sketches.specs import HLLSpec

        if not isinstance(self.spec, HLLSpec):
            raise TypeError("ndv() requires an HLLSpec store; use rollup() "
                            "and your spec's estimator for other sketches")
        return self.rollup(partitions, by).withColumn(
            "ndv", hll_cardinality(F.col("state")))
