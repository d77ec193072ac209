"""Resumable checkpointed sketch builds with per-partition lineage.

north_rule requires: "resumable from checkpoint with per-partition lineage +
metrics".  Design (Iceberg-shaped, parquet-backed in this sandbox — no
Iceberg runtime jar ships with local pyspark; the writer is isolated behind
this module so an Iceberg catalog can be swapped in via --packages):

- the input is processed as CHUNKS of input files (one Spark job per chunk,
  one extra scan of nothing: each file is read exactly once overall);
- each chunk OVERWRITES its own partition directory
  ``<root>/partials/chunk_id=<id>`` with partial-sketch rows (partition_id,
  n_rows, n_values lineage columns) and then commits a manifest entry
  ``<root>/_manifest/chunk_<id>.json`` via atomic rename — the parquet
  write is only trusted if its manifest entry exists;
- resume = list the manifest, skip committed chunks, re-run the rest.
  A crash after the parquet job commits but before the manifest rename is
  safe: the retry *overwrites* the same chunk directory, so the chunk's
  rows exist exactly once (an append layout would double-count the chunk's
  CMS/KLL/t-digest states and n_rows lineage — HLL survives double-union
  by idempotence, the others don't);
- finalize = read ONLY the committed chunk directories (uncommitted or
  half-written directories are never listed, let alone filtered), salted
  tree-merge (same path as the non-checkpointed build).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_hll_spark.operators.aggregate import merge_sketches, sketch_partials


class SketchCheckpoint:
    def __init__(self, root: str):
        self.root = root
        self.partials_dir = os.path.join(root, "partials")
        self.manifest_dir = os.path.join(root, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    def committed_chunks(self) -> set[int]:
        out = set()
        for name in os.listdir(self.manifest_dir):
            if name.startswith("chunk_") and name.endswith(".json"):
                out.add(int(name[len("chunk_"):-len(".json")]))
        return out

    def _commit(self, chunk_id: int, meta: dict) -> None:
        path = os.path.join(self.manifest_dir, f"chunk_{chunk_id}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, path)  # atomic on posix

    def chunk_metrics(self) -> list[dict]:
        out = []
        for cid in sorted(self.committed_chunks()):
            with open(os.path.join(self.manifest_dir, f"chunk_{cid}.json")) as f:
                out.append(json.load(f))
        return out

    # -- build ---------------------------------------------------------------
    def run(self, spark: SparkSession, paths: list[str], group_cols: list[str],
            value_col: str, spec, n_chunks: int = 8, reader=None,
            fail_after_chunk: int | None = None) -> None:
        """Process ``paths`` in n_chunks file groups, committing each.
        Each chunk's partials are ``sketch_partials`` of ``value_col``.

        ``fail_after_chunk`` simulates a mid-job crash for resume tests."""
        reader = reader or (lambda s, ps: s.read.parquet(*ps))
        chunks = [sorted(paths)[i::n_chunks] for i in range(n_chunks)]
        done = self.committed_chunks()
        for cid, files in enumerate(chunks):
            if cid in done or not files:
                continue
            t0 = time.time()
            df = reader(spark, files)
            partials = sketch_partials(df, group_cols, value_col, spec)
            # idempotent retry: the chunk's directory is replaced wholesale,
            # so a crash between parquet commit and manifest rename cannot
            # leave two copies of the chunk's rows
            chunk_dir = os.path.join(self.partials_dir, f"chunk_id={cid}")
            partials.write.mode("overwrite").parquet(chunk_dir)
            # lineage + metrics recorded at commit time
            stats = (spark.read.parquet(chunk_dir)
                     .agg(F.sum("n_rows").alias("rows"),
                          F.sum("n_values").alias("values"),
                          F.countDistinct("partition_id").alias("partitions"))
                     ).collect()[0]
            self._commit(cid, {
                "chunk_id": cid, "files": files,
                "n_rows": int(stats["rows"] or 0),
                "n_values": int(stats["values"] or 0),
                "n_partitions": int(stats["partitions"] or 0),
                "wall_sec": round(time.time() - t0, 3),
            })
            if fail_after_chunk is not None and cid >= fail_after_chunk:
                raise RuntimeError(f"simulated failure after chunk {cid}")

    def finalize(self, spark: SparkSession, group_cols: list[str], spec) -> DataFrame:
        committed = sorted(self.committed_chunks())
        if not committed:
            raise RuntimeError(f"no committed chunks under {self.root}")
        dirs = [os.path.join(self.partials_dir, f"chunk_id={cid}")
                for cid in committed]
        partials = (spark.read.option("basePath", self.partials_dir)
                    .parquet(*dirs))
        return merge_sketches(partials, group_cols, spec)
