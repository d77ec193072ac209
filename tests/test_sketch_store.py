"""SketchStore: persistent partitioned rollups (the daily-NDV workflow).

Scale contract pinned here: rollups read ONLY state rows (partition-pruned
parquet of a few KB per group), never raw data, and the rolled-up state is
byte-identical to a single-pass build over the concatenated raw data —
HLL union is a lossless monoid, so incremental daily sketching loses
nothing vs re-scanning history (reference semantics: hll.py:491-691).
"""

import os

import pytest
from pyspark.sql import functions as F

from python_hll_spark.operators.ndv import hll_ndv_column
from python_hll_spark.sketches.hll import HLLConfig
from python_hll_spark.sketches.specs import HLLSpec

CFG = HLLConfig.create(11, 5)


@pytest.fixture()
def docs3(spark):
    """Three deterministic 'days' of documents with overlapping users."""
    rows = [(f"d{day}-{i}", f"s{i % 3}", day)
            for day in range(3) for i in range(200 + 50 * day)]
    return spark.createDataFrame(rows, "doc_id string, source string, day int")


def _store(spark, tmp_path, name="store"):
    from python_hll_spark.sources.store import SketchStore
    return SketchStore(spark, str(tmp_path / name), HLLSpec(CFG), ["source"],
                       partition_col="day")


def _states(df):
    return hll_ndv_column(df, "doc_id", by=["source"], cfg=CFG)


def test_rollup_bytes_equal_direct_build(spark, tmp_path, docs3):
    st = _store(spark, tmp_path)
    for day in range(3):
        st.write_partition(_states(docs3.where(F.col("day") == day)), day)
    assert st.partitions() == ["0", "1", "2"]

    rolled = {r["source"]: bytes(r["state"])
              for r in st.rollup().collect()}
    direct = {r["source"]: bytes(r["state"])
              for r in _states(docs3).collect()}
    assert rolled == direct  # union of daily states == one-shot build

    # global rollup (by=[]) merges across groups too
    glob = st.ndv(by=[])
    assert glob.count() == 1 and glob.collect()[0]["ndv"] > 0


def test_partition_pruned_range_query(spark, tmp_path, docs3):
    st = _store(spark, tmp_path)
    for day in range(3):
        st.write_partition(_states(docs3.where(F.col("day") == day)), day)

    # range rollup over days [0, 1] == direct build over those days
    rolled = {r["source"]: bytes(r["state"])
              for r in st.rollup(partitions=[0, 1]).collect()}
    direct = {r["source"]: bytes(r["state"])
              for r in _states(docs3.where(F.col("day") < 2)).collect()}
    assert rolled == direct

    # the pruning is real: the scan's partition filters name the column
    plan = st.read(partitions=[0, 1])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan


def test_write_partition_idempotent(spark, tmp_path, docs3):
    st = _store(spark, tmp_path)
    day0 = _states(docs3.where(F.col("day") == 0))
    st.write_partition(day0, 0)
    before = {r["source"]: bytes(r["state"]) for r in st.read().collect()}
    st.write_partition(day0, 0)  # at-least-once replay of the same job
    after = {r["source"]: bytes(r["state"]) for r in st.read().collect()}
    assert before == after


def test_merge_into_partition_accumulates(spark, tmp_path, docs3):
    st = _store(spark, tmp_path)
    d0 = docs3.where(F.col("day") == 0)
    first = d0.where(F.col("doc_id") < "d0-5")
    late = d0.subtract(first)
    st.merge_into_partition(_states(first), 0)
    st.merge_into_partition(_states(late), 0)
    merged = {r["source"]: bytes(r["state"]) for r in st.read().collect()}
    direct = {r["source"]: bytes(r["state"]) for r in _states(d0).collect()}
    assert merged == direct


def test_crashed_write_leaves_no_partition(spark, tmp_path, docs3):
    st = _store(spark, tmp_path)
    st.write_partition(_states(docs3.where(F.col("day") == 0)), 0)
    # simulate a crash mid-write: staging dir exists, never renamed
    staging = os.path.join(st.path, ".staging-day=1")
    os.makedirs(staging)
    with open(os.path.join(staging, "garbage"), "w") as f:
        f.write("partial")
    assert st.partitions() == ["0"]  # staging invisible
    # retry commits cleanly over the leftover staging dir
    st.write_partition(_states(docs3.where(F.col("day") == 1)), 1)
    assert st.partitions() == ["0", "1"]
    assert st.ndv(partitions=[1]).count() == 3


def test_rollup_plan_shape(spark, tmp_path, docs3):
    """100 TB contract: a rollup's scan reads ONLY the state-row columns it
    needs (column-pruned parquet), and the only exchange in the plan moves
    those tiny state rows into the merge — never raw data."""
    st = _store(spark, tmp_path)
    for day in range(3):
        st.write_partition(_states(docs3.where(F.col("day") == day)), day)
    plan = st.rollup()._jdf.queryExecution().executedPlan().toString()
    # scan is pruned to the merge inputs (no ndv column read back)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "state" in read_schema and "ndv" not in read_schema
    # exactly one exchange: the state-row groupBy feeding the merge
    assert plan.count("Exchange") == 1


def test_store_is_spec_generic_cms(spark, tmp_path, docs3):
    """The store's rollup is the spec's monoid — a CMS store rolls up to
    byte-identical counts vs a one-shot build (sum merge is exact)."""
    from pyspark.sql import functions as F

    from python_hll_spark.operators.aggregate import (merge_sketches,
                                                      sketch_partials)
    from python_hll_spark.sketches.cms import CMSConfig
    from python_hll_spark.sketches.specs import CMSSpec
    from python_hll_spark.sources.store import SketchStore

    spec = CMSSpec(CMSConfig(depth=4, width=2048))
    hashed = docs3.select("source", "day", F.xxhash64("doc_id").alias("h"))

    def states_of(df):
        return merge_sketches(sketch_partials(df, ["source"], "h", spec),
                              ["source"], spec)

    st = SketchStore(spark, str(tmp_path / "cms_store"), spec, ["source"],
                     partition_col="day")
    for day in range(3):
        states = states_of(hashed.where(F.col("day") == day))
        st.write_partition(states, day)
    rolled = {r["source"]: bytes(r["state"]) for r in st.rollup().collect()}
    direct = {r["source"]: bytes(r["state"]) for r in
              states_of(hashed).collect()}
    assert rolled == direct


def test_fan_out_noop_on_well_partitioned_input(spark):
    """fan_out_small_input adds NO shuffle when partitions >= cores."""
    from python_hll_spark.operators.dedup import fan_out_small_input

    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, cores + 2).select(
        F.col("id").cast("string").alias("text"))
    out = fan_out_small_input(df)
    assert out is df  # untouched frame, not even a new plan node


def test_rollup_rejects_unknown_column(spark, tmp_path, docs3):
    st = _store(spark, tmp_path)
    st.write_partition(_states(docs3.where(F.col("day") == 0)), 0)
    with pytest.raises(ValueError, match="not in store group"):
        st.rollup(by=["nope"])
