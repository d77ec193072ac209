"""merge_sketches equals a driver-side fold of the same blobs, byte for byte.

The distributed merge gathers each group's states with a JVM
``collect_list`` and folds them in a ``mapInArrow`` pass.  Whatever the
gather order, the salt level or the input partitioning, every group's
state must be the bytes ``merge_states`` gives for the same blobs on the
driver, and the counters must be exact sums.  Groups include NULL parts
of a composite key.
"""

import numpy as np
import pytest

from python_hll_spark.operators.aggregate import merge_sketches, merge_states
from python_hll_spark.sketches.bloom import BloomConfig
from python_hll_spark.sketches.cms import CMSConfig
from python_hll_spark.sketches.hll import HLLConfig
from python_hll_spark.sketches.specs import BloomSpec, CMSSpec, HLLSpec

SPECS = {
    "hll": HLLSpec(HLLConfig.create(11, 5)),
    "cms": CMSSpec(CMSConfig(depth=3, width=1024)),
    "bloom": BloomSpec(BloomConfig(log2_bits=14)),
}
# composite keys with NULL in either part; sizes span the HLL
# EXPLICIT / SPARSE / FULL representations
GROUPS = [("a", 1), ("a", None), (None, 1), (None, None), ("b", 2)]
SIZES = [3, 40, 300, 2500]
SCHEMA = ("g1 string, g2 int, salt int, state binary, n_rows bigint, "
          "n_values bigint")


def _partials(spec, with_n_partials: bool):
    """Rows of (g1, g2, salt, state, n_rows, n_values[, n_partials]), 4-7
    blobs per group, plus the expected fold and sums per group."""
    rng = np.random.default_rng(7)
    rows, expected = [], {}
    for key in GROUPS:
        blobs, n_rows, n_values, n_partials = [], 0, 0, 0
        for i in range(int(rng.integers(4, 8))):
            st = spec.new()
            values = rng.integers(-2**63, 2**63 - 1,
                                  size=int(rng.choice(SIZES)), dtype=np.int64)
            spec.update(st, values)
            blob = spec.serialize(st)
            nr, npart = int(rng.integers(1, 10**6)), int(rng.integers(1, 9))
            row = (*key, i % 3, blob, nr, len(values))
            rows.append(row + (npart,) if with_n_partials else row)
            blobs.append(blob)
            n_rows += nr
            n_values += len(values)
            n_partials += npart if with_n_partials else 1
        expected[key] = (merge_states(spec, blobs), n_rows, n_values,
                         n_partials)
    return rows, expected


@pytest.mark.parametrize("with_n_partials", [False, True],
                         ids=["count_rows", "sum_n_partials"])
@pytest.mark.parametrize("name", sorted(SPECS))
def test_merge_sketches_equals_driver_fold(spark, name, with_n_partials):
    spec = SPECS[name]
    rows, expected = _partials(spec, with_n_partials)
    schema = SCHEMA + (", n_partials bigint" if with_n_partials else "")
    forward = spark.createDataFrame(rows, schema).repartition(2)
    reversed_ = spark.createDataFrame(rows[::-1], schema).repartition(5)

    for label, df, two_level in [("salted", forward, True),
                                 ("single", forward, False),
                                 ("reversed-salted", reversed_, True),
                                 ("reversed-single", reversed_, False)]:
        merged = merge_sketches(df, ["g1", "g2"], spec, two_level=two_level)
        assert merged.columns == ["g1", "g2", "state", "n_rows", "n_values",
                                  "n_partials"], label
        got = {(r["g1"], r["g2"]): (bytes(r["state"]), r["n_rows"],
                                    r["n_values"], r["n_partials"])
               for r in merged.collect()}
        assert got == expected, label


def test_merge_states_folds_in_any_order():
    spec = SPECS["hll"]
    rows, _ = _partials(spec, False)
    blobs = [r[3] for r in rows]
    assert merge_states(spec, blobs) == merge_states(spec, blobs[::-1])
    # the empty fold is the empty state
    assert merge_states(spec, []) == spec.serialize(spec.new())
