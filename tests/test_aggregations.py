"""Per-operator aggregation goldens, sync — mirrors the reference's 17
per-aggregation tests (pippin_test.go:1763-2300) on the F2/F3/F5 fixture
values (FIXTURES.md)."""

import math
import operator

import pytest
from pyspark.sql import functions as F, types as T

from pippin_spark import Pipeline, PipelineConfig

VALS = [1, 2, -3, 4, 5]          # F2
DUPES = [1, 2, -3, 4, 5, 1, 1, 1, 5, -3]  # F3


def test_sum(spark):
    assert Pipeline.from_slice(spark, VALS).sum() == 9  # pippin_test.go:2067-2074


def test_avg(spark):
    assert Pipeline.from_slice(spark, VALS).avg() == pytest.approx(1.8)


def test_max_min(spark):
    s = Pipeline.from_slice(spark, VALS)
    assert s.max() == 5
    assert Pipeline.from_slice(spark, VALS).min() == -3


def test_count(spark):
    assert Pipeline.from_slice(spark, VALS).count() == 5


def test_sort(spark):
    assert Pipeline.from_slice(spark, VALS).sort() == [-3, 1, 2, 4, 5]
    assert Pipeline.from_slice(spark, VALS).sort_desc() == [5, 4, 2, 1, -3]


def test_group_by(spark):
    g = Pipeline.from_slice(spark, VALS).group_by(
        lambda x: F.when(x % 2 == 0, "even").otherwise("odd")
    ).to_dict()
    assert {k: sorted(v) for k, v in g.items()} == {
        "even": [2, 4],
        "odd": [-3, 1, 5],
    }  # pippin_test.go:2010-2013


def test_group_by_python_key_fn(spark):
    # a key fn that is not a Column expression runs as a (single-
    # evaluation, nondeterministic) row UDF; grouping must not change
    parity = lambda x: "even" if x % 2 == 0 else "odd"
    want = {"even": [2, 4], "odd": [-3, 1, 5]}
    g = Pipeline.from_slice(spark, VALS).group_by(parity, return_type=T.StringType())
    assert {k: sorted(v) for k, v in g.to_dict().items()} == want
    fut = Pipeline.from_slice(spark, VALS).group_by_async(parity, T.StringType())
    assert {k: sorted(v) for k, v in fut.get().items()} == want


def test_reduce_native_and_python(spark):
    assert Pipeline.from_slice(spark, VALS).reduce(lambda a, b: a + b) == 9
    # force the generic (RDD treeReduce) path with a non-Column fn
    assert Pipeline.from_slice(spark, VALS).reduce(lambda a, b: max(a, b)) == 5


def test_as_slice(spark):
    assert sorted(Pipeline.from_slice(spark, VALS).as_slice()) == sorted(VALS)


def test_as_map(spark):
    m = Pipeline.from_slice(spark, VALS).as_map(
        lambda x: F.struct(x.cast("string").alias("key"), x.alias("value"))
    )
    assert m == {"1": 1, "2": 2, "-3": -3, "4": 4, "5": 5}  # pippin_test.go:2120-2126


def test_as_map_conflict_deterministic(spark):
    s = Pipeline.from_slice(spark, [("a", 1), ("a", 9), ("b", 2)])
    st = s.map(lambda x: F.struct(x["_1"].alias("key"), x["_2"].alias("value")))
    assert st.as_map() == {"a": 9, "b": 2}  # documented max-wins policy


def test_as_multi_map(spark):
    s = Pipeline.from_slice(spark, [("a", 1), ("a", 9), ("b", 2)])
    st = s.map(lambda x: F.struct(x["_1"].alias("key"), x["_2"].alias("value")))
    mm = st.as_multi_map()
    assert {k: sorted(v) for k, v in mm.items()} == {"a": [1, 9], "b": [2]}


def test_distinct(spark):
    assert sorted(Pipeline.from_slice(spark, DUPES).distinct()) == [-3, 1, 2, 4, 5]
    assert Pipeline.from_slice(spark, DUPES).distinct_count() == 5
    assert Pipeline.from_slice(spark, DUPES).approx_distinct_count() == 5


def test_sum_complex(spark):
    # F5: complex nums as struct(re, im) — aggregate.go:53-64
    vals = [complex(1, 2), complex(3, -4), complex(-1, 1)]
    s = Pipeline.from_slice(spark, [(c.real, c.imag) for c in vals]).map(
        lambda x: F.struct(x["_1"].alias("re"), x["_2"].alias("im"))
    )
    assert s.sum_complex() == complex(3, -1)
    s2 = Pipeline.from_slice(spark, [(c.real, c.imag) for c in vals]).map(
        lambda x: F.struct(x["_1"].alias("re"), x["_2"].alias("im"))
    )
    avg = s2.avg_complex()
    assert avg.real == pytest.approx(1.0) and avg.imag == pytest.approx(-1 / 3)


def test_for_each_driver(spark):
    acc = []
    Pipeline.from_slice(spark, VALS).for_each_driver(acc.append)
    assert sorted(acc) == sorted(VALS)


def test_zero_seed_strict_mode(spark):
    # reference seeds accumulators with Go zero values
    # (aggregate/aggregate.go:543): Max of all-negatives = 0, Sum of
    # empty = 0. Default mode is SQL/NULL semantics.
    cfg = PipelineConfig(strict_zero_seed=True)
    assert Pipeline.from_slice(spark, [-5, -2], schema=T.LongType(), config=cfg).max() == 0
    assert Pipeline.from_slice(spark, [3, 9], schema=T.LongType(), config=cfg).min() == 0
    assert Pipeline.from_slice(spark, [], schema=T.LongType(), config=cfg).sum() == 0
    # SQL default: None
    assert Pipeline.from_slice(spark, [], schema=T.LongType()).sum() is None
    assert Pipeline.from_slice(spark, [-5, -2], schema=T.LongType()).max() == -2


def test_empty_source(spark):
    s = Pipeline.from_slice(spark, [], schema=T.LongType())
    assert s.count() == 0
