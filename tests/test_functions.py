"""safe_cast must be result-identical to try_cast (NULL on conversion
failure) for every input — it only changes the execution strategy
(regexp-guarded plain cast instead of catch-per-row)."""

import pytest
from pyspark.sql import functions as F

from pippin_spark.functions import safe_cast

EDGE_STRINGS = [
    None,
    "",
    " ",
    "0",
    "42",
    "-42",
    "+7",
    " 123 ",
    "00123",
    "9223372036854775807",  # Long.MAX
    "-9223372036854775808",  # Long.MIN
    "9223372036854775808",  # Long.MAX+1 → overflow → NULL
    "99999999999999999999999",  # way out of range
    "2147483648",  # Int.MAX+1
    "3.14",
    "-0.5",
    ".5",
    "5.",
    "1e3",
    "1.5E-2",
    "inf",
    "Infinity",
    "-Infinity",
    "NaN",
    "abc",
    "12abc",
    "abc12",
    "1 2",
    "--5",
    "+-5",
    "true",
    "FALSE",
    "yes",
    "N",
    "1",
    "0",
    "maybe",
    "١٢٣",  # non-ASCII digits: cast accepts? must match try_cast either way
    "0x1F",
]


def test_two_level_sums_matches_decimal_path(spark):
    """two_level_sums must equal SUM(CAST(x AS DECIMAL(18,4))) exactly —
    including .5-boundary rounding, negatives, and NULLs."""
    import random

    from pippin_spark.functions import two_level_sums

    rng = random.Random(7)
    vals = [
        0.0, -0.0, 1.00005, -1.00005, 2.49995, 0.12345, -0.12345,
        99999.9999, -99999.9999, 0.00005, -0.00005, 3.14159265358979,
        None, 123456.789,
    ] + [rng.uniform(-1e5, 1e5) for _ in range(500)]
    rows = [(("a" if i % 3 else "b"), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, v double").repartition(7)

    ref = df.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("s"),
        (F.sum(F.col("v").cast("decimal(18,4)")).cast("double") / F.count("v")).alias("a"),
        F.count(F.lit(1)).alias("n"),
    )
    pre, dsum2, davg2, count2 = two_level_sums(df, ["k"], {"v": F.col("v")})
    fast = pre.groupBy("k").agg(dsum2("v", "s"), davg2("v", "a"), count2("n"))

    a = {r["k"]: (r["s"], r["a"], r["n"]) for r in ref.collect()}
    b = {r["k"]: (r["s"], r["a"], r["n"]) for r in fast.collect()}
    assert a == b  # exact, not approx


@pytest.mark.parametrize("dtype", ["bigint", "int", "smallint", "tinyint", "double", "float", "boolean", "decimal(10,2)", "date"])
def test_safe_cast_matches_try_cast(spark, dtype):
    df = spark.createDataFrame([(s,) for s in EDGE_STRINGS], "v string")
    out = df.select(
        "v",
        safe_cast(F.col("v"), dtype).alias("safe"),
        F.col("v").try_cast(dtype).alias("try"),
    ).collect()
    for r in out:
        assert r["safe"] == r["try"] or (
            r["safe"] != r["safe"] and r["try"] != r["try"]  # NaN == NaN
        ), f"{dtype}: input {r['v']!r}: safe={r['safe']!r} try={r['try']!r}"


# ---------------------------------------------------------------------------
# _driver_rows_df: the Arrow fast path behind from_slice/from_map must be
# semantically invisible — same schema and values as the classic
# createDataFrame route for every scalar shape, classic fallback for the rest
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "values",
    [
        [1, 2, 3],
        [1.5, -2.0, float("nan")],
        ["a", "b", None],
        [True, False, None],
        [b"x", b"yz"],
        [1, None, 3],
    ],
    ids=["int", "float-nan", "str-null", "bool-null", "bytes", "int-null"],
)
def test_from_slice_arrow_path_matches_classic(spark, values):
    from pippin_spark.pipeline import Pipeline

    fast = Pipeline.from_slice(spark, values).df
    classic = spark.createDataFrame([(v,) for v in values], ["value"])
    assert fast.schema == classic.schema
    norm = lambda r: [
        None if v is None else (v if v == v else "NaN") for (v,) in r
    ]
    assert sorted(norm(fast.collect()), key=str) == sorted(
        norm(classic.collect()), key=str
    )


def test_from_slice_complex_values_fall_back(spark):
    from pippin_spark.pipeline import Pipeline

    # nested containers keep classic inference (struct-ification of
    # tuples, array element typing) — the Arrow path must not kick in
    s = Pipeline.from_slice(spark, [[1, 2], [3]]).df
    assert s.schema["value"].dataType.typeName() == "array"
    assert [list(r["value"]) for r in s.orderBy(F.size("value").desc()).collect()] == [
        [1, 2],
        [3],
    ]


def test_from_slice_empty_raises_like_classic(spark):
    from pippin_spark.pipeline import Pipeline

    with pytest.raises(Exception):
        Pipeline.from_slice(spark, [])


def test_from_map_matches_classic(spark):
    from pippin_spark.pipeline import Pipeline

    m = {1: "a", 2: "b", 3: None}
    fast = Pipeline.from_map(spark, m).df
    classic = spark.createDataFrame(list(m.items()), ["key", "value"])
    assert fast.schema == classic.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, classic.collect())
    )


@pytest.mark.parametrize("source", ["slice", "slice-classic", "map"])
def test_driver_rows_partitions_follow_row_count(spark, monkeypatch, source):
    from pyspark.sql import types as T

    import pippin_spark.pipeline as PL

    # ROWS_PER_SPLIT rows or fewer: one partition; one more row: two;
    # past defaultParallelism splits: the builder's own spread (both
    # builders, Arrow and classic, go through the rule)
    monkeypatch.setattr(PL, "ROWS_PER_SPLIT", 4)
    par = spark.sparkContext.defaultParallelism
    tokens = ["1", "a", "2", "-3", "4", "5", "b", "7"] * par

    def run(n):
        toks = tokens[:n]
        errs = []
        if source == "map":
            src = PL.Pipeline.from_map(spark, dict(enumerate(toks)))
        else:
            schema = T.StringType() if source == "slice-classic" else None
            src = PL.Pipeline.from_slice(spark, toks, schema=schema)
        parts = src.df.rdd.getNumPartitions()
        total = src.map_with_error(int, errs.append, return_type=T.LongType()).sum()
        want = sum(int(t) for t in toks if t.lstrip("-").isdigit())
        assert total == want
        assert sorted(errs) == sorted(t for t in toks if not t.lstrip("-").isdigit())
        return parts

    assert run(4) == 1
    assert 1 < run(5) <= par
    assert run(4 * par + 1) == par


def test_from_slice_arrow_conf_restored(spark):
    from pippin_spark.pipeline import Pipeline

    key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    Pipeline.from_slice(spark, [1, 2, 3]).df.collect()
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert before == after


def test_from_slice_mixed_numeric_rejects_like_classic(spark):
    from pippin_spark.pipeline import Pipeline

    # classic inference refuses to merge Long and Double — the fast
    # path must fall through so the user sees the same error, not a
    # silent coercion to double
    with pytest.raises(Exception, match="[Mm]erge|MERGE|type"):
        Pipeline.from_slice(spark, [1, 2.5]).df.collect()


def test_from_slice_explicit_schema_verifies_like_classic(spark):
    from pyspark.sql import types as T

    from pippin_spark.pipeline import Pipeline

    # classic createDataFrame VERIFIES each value against an explicit
    # schema (DoubleType rejects a python int); the fast path must not
    # replace that with Arrow's silent coercion
    with pytest.raises(Exception):
        Pipeline.from_slice(spark, [1, 2], schema=T.DoubleType()).df.collect()
    # and valid explicit-schema input still works
    out = Pipeline.from_slice(spark, [1.0, 2.0], schema=T.DoubleType()).df
    assert [r["value"] for r in out.orderBy("value").collect()] == [1.0, 2.0]


def test_from_slice_all_none_raises_like_classic(spark):
    from pippin_spark.pipeline import Pipeline

    # classic raises CANNOT_DETERMINE_TYPE; the fast path must not
    # manufacture a NullType column instead
    with pytest.raises(Exception, match="[Dd]etermin|CANNOT"):
        Pipeline.from_slice(spark, [None, None]).df.collect()


def test_local_table_parenthesized_ddl_types(spark):
    from decimal import Decimal

    from pippin_spark.operators.util import local_table

    df = local_table(
        spark, [(5, Decimal("12.34"))], "k bigint, value decimal(18,2)"
    )
    row = df.collect()[0]
    assert row["k"] == 5 and row["value"] == Decimal("12.34")
    assert df.schema["value"].dataType.simpleString() == "decimal(18,2)"


def test_arrow_conversion_concurrent_toggle(spark):
    import threading

    from pippin_spark.operators.util import arrow_conversion

    key = "spark.sql.execution.arrow.pyspark.enabled"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    errs = []

    def worker():
        try:
            for _ in range(10):
                with arrow_conversion(spark):
                    pass
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=worker) for _ in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert before == after  # interleaved save/restore must not leak
