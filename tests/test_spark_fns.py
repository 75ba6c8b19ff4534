"""End-to-end Spark tests for the ddsketch_* function surface.

Re-expresses the reference's SQL suites (test/sql/ddsketch.test and
test/integration_test.sql) over Spark DataFrames + spark.sql.
"""

import math

import pytest
from pyspark.sql import functions as F

from duckdb_ddsketch_spark import DDSketch
from duckdb_ddsketch_spark.functions import (
    ddsketch_agg,
    ddsketch_create,
    ddsketch_prepare,
    ddsketch_stats_agg,
    sketch_values_agg,
)


def approx_rel(a, b, tol=0.02):
    if a == b:
        return True
    m = max(abs(a), abs(b))
    return m > 0 and abs(a - b) <= m * tol


@pytest.fixture(scope="module")
def sketch_df(spark):
    """One sketch per row built from [100, 200, 300] via ddsketch_add chain."""
    empty = ddsketch_create(0.01)
    df = spark.createDataFrame([(empty,)], "sketch binary")
    for v in (100.0, 200.0, 300.0):
        df = df.select(F.expr(f"ddsketch_add(sketch, {v}d)").alias("sketch"))
    return df


def test_create_empty(spark):
    row = spark.sql("SELECT ddsketch_empty(0.01d) AS s").first()
    assert row.s is not None
    assert len(row.s) == 17  # index-mapping section only
    # count of empty sketch is 0, min/max/sum/avg/quantile NULL
    out = spark.sql(
        "SELECT ddsketch_count(ddsketch_empty(0.01d)) c,"
        " ddsketch_min(ddsketch_empty(0.01d)) mn,"
        " ddsketch_max(ddsketch_empty(0.01d)) mx,"
        " ddsketch_sum(ddsketch_empty(0.01d)) sm,"
        " ddsketch_avg(ddsketch_empty(0.01d)) av,"
        " ddsketch_quantile(ddsketch_empty(0.01d), 0.5d) q"
    ).first()
    assert out.c == 0
    assert out.mn is None and out.mx is None and out.sm is None
    assert out.av is None and out.q is None


def test_add_and_stats(spark, sketch_df):
    # Each ddsketch_add round-trips the wire format, so sum/min/max are
    # re-derived from bins (approximate within ~2α per hop); the reference's
    # sqllogictest claims exact 600/100/300 but its code computes bin math —
    # we match the code (SURVEY.md §1.3). Expected values from the kernel:
    expected = DDSketch(0.01)
    for v in (100.0, 200.0, 300.0):
        expected = DDSketch.decode(expected.encode())
        expected.add(v)
    expected = DDSketch.decode(expected.encode())
    out = sketch_df.select(
        F.expr("ddsketch_count(sketch)").alias("c"),
        F.expr("ddsketch_sum(sketch)").alias("s"),
        F.expr("ddsketch_avg(sketch)").alias("a"),
        F.expr("ddsketch_min(sketch)").alias("mn"),
        F.expr("ddsketch_max(sketch)").alias("mx"),
        F.expr("round(ddsketch_quantile(sketch, 0.5d))").alias("p50"),
    ).first()
    assert out.c == 3
    assert out.s == expected.sum
    assert out.a == expected.sum / 3.0
    assert out.mn == expected.min
    assert out.mx == expected.max
    assert approx_rel(out.s, 600.0, 0.03)
    assert approx_rel(out.mn, 100.0, 0.03)
    assert approx_rel(out.mx, 300.0, 0.03)
    assert abs(out.p50 - 200.0) <= 6.0


def test_stats_struct(spark, sketch_df):
    out = sketch_df.select(F.expr("ddsketch_stats(sketch)").alias("st")).select(
        "st.count", "st.sum", "st.min", "st.max", "st.avg"
    ).first()
    assert out["count"] == 3
    assert approx_rel(out["sum"], 600.0, 0.03)
    assert approx_rel(out["avg"], 200.0, 0.03)


def test_merge_two_single_value_sketches(spark):
    s1 = DDSketch(0.01).extend([10.0]).encode()
    s2 = DDSketch(0.01).extend([20.0]).encode()
    df = spark.createDataFrame([(s1, s2)], "a binary, b binary")
    out = df.select(F.expr("ddsketch_count(ddsketch_merge(a, b))").alias("c")).first()
    assert out.c == 2


def test_merge_gamma_mismatch_is_null(spark):
    s1 = DDSketch(0.01).extend([10.0]).encode()
    s2 = DDSketch(0.02).extend([20.0]).encode()
    df = spark.createDataFrame([(s1, s2)], "a binary, b binary")
    assert df.select(F.expr("ddsketch_merge(a, b)").alias("m")).first().m is None


def test_null_handling(spark):
    out = spark.sql(
        "SELECT ddsketch_add(NULL, 1.0d) a,"
        " ddsketch_quantile(ddsketch_empty(0.01d), CAST(NULL AS DOUBLE)) q,"
        " ddsketch_count(CAST('nonsense' AS BINARY)) c"
    ).first()
    assert out.a is None
    assert out.q is None
    assert out.c is None  # undecodable blob → NULL


def test_quantile_out_of_range_null(spark, sketch_df):
    out = sketch_df.select(
        F.expr("ddsketch_quantile(sketch, -0.1d)").alias("lo"),
        F.expr("ddsketch_quantile(sketch, 1.1d)").alias("hi"),
    ).first()
    assert out.lo is None and out.hi is None


def test_quantile_bounds_10_to_100(spark):
    values = [(float(v),) for v in range(10, 101, 10)]
    df = spark.createDataFrame(values, "v double")
    sk = df.agg(sketch_values_agg(F.col("v")).alias("s"))
    out = sk.select(
        F.expr("ddsketch_quantile(s, 0.5d)").alias("p50"),
        F.expr("ddsketch_quantile(s, 0.9d)").alias("p90"),
    ).first()
    assert 40.0 <= out.p50 <= 70.0
    assert 80.0 <= out.p90 <= 100.0
    # golden check against the Go vector for the same distribution
    assert approx_rel(out.p50, 49.90296094906652)
    assert approx_rel(out.p90, 89.1303293363591)


def test_agg_over_single_value_sketches(spark):
    rows = [(DDSketch(0.01).extend([float(v)]).encode(),) for v in (10, 20, 30)]
    df = spark.createDataFrame(rows, "sketch binary")
    df.createOrReplaceTempView("sketches3")
    out = spark.sql(
        "SELECT ddsketch_count(ddsketch_agg(sketch)) c,"
        " ddsketch_sum(ddsketch_agg(sketch)) s FROM sketches3"
    ).first()
    assert out.c == 3
    assert approx_rel(out.s, 60.0, 0.03)


def test_agg_skips_nulls_and_empty_group_is_null(spark):
    rows = [
        ("a", DDSketch(0.01).extend([5.0]).encode()),
        ("a", None),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "k string, sketch binary")
    out = {r.k: r for r in df.groupBy("k").agg(ddsketch_agg("sketch").alias("m")).collect()}
    assert out["a"].m is not None
    assert out["b"].m is None


def test_agg_ignores_mismatched_gamma_rows(spark):
    """The reference's aggregate silently drops merge failures
    (lib.rs:730 `let _ = existing.merge(...)`) — the group keeps the rows
    that matched the first-adopted gamma."""
    rows = [
        ("a", DDSketch(0.01).extend([5.0]).encode()),
        ("a", DDSketch(0.05).extend([7.0]).encode()),  # mismatched: dropped
        ("a", DDSketch(0.01).extend([9.0]).encode()),
        ("a", b""),  # zero-length: skipped (lib.rs:718-720)
    ]
    df = spark.createDataFrame(rows, "k string, sketch binary").coalesce(1)
    out = df.groupBy("k").agg(ddsketch_agg("sketch").alias("m")).first()
    s = DDSketch.decode(bytes(out.m))
    assert s.count == 2.0  # 5.0 and 9.0; the alpha=0.05 row was dropped


def test_stats_agg_struct(spark):
    rows = [(DDSketch(0.01).extend([float(v)]).encode(),) for v in (10, 20, 30)]
    df = spark.createDataFrame(rows, "sketch binary")
    out = df.agg(ddsketch_stats_agg("sketch").alias("st")).select("st.*").first()
    assert out["count"] == 3
    assert approx_rel(out["sum"], 60.0, 0.03)
    assert approx_rel(out["avg"], 20.0, 0.03)
    assert out["sketch"] is not None
    # the nested sketch is reusable
    df2 = spark.createDataFrame([(bytes(out["sketch"]),)], "s binary")
    assert df2.select(F.expr("ddsketch_count(s)").alias("c")).first().c == 3
    assert out["p50"] is not None and out["p25"] <= out["p75"]


def test_stats_agg_sql_name_verbatim(spark):
    """The reference's README query shape runs VERBATIM through spark.sql:
    ddsketch_stats_agg is ONE registered SQL aggregate (lib.rs:955-981)."""
    rows = [
        ("api", DDSketch(0.01).extend([float(v)]).encode()) for v in (10, 20, 30)
    ] + [("web", DDSketch(0.01).extend([100.0]).encode())]
    spark.createDataFrame(rows, "service string, sketch binary").createOrReplaceTempView(
        "stats_agg_t"
    )
    out = {
        r.service: r
        for r in spark.sql(
            "SELECT service, ddsketch_stats_agg(sketch) AS st"
            " FROM stats_agg_t GROUP BY 1"
        ).select("service", "st.*").collect()
    }
    assert out["api"]["count"] == 3
    assert approx_rel(out["api"]["avg"], 20.0, 0.03)
    assert out["web"]["count"] == 1
    # identical to the explicit composition
    comp = {
        r.service: r
        for r in spark.sql(
            "SELECT service, ddsketch_stats_full(ddsketch_agg(sketch)) AS st"
            " FROM stats_agg_t GROUP BY 1"
        ).select("service", "st.*").collect()
    }
    assert out == comp


def test_stats_agg_rewrite_string_edge_cases():
    from duckdb_ddsketch_spark.functions.rewrite import rewrite_stats_agg

    # a plain call is a registered aggregate: case-insensitive, unchanged
    q = "SELECT g, DDSketch_Stats_Agg(s) FROM t GROUP BY g"
    assert rewrite_stats_agg(q) == q
    # FILTER folds into the input, keeping the name as written
    assert rewrite_stats_agg(
        "SELECT g, DDSketch_Stats_Agg(s) FILTER (WHERE x) FROM t GROUP BY g"
    ) == "SELECT g, DDSketch_Stats_Agg(CASE WHEN x\n THEN s END) FROM t GROUP BY g"
    # nested call with parens and a quoted literal inside the argument
    q = "SELECT ddsketch_stats_agg(ddsketch_add(s, if(x=')', 1.0, 2.0))) FROM t"
    assert rewrite_stats_agg(q) == q
    assert rewrite_stats_agg(q.replace(" FROM", " FILTER (WHERE y) FROM")) == (
        "SELECT ddsketch_stats_agg(CASE WHEN y\n THEN "
        "ddsketch_add(s, if(x=')', 1.0, 2.0)) END) FROM t"
    )
    # occurrences inside string literals / comments / identifiers untouched,
    # with or without a FILTER clause
    for q in (
        "SELECT 'ddsketch_stats_agg(x)' AS lit FROM t",
        "SELECT s -- ddsketch_stats_agg(x)\n FROM t",
        "SELECT /* ddsketch_stats_agg(x) */ s FROM t",
        'SELECT "ddsketch_stats_agg" FROM t',
        "SELECT my_ddsketch_stats_agg(x) FROM t",
        "SELECT 'ddsketch_stats_agg(x) FILTER (WHERE y)' AS lit FROM t",
        "SELECT s -- ddsketch_stats_agg(x) FILTER (WHERE y)\n FROM t",
        "SELECT /* ddsketch_stats_agg(x) FILTER (WHERE y) */ s FROM t",
        "SELECT my_ddsketch_stats_agg(x) FILTER (WHERE y) FROM t",
    ):
        assert rewrite_stats_agg(q) == q
    # two occurrences in one query
    q2 = "SELECT ddsketch_stats_agg(a), ddsketch_stats_agg(b) FROM t"
    assert rewrite_stats_agg(q2) == q2
    assert rewrite_stats_agg(
        "SELECT ddsketch_stats_agg(a) FILTER (WHERE x),"
        " ddsketch_stats_agg(b) FILTER (WHERE y) FROM t"
    ) == (
        "SELECT ddsketch_stats_agg(CASE WHEN x\n THEN a END),"
        " ddsketch_stats_agg(CASE WHEN y\n THEN b END) FROM t"
    )


def test_prepare_then_agg_group_by(spark):
    data = [("api", float(v)) for v in range(1, 11)] + [("web", 100.0)]
    df = spark.createDataFrame(data, "service string, latency double")
    pre = df.select("service", ddsketch_prepare(F.col("latency")).alias("sketch"))
    agg = pre.groupBy("service").agg(ddsketch_agg("sketch").alias("s"))
    out = {
        r.service: r
        for r in agg.select(
            "service",
            F.expr("ddsketch_count(s)").alias("c"),
            F.expr("ddsketch_quantile(s, 0.5d)").alias("p50"),
        ).collect()
    }
    assert out["api"].c == 10
    assert approx_rel(out["api"].p50, 5.002829575110703, 0.05)
    assert out["web"].c == 1


def test_merge_sketches_native_matches_simple_agg(spark):
    import random

    from duckdb_ddsketch_spark.functions.aggregate import merge_sketches_native

    rng = random.Random(11)
    rows = []
    for i in range(200):
        k = f"svc{i % 5}"
        s = DDSketch(0.01).extend(rng.uniform(1, 1000) for _ in range(20))
        rows.append((k, s.encode()))
    df = spark.createDataFrame(rows, "k string, sketch binary").repartition(8)
    simple = {
        r.k: DDSketch.decode(bytes(r.s))
        for r in df.groupBy("k").agg(ddsketch_agg("sketch").alias("s")).collect()
    }
    native_m = {
        r.k: DDSketch.decode(bytes(r.sketch))
        for r in merge_sketches_native(df, ["k"], "sketch").collect()
    }
    assert set(simple) == set(native_m)
    for k in simple:
        assert simple[k].count == native_m[k].count
        assert simple[k].positive_bins == native_m[k].positive_bins
        assert simple[k].quantile(0.5) == native_m[k].quantile(0.5)


def test_merge_sketches_native_null_row_order_independent(spark):
    """A NULL/invalid blob in a group must be SKIPPED (aggregate NULL-skip,
    lib.rs:1024) regardless of where it lands in evaluation order — the
    gamma pick uses first(gamma, true), so a NULL-struct row can never
    donate a NULL gamma and null the whole group."""
    from duckdb_ddsketch_spark.functions.aggregate import merge_sketches_native

    valid = DDSketch(0.01).extend([1.0, 2.0, 3.0]).encode()
    for rows in (
        [("g", None), ("g", valid)],  # NULL first in the single partition
        [("g", valid), ("g", None)],
        [("g", b"\xde\xad\xbe\xef\x00"), ("g", valid)],  # corrupt first
    ):
        df = spark.createDataFrame(rows, "k string, sketch binary").coalesce(1)
        out = merge_sketches_native(df, ["k"], "sketch").collect()
        assert len(out) == 1
        assert out[0].sketch is not None, rows
        assert DDSketch.decode(bytes(out[0].sketch)).count == 3.0, rows


def test_merge_sketches_native_plan_has_partial_agg(spark):
    """The wire-blob merge must NOT be an ArrowAggregatePython over raw rows:
    the aggregate runs in Catalyst with map-side partial aggregation and the
    only Python nodes are the map-only wire boundary codecs."""
    from duckdb_ddsketch_spark.functions.aggregate import merge_sketches_native
    from duckdb_ddsketch_spark.plans import checks

    rows = [("k", DDSketch(0.01).extend([1.0, 2.0]).encode())]
    df = spark.createDataFrame(rows, "k string, sketch binary")
    out = merge_sketches_native(df, ["k"], "sketch")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowAggregatePython" not in checks.python_eval_nodes(out)
    assert "HashAggregate" in plan
    assert "partial" in plan.lower()


def test_wire_compat_with_reference_golden(spark):
    """A Go-generated sketch decodes through the SQL surface (compat gate)."""
    import golden_vectors as gv

    raw = bytes.fromhex(gv.CONTIGUOUS_COUNTS_HEX)
    df = spark.createDataFrame([(raw,)], "s binary")
    out = df.select(
        F.expr("ddsketch_count(s)").alias("c"),
        F.expr("ddsketch_quantile(s, 0.5d)").alias("p50"),
    ).first()
    assert out.c == 50
    assert 73.0 <= out.p50 <= 77.0


def test_multi_quantile_array(spark):
    s = DDSketch(0.01).extend(float(v) for v in range(1, 101)).encode()
    df = spark.createDataFrame([(s,)], "s binary")
    row = df.selectExpr(
        "ddsketch_quantiles(s, array(0.25d, 0.5d, 0.99d)) AS qs",
        "ddsketch_quantile(s, 0.25d) AS q25",
        "ddsketch_quantile(s, 0.5d) AS q50",
        "ddsketch_quantile(s, 0.99d) AS q99",
        "ddsketch_quantiles(s, array(1.5d)) AS bad",
        "ddsketch_quantiles(CAST(NULL AS BINARY), array(0.5d)) AS nul",
    ).first()
    assert row.qs == [row.q25, row.q50, row.q99]
    assert row.bad == [None]
    assert row.nul is None


def test_native_ingest_matches_grouped_agg(spark):
    """Native struct ingest re-encoded at the wire boundary must produce
    byte-identical sketches to the grouped-agg ingest, across negatives,
    zeros and a partitioned input (bin counts are additive)."""
    import random

    from duckdb_ddsketch_spark.operators import native

    rng = random.Random(5)
    rows = [
        (f"k{i % 4}", rng.uniform(-5, 500) if i % 13 else 0.0)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "k string, v double").repartition(6)
    a = {
        r.k: bytes(r.sketch)
        for r in native.sketch_struct_agg(df, ["k"], "v", 0.01)
        .select("k", native.struct_to_wire("sketch").alias("sketch"))
        .collect()
    }
    b = {
        r.k: bytes(r.sk)
        for r in df.groupBy("k").agg(sketch_values_agg(F.col("v")).alias("sk")).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], k
        sk = DDSketch.decode(a[k])
        assert sk.negative_bins and sk.zero_count > 0, k


def test_zero_arg_create_default_alpha(spark):
    """The reference's `ddsketch_create()` with no parameter defaults to
    alpha=0.01 (lib.rs:72-78); SQL surface parity."""
    from duckdb_ddsketch_spark import DDSketch

    row = spark.sql(
        "SELECT ddsketch_create() AS s, ddsketch_count(ddsketch_create()) AS c"
    ).first()
    s = DDSketch.decode(bytes(row.s))
    assert abs(s.gamma - (1.0 + 2.0 * 0.01 / 0.99)) < 1e-12
    assert row.c == 0


def _decodes(blob) -> bool:
    try:
        DDSketch.decode(bytes(blob))
    except Exception:
        return False
    return True


def _dec(blob) -> DDSketch:
    return DDSketch.decode(bytes(blob))


def _added(s: DDSketch, x: float):
    if math.isnan(x):
        return None  # NaN is NULL for add and prepare, not a skipped value
    s.add(x)
    return s.encode()


def _merged(a: DDSketch, b: DDSketch):
    a.merge(b)
    return a.encode()


def _stats(s: DDSketch):
    return (s.get_count(), s.get_sum(), s.get_min(), s.get_max(), s.get_avg())


def _stats_full(blob):
    s = _dec(blob)
    qs = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
    return (bytes(blob), s.get_count(), s.get_sum(), s.get_avg(), s.get_min(),
            s.get_max(), *(s.quantile(q) for q in qs))


# Every SQL scalar: its argument columns (b/b2 blobs, x/y doubles, a an
# accuracy, qs a double array) and the kernel's answer for a row whose
# arguments are non-NULL and decodable.
_SCALAR_CASES = {
    "ddsketch_empty": (("a",), lambda a: DDSketch(a).encode()),
    "ddsketch_add": (("b", "x"), lambda b, x: _added(_dec(b), x)),
    "ddsketch_merge": (("b", "b2"), lambda b, c: _merged(_dec(b), _dec(c))),
    "ddsketch_quantile": (("b", "x"), lambda b, x: _dec(b).quantile(x)),
    "ddsketch_quantiles": (
        ("b", "qs"),
        lambda b, qs: [None if q is None else _dec(b).quantile(q) for q in qs],
    ),
    "ddsketch_cdf": (("b", "x"), lambda b, x: _dec(b).cdf(x)),
    "ddsketch_trimmed_mean": (("b", "x", "y"), lambda b, x, y: _dec(b).trimmed_mean(x, y)),
    "ddsketch_downsample": (("b", "a"), lambda b, a: _dec(b).downsample(a).encode()),
    "ddsketch_count": (("b",), lambda b: _dec(b).get_count()),
    "ddsketch_min": (("b",), lambda b: _dec(b).get_min()),
    "ddsketch_max": (("b",), lambda b: _dec(b).get_max()),
    "ddsketch_sum": (("b",), lambda b: _dec(b).get_sum()),
    "ddsketch_avg": (("b",), lambda b: _dec(b).get_avg()),
    "ddsketch_stats": (("b",), lambda b: _stats(_dec(b))),
    "ddsketch_stats_full": (("b",), _stats_full),
    "ddsketch_prepare": (("x", "a"), lambda x, a: _added(DDSketch(a), x)),
}


def _bits(v):
    """Outputs compared exactly: floats by their bits (NaN is NULL, as
    Spark returns it), bytes by value, a struct of NULL fields as NULL."""
    if isinstance(v, float):
        return None if math.isnan(v) else v.hex()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        out = tuple(_bits(x) for x in v)
        return None if isinstance(v, tuple) and all(x is None for x in out) else out
    return v


def test_scalar_surface_survives_garbage_blobs(spark):
    """Every registered SQL scalar over random bytes, NULL, empty and cut
    blobs, NULL/NaN/infinite arguments and accuracies outside (0, 1): a
    job that does not fail, NULL wherever the row rule says NULL
    (NULL argument, undecodable blob, kernel ValueError/ArithmeticError;
    lib.rs:154-157, 191-194), and the kernel's exact answer on every other
    row."""
    import random

    from pyspark.util import PythonEvalType

    from duckdb_ddsketch_spark.functions.registry import _FUNCTIONS

    scalars = {
        n for n, f in _FUNCTIONS.items()
        if f.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF
    }
    assert all(
        f.evalType == PythonEvalType.SQL_GROUPED_AGG_ARROW_UDF
        for n, f in _FUNCTIONS.items() if n not in scalars
    )
    assert scalars == set(_SCALAR_CASES)

    rng = random.Random(99)
    good = DDSketch(0.01).extend([1.0, 2.5, -3.0, 0.0, 7.0]).encode()
    good2 = DDSketch(0.01).extend([4.0, -0.5]).encode()
    base = {"b": good, "b2": good2, "x": 0.5, "y": 0.75, "a": 0.02, "qs": [0.5, None]}
    variants = [{}]
    variants += [{"b": rng.randbytes(rng.randint(0, 60)),
                  "b2": rng.randbytes(rng.randint(0, 60))} for _ in range(200)]
    variants += [{k: None} for k in base]
    variants += [{"b": b""}, {"b": good[:-2]}, {"b2": good[:5]},
                 {"b": DDSketch(0.01).encode(), "b2": DDSketch(0.01).encode()}]
    variants += [{"x": v} for v in (math.nan, math.inf, -math.inf, 0.0, -3.0, 2.0)]
    variants += [{"y": v} for v in (math.nan, 0.25, 1.0)]
    # accuracies outside (0, 1): NULL from every constructor, not a failed job
    variants += [{"a": v} for v in (0.0, 1.0, -1.0, -0.5, 2.0, math.nan, math.inf)]
    variants += [{"a": 0.001}]  # a refining downsample
    variants += [{"b2": DDSketch(0.02).extend([1.0]).encode()}]  # merge mismatch
    gamma_one = _dec(good)
    gamma_one.gamma = 1.0  # decodes, but value_to_bin divides by ln 1
    variants += [{"b": gamma_one.encode()}]
    variants += [{"qs": [math.nan, 0.0, 1.0, 2.0]}, {"qs": []}]
    rows = [{**base, **v, "i": i} for i, v in enumerate(variants)]
    cols = ["i", "b", "b2", "x", "y", "a", "qs"]
    df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        "i int, b binary, b2 binary, x double, y double, a double, qs array<double>",
    )
    out = df.select(
        "i",
        *(F.expr(f"{n}({', '.join(args)})").alias(n)
          for n, (args, _) in _SCALAR_CASES.items()),
    ).collect()
    assert sorted(r.i for r in out) == list(range(len(rows)))

    answered = dict.fromkeys(_SCALAR_CASES, 0)
    for r in out:
        row = rows[r.i]
        for name, (args, kernel) in _SCALAR_CASES.items():
            vals = [row[c] for c in args]
            want = None
            if all(v is not None for v in vals) and all(
                _decodes(row[c]) for c in args if c in ("b", "b2")
            ):
                try:
                    want = kernel(*vals)
                except (ValueError, ArithmeticError):
                    pass
            assert _bits(r[name]) == _bits(want), (name, row)
            answered[name] += _bits(want) is not None
    # every scalar also answers rows with a value, not only NULLs
    assert min(answered.values()) > 5, answered


def test_constructors_null_a_bad_accuracy(spark):
    """An accuracy outside (0, 1) gives the table function a NULL sketch
    row, and raises in the driver-side constructors at call time."""
    assert spark.sql("SELECT * FROM ddsketch_create(1.0d)").collect() == [(None,)]
    with pytest.raises(ValueError, match="relative accuracy"):
        ddsketch_create(1.0)
    with pytest.raises(ValueError, match="relative accuracy"):
        ddsketch_prepare(F.col("v"), 0.0)
    with pytest.raises(ValueError, match="relative accuracy"):
        sketch_values_agg(F.col("v"), -1.0)


def test_scalar_column_names_are_the_function_names(spark):
    """The DataFrame-API column name of every scalar reads ``fn(args)``:
    the decorator that applies the row rule does not rename a function."""
    from duckdb_ddsketch_spark import functions as fns
    from duckdb_ddsketch_spark.functions import scalar

    df = spark.createDataFrame(
        [], "s binary, t binary, v double, w double, qs array<double>"
    )
    expected = {
        "ddsketch_empty": (["v"], "ddsketch_empty(v)"),
        "ddsketch_add": (["s", "v"], "ddsketch_add(s, v)"),
        "ddsketch_merge": (["s", "t"], "ddsketch_merge(s, t)"),
        "ddsketch_quantile": (["s", "v"], "ddsketch_quantile(s, v)"),
        "ddsketch_quantiles": (["s", "qs"], "ddsketch_quantiles(s, qs)"),
        "ddsketch_cdf": (["s", "v"], "ddsketch_cdf(s, v)"),
        "ddsketch_trimmed_mean": (["s", "v", "w"], "ddsketch_trimmed_mean(s, v, w)"),
        "ddsketch_downsample": (["s", "v"], "ddsketch_downsample(s, v)"),
        "ddsketch_count": (["s"], "ddsketch_count(s)"),
        "ddsketch_min": (["s"], "ddsketch_min(s)"),
        "ddsketch_max": (["s"], "ddsketch_max(s)"),
        "ddsketch_sum": (["s"], "ddsketch_sum(s)"),
        "ddsketch_avg": (["s"], "ddsketch_avg(s)"),
        "ddsketch_stats": (["s"], "ddsketch_stats(s)"),
        "ddsketch_stats_full": (["s"], "ddsketch_stats_full(s)"),
        "ddsketch_prepare": (["v"], "ddsketch_prepare_sql(v, 0.01)"),
        "ddsketch_prepare_sql": (["v", "w"], "ddsketch_prepare_sql(v, w)"),
    }
    column_fns = {
        n for n in scalar.__all__
        if n.startswith("ddsketch_") and n != "ddsketch_create"
    }
    assert column_fns == set(expected)
    assert {n for n in fns.__all__ if n in scalar.__all__} - {"ddsketch_create"} <= column_fns
    for name, (args, column) in expected.items():
        fn = getattr(scalar, name)
        assert df.select(fn(*map(F.col, args))).columns == [column], name


def test_ddsketch_downsample_sql_surface(spark):
    fine = DDSketch(0.005).extend([1.0, 5.0, 100.0]).encode()
    df = spark.createDataFrame([(fine,), (b"junk",), (None,)], "s binary")
    df.createOrReplaceTempView("ds_in")
    rows = spark.sql(
        "SELECT ddsketch_count(ddsketch_downsample(s, 0.01d)) AS n,"
        " ddsketch_downsample(s, 0.001d) AS refined"
        " FROM ds_in"
    ).collect()
    by_n = sorted((r["n"] is not None, r["n"]) for r in rows)
    assert by_n == [(False, None), (False, None), (True, 3)]
    # refining target -> NULL for every row
    assert all(r["refined"] is None for r in rows)
    # merged with a native 0.01-sketch column via ddsketch_merge
    coarse = DDSketch(0.005).extend([1.0, 5.0]).downsample(0.01).encode()
    other = DDSketch(0.01).extend([9.0]).encode()
    df2 = spark.createDataFrame([(coarse, other)], "a binary, b binary")
    n = df2.selectExpr("ddsketch_count(ddsketch_merge(a, b)) AS n").first()["n"]
    assert n == 3


def test_trimmed_mean_sql_surface(spark):
    """ddsketch_trimmed_mean is registered for spark.sql and matches the
    kernel; invalid windows yield NULL."""
    values = [float(v) for v in range(1, 101)]
    blob = DDSketch(0.01).extend(values).encode()
    spark.createDataFrame([(blob,)], "sketch binary").createOrReplaceTempView(
        "tm_sketch"
    )
    out = spark.sql(
        "SELECT ddsketch_trimmed_mean(sketch, 0.25d, 0.75d) AS iqm,"
        " ddsketch_trimmed_mean(sketch, 0.0d, 1.0d) AS full,"
        " ddsketch_trimmed_mean(sketch, 0.7d, 0.3d) AS bad"
        " FROM tm_sketch"
    ).first()
    kernel = DDSketch(0.01).extend(values)
    assert approx_rel(out.iqm, kernel.trimmed_mean(0.25, 0.75))
    assert approx_rel(out.full, kernel.trimmed_mean(0.0, 1.0))
    assert out.bad is None
