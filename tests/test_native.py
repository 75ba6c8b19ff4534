"""Native (pure-Catalyst) sketch path vs the Python kernel.

The native path must report exactly what the blob path observes after a wire
round-trip: count exact, sum/min/max from bins, Go-exact quantiles. We verify
by building the same sketches in the Python kernel from the same parquet data.
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from duckdb_ddsketch_spark import DDSketch
from duckdb_ddsketch_spark.operators import native


def kernel_expect(values, alpha=0.01, qs=(0.5, 0.95)):
    """Build sketch in kernel, round-trip the wire, report parity stats."""
    s = DDSketch(alpha).extend(values)
    d = DDSketch.decode(s.encode())
    return {
        "count": d.get_count(),
        "sum": d.get_sum(),
        "min": d.get_min(),
        "max": d.get_max(),
        **{q: d.quantile(q) for q in qs},
    }


def rel_eq(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if a == b:
        return True
    m = max(abs(a), abs(b))
    return abs(a - b) <= m * tol


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from duckdb_ddsketch_spark.sources import load_table

    return load_table(spark, sf_dir, "events")


def test_native_quantiles_match_kernel_per_group(spark, lineitem):
    qs = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
    out = {
        r["l_returnflag"]: r
        for r in native.sketch_quantile_agg(
            lineitem, ["l_returnflag"], "l_extendedprice", 0.01, qs
        ).collect()
    }
    rows = lineitem.select("l_returnflag", "l_extendedprice").collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert set(out) == set(groups)
    for flag, values in groups.items():
        exp = kernel_expect(values, qs=qs)
        got = out[flag]
        assert got["count"] == exp["count"], flag
        assert rel_eq(got["sum"], exp["sum"]), (flag, got["sum"], exp["sum"])
        assert rel_eq(got["min"], exp["min"])
        assert rel_eq(got["max"], exp["max"])
        for q in qs:
            name = f"p{native._qname(q)}"
            assert rel_eq(got[name], exp[q]), (flag, q, got[name], exp[q])


def test_native_handles_zeros_and_negatives(spark, events):
    """events.value may contain zeros/negatives; verify all sign classes."""
    qs = (0.1, 0.5, 0.9)
    out = {
        r["event_type"]: r
        for r in native.sketch_quantile_agg(
            events, ["event_type"], "value", 0.01, qs
        ).collect()
    }
    rows = events.select("event_type", "value").collect()
    groups = {}
    for r in rows:
        if r.value is not None:
            groups.setdefault(r.event_type, []).append(r.value)
    for et, values in groups.items():
        exp = kernel_expect(values, qs=qs)
        got = out[et]
        assert got["count"] == exp["count"]
        assert rel_eq(got["sum"], exp["sum"]), (et, got["sum"], exp["sum"])
        for q in qs:
            name = f"p{native._qname(q)}"
            assert rel_eq(got[name], exp[q]), (et, q, got[name], exp[q])


def test_native_synthetic_all_sign_classes(spark):
    values = [-50.0, -5.0, -5.0, 0.0, 0.0, 0.0, 1.0, 2.5, 2.5, 100.0, 1e6]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    qs = (0.0, 0.25, 0.5, 0.75, 1.0)
    got = native.sketch_quantile_agg(
        df.withColumn("g", F.lit(1)), ["g"], "v", 0.01, qs
    ).first()
    exp = kernel_expect(values, qs=qs)
    assert got["count"] == exp["count"]
    assert rel_eq(got["sum"], exp["sum"])
    assert rel_eq(got["min"], exp["min"])
    assert rel_eq(got["max"], exp["max"])
    for q in qs:
        assert rel_eq(got[f"p{native._qname(q)}"], exp[q]), q


def test_struct_agg_roundtrips_to_wire(spark, lineitem):
    """native struct build → wire encode → kernel decode == kernel sketch."""
    sk = native.sketch_struct_agg(lineitem, ["l_returnflag"], "l_quantity", 0.01)
    wired = sk.select("l_returnflag", native.struct_to_wire("sketch").alias("blob"))
    out = {r.l_returnflag: DDSketch.decode(bytes(r.blob)) for r in wired.collect()}
    rows = lineitem.select("l_returnflag", "l_quantity").collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.l_returnflag, []).append(r.l_quantity)
    for flag, values in groups.items():
        expected = DDSketch(0.01).extend(values)
        got = out[flag]
        assert got.count == expected.count
        assert got.positive_bins == expected.positive_bins
        assert got.zero_count == expected.zero_count


def test_struct_quantile_expr_matches_kernel(spark):
    values = [-3.0, 0.0, 1.0, 5.0, 5.0, 20.0, 400.0]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    sk = native.sketch_struct_agg(df.withColumn("g", F.lit(1)), ["g"], "v", 0.01)
    qs = [0.0, 0.3, 0.5, 0.8, 1.0]
    row = sk.select(
        *[native.struct_quantile("sketch", q).alias(f"q{i}") for i, q in enumerate(qs)]
    ).first()
    kernel = DDSketch(0.01).extend(values)
    for i, q in enumerate(qs):
        assert rel_eq(row[f"q{i}"], kernel.quantile(q)), (q, row[f"q{i}"], kernel.quantile(q))


def test_merge_struct_sketches_native(spark):
    import random

    rng = random.Random(3)
    data = [
        (f"k{i % 3}", i % 7, rng.uniform(-10, 1000) if i % 11 else 0.0)
        for i in range(2000)
    ]
    df = spark.createDataFrame(data, "k string, sub int, v double")
    # build one struct sketch per (k, sub), then native-merge down to k
    per_sub = native.sketch_struct_agg(df, ["k", "sub"], "v", 0.01)
    merged = native.merge_struct_sketches(per_sub, ["k"], "sketch")
    got = {
        r.k: r
        for r in merged.select(
            "k",
            native.struct_count(F.col("sketch")).alias("cnt"),
            native.struct_quantile("sketch", 0.5).alias("p50"),
        ).collect()
    }
    groups = {}
    for k, _, v in data:
        groups.setdefault(k, []).append(v)
    for k, values in groups.items():
        kernel = DDSketch(0.01).extend(values)
        assert got[k]["cnt"] == kernel.get_count()
        assert rel_eq(got[k]["p50"], kernel.quantile(0.5)), k


def test_wire_to_struct_roundtrip(spark):
    blobs = [
        (DDSketch(0.01).extend([1.0, 2.0, 3.0, 0.0, -4.5]).encode(),),
        (None,),
    ]
    df = spark.createDataFrame(blobs, "blob binary")
    out = df.select(native.wire_to_struct("blob").alias("s")).collect()
    s0 = out[0].s
    assert s0["count"] == 5.0
    assert s0["zero_count"] == 1.0
    assert len(s0["pos"]) == 3 and len(s0["neg"]) == 1
    assert out[1].s["count"] is None or out[1].s is None


def test_native_plan_has_partial_aggregation(spark, lineitem):
    """The binned aggregate must show partial_ functions (map-side combine)."""
    plan = native.binned_counts(
        lineitem, ["l_returnflag"], "l_extendedprice", 0.01
    )._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_merge_struct_sketches_rejects_gamma_mismatch(spark):
    """A group whose sketches use different mappings must merge to NULL
    (reference merge gate, datadog_encoding.rs:598-607), never to a silent
    sum over incompatible bins."""
    df = spark.createDataFrame(
        [("k", float(i)) for i in range(1, 21)], "k string, v double"
    )
    a = native.sketch_struct_agg(df, ["k"], "v", 0.01)
    b = native.sketch_struct_agg(df, ["k"], "v", 0.05)  # different gamma
    merged = native.merge_struct_sketches(a.unionAll(b), ["k"], "sketch")
    row = merged.first()
    assert row.sketch is None
    # compatible group still merges exactly
    ok = native.merge_struct_sketches(a.unionAll(a), ["k"], "sketch")
    r = ok.select(native.struct_count(F.col("sketch")).alias("c")).first()
    assert r.c == 40


def test_struct_to_wire_null_struct_encodes_null(spark):
    """pandas renders a NULL struct as NaN fields — must yield NULL bytes,
    not a garbage NaN-gamma sketch."""
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    s = native.sketch_struct_agg(df.withColumn("k", F.lit("k")), ["k"], "v", 0.01)
    nulled = s.selectExpr("k", "CASE WHEN false THEN sketch END AS sketch")
    out = nulled.select(native.struct_to_wire("sketch").alias("b")).first()
    assert out.b is None
    # and a real struct still encodes to decodable wire bytes
    good = s.select(native.struct_to_wire("sketch").alias("b")).first()
    assert DDSketch.decode(bytes(good.b)).get_count() == 2


def _huge_index_blob() -> bytes:
    """Decodable wire bytes whose one positive bin sits past int32."""
    s = DDSketch(0.01)
    s.gamma = 1.0
    s.positive_bins = {2**31 + 5: 1.0}
    return s.encode()


_GOOD_BLOBS = [
    DDSketch(0.01).extend([1.0 + i, 10.0 * i, -2.5 * i, 0.0]).encode()
    for i in range(6)
]
_BAD_BLOBS = {
    "huge_index": _huge_index_blob(),
    "truncated": _GOOD_BLOBS[1][:-3],
    "empty": b"",
    "null": None,
}


@pytest.mark.parametrize("bad", sorted(_BAD_BLOBS))
def test_malformed_blob_skipped_on_every_path(spark, bad):
    """One malformed row fails no task: the per-row count, the struct
    boundary, ``ddsketch_agg`` and ``merge_sketches_native`` skip or NULL the
    same row, and both group merges equal the kernel merge of the good rows."""
    from duckdb_ddsketch_spark.functions import ddsketch_agg, ddsketch_count
    from duckdb_ddsketch_spark.functions.aggregate import merge_sketches_native

    blobs = _GOOD_BLOBS + [_BAD_BLOBS[bad]]
    df = spark.createDataFrame(
        [("g", i, b) for i, b in enumerate(blobs)], "k string, i int, sketch binary"
    ).repartition(3)
    # the struct boundary renders an undecodable row as all-NULL fields
    per_row = {
        r.i: (r.c, r.s is None or r.s["gamma"] is None)
        for r in df.select(
            "i",
            ddsketch_count(F.col("sketch")).alias("c"),
            native.wire_to_struct("sketch").alias("s"),
        ).collect()
    }
    bad_count, bad_struct_null = per_row[len(_GOOD_BLOBS)]
    # a NULL count and a NULL struct mark the same rows; the empty blob is
    # an empty sketch on both (count 0), which merges as a no-op
    assert bad_struct_null == (bad_count is None)
    assert bad_count == (0 if bad == "empty" else None)
    for i, blob in enumerate(_GOOD_BLOBS):
        assert per_row[i] == (DDSketch.decode(blob).get_count(), False)

    expected = DDSketch.decode(_GOOD_BLOBS[0])
    for blob in _GOOD_BLOBS[1:]:
        expected.merge(DDSketch.decode(blob))
    udaf = df.groupBy("k").agg(ddsketch_agg("sketch").alias("sketch")).first()
    nat = merge_sketches_native(df, ["k"]).first()
    assert bytes(udaf.sketch) == expected.encode()
    assert bytes(nat.sketch) == expected.encode()


def test_struct_cdf_matches_kernel(spark):
    """Native CDF fold == kernel cdf == scalar UDF over the wire, across
    sign classes and thresholds."""
    import random

    from duckdb_ddsketch_spark.functions import scalar as fs

    rng = random.Random(11)
    values = [rng.uniform(-50, 200) for _ in range(500)] + [0.0] * 25
    df = spark.createDataFrame([(v,) for v in values], "v double")
    s = native.sketch_struct_agg(df.withColumn("k", F.lit("k")), ["k"], "v", 0.01)
    kernel = DDSketch(0.01).extend(values)
    thresholds = (-10.0, -0.5, 0.0, 0.5, 30.0, 1000.0)
    cols = [
        f"{native.struct_cdf_sql('sketch', t, alpha=0.01)} AS c{i}"
        for i, t in enumerate(thresholds)
    ]
    row = s.selectExpr(*cols).first()
    blob_df = spark.createDataFrame([(kernel.encode(),)], "b binary")
    for i, t in enumerate(thresholds):
        expect = kernel.cdf(t)
        assert rel_eq(row[f"c{i}"], expect), (t, row[f"c{i}"], expect)
        got = blob_df.select(
            fs.ddsketch_cdf(F.col("b"), F.lit(t)).alias("c")
        ).first().c
        assert rel_eq(got, expect), (t, got, expect)
    # empty sketch -> NULL
    empty = spark.createDataFrame([(DDSketch(0.01).encode(),)], "b binary")
    assert (
        empty.select(fs.ddsketch_cdf(F.col("b"), F.lit(1.0)).alias("c")).first().c
        is None
    )


def test_struct_histogram_totals_and_ranges(spark):
    values = [1.5, 2.5, 100.0, -3.0, 0.0, 0.0]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    s = native.sketch_struct_agg(df.withColumn("k", F.lit("k")), ["k"], "v", 0.01)
    rows = native.struct_histogram(s, ["k"]).collect()
    assert sum(r["count"] for r in rows) == len(values)
    zero = [r for r in rows if r.bin_lo == 0.0 and r.bin_hi == 0.0]
    assert len(zero) == 1 and zero[0]["count"] == 2.0
    for r in rows:
        assert r.bin_lo <= r.bin_hi
    # each positive value falls inside its bin's range
    pos_bins = sorted((r.bin_lo, r.bin_hi) for r in rows if r.bin_lo > 0)
    for v in (1.5, 2.5, 100.0):
        assert any(lo < v <= hi * (1 + 1e-12) for lo, hi in pos_bins), v
    neg_bins = [(r.bin_lo, r.bin_hi) for r in rows if r.bin_hi < 0]
    assert any(lo * (1 + 1e-12) <= -3.0 < hi for lo, hi in neg_bins)


def test_sketch_quantile_agg_rollup_levels_match_plain_aggs(spark):
    rows = [
        ("a", "d1", 1.0), ("a", "d1", 5.0), ("a", "d2", -2.0),
        ("b", "d1", 0.0), ("b", "d2", 100.0), ("b", "d2", 0.25),
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string, v double")
    out = native.sketch_quantile_agg(
        df, ["k1", "k2"], "v", 0.01, (0.5, 0.9), rollup=True
    ).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], {})[(r["k1"], r["k2"])] = r
    assert set(by_gid) == {0, 1, 3}
    assert len(by_gid[0]) == 4 and len(by_gid[1]) == 2 and len(by_gid[3]) == 1

    def key_of(r, keys):
        return tuple(r[k] for k in keys)

    for keys, gid in ((["k1", "k2"], 0), (["k1"], 1), ([], 3)):
        plain = native.sketch_quantile_agg(df, keys, "v", 0.01, (0.5, 0.9))
        for p in plain.collect():
            got = by_gid[gid][key_of(p, keys) + (None,) * (2 - len(keys))]
            for c in ("count", "sum", "min", "max", "p50", "p90"):
                assert got[c] == p[c], (gid, c, got[c], p[c])
    # rolled-up key columns are NULL at coarser levels
    assert all(r["k2"] is None for r in out if r["gid"] == 1)


def test_sketch_quantile_agg_rollup_requires_keys(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        native.sketch_quantile_agg(df, [], "v", rollup=True)


def test_sketch_quantile_agg_cube_covers_all_subsets(spark):
    rows = [
        ("a", "d1", 1.0), ("a", "d2", 5.0), ("b", "d1", 2.0), ("b", "d2", 8.0),
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string, v double")
    out = native.sketch_quantile_agg(
        df, ["k1", "k2"], "v", 0.01, (0.5,), rollup="cube"
    ).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], {})[(r["k1"], r["k2"])] = r
    # cube adds gid=2: grouped by k2 only (k1 rolled up)
    assert set(by_gid) == {0, 1, 2, 3}
    assert len(by_gid[2]) == 2
    plain_k2 = native.sketch_quantile_agg(df, ["k2"], "v", 0.01, (0.5,))
    for p in plain_k2.collect():
        got = by_gid[2][(None, p["k2"])]
        assert (got["count"], got["p50"]) == (p["count"], p["p50"])


def test_native_path_skips_non_finite_matching_kernel(spark):
    import numpy as np

    base = [1.0, -2.0, 0.0, 50.0, None]
    dirty = [float("nan"), float("inf"), float("-inf")]
    df = spark.createDataFrame([(v,) for v in base + dirty], "v double")
    out = native.sketch_quantile_agg(
        df.withColumn("k", F.lit("k")), ["k"], "v", 0.01, (0.5, 1.0)
    ).first()
    kernel = DDSketch(0.01).extend_array(
        np.array([v for v in base if v is not None] + dirty)
    )
    assert out["count"] == kernel.count == 4
    assert out["p50"] == kernel.quantile(0.5)
    assert out["p100"] == kernel.quantile(1.0)


def test_trailing_sketch_quantile_agg_matches_brute_force(spark):
    import itertools

    data = {
        ("a", 1): [1.0, 2.0], ("a", 2): [5.0], ("a", 3): [100.0, -1.0],
        ("a", 10): [7.0], ("b", 1): [3.0], ("b", 5): [0.0, 9.0],
    }
    rows = [(k, d, v) for (k, d), vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "k string, day long, v double")
    out = native.trailing_sketch_quantile_agg(
        df, ["k"], "v", "day", trailing=3, quantiles=(0.5, 1.0)
    )
    got = {(r["k"], r["day"]): (r["count"], r["p50"], r["p100"]) for r in out.collect()}
    # exactly the (key, day) points present in the input — no synthetic days
    assert set(got) == set(data)
    for (k, d) in data:
        vals = list(itertools.chain.from_iterable(
            v for (k2, d2), v in data.items() if k2 == k and d - 2 <= d2 <= d
        ))
        exp = DDSketch(0.01).extend(vals)
        assert got[(k, d)] == (exp.count, exp.quantile(0.5), exp.quantile(1.0)), (k, d)


def test_trailing_sketch_quantile_agg_rejects_bad_window(spark):
    df = spark.createDataFrame([(1, 1.0)], "day long, v double")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        native.trailing_sketch_quantile_agg(df, [], "v", "day", trailing=0)


def test_sketch_quantile_agg_multi_matches_per_metric(spark):
    rows = [("x", 1.0, 10.0), ("x", 2.0, 20.0), ("y", -3.0, 0.0)]
    df = spark.createDataFrame(rows, "k string, a double, b double")
    out = native.sketch_quantile_agg_multi(df, ["k"], ["a", "b"], quantiles=(0.5,))
    got = {(r["k"], r["metric"]): (r["count"], r["p50"]) for r in out.collect()}
    for m in ("a", "b"):
        plain = native.sketch_quantile_agg(df, ["k"], m, 0.01, (0.5,))
        for p in plain.collect():
            assert got[(p["k"], m)] == (p["count"], p["p50"]), (m, p["k"])


def test_struct_trimmed_mean_matches_kernel(spark):
    """Native trimmed-mean fold == kernel == scalar UDF over the wire,
    across sign classes and rank windows; (0, 1) is the bin-math mean and
    the interquartile mean tracks the exact trimmed mean within O(alpha)."""
    import random

    from duckdb_ddsketch_spark.functions import scalar as fs

    rng = random.Random(13)
    values = [rng.uniform(-50, 200) for _ in range(800)] + [0.0] * 40
    df = spark.createDataFrame([(v,) for v in values], "v double")
    s = native.sketch_struct_agg(df.withColumn("k", F.lit("k")), ["k"], "v", 0.01)
    kernel = DDSketch(0.01).extend(values)
    windows = ((0.25, 0.75), (0.0, 1.0), (0.1, 0.2), (0.0, 0.5), (0.9, 1.0))
    cols = [
        f"{native.struct_trimmed_mean_sql('sketch', lo, hi)} AS m{i}"
        for i, (lo, hi) in enumerate(windows)
    ]
    row = s.selectExpr(*cols).first()
    blob_df = spark.createDataFrame([(kernel.encode(),)], "b binary")
    for i, (lo, hi) in enumerate(windows):
        expect = kernel.trimmed_mean(lo, hi)
        assert expect is not None
        assert rel_eq(row[f"m{i}"], expect), (lo, hi, row[f"m{i}"], expect)
        got = (
            blob_df.select(
                fs.ddsketch_trimmed_mean(
                    F.col("b"), F.lit(lo), F.lit(hi)
                ).alias("m")
            )
            .first()
            .m
        )
        assert rel_eq(got, expect), (lo, hi, got, expect)

    # (0,1) == bin-math mean (sum of representative*count / count)
    full = kernel.trimmed_mean(0.0, 1.0)
    rep_sum = (
        sum(-kernel.bin_to_value(i) * c for i, c in kernel.negative_bins.items())
        + sum(kernel.bin_to_value(i) * c for i, c in kernel.positive_bins.items())
    )
    assert rel_eq(full, rep_sum / kernel.count)

    # interquartile mean is within ~2*alpha of the exact one
    sv = sorted(values)
    n = len(sv)
    exact_iqm_vals = sv[int(0.25 * n): int(0.75 * n)]
    exact = sum(exact_iqm_vals) / len(exact_iqm_vals)
    approx = kernel.trimmed_mean(0.25, 0.75)
    scale = max(abs(v) for v in sv)
    assert abs(approx - exact) <= 0.03 * scale, (approx, exact)

    # NULL semantics: empty sketch, empty/invalid windows
    assert kernel.trimmed_mean(0.5, 0.5) is None
    assert kernel.trimmed_mean(-0.1, 0.5) is None
    assert DDSketch(0.01).trimmed_mean() is None
    empty = spark.createDataFrame([(DDSketch(0.01).encode(),)], "b binary")
    assert (
        empty.select(
            fs.ddsketch_trimmed_mean(F.col("b"), F.lit(0.25), F.lit(0.75)).alias("m")
        )
        .first()
        .m
        is None
    )


def _pct_ref(vals, v, gamma):
    """Bin-granular CDF reference: P[x <= upper edge of v's bin]."""
    import math as _m

    def b(x):
        return _m.ceil(_m.log(x) / _m.log(gamma))

    if v is None or not _m.isfinite(v):
        return None
    finite = [x for x in vals if x is not None and _m.isfinite(x)]
    neg = [x for x in finite if x < 0]
    zero = [x for x in finite if x == 0]
    pos = [x for x in finite if x > 0]
    if v > 0:
        le = len(neg) + len(zero) + sum(1 for x in pos if b(x) <= b(v))
    elif v == 0:
        le = len(neg) + len(zero)
    else:
        le = sum(1 for x in neg if b(-x) >= b(-v))
    return le / len(finite)


def test_percentile_rank_matches_reference(spark):
    """percentile_rank = bin-granular within-group CDF position: exact
    count ratios, NULL/NaN rank NULL, all three sign classes, grouped
    and ungrouped forms."""
    gamma = native.gamma_of(0.02)
    groups = {
        "a": [1.0, 2.0, 2.01, 50.0, -3.0, 0.0, None],
        "b": [5.0, 5.0, -1.0, -1.001, 0.0, float("nan")],
    }
    rows = [
        (g, i, v)
        for g, vs in groups.items()
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "grp string, i int, v double").repartition(3)
    got = {
        (r.grp, r.i): r.pr
        for r in native.percentile_rank(
            df, "v", ["grp"], alpha=0.02, out_col="pr"
        ).collect()
    }
    for g, vs in groups.items():
        for i, v in enumerate(vs):
            ref = _pct_ref(vs, v, gamma)
            if ref is None:
                assert got[(g, i)] is None, (g, i, v)
            else:
                assert got[(g, i)] == ref, (g, i, v, got[(g, i)], ref)

    # ungrouped: one global distribution
    flat = [v for vs in groups.values() for v in vs]
    gf = {
        r.i: r.pr
        for r in native.percentile_rank(
            spark.createDataFrame(
                [(i, v) for i, v in enumerate(flat)], "i int, v double"
            ),
            "v",
            out_col="pr",
        ).collect()
    }
    for i, v in enumerate(flat):
        ref = _pct_ref(flat, v, native.gamma_of())
        assert gf[i] == ref or (ref is None and gf[i] is None), (i, v)


def test_percentile_rank_is_plan_only(spark, monkeypatch):
    """Building the percentile_rank frame must trigger NO Spark action:
    the old path peeked the bins table's gamma via .first(), which
    executed the whole calibration aggregation over the input once and
    recomputed it (uncached) when the probe join ran — two input scans
    where the docstring promises one. alpha is known here, so the probe
    gamma is derived, not peeked (the peek stays for externally supplied
    tables in percentile_lookup)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("percentile_rank must not run an action at plan time")

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "grp string, v double")
    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    out = native.percentile_rank(df, "v", ["grp"], out_col="pr")
    monkeypatch.undo()
    assert {r.v: r.pr for r in out.collect()} == {1.0: 0.5, 2.0: 1.0}


def test_percentile_rank_weighted_and_collision(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (10.0, 1.0), (100.0, 0.0)], "v double, w double"
    )
    # weight 0 row excluded from the distribution; its bin (100) absent
    # -> NULL rank, while v=1 (2/3 of mass) and v=10 (3/3) rank exactly
    got = {
        r.v: r.pr
        for r in native.percentile_rank(
            df, "v", weight="w", out_col="pr"
        ).collect()
    }
    assert got[1.0] == pytest.approx(2.0 / 3.0)
    assert got[10.0] == 1.0
    assert got[100.0] is None
    with pytest.raises(ValueError, match="already exists"):
        native.percentile_rank(df, "v", out_col="w")


def test_percentile_rank_nonfinite_values_rank_null(spark):
    """+/-inf and NaN must rank NULL, not fail the job: the probe-side
    bin CAST is finite-guarded (ANSI CAST(CEIL(LN(inf)..) AS INT)
    overflows — one malformed row must never take out a 100 TB pass)."""
    df = spark.createDataFrame(
        [
            (1, 1.0),
            (2, float("inf")),
            (3, float("nan")),
            (4, float("-inf")),
            (5, 2.0),
        ],
        "i long, v double",
    )
    got = {r.i: r.pct_rank for r in native.percentile_rank(df, "v").collect()}
    assert got[2] is None and got[3] is None and got[4] is None
    assert got[1] == 0.5 and got[5] == 1.0


def test_quantile_normalize_matches_reference(spark):
    """quantile_normalize = reference value at the row's within-group
    percentile: for each source row, the representative value of the
    FIRST reference bin whose CDF fraction >= the row's fraction."""
    import math as _m

    gamma = native.gamma_of(0.02)
    mult = 1.0 + (1.0 - 2.0 / (1.0 + gamma))

    def b(x):
        return _m.ceil(_m.log(x) / _m.log(gamma))

    def rep(sign, bn):
        if sign == 0:
            return 0.0
        return sign * (gamma ** float(bn)) * mult

    def ref_table(vals):
        finite = sorted(
            [x for x in vals if x is not None and _m.isfinite(x)]
        )
        bins = []  # value-ordered (sign, bin) with counts
        for x in finite:
            key = (
                (1, b(x)) if x > 0 else ((-1, b(-x)) if x < 0 else (0, None))
            )
            if bins and bins[-1][0] == key:
                bins[-1][1] += 1
            else:
                bins.append([key, 1])
        out, cum = [], 0
        for key, cnt in bins:
            cum += cnt
            out.append((cum / len(finite), rep(key[0], key[1])))
        return out

    def expect(vals_group, v, ref):
        q = _pct_ref(vals_group, v, gamma)
        if q is None:
            return None
        return next(rv for f, rv in ref if f >= q)

    groups = {
        "a": [1.0, 2.0, 2.01, 50.0, -3.0, 0.0, None],
        "b": [5.0, 5.0, -1.0, -1.001, 0.0, float("nan")],
    }
    ref_vals = [10.0, 20.0, 30.0, -4.0, 0.0, 40.0, 41.0, 42.0]
    rows = [
        (g, i, v) for g, vs in groups.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "grp string, i int, v double").repartition(3)
    ref_df = spark.createDataFrame(
        [(float(v),) for v in ref_vals], "v double"
    )
    rb = native.percentile_bins(ref_df, "v", alpha=0.02)
    got = {
        (r.grp, r.i): r.qn
        for r in native.quantile_normalize(
            df, "v", ["grp"], ref_bins=rb, alpha=0.02, out_col="qn"
        ).collect()
    }
    ref = ref_table(ref_vals)
    for g, vs in groups.items():
        for i, v in enumerate(vs):
            exp = expect(vs, v, ref)
            if exp is None:
                assert got[(g, i)] is None, (g, i, v)
            else:
                assert got[(g, i)] == pytest.approx(exp, rel=1e-12), (
                    g, i, v, got[(g, i)], exp,
                )

    # self-reference, single group: normalizing onto itself maps every
    # value to its OWN bin's representative (rank-preserving identity at
    # bin granularity)
    flat = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1.0, 4.0, 9.0, 16.0, 25.0])],
        "i int, v double",
    )
    own = {
        r.i: r.qn
        for r in native.quantile_normalize(
            flat, "v", alpha=0.02, out_col="qn"
        ).collect()
    }
    for i, v in enumerate([1.0, 4.0, 9.0, 16.0, 25.0]):
        assert own[i] == pytest.approx(rep(1, b(v)), rel=1e-12)

    # ungrouped ref typing mismatch guard
    grouped_bins = native.percentile_bins(df, "v", ["grp"], alpha=0.02)
    with pytest.raises(ValueError, match="UNGROUPED"):
        native.quantile_normalize(df, "v", ["grp"], ref_bins=grouped_bins)


def test_quantile_normalize_mixed_alpha_reference(spark):
    """A reference built at a DIFFERENT alpha must still decode correct
    values: bin indices are decoded with the ref table's own gamma
    column, not the call's alpha (fractions are alpha-independent)."""
    import math as _m

    ref_vals = [10.0, 100.0, 1000.0]
    ref_df = spark.createDataFrame([(v,) for v in ref_vals], "v double")
    rb = native.percentile_bins(ref_df, "v", alpha=0.001)  # fine bins
    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 3.0)], "i int, v double"
    )
    got = {
        r.i: r.qn
        for r in native.quantile_normalize(
            df, "v", ref_bins=rb, alpha=0.01, out_col="qn"
        ).collect()
    }
    g_ref = native.gamma_of(0.001)
    mult = 1.0 + (1.0 - 2.0 / (1.0 + g_ref))

    def rep(x):
        return g_ref ** float(_m.ceil(_m.log(x) / _m.log(g_ref))) * mult

    # i=0 -> q=1/3 -> first ref bin (10); i=1 -> 2/3 -> 100; i=2 -> 1000
    assert got[0] == pytest.approx(rep(10.0), rel=1e-9)
    assert got[1] == pytest.approx(rep(100.0), rel=1e-9)
    assert got[2] == pytest.approx(rep(1000.0), rel=1e-9)


def test_percentile_machinery_property_sweep(spark):
    """Randomized grouped sweep: ranks match the Python bin-granular
    reference exactly, are monotone in value within each group, every
    group max ranks exactly 1.0, and quantile_normalize(self-reference,
    ungrouped) returns each value's own bin representative — across
    random sizes, partitionings, and sign mixes (explicit loop: a
    session fixture and @given compose badly)."""
    import math as _m
    import random

    gamma = native.gamma_of()
    for trial in range(6):
        rng = random.Random(1000 + trial)
        n_groups = rng.randint(1, 4)
        rows = []
        vals = {g: [] for g in range(n_groups)}
        for i in range(rng.randint(5, 120)):
            g = rng.randrange(n_groups)
            kind = rng.random()
            if kind < 0.1:
                v = None
            elif kind < 0.2:
                v = 0.0
            elif kind < 0.4:
                v = -round(rng.uniform(0.01, 100), 3)
            else:
                v = round(rng.uniform(0.01, 1000), 3)
            rows.append((g, len(rows), v))
            vals[g].append(v)
        df = spark.createDataFrame(
            rows, "g int, i int, v double"
        ).repartition(rng.randint(1, 7))
        got = {
            r.i: r.pr
            for r in native.percentile_rank(
                df, "v", ["g"], out_col="pr"
            ).collect()
        }
        by_group = {}
        for g, i, v in rows:
            ref = _pct_ref(vals[g], v, gamma)
            assert got[i] == ref or (ref is None and got[i] is None), (
                trial, g, i, v, got[i], ref,
            )
            if v is not None:
                by_group.setdefault(g, []).append((v, got[i]))
        for g, pairs in by_group.items():
            pairs.sort()
            ranks = [p for _, p in pairs]
            assert ranks == sorted(ranks), (trial, g, "monotonicity")
            assert ranks[-1] == 1.0, (trial, g, "max must rank 1.0")

        # self-reference quantile_normalize (ungrouped): every POSITIVE
        # value maps to its own bin's representative
        mult = 1.0 + (1.0 - 2.0 / (1.0 + gamma))
        qn = {
            r.i: r.qn
            for r in native.quantile_normalize(
                df, "v", out_col="qn"
            ).collect()
        }
        flat = [v for vs in vals.values() for v in vs]
        for g, i, v in rows:
            if v is not None and v > 0 and v >= max(
                x for x in flat if x is not None
            ):
                b = _m.ceil(_m.log(v) / _m.log(gamma))
                assert qn[i] == pytest.approx(
                    gamma ** float(b) * mult, rel=1e-12
                ), (trial, i, v)
            if v is None:
                assert qn[i] is None


def test_percentile_lookup_uses_table_gamma(spark):
    """A calibration built at a different alpha than the scoring call
    must still match: probe bins derive from the table's own gamma
    column (previously every rank silently came back NULL)."""
    calib = spark.createDataFrame(
        [(float(v),) for v in (1.0, 2.0, 4.0, 8.0)], "v double"
    )
    bins = native.percentile_bins(calib, "v", alpha=0.001)
    df = spark.createDataFrame([(0, 2.0), (1, 8.0)], "i int, v double")
    got = {
        r.i: r.pr
        for r in native.percentile_lookup(
            df, bins, "v", alpha=0.05, out_col="pr"
        ).collect()
    }
    assert got[0] == 0.5 and got[1] == 1.0
