"""The MIGRATION.md examples must run verbatim: a reference user's SQL,
pasted into spark.sql after register_ddsketch_functions, works."""

import pytest
from pyspark.sql import functions as F

from duckdb_ddsketch_spark import DDSketch


@pytest.fixture(scope="module")
def fixtures(spark):
    rows = []
    for svc in ("api-gateway", "web"):
        for hour in (0, 1, 2):
            s = DDSketch(0.01).extend(
                float(v + hour) for v in range(1, 21)
            )
            rows.append((svc, hour, s.encode()))
    spark.createDataFrame(
        rows, "service string, hour int, latency_sketch binary"
    ).createOrReplaceTempView("hourly_latency_sketches")
    # regional 1-row table with four sketch columns
    cols = {
        name: DDSketch(0.01).extend([base, base * 2.0]).encode()
        for name, base in (
            ("us_east", 10.0),
            ("us_west", 20.0),
            ("eu_west", 30.0),
            ("ap_south", 40.0),
        )
    }
    spark.createDataFrame(
        [tuple(cols.values())], "us_east binary, us_west binary, eu_west binary, ap_south binary"
    ).createOrReplaceTempView("regional_metrics")


def test_scalar_surface_sql(spark, fixtures):
    out = spark.sql(
        """
        SELECT
          ddsketch_quantile(latency_sketch, 0.99d) AS p99,
          ddsketch_count(latency_sketch)           AS cnt,
          ddsketch_min(latency_sketch) AS mn, ddsketch_max(latency_sketch) AS mx,
          ddsketch_sum(latency_sketch) AS sm, ddsketch_avg(latency_sketch) AS av,
          ddsketch_stats(latency_sketch).count     AS stats_count
        FROM hourly_latency_sketches
        """
    ).collect()
    assert len(out) == 6
    assert all(r.cnt == 20 and r.stats_count == 20 for r in out)
    assert all(r.p99 is not None and r.mn < r.mx for r in out)


def test_create_table_function_sql(spark, fixtures):
    """The reference README's first query runs VERBATIM: ddsketch_create
    is a Python UDTF (reference src/lib.rs:53-113 — one (sketch BLOB)
    row, optional α defaulting to 0.01). Closed deviation #1 (round 11,
    PySpark 4 spark.udtf.register). The no-arg form, the α form, and the
    scalar expression-position form all produce identical wire bytes."""
    tvf = spark.sql("SELECT sketch FROM ddsketch_create(0.01)").collect()
    assert len(tvf) == 1
    tvf_default = spark.sql("SELECT sketch FROM ddsketch_create()").collect()
    assert len(tvf_default) == 1
    scalar = spark.sql("SELECT ddsketch_empty(0.01d) AS sketch").first()
    expected = DDSketch(0.01).encode()
    assert bytes(tvf[0].sketch) == expected
    assert bytes(tvf_default[0].sketch) == expected
    assert bytes(scalar.sketch) == expected
    # non-default accuracy flows through the bind parameter
    loose = spark.sql("SELECT sketch FROM ddsketch_create(0.05)").first()
    assert bytes(loose.sketch) == DDSketch(0.05).encode() != expected
    # and the emitted blob is a live sketch: add + quantile round-trips
    got = spark.sql(
        """
        SELECT ddsketch_quantile(ddsketch_add(sketch, 42.0d), 0.5d) AS p50
        FROM ddsketch_create(0.01)
        """
    ).first()
    assert abs(got.p50 - 42.0) / 42.0 < 0.02


def test_nested_region_merge_sql(spark, fixtures):
    out = spark.sql(
        """
        SELECT ddsketch_merge(ddsketch_merge(us_east, us_west),
                              ddsketch_merge(eu_west, ap_south)) AS global_sketch
        FROM regional_metrics
        """
    ).first()
    s = DDSketch.decode(bytes(out.global_sketch))
    assert s.count == 8.0


def test_rollup_sql(spark, fixtures):
    out = spark.sql(
        """
        SELECT service,
               ddsketch_count(ddsketch_agg(latency_sketch)) AS total_count,
               ddsketch_quantile(ddsketch_agg(latency_sketch), 0.95d) AS p95
        FROM hourly_latency_sketches
        WHERE service = 'api-gateway'
        GROUP BY service
        """
    ).collect()
    assert len(out) == 1
    assert out[0].total_count == 60
    assert out[0].p95 is not None


def test_stats_agg_composed_sql(spark, fixtures):
    out = spark.sql(
        """
        SELECT service, ddsketch_stats_full(ddsketch_agg(latency_sketch)) AS stats
        FROM hourly_latency_sketches GROUP BY service
        """
    ).select("service", "stats.count", "stats.p50", "stats.sketch").collect()
    assert len(out) == 2
    for r in out:
        assert r["count"] == 60
        assert r["p50"] is not None
        assert DDSketch.decode(bytes(r["sketch"])).count == 60.0


def test_cdf_sql_surface(spark, fixtures):
    """MIGRATION §9: ddsketch_cdf through spark.sql, empty -> NULL."""
    row = spark.sql(
        """
        WITH s AS (SELECT ddsketch_prepare(10.0d, 0.01d) AS sk)
        SELECT ddsketch_cdf(sk, 10.0d) AS at10,
               ddsketch_cdf(sk, 5.0d) AS at5,
               ddsketch_cdf(ddsketch_empty(0.01d), 1.0d) AS empty
        FROM s
        """
    ).first()
    assert row.at10 == 1.0
    assert row.at5 == 0.0
    assert row.empty is None


def test_merge_sketches_native_example(spark, fixtures):
    """MIGRATION.md §4's scale-merge example runs verbatim and matches the
    plain UDAF fold."""
    from duckdb_ddsketch_spark.functions.aggregate import merge_sketches_native

    df = spark.table("hourly_latency_sketches")
    out = {
        r.service: DDSketch.decode(bytes(r.latency_sketch))
        for r in merge_sketches_native(
            df, ["service"], "latency_sketch"
        ).collect()
    }
    ref = {
        r.service: DDSketch.decode(bytes(r.s))
        for r in spark.sql(
            "SELECT service, ddsketch_agg(latency_sketch) AS s"
            " FROM hourly_latency_sketches GROUP BY service"
        ).collect()
    }
    assert set(out) == set(ref)
    for k in ref:
        assert out[k].count == ref[k].count
        assert out[k].positive_bins == ref[k].positive_bins


def test_ingest_paths_ranked_example(spark, fixtures):
    """MIGRATION.md §2's two ranked ingest paths agree on the same data:
    native quantiles equal the quantiles of the native wire blobs, and those
    blobs are byte-identical to the grouped-agg ``sketch_values_agg`` ones."""
    from duckdb_ddsketch_spark.functions.aggregate import sketch_values_agg
    from duckdb_ddsketch_spark.operators import native

    rows = [("api", float(v)) for v in range(1, 101)] + [
        ("web", float(v * 3)) for v in range(1, 51)
    ]
    df = spark.createDataFrame(rows, "service string, latency double")
    nat = {
        r["service"]: (r["count"], r["p50"])
        for r in native.sketch_quantile_agg(
            df, ["service"], "latency", 0.01, (0.5,)
        ).collect()
    }
    per_group = native.sketch_struct_agg(df, ["service"], "latency", alpha=0.01)
    wire_df = per_group.select(
        "service", native.struct_to_wire("sketch").alias("sketch")
    )
    wire = {
        r["service"]: (r["count"], r["p50"], bytes(r["sketch"]))
        for r in wire_df.select(
            "service",
            "sketch",
            F.expr("ddsketch_count(sketch) AS count"),
            F.expr("ddsketch_quantile(sketch, 0.5d) AS p50"),
        ).collect()
    }
    simple = {
        r["service"]: bytes(r["sketch"])
        for r in df.groupBy("service")
        .agg(sketch_values_agg(F.col("latency"), 0.01).alias("sketch"))
        .collect()
    }
    assert set(nat) == set(wire) == set(simple)
    for k in nat:
        assert nat[k][0] == wire[k][0]
        assert abs(nat[k][1] - wire[k][1]) <= 1e-9 * max(1.0, abs(nat[k][1]))
        assert wire[k][2] == simple[k]


def test_reference_readme_stats_agg_verbatim(spark, fixtures):
    """The reference README's ddsketch_stats_agg examples, pasted verbatim
    (README.md:266-291 of the reference): the single registered name —
    round-5 session macro — including the outer field-access form with
    every documented struct field."""
    out = {
        r["service"]: r
        for r in spark.sql(
            """
            SELECT
                service,
                ddsketch_stats_agg(latency_sketch) as stats
            FROM hourly_latency_sketches
            GROUP BY service
            """
        ).collect()
    }
    assert set(out) == {"api-gateway", "web"}

    rows = spark.sql(
        """
        SELECT
            service,
            stats.count,
            stats.sum,
            stats.avg,
            stats.min,
            stats.max,
            stats.p50,
            stats.p95,
            stats.p99
        FROM (
            SELECT service, ddsketch_stats_agg(latency_sketch) as stats
            FROM hourly_latency_sketches
            GROUP BY service
        )
        """
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["count"] == 60
        # values 1..20 (+hour): bin-math stats stay near the exact range
        assert 0.9 <= r["min"] <= 1.2
        assert 20 <= r["max"] <= 23.5
        assert r["p50"] < r["p95"] < r["p99"] <= r["max"] * 1.01
        assert abs(r["avg"] - r["sum"] / r["count"]) < 1e-9
    # the full documented field list is present on the struct
    schema = spark.sql(
        "SELECT ddsketch_stats_agg(latency_sketch) AS stats"
        " FROM hourly_latency_sketches"
    ).schema["stats"].dataType.fieldNames()
    for f in ("sketch", "count", "sum", "avg", "min", "max",
              "p25", "p50", "p75", "p90", "p95", "p99"):
        assert f in schema, f


def test_reference_readme_folding_verbatim(spark, fixtures):
    """Reference README 'Folding Sketches Across Rows' example verbatim
    (README.md:172-186): scalar functions nested over ddsketch_agg in
    plain SQL."""
    rows = spark.sql(
        """
        SELECT
            service,
            ddsketch_count(ddsketch_agg(latency_sketch)) as total_count,
            ddsketch_quantile(ddsketch_agg(latency_sketch), 0.95) as p95
        FROM hourly_latency_sketches
        WHERE service = 'api-gateway'
        GROUP BY service
        """
    ).collect()
    assert len(rows) == 1
    assert rows[0]["total_count"] == 60.0
    # 3 hours x values 1..20 (+hour): p95 sits near the top of the range
    assert 18.0 <= rows[0]["p95"] <= 23.5


def test_stats_agg_filter_clause(spark, fixtures):
    """``... FILTER (WHERE cond)`` — the reference's host engine accepts
    the clause on any aggregate; Spark pandas UDAFs reject it, so the
    session macro folds it into the aggregate input as CASE WHEN (exact:
    ddsketch_agg skips NULL inputs). Both ddsketch_stats_agg and
    ddsketch_agg take the fold; results must equal the WHERE form."""
    filtered = spark.sql(
        """
        SELECT service,
               ddsketch_stats_agg(latency_sketch)
                   FILTER (WHERE hour < 2) AS stats,
               ddsketch_count(
                   ddsketch_agg(latency_sketch) FILTER (WHERE hour < 2)
               ) AS cnt
        FROM hourly_latency_sketches
        GROUP BY service
        """
    ).collect()
    plain = spark.sql(
        """
        SELECT service,
               ddsketch_stats_agg(latency_sketch) AS stats,
               ddsketch_count(ddsketch_agg(latency_sketch)) AS cnt
        FROM hourly_latency_sketches
        WHERE hour < 2
        GROUP BY service
        """
    ).collect()
    f = {r["service"]: r for r in filtered}
    p = {r["service"]: r for r in plain}
    assert set(f) == set(p) == {"api-gateway", "web"}
    for svc in f:
        assert f[svc]["cnt"] == p[svc]["cnt"] == 40.0
        assert f[svc]["stats"]["count"] == p[svc]["stats"]["count"]
        assert f[svc]["stats"]["p95"] == p[svc]["stats"]["p95"]
        assert f[svc]["stats"]["sketch"] == p[svc]["stats"]["sketch"]


def test_stats_agg_filter_all_rows_filtered(spark, fixtures):
    """A group whose every row fails the FILTER condition aggregates only
    NULLs -> NULL sketch -> NULL count: exactly what the reference's host
    engine returns for an aggregate over zero post-FILTER rows."""
    rows = spark.sql(
        """
        SELECT service,
               ddsketch_count(
                   ddsketch_agg(latency_sketch) FILTER (WHERE hour > 99)
               ) AS cnt
        FROM hourly_latency_sketches
        GROUP BY service
        """
    ).collect()
    assert {r["cnt"] for r in rows} == {None}


def test_stats_agg_distinct_raises_clearly(spark, fixtures):
    """DISTINCT inside either aggregate raises a clear, function-named
    error (Spark pandas UDAFs cannot dedup; without the macro the user
    would see an opaque 'pythonudaf does not support DISTINCT')."""
    for fn in ("ddsketch_stats_agg", "ddsketch_agg"):
        with pytest.raises(ValueError, match=fn + r"\(DISTINCT"):
            spark.sql(
                f"SELECT {fn}(DISTINCT latency_sketch)"
                " FROM hourly_latency_sketches"
            )


def test_rewrite_filter_string_and_comment_safety():
    """The FILTER fold is string/comment-aware like the base rewrite."""
    from duckdb_ddsketch_spark.functions.rewrite import rewrite_stats_agg

    out = rewrite_stats_agg(
        "SELECT ddsketch_agg(s) FILTER (WHERE note <> 'FILTER (') AS x,"
        " ddsketch_stats_agg(s) /* FILTER: just a comment */ AS y FROM t"
    )
    assert (
        "ddsketch_agg(CASE WHEN note <> 'FILTER ('\n THEN s END) AS x"
        in out
    )
    assert (
        "ddsketch_stats_full(ddsketch_agg(s)) /* FILTER: just a comment */"
        in out
    )
    # a string literal mentioning the names is untouched
    s = "SELECT 'use ddsketch_stats_agg(DISTINCT x) FILTER' AS doc FROM t"
    assert rewrite_stats_agg(s) == s


def test_rewrite_backslash_escaped_quote_in_literal(spark, fixtures):
    """Code-review r8 pass 4: Spark's default parser honors backslash
    escapes in string literals ('don\\'t'); the span scanner ended the
    string at the escaped quote, inverting string/code regions so a
    later ddsketch_stats_agg was never rewritten (undefined function)."""
    from duckdb_ddsketch_spark.functions.rewrite import rewrite_stats_agg

    sql = (
        "SELECT 'don\\'t' AS note, ddsketch_stats_agg(latency_sketch) AS st"
        " FROM hourly_latency_sketches"
    )
    out = rewrite_stats_agg(sql)
    assert "ddsketch_stats_full(ddsketch_agg(latency_sketch))" in out
    # and it executes end-to-end through the session wrapper
    row = spark.sql(sql).collect()[0]
    assert row.note == "don't" and row.st["count"] > 0
    # conversely: the name INSIDE an escaped literal stays untouched
    s2 = "SELECT 'it\\'s ddsketch_stats_agg(x)' AS doc FROM hourly_latency_sketches"
    assert rewrite_stats_agg(s2) == s2


def test_rewrite_filter_comment_edge_cases(spark, fixtures):
    """Round-6 review regressions: (1) a line comment inside the FILTER
    condition must not comment out the spliced THEN; (2) a comment
    between the call and FILTER must not detach the clause; (3) an
    identifier merely starting with FILTER is not the keyword."""
    from duckdb_ddsketch_spark.functions.rewrite import rewrite_stats_agg

    # (1) line comment inside cond: rewritten SQL must still parse and
    # produce the filtered count
    rows = spark.sql(
        "SELECT service, ddsketch_count(\n"
        "  ddsketch_agg(latency_sketch)"
        " FILTER (WHERE service = 'api-gateway' -- keep api only\n"
        "  )\n"
        ") AS cnt FROM hourly_latency_sketches GROUP BY service"
        " ORDER BY service"
    ).collect()
    assert any(r["cnt"] is not None for r in rows)

    # the macro itself emits a newline-terminated splice
    out = rewrite_stats_agg(
        "SELECT ddsketch_agg(s) FILTER (WHERE c > 1 -- note\n) AS x FROM t"
    )
    assert "-- note\n THEN s END" in out.replace("-- note \n", "-- note\n")

    # (2) block comment between ')' and FILTER: the clause still folds
    out = rewrite_stats_agg(
        "SELECT ddsketch_stats_agg(s) /* note */ FILTER (WHERE c) FROM t"
    )
    assert "FILTER" not in out.split("--")[0].replace(
        "/* note */", ""
    ) or "CASE WHEN" in out
    assert "ddsketch_stats_full(ddsketch_agg(CASE WHEN c" in out

    # (3) FILTERED identifier after the call is untouched
    q = "SELECT ddsketch_agg(s), FILTERED (x) FROM t"
    assert rewrite_stats_agg(q) == q

    # (4) a rewritable call NESTED inside another call's FILTER condition
    # must splice cleanly (stale-coordinate batch splicing corrupted this)
    out = rewrite_stats_agg(
        "SELECT ddsketch_stats_agg(a) FILTER (WHERE b > "
        "(SELECT ddsketch_stats_agg(c) FROM u)) FROM t"
    )
    assert out.count("ddsketch_stats_full(ddsketch_agg(") == 2
    assert "FILTER" not in out and "gg(c)) FROM u)) FROM t)" not in out

    # (5) comment between '(' and WHERE inside the FILTER parens
    out = rewrite_stats_agg(
        "SELECT ddsketch_stats_agg(s) FILTER (/* keep */ WHERE c) FROM t"
    )
    assert "FILTER" not in out
    assert "ddsketch_stats_full(ddsketch_agg(CASE WHEN c" in out


def test_rewrite_distinct_after_comment_still_raises():
    """ADVICE r6: DISTINCT hidden behind a leading comment inside the
    call must hit the same clear error as bare DISTINCT, not fall
    through to the opaque Spark UDAF failure."""
    from duckdb_ddsketch_spark.functions.rewrite import rewrite_stats_agg

    for fn in ("ddsketch_stats_agg", "ddsketch_agg"):
        for lead in ("/* c */ ", "-- c\n ", "/* a */ -- b\n "):
            with pytest.raises(ValueError, match=fn + r"\(DISTINCT"):
                rewrite_stats_agg(f"SELECT {fn}({lead}DISTINCT x) FROM t")
    # the word DISTINCT merely INSIDE a comment is not the keyword
    out = rewrite_stats_agg(
        "SELECT ddsketch_stats_agg(/* DISTINCT? no */ s) FROM t"
    )
    assert "ddsketch_stats_full(ddsketch_agg(/* DISTINCT? no */ s))" in out
