"""Registry-wide physical-plan quality sweep.

Every staged batch query's executed plan is checked against the two
scale-killer operators:

- ``CartesianProduct`` — forbidden everywhere: an unconditioned cross of
  two shuffled sides never survives a 100x scale-up.
- ``ArrowAggregatePython`` (grouped-agg pandas or Arrow UDAF — Spark
  gives it no partial aggregation, so every input row shuffles to its
  group's reducer) — allowed ONLY in the reference-surface-coverage queries whose
  inputs are bounded by construction; the scale path for the same
  semantics is the native merge (q11/q13/q14/q35/q52), pinned separately
  in test_plans.py.
- ``BroadcastNestedLoopJoin`` — allowed only where the broadcast side is
  a bounded query/sketch/vocabulary table; a new unlisted occurrence
  means a non-equi join crept onto two large sides.

A new query that trips a marker must either fix its plan or justify an
allowlist entry here.
"""

import pytest

# raw-UDAF surface queries: inputs are literals (q02), two sketch rows
# (q04/q15), 16 pre-bucketed sketches per group (q17) — bounded — or, for
# q10 only, the raw value scan: q10 deliberately keeps one driver row on
# the value-UDAF surface (`sketch_values_agg`), the documented slow path
# whose scale twin is the native binned aggregate (q01/q13)
ALLOWED_PANDAS_AGG = {
    "q02_codec_golden_bytes",
    "q04_merge_two_sketches",
    "q10_stats_by_event_type",
    "q15_nested_column_merge",
    "q17_sql_surface_cte",
}

# broadcast-bounded non-equi joins: ANN query/centroid tables, bloom
# words, idf vocab, 1-row sketch-set algebra, 1-row corpus-stats frames
# (bm25 N/avgdl, DSIR totals)
ALLOWED_BNLJ = {
    "q04_merge_two_sketches",
    "q15_nested_column_merge",
    "q24_embedding_near_pairs",
    "q44_tfidf_top_terms",
    "q66_bloom_membership",
    "q72_hll_audience_overlap",
    "q78_kmv_set_algebra",
    "q94_bm25_topk",
    "q96_dsir_scores",
    "q98_rrf_hybrid",  # 3-row qid × broadcast 10-row prior fan-out
    # queries × broadcast cells-x-d centroid table (probe selection)
    "q102_ann_ivf_pq",
    # orders × the 1-row ddsketch_create() UDTF seed (reference TVF
    # syntax, round 11) — broadcast side is literally one constant row
    "q17_sql_surface_cte",
}

# bodies that EXECUTE a stream (or drive an iterative loop that depends
# on streaming staging) when called — planned via their own tests instead
STREAMING = {
    "q34_streaming_hourly_windows",
    "q48_streaming_sessions",
    "q51_streaming_sliding_windows",
    "q56_stream_stream_range_join",
    "q71_streaming_distinct_windows",
    "q79_streaming_heavy_hitters",
    "q86_streaming_first_seen",
    "q99_streaming_neardup",
}


def _batch_names():
    from duckdb_ddsketch_spark.plans import declared

    return sorted(set(declared.STAGED_QUERIES) - STREAMING)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    from duckdb_ddsketch_spark.plans import declared

    out = {}
    for name in _batch_names():
        df = declared.STAGED_QUERIES[name](spark, sf_dir)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


def test_pandas_agg_only_in_surface_queries(plans):
    hits = {n for n, p in plans.items() if "ArrowAggregatePython" in p}
    assert hits <= ALLOWED_PANDAS_AGG, (
        f"no-partial-agg pandas aggregate crept into: "
        f"{sorted(hits - ALLOWED_PANDAS_AGG)}"
    )


def test_bnlj_only_where_broadcast_bounded(plans):
    hits = {n for n, p in plans.items() if "BroadcastNestedLoopJoin" in p}
    assert hits <= ALLOWED_BNLJ, (
        f"nested-loop join on unlisted queries: {sorted(hits - ALLOWED_BNLJ)}"
    )


def test_zorder_layout_prunes_scan(spark, sf_dir, tmp_path):
    """The Z-order layout is only worth its write cost if a filtered scan
    actually skips files: (1) the range filter on the SECOND ordering
    column reaches the parquet scan as a pushed filter, and (2) footer
    min/max stats exclude most z-ordered files for that filter, while the
    plain leading-column sort excludes none — the pruning a 100 TB reader
    relies on, asserted from the same statistics it would use."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.sources import zorder_write

    # controlled independent uniforms (multiplicative-hash columns): every
    # plain-sorted file spans value's full range, so pruning gains are
    # attributable to the layout, not to data skew
    ev = spark.range(100_000).selectExpr(
        "CAST((id * 2654435761) % 1024 AS INT) AS user_id",
        "CAST((id * 7919) % 1024 AS DOUBLE) AS value",
    )
    zpath, spath = str(tmp_path / "zorder"), str(tmp_path / "plain")
    zorder_write(ev, zpath, ["user_id", "value"], bits=10, num_files=8)
    ev.repartitionByRange(8, "user_id").sortWithinPartitions(
        "user_id"
    ).write.mode("overwrite").parquet(spath)

    # a 10%-of-range band: the z-key quantizes value linearly, so file
    # boundaries are linear-range cuts — the band is excluded by every
    # file covering other quarters of value space
    lo, hi = 870.0, 972.0

    # (1) the filter is pushed to the scan
    scan = spark.read.parquet(zpath).where(
        (F.col("value") >= lo) & (F.col("value") <= hi)
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual(value" in plan, plan

    # (2) footer stats prune most z-files, no plain files
    def matching_files(path):
        n_total, n_match = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    cc = md.row_group(rg).column(ci)
                    if cc.path_in_schema == "value" and cc.statistics:
                        st = cc.statistics
                        fmin = st.min if fmin is None else min(fmin, st.min)
                        fmax = st.max if fmax is None else max(fmax, st.max)
            n_total += 1
            if fmin is not None and not (fmax < lo or fmin > hi):
                n_match += 1
        return n_total, n_match

    z_total, z_match = matching_files(zpath)
    p_total, p_match = matching_files(spath)
    assert z_total == 8 and p_total == 8, (z_total, p_total)
    # a plain user_id sort cannot prune a value filter at all
    assert p_match == p_total, (p_match, p_total)
    # the z-layout excludes at least half the files for a ~10%-selectivity
    # band on the second column
    assert z_match <= z_total // 2, (z_match, z_total)


# Deliberate decimal arithmetic — each is an EXACTNESS choice on
# structure-sized or gate-critical data, not an accident:
#   q39: post-aggregation `max_lag_us / 1000000.0` — decimal gives the
#        exact rational quotient with ONE rounding to REAL (a double
#        division would double-round); one value per group, zero scale
#        cost.
#   q72: HLL fixed-point `sum(shiftleft(1, 61 - rho))` — 2^61 x 256
#        registers overflows BIGINT; decimal(20,0) sums exactly over a
#        256-row-per-group table.
#   q81: TPC-H Q5 revenue in decimal(15,2)/(4,2) — the order-independent
#        exact sum both engines reproduce bit-for-bit (a double sum is
#        summation-order-dependent and would flap the hash gate). This
#        one IS per-row over lineitem; the cost is the price of the
#        cross-engine-exact gate and is confined to this coverage query.
ALLOWED_DECIMAL = {
    "q39_asof_join_click_error",
    "q72_hll_audience_overlap",
    "q81_tpch_q5_local_supplier_volume",
}


def test_no_accidental_decimal_arithmetic(plans):
    """Bare fractional literals in Spark SQL strings type as DECIMAL and
    push whole expressions into BigDecimal arithmetic — a ~30x
    de-vectorization that cost the wide k-means generator 48 s/pass
    before round 7's `64.0D` fix (SCALING.md, global levers). Any NEW
    decimal in an optimized plan must either add the `D` suffix or
    justify an ALLOWED_DECIMAL entry."""
    hits = {n for n, p in plans.items() if "decimal(" in p}
    assert hits <= ALLOWED_DECIMAL, (
        f"decimal arithmetic crept into: {sorted(hits - ALLOWED_DECIMAL)}"
        " — bare fractional literal in a SQL string? (use 64.0D)"
    )
