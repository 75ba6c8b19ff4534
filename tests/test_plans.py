"""Physical-plan regression tests: pin the properties the 100 TB design
depends on (pruning, pushdown, shuffle counts, partial agg, no row-at-a-time
Python). A refactor that silently adds a shuffle or widens a scan fails here.
"""

import re

import pytest
from pyspark.sql import functions as F

from duckdb_ddsketch_spark.operators import dedup, native, similarity
from duckdb_ddsketch_spark.plans import checks
from duckdb_ddsketch_spark.sources import load_table


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_native_quantile_plan(spark, lineitem):
    q = native.sketch_quantile_agg(
        lineitem, ["l_returnflag"], "l_extendedprice", 0.01, (0.5, 0.95)
    )
    # scan reads exactly the two needed columns, null filter pushed down
    checks.assert_scan_pruned(q, "lineitem", {"l_returnflag", "l_extendedprice"})
    assert "IsNotNull" in checks.pushed_filters(q, "lineitem")
    # two shuffles total: binned aggregate + key clustering (windows and the
    # final aggregate must reuse the second)
    assert checks.exchange_count(q) == 2
    assert checks.has_partial_aggregation(q)
    # fully native: no Python at all
    assert checks.python_eval_nodes(q) == []


def test_filter_pushdown_through_native_path(spark, lineitem):
    q = native.sketch_quantile_agg(
        lineitem.where(F.col("l_shipdate") >= "1995-01-01"),
        ["l_returnflag"],
        "l_extendedprice",
        0.01,
        (0.5,),
    )
    pushed = checks.pushed_filters(q, "lineitem")
    assert "l_shipdate" in pushed  # user filter reached the parquet scan


def test_struct_agg_plan(spark, lineitem):
    q = native.sketch_struct_agg(lineitem, ["l_returnflag"], "l_quantity", 0.01)
    checks.assert_scan_pruned(q, "lineitem", {"l_returnflag", "l_quantity"})
    assert checks.exchange_count(q) == 2
    assert checks.python_eval_nodes(q) == []


def test_struct_merge_plan_no_join(spark, lineitem):
    per = native.sketch_struct_agg(
        lineitem, ["l_returnflag", "l_linestatus"], "l_quantity", 0.01
    )
    merged = native.merge_struct_sketches(per, ["l_returnflag"], "sketch")
    plan = checks.formatted_plan(merged)
    assert "Join" not in plan  # fused: scalars ride the exploded bins
    assert checks.python_eval_nodes(merged) == []


def test_wire_hop_is_arrow_not_pandas(spark, lineitem):
    """The wire hop is Arrow end to end: ``operators/native.py`` and
    ``functions/`` import neither pandas nor ``pandas_udf``, and the ingest
    plan's one Python node is an ArrowEvalPython running ``struct_to_wire``
    with the scalar Arrow UDF eval type, not the pandas one."""
    import ast
    from pathlib import Path

    from pyspark.util import PythonEvalType

    import duckdb_ddsketch_spark

    pkg = Path(duckdb_ddsketch_spark.__file__).parent
    for path in [pkg / "operators" / "native.py", *sorted((pkg / "functions").glob("*.py"))]:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                modules, names = [a.name for a in node.names], []
            elif isinstance(node, ast.ImportFrom):
                modules, names = [node.module or ""], [a.name for a in node.names]
            else:
                continue
            assert not any(m.split(".")[0] == "pandas" for m in modules), (path, node.lineno)
            assert "pandas_udf" not in names, (path, node.lineno)

    sk = native.sketch_struct_agg(lineitem, ["l_returnflag"], "l_quantity", 0.01)
    ingest = sk.select("l_returnflag", native.struct_to_wire("sketch").alias("b"))
    assert set(checks.python_eval_nodes(ingest)) == {"ArrowEvalPython"}
    # the node prints its UDFs, its outputs, then the UDFs' eval type
    tree = ingest._jdf.queryExecution().executedPlan().toString()
    assert tree.count("ArrowEvalPython") == 1
    m = re.search(r"ArrowEvalPython \[_struct_to_wire\(.*?\], \[.*?\], (\d+)", tree)
    assert m and int(m.group(1)) == PythonEvalType.SQL_SCALAR_ARROW_UDF
    assert native._struct_to_wire.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF


def test_no_row_at_a_time_python_anywhere(spark, lineitem):
    """Blob-path pandas UDFs must be Arrow-vectorized, never BatchEvalPython."""
    from duckdb_ddsketch_spark.functions import scalar as fs
    from duckdb_ddsketch_spark.functions.aggregate import ddsketch_agg

    pre = lineitem.limit(100).select(
        "l_returnflag", fs.ddsketch_prepare(F.col("l_quantity")).alias("sk")
    )
    agg = pre.groupBy("l_returnflag").agg(ddsketch_agg("sk").alias("s")).select(
        fs.ddsketch_quantile(F.col("s"), F.lit(0.5)).alias("p50")
    )
    nodes = checks.python_eval_nodes(agg)
    assert nodes and "BatchEvalPython" not in nodes


def test_stats_agg_verbatim_is_one_python_aggregate(spark):
    """The reference's roll-up query, verbatim: ``ddsketch_stats_agg`` is
    one Arrow UDAF, so the plan holds a single Python node and no
    ArrowEvalPython finalizer."""
    from duckdb_ddsketch_spark import DDSketch

    rows = [("a", DDSketch(0.01).extend([1.0, 2.0]).encode())]
    spark.createDataFrame(rows, "k string, s binary").createOrReplaceTempView(
        "stats_agg_plan_t"
    )
    q = spark.sql(
        "SELECT k, ddsketch_stats_agg(s) AS st FROM stats_agg_plan_t GROUP BY k"
    )
    assert set(checks.python_eval_nodes(q)) == {"ArrowAggregatePython"}
    # the unexecuted adaptive plan prints each node once
    tree = q._jdf.queryExecution().executedPlan().toString()
    assert tree.count("ArrowAggregatePython") == 1


def test_minhash_signatures_partial_agg(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_df(docs)
    assert checks.has_partial_aggregation(sig)
    assert checks.exchange_count(sig) == 1  # one shuffle: per-doc signatures
    assert checks.python_eval_nodes(sig) == []


def _plan_tree(df):
    """(node name, parent index) for each line of the formatted plan's
    tree, top-down."""
    tree = checks.formatted_plan(df).split("== Physical Plan ==")[1]
    nodes, stack = [], []
    for line in tree.strip("\n").split("\n\n")[0].splitlines():
        depth = re.search(r"[A-Za-z]", line).start()
        while stack and stack[-1][0] >= depth:
            stack.pop()
        nodes.append((line[depth:].split(" (")[0].strip(), stack[-1][1] if stack else None))
        stack.append((depth, len(nodes) - 1))
    return nodes


def test_topk_broadcasts_queries(spark, sf_dir):
    """The query side is collected and closed over, so the corpus reaches
    the MapInArrow scorer with no exchange below it, and the plan's one
    exchange moves only local top-k rows into the final window."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 5), k=3)
    nodes = _plan_tree(q)

    def ancestors(i):
        while (i := nodes[i][1]) is not None:
            yield i

    names = [n for n, _ in nodes]
    assert names.count("MapInArrow") == 1 and names.count("Exchange") == 1
    scorer, exchange = names.index("MapInArrow"), names.index("Exchange")
    below = [names[i] for i in range(len(nodes)) if scorer in ancestors(i)]
    assert "Scan parquet" in below and not any("Exchange" in n for n in below)
    assert exchange in ancestors(scorer)
    assert "Window" in [names[i] for i in ancestors(exchange)]
    assert checks.broadcast_exchange_count(q) == 0


def test_range_bucket_broadcasts_boundaries(spark, lineitem):
    """q50's boundary table must broadcast — the stream side re-shuffling
    on the group key would defeat the whole design."""
    from duckdb_ddsketch_spark.operators import native
    from duckdb_ddsketch_spark.plans import checks

    df = native.sketch_range_bucket(
        lineitem, ["l_returnflag"], "l_extendedprice", 0.01, (0.25, 0.5, 0.75)
    )
    assert checks.broadcast_exchange_count(df) >= 1


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set broadcasts; corpus text never shuffles."""
    import os

    from duckdb_ddsketch_spark.operators import dedup
    from duckdb_ddsketch_spark.plans import checks

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = dedup.ngram_contamination(
        docs.where("doc_id % 17 <> 0"), docs.where("doc_id % 17 = 0")
    )
    assert checks.broadcast_exchange_count(out) >= 1
    plan = checks.formatted_plan(out)
    assert "SortMergeJoin" not in plan


def test_bucketed_join_needs_no_exchange(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate the join: a sortMergeJoin over two tables
    bucketed on the key runs with ZERO shuffle exchanges — the storage-side
    lever for repeated 100 TB joins on the same key."""
    import os

    from duckdb_ddsketch_spark.plans import checks

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable("b_orders"))
        (li.withColumnRenamed("l_orderkey", "o_orderkey")
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable("b_lineitem"))
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        agg = j.groupBy("o_orderstatus").count()
        # join itself: no Exchange before the SortMergeJoin
        jplan = checks.formatted_plan(j)
        assert "SortMergeJoin" in jplan
        assert checks.exchange_count(j) == 0
        # and the count matches the unbucketed join
        got = {r.o_orderstatus: r["count"] for r in agg.collect()}
        want = {
            r.o_orderstatus: r["count"]
            for r in orders.join(
                li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
            ).groupBy("o_orderstatus").count().collect()
        }
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_no_declared_query_uses_row_at_a_time_python(spark, sf_dir):
    """Every declared query's physical plan must use only Arrow-vectorized
    Python nodes (ArrowEvalPython / ArrowAggregatePython / MapInPandas /
    FlatMapGroupsInPandas) — BatchEvalPython (pickle, row-at-a-time) in a
    hot path would be a 10-100x regression at scale."""
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    # streaming queries execute during build (their returned DF is a
    # collected createDataFrame) — nothing to inspect, and slow; skip.
    skip = {
        "q24_sessionization_batch_stream",
        "q25_range_band_join_batch_stream",
        "q27_streaming_hourly_windows",
        "q28_streaming_sliding_append",
        "q29_streaming_distinct_windows",
        "q30_streaming_heavy_hitters",
    }
    offenders = {}
    for name, fn in sorted(queries.items()):
        if name in skip:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders[name] = True
    assert not offenders, f"row-at-a-time Python in: {sorted(offenders)}"


def test_rollup_expands_binned_counts_not_raw_scan(spark, lineitem):
    q = native.sketch_quantile_agg(
        lineitem, ["l_returnflag", "l_linestatus"], "l_extendedprice",
        0.01, (0.5,), rollup=True,
    )
    plan = checks.formatted_plan(q)
    # the Expand (grouping-sets row multiplication) must consume the binned
    # aggregate, not the parquet scan: in the top-down formatted tree the
    # binned HashAggregate pair prints BELOW the Expand line
    expand_at = plan.index("Expand")
    assert expand_at >= 0
    assert plan.rindex("HashAggregate") > expand_at
    # still fully native and pruned to the three needed columns
    assert checks.python_eval_nodes(q) == []
    checks.assert_scan_pruned(
        q, "lineitem", {"l_returnflag", "l_linestatus", "l_extendedprice"}
    )
    # rollup adds exactly one exchange over the plain 2-exchange aggregate
    assert checks.exchange_count(q) == 3


def test_multi_metric_single_scan_single_shuffle_pair(spark, lineitem):
    q = native.sketch_quantile_agg_multi(
        lineitem, ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"], quantiles=(0.5,),
    )
    plan = checks.formatted_plan(q)
    # the unpivot must NOT multiply scans: one parquet scan (formatted
    # explain prints one Location line per scan node), and the same
    # 2 exchanges as a single-metric aggregate
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert checks.exchange_count(q) == 2
    assert checks.python_eval_nodes(q) == []


def test_hll_distinct_two_exchange_shape(spark, sf_dir):
    """hll_distinct must be exactly (key,bucket)-shuffle -> key-shuffle:
    both aggregations partial-aggregate map-side, so the first exchange
    carries at most |keys| * 2^p rows and the plan stays JVM-only."""
    from duckdb_ddsketch_spark.operators import approx

    ev = load_table(spark, sf_dir, "events")
    est = approx.hll_distinct(ev, ["event_type"], "user_id")
    assert checks.exchange_count(est) == 2
    assert checks.has_partial_aggregation(est)
    assert checks.python_eval_nodes(est) == []


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    """The built filter is <= m_bits/32 rows per key — probing must
    broadcast it, never shuffle the probe stream against it."""
    from duckdb_ddsketch_spark.operators import approx

    ev = load_table(spark, sf_dir, "events")
    filt = approx.bloom_build(ev, ["event_type"], "user_id")
    probes = ev.select("event_type", "user_id").distinct()
    pr = approx.bloom_probe(filt, probes, ["event_type"], "user_id")
    assert checks.broadcast_exchange_count(pr) >= 1
    assert checks.python_eval_nodes(pr) == []


def test_tpch_q5_join_plan_broadcasts_dims_and_prunes(spark, sf_dir):
    from duckdb_ddsketch_spark.plans import declared

    q = declared.QUERIES["q26_tpch_q5_local_supplier_volume"](spark, sf_dir)
    # nation + region ship broadcast (plus AQE may promote more); the date
    # filter reaches the orders scan
    assert checks.broadcast_exchange_count(q) >= 2
    assert "1996" in checks.pushed_filters(q, "orders")
    assert checks.python_eval_nodes(q) == []
    # lineitem scan reads only the join keys + money columns
    cols = set(checks.scan_read_columns(q, "lineitem"))
    assert cols <= {
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    }, cols


def test_partitioned_store_rollup_prunes_and_partial_aggs(spark, sf_dir):
    """q52's stored-blob roll-up: the day range must land in PartitionFilters
    (only matching day-directories scanned) and the merge must be the native
    Catalyst aggregate — no ArrowAggregatePython over raw blob rows."""
    from duckdb_ddsketch_spark.plans import declared

    q = declared.STAGED_QUERIES["q52_partitioned_store_rollup"](spark, sf_dir)
    plan = checks.formatted_plan(q)
    assert "PartitionFilters" in plan and "day" in plan
    # the compacted week store scans with its own partition filter
    assert "week" in plan
    assert "ArrowAggregatePython" not in checks.python_eval_nodes(q)
    assert checks.has_partial_aggregation(q)


def test_scalable_merge_rollup_uses_native_partial_agg(spark, sf_dir):
    """q35's wire-blob merge: hash aggregate with partial aggregation, the
    only Python nodes are the map-only wire boundary codecs."""
    from duckdb_ddsketch_spark.plans import declared

    q = declared.STAGED_QUERIES["q35_scalable_merge_rollup"](spark, sf_dir)
    assert "ArrowAggregatePython" not in checks.python_eval_nodes(q)
    assert checks.has_partial_aggregation(q)


def test_headline_bench_names_stay_declared():
    """bench.py's HEADLINE names key BENCH_r{N} continuity across rounds:
    every name must survive registry re-curations with both a staged query
    and a staged oracle."""
    import bench
    from duckdb_ddsketch_spark.plans import declared

    missing_q = [n for n in bench.HEADLINE if n not in declared.STAGED_QUERIES]
    missing_o = [n for n in bench.HEADLINE if n not in declared.STAGED_ORACLES]
    assert not missing_q, f"HEADLINE names without a staged query: {missing_q}"
    assert not missing_o, f"HEADLINE names without a staged oracle: {missing_o}"


def test_q11_rollup_uses_native_partial_agg(spark, sf_dir):
    """The q11 headline blob roll-up must stay on the native merge path:
    hash aggregate with partial aggregation, no ArrowAggregatePython."""
    from duckdb_ddsketch_spark.plans import declared

    q = declared.STAGED_QUERIES["q11_agg_rollup_event_type"](spark, sf_dir)
    assert "ArrowAggregatePython" not in checks.python_eval_nodes(q)
    assert checks.has_partial_aggregation(q)


def test_asof_bare_payload_carries_no_struct(spark):
    """asof_join with right_cols=[] must window a bare scalar, not a
    1-field struct (the struct wrapper ~doubles the exchanged payload)."""
    from duckdb_ddsketch_spark.operators import relational

    left = spark.range(10).selectExpr("id % 3 AS u", "id * 5 AS ts")
    right = spark.range(5).selectExpr("id % 3 AS u", "id * 11 AS ts")
    j = relational.asof_join(
        left, right, on=["u"], left_ts="ts", right_ts="ts", right_cols=[]
    )
    assert dict(j.dtypes) == {"u": "bigint", "ts": "bigint", "ts_r": "bigint"}
    plan = checks.formatted_plan(j)
    assert "named_struct" not in plan and "__rts" not in plan


def test_unigram_vocab_ranking_is_two_stage(spark, sf_dir):
    """The vocabulary top-k must bound its single-partition sort by
    n_buckets * vocab_size candidates, not rank every distinct token in
    one partition: the plan shows a bucket-partitioned window before the
    global one."""
    from duckdb_ddsketch_spark.operators import text
    from duckdb_ddsketch_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = text.unigram_logfreq_stats(docs, "text", keys=["lang"])
    plan = checks.formatted_plan(out)
    assert "pmod(hash(w" in plan


def test_repeated_spans_partial_agg_no_python(spark, sf_dir):
    """Span dedup must be a native explode + hash aggregate with map-side
    partial aggregation — no Python in the pipeline."""
    from duckdb_ddsketch_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = dedup.repeated_spans(docs)
    plan = checks.formatted_plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert checks.has_partial_aggregation(out)
