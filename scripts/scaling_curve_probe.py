"""Measured scaling curves: family runtime vs input rows at three scales.

SCALING.md's 100 TB arguments are structural ("the shuffle is bounded by
keys x registers", "the corpus never shuffles"). This probe adds the
measured counterpart on the local 32-core box: each family runs on
generated data at 0.25x / 0.5x / 1.0x of its bench row count with its
PER-ROW CHARACTER held constant — cardinality moduli (distinct docs,
users, HLL key space) scale with n while structure parameters (group
count, k, dims, query count, shard count) stay fixed, exactly the split
a cluster scale-up preserves. If the work is row-bounded, the marginal
log-log slope between the two largest scales sits at ~1.0 or below
(fixed stage-scheduling overhead pulls it under); a slope clearly above
1 exposes a hidden all-pairs / global-sort term that would detonate at
cluster scale long before 100 TB.

Prints one JSON line:
    {family: {"rows": [...], "sec": [...], "marginal_slope": s}, ...}

Single-session minima are still exposed to this box's multi-second
transient-load episodes (same-cell spread up to ~40% across sessions —
SCALING.md measurement notes), so the recorded curves take the min per
cell ACROSS probe sessions: pass --merge <prior.json> to fold a previous
session's output in (min per matching (family, rows) cell, slopes
recomputed).

Usage: python scripts/scaling_curve_probe.py [fam1,fam2,...] [--merge f.json]
                                              [--scales 0.25,0.5,1.0]
Families: exact_dedup hll_distinct text_metrics sessionize pctrank
          ann_quantized pack_manifest kmeans
--scales overrides the probed grid (e.g. 0.25,0.5,1.0,4.0 to extend a
family one octave PAST its bench size — round 10 used this to
distinguish span_extents' log-factor slope from a hidden second-order
term). Cells at pre-existing row counts still min-merge via --merge; new
row counts simply extend the curve.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (constants + generator expressions only)

CPUS = bench.CPUS
SCALES = (0.25, 0.5, 1.0)


def _gen(spark, n, expr_pairs, partitions=64):
    return spark.range(int(n), numPartitions=partitions).selectExpr(
        *[f"{e} AS {a}" for a, e in expr_pairs]
    )


# each entry: base_rows, run(spark, n) — moduli that define per-row
# cardinality scale with n/base so duplicate/distinct character is constant
def _exact_dedup(spark, n):
    from duckdb_ddsketch_spark.operators import dedup

    mod = max(1, int(30_000_000 * n / bench.N_60M))  # keep ~2x dup factor
    df = _gen(
        spark, n,
        [("src", "id % 4"),
         ("text", f"'lorem ipsum dolor ' || CAST((id % {mod}) AS STRING)")],
    )
    dedup.exact_dedup_summary(df, ["src"], text="text", id_col="id").collect()


def _hll(spark, n):
    from duckdb_ddsketch_spark.operators import approx

    mod = max(1, int(10_000_000 * n / bench.N_60M))
    df = _gen(spark, n, [("grp", "id % 25"), ("u", f"(id * 2654435761) % {mod}")])
    approx.hll_distinct(df, ["grp"], "u", p=8).collect()


def _text(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import text as text_ops

    mod = max(1, int(bench.N_TEXT_D * n / bench.N_TEXT))
    t = (
        bench._minhash_text_sql(f"id % {mod}")
        .replace("//", "div")
        .replace("VARCHAR", "STRING")
    )
    docs = _gen(spark, n, [("doc_id", "id"), ("text", t)])
    stats = text_ops.token_stats(docs, text="text", id_col="doc_id")
    stats.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("tok_sum")
    ).collect()


def _sessionize(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import relational

    users = max(1, int(bench.SESS_USERS * n / bench.N_60M))
    df = _gen(
        spark, n,
        [("id", "id"), ("user", f"id % {users}"),
         ("ts", f"timestamp_seconds({bench.SESS_TS})")],
    )
    sess = relational.sessionize(
        df, ["user"], ts="ts", gap_seconds=bench.SESS_GAP_S, tiebreak="id"
    )
    sess.groupBy("user").agg((F.max("session_idx") + 1).alias("ns")).agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("ns").alias("n_sessions")
    ).collect()


def _pctrank(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import native

    df = _gen(spark, n, [("grp", "id % 25"), ("v", f"{bench.PCT_V} / 32.0D")])
    native.percentile_rank(df, "v", ["grp"]).agg(
        F.count("pct_rank").alias("n"), F.avg("pct_rank").alias("m")
    ).collect()


def _ann_quantized(spark, n):
    from duckdb_ddsketch_spark.operators import similarity

    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D + 0.5D AS DOUBLE)"
        for p in bench.ANN_PRIMES
    ) + ")"
    corpus = _gen(spark, n, [("vec_id", "id"), ("embedding", vec)])
    queries = _gen(spark, bench.N_ANN_Q, [("vec_id", "id"), ("embedding", vec)])
    scale = similarity.quantize_calibration(corpus, bits=8)
    qc = similarity.quantize_embeddings(corpus, scale, bits=8)
    qq = similarity.quantize_embeddings(queries, scale, bits=8)
    similarity.quantized_topk(
        qc, qq, k=bench.ANN_K, max_query_rows=bench.N_ANN_Q
    ).collect()


def _ann_pq(spark, n):
    from duckdb_ddsketch_spark.operators import similarity

    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D + 0.5D AS DOUBLE)"
        for p in bench.ANN_PRIMES
    ) + ")"
    corpus = _gen(spark, n, [("vec_id", "id"), ("embedding", vec)])
    queries = _gen(spark, bench.N_ANN_Q, [("vec_id", "id"), ("embedding", vec)])
    coded = similarity.pq_encode(corpus, bench.PQ_CB)
    similarity.pq_adc_topk(
        coded, queries, bench.PQ_CB, k=bench.ANN_K,
        max_query_rows=bench.N_ANN_Q,
    ).collect()


def _pack(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import sampling

    df = _gen(
        spark, n,
        [("doc_id", "id"), ("shard", f"id % {bench.PACK_SHARDS}"),
         ("tokens", bench.PACK_TOK)],
    )
    man = sampling.pack_manifest(
        df, "tokens", bench.PACK_BUDGET, keys=["shard"], order_col="doc_id"
    )
    man.agg(
        F.count(F.lit(1)).alias("n_seqs"), F.sum("token_sum").alias("toks")
    ).collect()


def _asof(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import relational

    # left/right in the bench's 9:1 proportion; 100k users is structure
    # (per-user rows scale with n — what a corpus scale-up does)
    nr = max(1, n // 9)
    left = _gen(spark, n, [("u", "id % 100000"), ("ts", "id * 7")])
    right = _gen(spark, nr, [("u", "id % 100000"), ("ts", "id * 71")])
    j = relational.asof_join(
        left, right, on=["u"], left_ts="ts", right_ts="ts", right_cols=[]
    )
    j.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("ts_r").alias("matched"),
        F.sum(F.col("ts") - F.col("ts_r")).alias("lag_sum"),
    ).collect()


def _gram(spark, n):
    from duckdb_ddsketch_spark.operators import decomposition as dec

    codes = "array(" + ", ".join(
        f"CAST((id * {3 + 7 * d}) % 255 - 127 AS INT)"
        for d in range(bench.GRAM_D)
    ) + ")"
    df = _gen(spark, n, [("vec_id", "id"), ("qcodes", codes)])
    dec.gram_matrix(df, "qcodes", dims=bench.GRAM_D, integer=True).collect()


def _kmeans(spark, n):
    from duckdb_ddsketch_spark.operators import clustering

    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D AS FLOAT)" for p in bench.KM_PRIMES
    ) + ")"
    df = _gen(spark, n, [("vec_id", "id"), ("embedding", vec)])
    clustering.kmeans_summary(
        df, "embedding", "vec_id", k=bench.KM_K, iters=bench.KM_ITERS
    ).collect()


def _minhash(spark, n):
    from duckdb_ddsketch_spark.operators import dedup

    mod = max(1, int(bench.MINHASH_D * n / bench.N_MINHASH))
    t = (
        bench._minhash_text_sql(f"id % {mod}")
        .replace("//", "div")
        .replace("VARCHAR", "STRING")
    )
    docs = _gen(spark, n, [("id", "id"), ("text", t)], partitions=32)
    dedup.lsh_candidate_pairs(docs, text="text", id_col="id").count()


def _bitmap(spark, n):
    from duckdb_ddsketch_spark.operators import bitmap

    users = max(1, int(bench.N_BITMAP_USERS * n / bench.N_60M))
    df = _gen(
        spark, n,
        [("user", f"id % {users}"), ("day", "(id * 2654435761) % 62")],
    )
    bm = bitmap.activity_bitmap(df, "user", "day")
    bitmap.retention_report(bm, 62, offsets=(7,)).collect()


def _ann_brute(spark, n):
    from duckdb_ddsketch_spark.operators import similarity

    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D + 0.5D AS DOUBLE)"
        for p in bench.ANN_PRIMES
    ) + ")"
    corpus = _gen(spark, n, [("vec_id", "id"), ("embedding", vec)])
    queries = _gen(spark, bench.N_ANN_Q, [("vec_id", "id"), ("embedding", vec)])
    similarity.brute_force_topk(
        corpus, queries, k=bench.ANN_K, max_query_rows=bench.N_ANN_Q
    ).collect()


def _heavy(spark, n):
    from pyspark.sql import Window, functions as F

    # the 50021-token vocabulary is STRUCTURE (a language's heavy-hitter
    # set doesn't grow with corpus size) — only the event stream scales
    df = _gen(
        spark, n,
        [("grp", "id % 25"), ("tok", f"CAST(({bench.HEAVY_TOK}) AS STRING)")],
    )
    counts = df.groupBy("grp", "tok").count()
    w = Window.partitionBy("grp").orderBy(
        F.col("count").desc(), F.col("tok").asc()
    )
    counts.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 10
    ).collect()


def _funnel(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import analytics

    users = max(1, int(bench.FUNNEL_USERS * n / bench.N_60M)) | 1  # odd: keep
    # the user modulus coprime-ish with the 5 event types (bench comment)
    df = _gen(
        spark, n,
        [("user", f"id % {users}"), ("ts", bench.FUNNEL_TS),
         ("e", bench.FUNNEL_ET)],
    )
    cur = analytics.funnel(
        df, "user", "ts",
        [F.col("e") == 0, F.col("e") == 1, F.col("e") == 2],
    )
    cur.agg(
        F.count(F.lit(1)).alias("n1"), F.count("step_3").alias("n3")
    ).collect()


def _kmeans_wide(spark, n):
    from duckdb_ddsketch_spark.operators import clustering

    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D AS FLOAT)"
        for p in bench.KM_WIDE_PRIMES
    ) + ")"
    df = _gen(spark, n, [("vec_id", "id"), ("embedding", vec)])
    clustering.kmeans_summary(
        df, "embedding", "vec_id", k=bench.KM_K, iters=bench.KM_ITERS
    ).collect()


def _qnorm(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import native

    df = _gen(spark, n, [("grp", "id % 25"), ("v", f"{bench.PCT_V} / 32.0D")])
    native.quantile_normalize(df, "v", ["grp"]).agg(
        F.count("qnorm").alias("n"), F.avg("qnorm").alias("m")
    ).collect()


def _span_extents(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import dedup

    # the bench family's 24-token generator with the boilerplate pool
    # scaled ∝ n (constant ~40 docs/block duplication factor)
    saved = bench.SPAN_POOL
    bench.SPAN_POOL = max(1, int(bench.SPAN_POOL * n / bench.N_SPAN))
    try:
        t = bench._span_text_sql("id").replace("VARCHAR", "STRING")
    finally:
        bench.SPAN_POOL = saved
    docs = _gen(spark, n, [("doc_id", "id"), ("text", t)])
    dedup.duplicate_span_extents(docs, n=bench.SPAN_N, min_docs=2).agg(
        F.count(F.lit(1)).alias("n_extents"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("cut_tokens"),
    ).collect()


def _vocab_tok(spark, n):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import text as text_ops

    # the bench family's corpus with the duplicate-class space ∝ n
    # (constant docs-per-class; per-batch memo hit rate therefore
    # constant — the split a scale-up preserves)
    d = max(1, int(bench.N_TEXT_D * n / bench.N_TEXT))
    t = (
        bench._minhash_text_sql(f"id % {d}")
        .replace("//", "div")
        .replace("VARCHAR", "STRING")
    )
    docs = _gen(spark, n, [("doc_id", "id"), ("text", t)])
    text_ops.vocab_token_stats(docs, form="bulk").agg(
        F.sum("n_words").alias("w"),
        F.sum("n_bpe_tokens").alias("t"),
        F.sum("n_unk").alias("u"),
    ).collect()


def _bm25(spark, n):
    from duckdb_ddsketch_spark.operators import text as text_ops

    # the bench family's corpus with the duplicate-class space ∝ n
    # (constant docs-per-class), same 3 probe queries
    d = max(1, int(bench.N_TEXT_D * n / bench.N_TEXT))
    t = (
        bench._minhash_text_sql(f"id % {d}")
        .replace("//", "div")
        .replace("VARCHAR", "STRING")
    )
    docs = _gen(spark, n, [("doc_id", "id"), ("text", t)])
    qdf = spark.createDataFrame(
        bench.BM25_QUERIES, "query_id int, query_text string"
    )
    text_ops.bm25_scores(docs, qdf, k=10).collect()


def _stream_scaled(spark, n, full_recompute=False):
    # stage a scaled copy of the bench's deterministic stream files by
    # temporarily rebinding the generator's module constants (the probe
    # owns the process; bench state is restored before timing returns)
    saved = (bench.N_60M, bench.STREAM_SRC)
    bench.N_60M = n
    bench.STREAM_SRC = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"ddsketch_probe_stream_{n}_{bench.STREAM_KEYS}k"
        f"_{bench.STREAM_HOURS}h_{bench.STREAM_FILES}f",
    )
    try:
        bench._ensure_stream_src()
        import shutil
        import tempfile

        if full_recompute:
            bench.run_full_recompute(spark)
            return
        from duckdb_ddsketch_spark import streaming as st

        ckpt = tempfile.mkdtemp(prefix="ddsketch_probe_ckpt_")
        try:
            stream = (
                spark.readStream.schema("ts TIMESTAMP, key INT, value DOUBLE")
                .option("maxFilesPerTrigger", bench.STREAM_BATCH_FILES)
                .parquet(bench.STREAM_SRC)
            )
            binned = st.windowed_binned_counts(
                stream, "ts", ["key"], "value", window="1 hour"
            )
            q = (
                binned.writeStream.outputMode("append")
                .foreachBatch(lambda df, _bid: df.count())
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    finally:
        bench.N_60M, bench.STREAM_SRC = saved


def _streaming(spark, n):
    _stream_scaled(spark, n, full_recompute=False)


def _streaming_full(spark, n):
    _stream_scaled(spark, n, full_recompute=True)


PROBES = {
    "exact_dedup": (bench.N_60M, _exact_dedup),
    "hll_distinct": (bench.N_60M, _hll),
    "text_metrics": (bench.N_TEXT, _text),
    "sessionize": (bench.N_60M, _sessionize),
    "pctrank": (bench.N_60M, _pctrank),
    # 4x the bench corpus: at 2M x 16-dim the int8 top-k is ~all fixed
    # job overhead (which is WHY it beats the quadratic SQL comparator);
    # the linear corpus term only dominates the measurement from ~2M up
    "ann_quantized": (4 * bench.N_ANN_CORPUS, _ann_quantized),
    # round 10 — PQ/ADC: same 4x-the-bench-corpus reasoning (fixed job
    # overhead dominates below ~2M rows); encode + gather both ∝ n
    "ann_pq": (4 * bench.N_ANN_CORPUS, _ann_pq),
    "pack_manifest": (bench.N_PACK, _pack),
    "kmeans": (bench.N_60M, _kmeans),
    # 9:1 left/right like the bench family; the union-tag-window's sort is
    # the one n·log(n) term in the operator set — its measured slope bounds
    # how much that log factor actually costs
    "asof_join": (bench.N_ASOF_L, _asof),
    # structure-bounded shuffle (n_batches × d² scalars): the scan is the
    # only term that grows
    "gram": (bench.N_GRAM, _gram),
    # round 9 — the remaining bench families (VERDICT r8 item 5):
    "minhash_lsh": (bench.N_MINHASH, _minhash),
    "bitmap_retention": (bench.N_60M, _bitmap),
    # same 4x-the-bench-corpus reasoning as ann_quantized: below ~2M rows
    # the measurement is mostly fixed job overhead
    "ann_brute": (4 * bench.N_ANN_CORPUS, _ann_brute),
    "heavy_hitters": (bench.N_60M, _heavy),
    "funnel": (bench.N_60M, _funnel),
    "kmeans_wide": (bench.N_KM_WIDE, _kmeans_wide),
    "qnorm": (bench.N_60M, _qnorm),
    "streaming_windows": (bench.N_60M, _streaming),
    "streaming_full_recompute": (bench.N_60M, _streaming_full),
    # round 9 — duplicate-span extents (substring-level dedup at scale):
    # the bench family's 24-token generator, boilerplate pool ∝ n keeps
    # the per-block duplication factor constant
    "span_extents": (bench.N_SPAN, _span_extents),
    # round 9 — BM25 retrieval scoring (prune-then-aggregate chain)
    "bm25": (bench.N_TEXT, _bm25),
    # round 11 — greedy vocab tokenization, Arrow bulk kernel
    "vocab_tok": (bench.N_TEXT, _vocab_tok),
}


def main() -> None:
    global SCALES
    argv = list(sys.argv[1:])
    prior = None
    if "--merge" in argv:
        i = argv.index("--merge")
        with open(argv[i + 1]) as f:
            prior = json.load(f)
        del argv[i : i + 2]
    if "--scales" in argv:
        i = argv.index("--scales")
        SCALES = tuple(sorted(float(s) for s in argv[i + 1].split(",")))
        del argv[i : i + 2]
    only = set(argv[0].split(",")) if argv else None
    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("ddsketch-scaling-probe")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # bench.py's standardized cold-start absorber (JIT, Arrow workers)
    spark.range(1_000_000, numPartitions=8).select(F.sum("id")).collect()

    def _noop(batches):
        yield from batches

    spark.range(100_000).select(
        F.col("id").cast("double").alias("x")
    ).mapInArrow(_noop, "x double").select(F.sum("x")).collect()

    todo = {
        name: (base, fn)
        for name, (base, fn) in PROBES.items()
        if not only or name in only
    }
    # warm-up: one untimed smallest-scale pass per family (JIT per plan shape)
    for name, (base, fn) in todo.items():
        fn(spark, int(base * SCALES[0]))
    # min over ROUNDS of the whole grid, not back-to-back reps: this box
    # shows multi-second transient-load episodes (SCALING.md measurement-
    # spread notes), and spreading a cell's reps minutes apart keeps one
    # episode from owning both reps of one unlucky (family, scale) cell
    best: dict = {}
    for _ in range(3):
        for name, (base, fn) in todo.items():
            for s in SCALES:
                n = int(base * s)
                t0 = time.perf_counter()
                fn(spark, n)
                dt = time.perf_counter() - t0
                k = (name, n)
                best[k] = min(best.get(k, dt), dt)
    carried = {}
    if prior:
        # cross-session minima: fold a previous session's cells in.
        # Prior cells with no matching current cell (family not selected
        # this session, or base row-counts changed) are CARRIED THROUGH
        # unchanged rather than dropped — a consolidated record must never
        # silently lose a session's families — with a stderr note so a
        # changed-base mismatch is visible.
        for name, rec in prior.items():
            if name in todo:
                matched = False
                for n, sec in zip(rec["rows"], rec["sec"]):
                    k = (name, n)
                    if k in best:
                        best[k] = min(best[k], sec)
                        matched = True
                if not matched:
                    # measured THIS session at different row counts: the
                    # current cells win, the prior ones are dropped loudly
                    # (folding them in would mix incomparable bases)
                    print(
                        f"# dropping prior cells for {name}: base row counts"
                        f" changed ({rec['rows']})",
                        file=sys.stderr,
                        flush=True,
                    )
            else:
                carried[name] = rec
                print(
                    f"# carrying prior family unchanged (not selected this"
                    f" session): {name} rows={rec['rows']}",
                    file=sys.stderr,
                    flush=True,
                )
    out = {}
    for name, (base, _fn) in todo.items():
        rows = [int(base * s) for s in SCALES]
        secs = [round(best[(name, n)], 3) for n in rows]
        # marginal slope between the two largest scales: the least
        # overhead-polluted pairwise estimate (fixed ~0.3-0.5 s stage
        # scheduling makes small scales read sublinear)
        slope = math.log(secs[-1] / secs[-2]) / math.log(rows[-1] / rows[-2])
        out[name] = {"rows": rows, "sec": secs, "marginal_slope": round(slope, 2)}
        print(f"# {name}: {out[name]}", flush=True)
    out.update(carried)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
