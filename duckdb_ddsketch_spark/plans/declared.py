"""Declared query registry: Spark query + DuckDB oracle per operator.

Each entry exercises one function/operator from SURVEY.md §2 over the
driver's synthetic tables. Spark callables take ``(spark, sf_dir)``; oracle
SQL strings run in DuckDB against the same parquet (views pre-registered).
Column names and types are aligned on both sides (aggregates aliased
identically, approximate doubles cast to float) so the driver's
order-insensitive value hash matches.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import scalar as fs
from ..functions.aggregate import sketch_values_agg
from ..operators import dedup, native, relational, sampling, similarity, text
from ..sources import load_table
from .oracle import constants, qname, quantile_oracle_sql, rowwise_bin_value_sql

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def _declare(name: str, oracle_sql: str | None = None):
    # NOTE: no plan/DataFrame memoization here on purpose. Re-collecting a
    # cached DataFrame reuses its materialized shuffle outputs (skipped
    # stages), which would make repeated bench runs measure a warm cache
    # instead of query execution. Every call builds a fresh plan.
    def deco(fn):
        QUERIES[name] = fn
        if oracle_sql is not None:
            ORACLES[name] = oracle_sql
        return fn

    return deco


_PREPPED: set = set()


def _prep(spark: SparkSession) -> None:
    if id(spark) in _PREPPED:
        return
    _PREPPED.add(id(spark))
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Bigger Arrow batches cut JVM<->Python framing overhead on every pandas
    # UDF stage (default 10k rows is conservative for numeric payloads).
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    # Coalesce post-shuffle partitions to the advisory size instead of
    # preserving one-per-core parallelism. At cluster scale the advisory
    # target still yields thousands of reduce partitions; on small inputs it
    # collapses near-empty reduce tasks (measured ~0.2s/exchange saved at
    # sf0.1 — Spark's own docs recommend false when shuffle sizes are known).
    # The advisory itself drops 64MB -> 8MB: aggregate and window work
    # scales with ROWS/GROUPS per reduce task, not bytes, and the byte-based
    # default serialized every group-heavy stage whose shuffle compresses
    # well (bitmap retention 6.2->4.9s, sequence packing 4.6->1.4s,
    # 5.86M-group recompute 3.7->1.5s at 60M rows — SCALING.md).
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m"
        )
    except Exception:
        pass  # non-configurable session (e.g. Connect with locked confs)


def _f32(*names):
    return [F.col(n).cast("float").alias(n) for n in names]


# ---------------------------------------------------------------------------
# q01 — flagship: native per-group quantiles (scan → hash agg → windows)
# ---------------------------------------------------------------------------

_Q01_QS = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)


@_declare(
    "q01_price_quantiles_by_returnflag",
    quantile_oracle_sql(
        "lineitem",
        {"l_returnflag": "l_returnflag"},
        "l_extendedprice",
        quantiles=_Q01_QS,
    ),
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    out = native.sketch_quantile_agg(
        li, ["l_returnflag"], "l_extendedprice", 0.01, _Q01_QS
    )
    return out.select(
        "l_returnflag",
        F.col("count"),
        *_f32("sum", "avg", "min", "max", *[f"p{qname(q)}" for q in _Q01_QS]),
    )


# ---------------------------------------------------------------------------
# q02 — codec golden bytes: the wire format itself under the driver gate.
# md5 of canonical encodings for (a) the empty constructor output, (b) two
# distributions ingested distributed-side, (c) re-encodes of golden blobs
# from the reference's Go compatibility suite (datadog_encoding.rs:975-1355,
# = github.com/DataDog/sketches-go v1.4.7 vectors). The oracle is a frozen
# literal table: any drift in varint/section order/flag encoding, binning,
# or gamma constants changes a hash and fails the gate.
# ---------------------------------------------------------------------------

# (dist_id, golden input hex) — data vectors, same provenance as
# tests/fixtures/golden_vectors.py
_Q02_GO_HEX = (
    ("go_single_42", "02fd4a815abf52f03f00000000000000000501f40202"),
    (
        "go_sequential_1_10",
        "02fd4a815abf52f03f0000000000000000050a0002440228021e021602120210020c020c020c02",
    ),
    (
        "go_skewed_latency",
        "02fd4a815abf52f03f00000000000000000509a00104120310020c021802280278024602a00102",
    ),
    (
        "go_contiguous",
        "02fd4a815abf52f03f00000000000000000d23880302020202020202020302020203"
        "0202030202030203020302030302030303020303030302",
    ),
)

# frozen expectations (dist_id, md5 hex, n_bytes, count) — computed once from
# the kernel whose bytes are pinned to the Go vectors by tests/test_codec.py
_Q02_EXPECT = (
    ("empty", "b7c1e7cd60b702e721b4efe8db611d1b", 17, 0),
    ("range_1_1000", "c7a4a5a2f99c93cc4814dd5dfd1ddd54", 482, 1000),
    ("mixed_neg", "61d5d1d408382139e50b001a8bf8d9f1", 141, 60),
    ("go_single_42", "db6c24d8a116ddc194fc6daea1fdd453", 22, 1),
    ("go_sequential_1_10", "3901a5ceb1960d2369a9dde56ebd4f4c", 39, 10),
    ("go_skewed_latency", "778517226ea62c23f498b2813ddde22e", 39, 12),
    ("go_contiguous", "a0d260afd21661c6736d717e1821104f", 90, 50),
)


@_declare(
    "q02_codec_golden_bytes",
    "SELECT * FROM (VALUES\n"
    + ",\n".join(
        f"    ('{d}', '{h}', CAST({n} AS INT), CAST({c} AS BIGINT))"
        for d, h, n, c in _Q02_EXPECT
    )
    + "\n) AS t(dist_id, sketch_md5, n_bytes, count)",
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    empty_blob = fs.ddsketch_create(0.01)
    # (b) distributed ingest of two deterministic distributions: 1..1000 and
    # id*1.5-30 for id in 0..59 (negatives + an exact zero) — bin-dict
    # accumulation is order- and partitioning-independent, so the canonical
    # encoding is reproducible on any cluster layout
    vals = spark.range(0, 1060).select(
        F.when(F.col("id") < 1000, F.lit("range_1_1000"))
        .otherwise(F.lit("mixed_neg"))
        .alias("dist_id"),
        F.when(F.col("id") < 1000, (F.col("id") + 1).cast("double"))
        .otherwise((F.col("id") - 1000).cast("double") * 1.5 - 30.0)
        .alias("v"),
    )
    built = vals.groupBy("dist_id").agg(sketch_values_agg(F.col("v")).alias("sketch"))
    # (c) canonical re-encode of the Go golden blobs via the merge path
    golden = spark.createDataFrame(
        [(name, bytearray.fromhex(h)) for name, h in _Q02_GO_HEX],
        "dist_id string, raw binary",
    )
    reenc = golden.select(
        "dist_id",
        fs.ddsketch_merge(F.col("raw"), F.lit(empty_blob)).alias("sketch"),
    )
    # (a) the constructor's empty encoding
    empty_df = spark.range(1).select(
        F.lit("empty").alias("dist_id"), F.lit(empty_blob).alias("sketch")
    )
    allsk = built.unionByName(reenc).unionByName(empty_df)
    return allsk.select(
        "dist_id",
        F.md5("sketch").alias("sketch_md5"),
        F.length("sketch").cast("int").alias("n_bytes"),
        fs.ddsketch_count(F.col("sketch")).alias("count"),
    )


# ---------------------------------------------------------------------------
# q03 — ddsketch_add + ddsketch_quantile, per row (scalar pipeline)
# ---------------------------------------------------------------------------

_BIN_SQL, _VAL_SQL = rowwise_bin_value_sql("l_quantity")


@_declare(
    "q03_add_rowwise",
    f"""
    SELECT l_orderkey, l_linenumber, {_VAL_SQL} AS p50
    FROM lineitem WHERE l_orderkey % 97 = 0
    """,
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 97 == 0)
    empty = fs.ddsketch_create(0.01)
    sk = fs.ddsketch_add(F.lit(empty), F.col("l_quantity"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        fs.ddsketch_quantile(sk, F.lit(0.5)).cast("float").alias("p50"),
    )


# ---------------------------------------------------------------------------
# q04 — ddsketch_merge (merged sketch == sketch of the value union), plus
# chaos inputs: corrupt blobs, NULLs, empty sketches, and mixed-γ groups
# fed through BOTH the scalar UDF surface and the native merge, with the
# expected NULL semantics as literal oracle rows
# ---------------------------------------------------------------------------


def _q04_chaos_inputs():
    """Deterministic chaos blobs: two mergeable sketches, a γ-mismatched
    one, an empty one, and bytes that are not a sketch at all."""
    from ..sketch import DDSketch

    s1 = DDSketch(0.01).extend([1.0, 2.0, 3.0]).encode()
    s2 = DDSketch(0.01).extend([10.0, 20.0]).encode()
    s3 = DDSketch(0.02).extend([5.0]).encode()
    emp = DDSketch(0.01).encode()
    garbage = b"\xde\xad\xbe\xef\x00"
    return s1, s2, s3, emp, garbage


def _q04_chaos_expect() -> dict:
    """Expected (count, min, max, sum, avg, p50) per chaos part, computed
    from the kernel — the same semantics the SQL layer pins:

    - scalar ``ddsketch_merge``: corrupt blob, NULL input, or γ mismatch
      → NULL result, NULL extractors (lib.rs:191-194, 241-243);
    - native grouped merge: NULL/invalid rows are SKIPPED (aggregate
      NULL-skip, lib.rs:1024), γ-mismatched groups → NULL sketch;
    - empty sketches merge to an empty sketch: count 0, all else NULL.
    """
    from ..sketch import DDSketch

    s1, s2, _s3, _emp, _garbage = _q04_chaos_inputs()
    m = DDSketch.decode(s1)
    m.merge(DDSketch.decode(s2))
    ok = DDSketch.decode(m.encode())  # wire round-trip like the query
    one = DDSketch.decode(s1)

    def stats(s):
        return (
            int(s.get_count()),
            s.get_min(),
            s.get_max(),
            s.get_sum(),
            s.get_avg(),
            s.quantile(0.5),
        )

    null_row = (None,) * 6
    empty_row = (0, None, None, None, None, None)
    rows = {}
    for path in ("scalar", "native"):
        rows[f"chaos_{path}_ok"] = stats(ok)
        rows[f"chaos_{path}_mixed_gamma"] = null_row
        rows[f"chaos_{path}_empties"] = empty_row
    rows["chaos_scalar_corrupt"] = null_row
    rows["chaos_scalar_with_null"] = null_row
    # the native aggregate skips the unusable row; the valid one survives
    rows["chaos_native_corrupt"] = stats(one)
    rows["chaos_native_with_null"] = stats(one)
    return rows


def _q04_chaos_values_sql() -> str:
    def flit(v):
        # string -> DOUBLE -> REAL: a bare decimal literal would parse as
        # DECIMAL(16,15), whose REAL conversion rounds differently than
        # the double the kernel computed
        return (
            "CAST(NULL AS REAL)"
            if v is None
            else f"CAST(CAST('{v!r}' AS DOUBLE) AS REAL)"
        )

    rows = []
    for part, (c, mn, mx, sm, av, p50) in sorted(_q04_chaos_expect().items()):
        cc = "CAST(NULL AS BIGINT)" if c is None else f"CAST({c} AS BIGINT)"
        rows.append(
            f"('{part}', {cc}, {flit(mn)}, {flit(mx)}, {flit(sm)},"
            f" {flit(av)}, {flit(p50)})"
        )
    return ",\n        ".join(rows)


_Q04_ORACLE_BASE = quantile_oracle_sql(
    "lineitem",
    {},
    "l_quantity",
    quantiles=(0.5,),
    stats=("count", "min", "max", "sum", "avg"),
    where="l_returnflag IN ('A', 'R')",
)


@_declare(
    "q04_merge_two_sketches",
    f"""
    SELECT 'merged_ab' AS part, * FROM ({_Q04_ORACLE_BASE})
    UNION ALL
    SELECT * FROM (VALUES
        {_q04_chaos_values_sql()}
    ) AS t(part, count, min, max, sum, avg, p50)
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exercises every wire-path scalar extractor (count/min/max/sum/avg/
    # quantile — lib.rs registration surface) over one merged blob, then
    # the chaos matrix: corrupt/NULL/empty/mixed-γ inputs through the
    # scalar surface AND the native merge, oracle rows are the literal
    # expected NULL-semantics values
    from ..functions.aggregate import merge_sketches_native

    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").agg(
        sketch_values_agg(F.col("l_quantity")).alias("sa")
    )
    r = li.where(F.col("l_returnflag") == "R").agg(
        sketch_values_agg(F.col("l_quantity")).alias("sr")
    )
    merged = a.crossJoin(r).select(
        fs.ddsketch_merge(F.col("sa"), F.col("sr")).alias("m")
    )

    def extract(df, col, label_col="part"):
        m = F.col(col)
        return df.select(
            F.col(label_col).alias("part"),
            fs.ddsketch_count(m).alias("count"),
            fs.ddsketch_min(m).cast("float").alias("min"),
            fs.ddsketch_max(m).cast("float").alias("max"),
            fs.ddsketch_sum(m).cast("float").alias("sum"),
            fs.ddsketch_avg(m).cast("float").alias("avg"),
            fs.ddsketch_quantile(m, F.lit(0.5)).cast("float").alias("p50"),
        )

    base = extract(merged.withColumn("part", F.lit("merged_ab")), "m")

    s1, s2, s3, emp, garbage = _q04_chaos_inputs()
    pairs = spark.createDataFrame(
        [
            ("chaos_scalar_ok", s1, s2),
            ("chaos_scalar_mixed_gamma", s1, s3),
            ("chaos_scalar_corrupt", s1, garbage),
            ("chaos_scalar_with_null", s1, None),
            ("chaos_scalar_empties", emp, emp),
        ],
        "part string, a binary, b binary",
    )
    scalar_part = extract(
        pairs.select(
            "part", fs.ddsketch_merge(F.col("a"), F.col("b")).alias("m")
        ),
        "m",
    )
    ndf = spark.createDataFrame(
        [
            ("chaos_native_ok", s1),
            ("chaos_native_ok", s2),
            ("chaos_native_mixed_gamma", s1),
            ("chaos_native_mixed_gamma", s3),
            ("chaos_native_corrupt", s1),
            ("chaos_native_corrupt", garbage),
            ("chaos_native_with_null", s1),
            ("chaos_native_with_null", None),
            ("chaos_native_empties", emp),
            ("chaos_native_empties", emp),
        ],
        "part string, sketch binary",
    )
    native_part = extract(
        merge_sketches_native(ndf, ["part"], "sketch"), "sketch"
    )
    return base.unionAll(scalar_part).unionAll(native_part)


# ---------------------------------------------------------------------------
# q10 — ddsketch_stats struct (flattened)
# ---------------------------------------------------------------------------


@_declare(
    "q10_stats_by_event_type",
    quantile_oracle_sql(
        "events",
        {"event_type": "event_type"},
        "value",
        stats=("count", "sum", "min", "max", "avg"),
    ),
)
def q10(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(sketch_values_agg(F.col("value")).alias("s"))
    st = sk.select("event_type", fs.ddsketch_stats(F.col("s")).alias("st"))
    return st.select(
        "event_type",
        F.col("st.count").alias("count"),
        F.col("st.sum").cast("float").alias("sum"),
        F.col("st.min").cast("float").alias("min"),
        F.col("st.max").cast("float").alias("max"),
        F.col("st.avg").cast("float").alias("avg"),
    )


# ---------------------------------------------------------------------------
# q11 — ddsketch_agg roll-up over pre-serialized sketches (the reference's
# canonical workload: hourly sketches → daily/service roll-up)
# ---------------------------------------------------------------------------

_Q11_QS = (0.5, 0.95, 0.99)


@_declare(
    "q11_agg_rollup_event_type",
    quantile_oracle_sql(
        "events",
        {"event_type": "event_type"},
        "value",
        quantiles=_Q11_QS,
        stats=("count",),
    ),
)
def q11(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    # pre-serialized sketch table (FIXTURES.md `pre_sketches` pattern) built
    # on the native path — wire bytes only materialize at the boundary —
    # then the reference's canonical ddsketch_agg roll-up over the blobs.
    pre = native.sketch_struct_agg(ev, ["day", "event_type"], "value", 0.01).select(
        "day", "event_type", native.struct_to_wire("sketch").alias("sketch")
    )
    # roll the pre-serialized blobs up on the native merge path: ONE map-only
    # Arrow hop decodes the blobs to the struct working form, the merge is a
    # Catalyst hash aggregate WITH partial aggregation, and the quantiles are
    # fold expressions over the merged struct — no re-encode, no Python
    # stats pass (raw AggregateInPandas ddsketch_agg — which shuffles every
    # blob to its reducer — stays covered by the pure-SQL CTE query)
    decoded = pre.select(
        "event_type", native.wire_to_struct("sketch").alias("sketch")
    )
    rolled = native.merge_struct_sketches(decoded, ["event_type"], "sketch")
    return rolled.select(
        "event_type",
        native.struct_count(F.col("sketch")).alias("count"),
        *[
            F.expr(native.struct_quantile_sql("sketch", q))
            .cast("float")
            .alias(f"p{qname(q)}")
            for q in _Q11_QS
        ],
    )


# ---------------------------------------------------------------------------
# q12 — ddsketch_stats_agg's finalizer (ddsketch_stats_full) over natively
# ingested wire blobs, flattened
# ---------------------------------------------------------------------------

_Q12_STATS = ("count", "sum", "avg", "min", "max")


@_declare(
    "q12_stats_agg_by_linestatus",
    quantile_oracle_sql(
        "lineitem",
        {"l_linestatus": "l_linestatus"},
        "l_discount",
        quantiles=(0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
        stats=_Q12_STATS,
    ),
)
def q12(spark, sf_dir):
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    # native ingest to wire blobs: the binned hash aggregate partially
    # aggregates map-side, so only (key, sign, bin) counts shuffle — never
    # raw rows. Identical final bins to direct ingest (bin-count addition
    # commutes across any partial split).
    pre = native.sketch_struct_agg(li, ["l_linestatus"], "l_discount")
    agg = pre.select(
        "l_linestatus",
        fs.ddsketch_stats_full(native.struct_to_wire("sketch")).alias("st"),
    )
    return agg.select(
        "l_linestatus",
        F.col("st.count").alias("count"),
        F.col("st.sum").cast("float").alias("sum"),
        F.col("st.avg").cast("float").alias("avg"),
        F.col("st.min").cast("float").alias("min"),
        F.col("st.max").cast("float").alias("max"),
        F.col("st.p25").cast("float").alias("p25"),
        F.col("st.p50").cast("float").alias("p50"),
        F.col("st.p75").cast("float").alias("p75"),
        F.col("st.p90").cast("float").alias("p90"),
        F.col("st.p95").cast("float").alias("p95"),
        F.col("st.p99").cast("float").alias("p99"),
    )


# ---------------------------------------------------------------------------
# q13 — native day-level roll-up with many groups (scale-shaped)
# ---------------------------------------------------------------------------

_Q13_QS = (0.5, 0.9, 0.99)


@_declare(
    "q13_native_daily_rollup",
    quantile_oracle_sql(
        "events",
        {
            "day": "strftime(date_trunc('day', ts), '%Y-%m-%d')",
            "event_type": "event_type",
        },
        "value",
        quantiles=_Q13_QS,
        stats=("count", "avg"),
    ),
)
def q13(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    out = native.sketch_quantile_agg(ev, ["day", "event_type"], "value", 0.01, _Q13_QS)
    return out.select(
        "day",
        "event_type",
        "count",
        *_f32("avg", *[f"p{qname(q)}" for q in _Q13_QS]),
    )


# ---------------------------------------------------------------------------
# q14 — native struct working form: build, merge, extract (no wire hops)
# ---------------------------------------------------------------------------


@_declare(
    "q14_struct_merge_native",
    quantile_oracle_sql(
        "orders",
        {"o_orderstatus": "o_orderstatus"},
        "o_totalprice",
        quantiles=(0.5, 0.9),
        stats=("count",),
    ),
)
def q14(spark, sf_dir):
    _prep(spark)
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "month", F.date_trunc("month", F.col("o_orderdate"))
    )
    per_month = native.sketch_struct_agg(
        orders, ["o_orderstatus", "month"], "o_totalprice", 0.01
    )
    merged = native.merge_struct_sketches(per_month, ["o_orderstatus"], "sketch")
    return merged.select(
        "o_orderstatus",
        native.struct_count(F.col("sketch")).alias("count"),
        native.struct_quantile("sketch", 0.5).cast("float").alias("p50"),
        native.struct_quantile("sketch", 0.9).cast("float").alias("p90"),
    )


# ===========================================================================
# Beyond-reference operators: training-data pipeline over documents/embeddings
# ===========================================================================

# The DuckDB mirrors below intentionally re-derive the same deterministic
# constructions (md5 hash family, word n-grams, double-promoted folds) so the
# driver's value-hash check applies to these operators too.

_TOKS = "string_split(trim(text), ' ')"


@_declare(
    "q20_exact_dedup_summary",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))) AS BIGINT) AS n_dups
    FROM documents GROUP BY source
    """,
)
def q20(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_summary(docs, ["source"])


@_declare(
    "q21_ngram_jaccard_pairs",
    f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len({_TOKS}) - 1, 0) + 1),
                   i -> {_TOKS}[CAST(i AS INT)] || ' ' || {_TOKS}[CAST(i AS INT) + 1]
               )) AS s
        FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           CAST(s.inter * 1.0 / (sa.sz + sb.sz - s.inter) AS REAL) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE s.inter * 1.0 / (sa.sz + sb.sz - s.inter) >= 0.10
    """,
)
def q21(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.jaccard_pairs(docs, threshold=0.10)
    return out.select("id_a", "id_b", F.col("jaccard").cast("float").alias("jaccard"))


def _minhash_sql(num_hashes: int = 16) -> str:
    """DuckDB expression list mirroring minhash_signature()."""
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len({_TOKS}) - 1, 0) + 1), "
        f"i -> {_TOKS}[CAST(i AS INT)] || ' ' || {_TOKS}[CAST(i AS INT) + 1]))"
    )
    sig = ", ".join(
        f"list_aggregate(list_transform({shingles}, s -> md5('{i}|' || s)), 'min')"
        for i in range(num_hashes)
    )
    return f"[{sig}]"


@_declare(
    "q22_minhash_lsh_neardups",
    f"""
    WITH sig AS (SELECT doc_id, {_minhash_sql(16)} AS sg FROM documents),
    banded AS (
        SELECT doc_id, b.band_id,
               md5(sg[b.band_id * 4 + 1] || '|' || sg[b.band_id * 4 + 2] || '|' ||
                   sg[b.band_id * 4 + 3] || '|' || sg[b.band_id * 4 + 4]) AS band_hash
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
    ),
    bsz AS (
        -- mirror of the Spark side's max_bucket=1000 skew cap: a band
        -- bucket larger than the cap produces NO candidates in EITHER
        -- engine, so parity holds at any scale factor, not just where no
        -- bucket happens to exceed the cap (knob-audit rule; see
        -- tests/test_knob_audit.py)
        SELECT band_id, band_hash, COUNT(*) AS n
        FROM banded GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        JOIN bsz s
          ON s.band_id = a.band_id AND s.band_hash = a.band_hash
        WHERE s.n <= 1000
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len({_TOKS}) - 1, 0) + 1),
                   i -> {_TOKS}[CAST(i AS INT)] || ' ' || {_TOKS}[CAST(i AS INT) + 1]
               )) AS s
        FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b,
           CAST(s.inter * 1.0 / (sa.sz + sb.sz - s.inter) AS REAL) AS jaccard
    FROM shared s
    JOIN cand c ON c.id_a = s.id_a AND c.id_b = s.id_b
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE s.inter * 1.0 / (sa.sz + sb.sz - s.inter) >= 0.5
    """,
)
def q22(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    # max_bucket pinned explicitly; the oracle's bsz CTE mirrors the cap
    out = dedup.minhash_lsh_dedup(docs, threshold=0.5, max_bucket=1000)
    return out.select("id_a", "id_b", F.col("jaccard").cast("float").alias("jaccard"))


def _simhash_sql(bits: int = 60) -> str:
    """DuckDB expression mirroring simhash() bit for bit."""
    toks = f"list_distinct({_TOKS})"
    hashes = (
        f"list_transform({toks}, s -> CAST(CAST('0x' || substr(md5(s), 1, 15) AS UBIGINT) AS BIGINT))"
    )
    terms = []
    for j in range(bits):
        vote = (
            f"list_aggregate(list_transform({hashes}, "
            f"h -> CASE WHEN (h & {1 << j}) != 0 THEN 1 ELSE -1 END), 'sum')"
        )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END")
    return " + ".join(terms)


_COS_SQL = (
    "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
)


@_declare(
    "q24_embedding_near_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST({_COS_SQL} AS REAL) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.45
    """,
)
def q24(spark, sf_dir):
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_near_pairs(emb, 0.45)
    return out.select("id_a", "id_b", F.col("cos").cast("float").alias("cos"))


# ---------------------------------------------------------------------------
# q24b — bucketed near-dup pairs (embedding_neardup_lsh): the scale path of
# q24, driver-gated with a FULL oracle mirror (round 7 knob audit: this was
# the last operator whose max_bucket skew cap had no oracle mirror). The
# mirror reproduces the whole pipeline — both code tables' hyperplanes
# (contiguous plane indices, so one literal list serves both), the
# bucket-size cap, OR-construction candidate dedup, exact cosine verify —
# so parity holds at any scale, cap crossings included. planes/tables are
# pinned literals (the auto law needs a count() the oracle can't see).
# ---------------------------------------------------------------------------

def _planes_sql(planes: int = 8, dims: int = 64) -> str:
    """DuckDB literal arrays for the deterministic md5-derived hyperplanes —
    the exact constants Spark embeds via F.lit."""
    rows = []
    for p in range(planes):
        comps = ", ".join(
            repr(similarity._plane_component(p, d)) for d in range(dims)
        )
        rows.append(f"[{comps}]")
    return "[" + ", ".join(rows) + "]"


_Q24B_PLANES, _Q24B_TABLES, _Q24B_MAXB = 4, 4, 2000


@_declare(
    "q24b_embedding_neardup_lsh",
    f"""
    WITH p AS (SELECT {_planes_sql(_Q24B_PLANES * _Q24B_TABLES, 64)} AS planes),
    coded AS (
        SELECT vec_id, t.tbl,
               list_aggregate(list_transform(range(1, {_Q24B_PLANES + 1}),
                   pl -> CASE WHEN list_dot_product(
                       list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       planes[t.tbl * {_Q24B_PLANES} + pl]) > 0
                   THEN CAST(2 ** (pl - 1) AS BIGINT) ELSE 0 END),
                   'sum') AS code
        FROM embeddings, p, (SELECT unnest([0, 1, 2, 3]) AS tbl) t
    ),
    bsz AS (SELECT tbl, code, COUNT(*) AS n FROM coded GROUP BY 1, 2),
    kept AS (
        SELECT c.vec_id, c.tbl, c.code
        FROM coded c JOIN bsz s ON s.tbl = c.tbl AND s.code = c.code
        WHERE s.n <= {_Q24B_MAXB}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM kept a JOIN kept b
          ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b, {_COS_SQL} AS cos
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.id_a
        JOIN embeddings b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b, CAST(cos AS REAL) AS cos
    FROM scored WHERE cos >= 0.45
    """,
)
def q24b(spark, sf_dir):
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.embedding_neardup_lsh(
        emb,
        threshold=0.45,
        planes=_Q24B_PLANES,
        dims=64,
        tables=_Q24B_TABLES,
        max_bucket=_Q24B_MAXB,
    )
    return out.select("id_a", "id_b", F.col("cos").cast("float").alias("cos"))


@_declare(
    "q25_ann_bruteforce_topk",
    f"""
    WITH scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL.replace('a.embedding','a.embedding').replace('b.embedding','b.embedding')} AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
        WHERE a.vec_id % 25 = 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(cos AS REAL) AS cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q25(spark, sf_dir):
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 25 == 0)
    # BLAS path: equal to the fold-based brute_force_topk modulo summation
    # ulps, which the float32 output cast absorbs (see test_blas_topk_...)
    out = similarity.brute_force_topk_blas(emb, queries_df, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cos").cast("float").alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


@_declare(
    "q30_token_stats",
    f"""
    SELECT doc_id,
        CAST(len({_TOKS}) AS INT) AS n_tokens,
        CAST(len(list_distinct({_TOKS})) AS INT) AS n_distinct_tokens,
        CAST(length(text) AS INT) AS n_chars,
        CAST(ceil(length(text) / 4.0) AS INT) AS est_bpe_tokens,
        CAST(length(text) * 1.0 / len({_TOKS}) AS REAL) AS avg_token_len
    FROM documents
    """,
)
def q30(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = text.token_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("int").alias("n_distinct_tokens"),
        F.col("n_chars").cast("int").alias("n_chars"),
        F.col("est_bpe_tokens").cast("int").alias("est_bpe_tokens"),
        F.col("avg_token_len").cast("float").alias("avg_token_len"),
    )


_SW = "', '".join(text.DEFAULT_STOPWORDS)


@_declare(
    "q31_quality_by_source",
    f"""
    WITH per_doc AS (
        SELECT source,
            len({_TOKS}) AS n,
            len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) AS diversity,
            len(list_filter(string_split(lower(trim(text)), ' '), w -> w IN ('{_SW}'))) * 1.0
                / len({_TOKS}) AS sw,
            (CASE WHEN len({_TOKS}) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.5 END) AS length_ok
        FROM documents
    )
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(AVG((length_ok + diversity + least(sw * 5.0, 1.0)) / 3.0) AS REAL) AS avg_quality,
        CAST(AVG(n) AS REAL) AS avg_tokens
    FROM per_doc GROUP BY source
    """,
)
def q31(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "source",
        F.size(text.tokens(F.col("text"))).alias("n"),
        text.quality_score(F.col("text")).alias("q"),
    )
    return per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.avg("q").cast("float").alias("avg_quality"),
        F.avg("n").cast("float").alias("avg_tokens"),
    )


@_declare(
    "q32_fingerprint_dedup",
    f"""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS f
        FROM documents
    )
    SELECT f AS fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM fp GROUP BY f HAVING COUNT(*) > 1
    """,
)
def q32(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", text.fingerprint(F.col("text")).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# q85 — exact repeated-span (substring-level) dedup: n-token spans occurring
# in >= 2 distinct documents (boilerplate the doc-level dedups can't see)
# ---------------------------------------------------------------------------

_Q85_N = 8


@_declare(
    "q85_repeated_span_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - {_Q85_N - 1}, 0) + 1),
                      i -> md5(array_to_string(t[CAST(i AS INT):CAST(i + {_Q85_N - 1} AS INT)], ' ')))) AS span_hash
        FROM toks
    )
    SELECT span_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM grams
    GROUP BY span_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def q85(spark, sf_dir):
    from ..operators import dedup

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    return dedup.repeated_spans(
        docs, text="text", id_col="doc_id", n=_Q85_N, min_docs=2
    )


# ---------------------------------------------------------------------------
# q86 — duplicate-span EXTENTS: the "dedup the span, not the doc" operator.
# Stitches overlapping/adjacent cross-document-repeated n-grams into maximal
# per-document token ranges (the rows substring removal actually cuts).
# Oracle: identical gram census + the same lag/running-sum stitching.
# ---------------------------------------------------------------------------


@_declare(
    "q86_duplicate_span_extents",
    f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest(list_transform(
                   range(1, greatest(len(t) - {_Q85_N - 1}, 0) + 1),
                   i -> struct_pack(
                       pos := CAST(i AS INT),
                       h := md5(array_to_string(
                           t[CAST(i AS INT):CAST(i + {_Q85_N - 1} AS INT)], ' '))
                   )), recursive := true) AS g
        FROM toks
    ),
    dup AS (
        SELECT h FROM grams GROUP BY h
        HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    marked AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)
    ),
    lagged AS (
        SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM marked
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - prev <= {_Q85_N} THEN 0 ELSE 1 END AS brk
        FROM lagged
    ),
    ext AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS eid
        FROM flagged
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + {_Q85_N - 1} AS INT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM ext GROUP BY doc_id, eid
    """,
)
def q86(spark, sf_dir):
    from ..operators import dedup

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    # gram_hash stated explicitly at this oracle-gated site: xxhash64 keys
    # never reach the output (only stitched positions do), so parity with
    # the DuckDB oracle rests on the duplicated-gram SET matching —
    # ~3e-5 collision-flip odds at the 34M-gram bench scale, loud (hash
    # mismatch) if it ever fires. Trade accepted here, not inherited.
    return dedup.duplicate_span_extents(
        docs, text="text", id_col="doc_id", n=_Q85_N, min_docs=2,
        gram_hash="xxhash64",
    )


# ---------------------------------------------------------------------------
# q15 — nested ddsketch_merge across columns (README.md:148-169 multi-region
# shape): merge(merge(s1,s2), merge(s3,s4)) == sketch of the value union
# ---------------------------------------------------------------------------


@_declare(
    "q15_nested_column_merge",
    quantile_oracle_sql(
        "lineitem",
        {},
        "l_extendedprice",
        quantiles=(0.99,),
        stats=("count",),
        where="l_returnflag IN ('A', 'N', 'R')",
    ),
)
def q15(spark, sf_dir):
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    # one sketch column per "region" (returnflag) — pandas UDAFs can't run in
    # PIVOT, so build the columns as three aggregates joined side by side —
    # then the nested pairwise merges of the README's multi-region pattern
    cols = []
    for flag in ("A", "N", "R"):
        cols.append(
            li.where(F.col("l_returnflag") == flag).agg(
                sketch_values_agg(F.col("l_extendedprice")).alias(flag)
            )
        )
    per_flag = cols[0].crossJoin(cols[1]).crossJoin(cols[2])
    merged = per_flag.select(
        fs.ddsketch_merge(
            fs.ddsketch_merge(F.col("A"), F.col("N")), F.col("R")
        ).alias("global_sketch")
    )
    return merged.select(
        fs.ddsketch_count(F.col("global_sketch")).alias("count"),
        fs.ddsketch_quantile(F.col("global_sketch"), F.lit(0.99))
        .cast("float")
        .alias("p99"),
    )


# ---------------------------------------------------------------------------
# q16 — filtered roll-up (README.md:174-198: WHERE service=... GROUP BY) with
# time-range + equality predicates that must reach the parquet scan
# ---------------------------------------------------------------------------


@_declare(
    "q16_filtered_service_rollup",
    quantile_oracle_sql(
        "events",
        {"event_type": "event_type"},
        "value",
        quantiles=(0.95,),
        stats=("count",),
        where="ts >= TIMESTAMP '2024-01-03 00:00:00' AND event_type IN ('click', 'view', 'purchase')",
    ),
)
def q16(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit("2024-01-03 00:00:00").cast("timestamp"))
        & F.col("event_type").isin("click", "view", "purchase")
    )
    out = native.sketch_quantile_agg(ev, ["event_type"], "value", 0.01, (0.95,))
    return out.select("event_type", "count", F.col("p95").cast("float").alias("p95"))


# ---------------------------------------------------------------------------
# q17 — the pure spark.sql surface: registered UDF/UDAF names, CTEs, struct
# field access (integration_test.sql shapes), end to end in SQL text
# ---------------------------------------------------------------------------


@_declare(
    "q17_sql_surface_cte",
    quantile_oracle_sql(
        "orders",
        {"o_orderstatus": "o_orderstatus"},
        "o_totalprice",
        quantiles=(0.5,),
        stats=("count", "avg"),
    ),
)
def q17(spark, sf_dir):
    _prep(spark)
    from .. import register_ddsketch_functions
    from ..sources import register_views

    register_ddsketch_functions(spark)
    register_views(spark, sf_dir, ["orders"])
    # build per-status pre-sketches in SQL (scalar sub-pipeline), roll up with
    # the registered UDAF, extract stats via the struct-returning scalar.
    # The seed comes from the reference's TABLE-FUNCTION constructor
    # syntax VERBATIM (src/lib.rs:53-113, the README's first query) — a
    # Python UDTF emitting one constant (sketch BINARY) row, cross-joined
    # in; Catalyst broadcasts the 1-row side, so this is pure syntax
    # surface with no plan cost. ddsketch_empty(α) remains the scalar
    # expression-position form of the same constructor.
    return spark.sql(
        """
        WITH seed AS (
            SELECT sketch AS empty_sk FROM ddsketch_create(0.01)
        ),
        pre AS (
            SELECT o_orderstatus,
                   CAST(o_orderkey % 16 AS INT) AS bkt,
                   o_totalprice
            FROM orders
        ),
        sketches AS (
            SELECT o_orderstatus, bkt, ddsketch_agg(sk) AS sketch
            FROM (
                SELECT o_orderstatus, bkt,
                       ddsketch_add(empty_sk, o_totalprice) AS sk
                FROM pre CROSS JOIN seed
            )
            GROUP BY o_orderstatus, bkt
        ),
        rolled AS (
            -- the reference's single-name aggregate, VERBATIM (lib.rs:955-981):
            -- register_all's SQL macro rewrites it to
            -- ddsketch_stats_full(ddsketch_agg(sketch))
            SELECT o_orderstatus, ddsketch_stats_agg(sketch) AS st
            FROM sketches GROUP BY o_orderstatus
        )
        SELECT o_orderstatus,
               st.count AS count,
               CAST(st.avg AS FLOAT) AS avg,
               CAST(st.p50 AS FLOAT) AS p50
        FROM rolled
        """
    )


# ---------------------------------------------------------------------------
# q26 — LSH-bucketed ANN (the scale path for similarity search)
# ---------------------------------------------------------------------------


_Q26_CODE = (
    "list_aggregate(list_transform(range(1, 9), p -> CASE WHEN "
    "list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), planes[p]) > 0 "
    "THEN CAST(2 ** (p - 1) AS BIGINT) ELSE 0 END), 'sum')"
)


@_declare(
    "q26_ann_lsh_topk",
    f"""
    WITH p AS (SELECT {_planes_sql(8, 64)} AS planes),
    coded AS (
        SELECT vec_id, embedding, {_Q26_CODE} AS code
        FROM embeddings, p
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos
        FROM coded a JOIN coded b
          ON a.code = b.code AND b.vec_id != a.vec_id
        WHERE a.vec_id % 25 = 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(cos AS REAL) AS cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q26(spark, sf_dir):
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 25 == 0)
    out = similarity.lsh_topk(emb, queries_df, k=3, planes=8, dims=64)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cos").cast("float").alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q26b — LSH-bucketed ANN over int8 quantized codes (round 7): the 100 TB
# route where the bucketed corpus ships 4x fewer bytes. Hyperplane signs are
# scale-invariant under symmetric quantization and cosine is scale-free, so
# the quantized route mirrors q26's structure; scoring is
# qdot / (sqrt(|q|^2)*sqrt(|n|^2)) from EXACT BIGINTs — every float op is a
# single correctly-rounded IEEE step, so both engines produce bit-identical
# cos values (no summation-order drift, no float tolerance in the gate).
# ---------------------------------------------------------------------------

_Q26B_CODES = (
    "list_transform(embedding, x -> CAST(GREATEST(-127, LEAST(127, "
    "CAST(floor(CAST(x AS DOUBLE) / sc.s + 0.5) AS BIGINT))) AS DOUBLE))"
)


@_declare(
    "q26b_ann_lsh_quantized",
    f"""
    WITH p AS (SELECT {_planes_sql(8, 64)} AS planes),
    sc AS (
        SELECT max(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))))) / 127 AS s
        FROM embeddings
    ),
    qc AS (
        SELECT vec_id, {_Q26B_CODES} AS codes
        FROM embeddings, sc
    ),
    coded AS (
        SELECT vec_id, codes,
               list_aggregate(list_transform(range(1, 9), pl -> CASE WHEN
                   list_dot_product(codes, planes[pl]) > 0
                   THEN CAST(2 ** (pl - 1) AS BIGINT) ELSE 0 END),
                   'sum') AS code,
               CAST(list_dot_product(codes, codes) AS BIGINT) AS nsq
        FROM qc, p
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_dot_product(a.codes, b.codes) AS BIGINT)
               / NULLIF(sqrt(CAST(a.nsq AS DOUBLE))
                        * sqrt(CAST(b.nsq AS DOUBLE)), 0) AS cos
        FROM coded a JOIN coded b
          ON a.code = b.code AND b.vec_id != a.vec_id
        WHERE a.vec_id % 25 = 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored WHERE cos IS NOT NULL
    )
    SELECT query_id, neighbor_id, CAST(cos AS REAL) AS cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q26b(spark, sf_dir):
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    scale = similarity.quantize_calibration(emb, bits=8)
    qc = similarity.quantize_embeddings(emb, scale, bits=8)
    out = similarity.lsh_topk(
        qc,
        qc.where(F.col("vec_id") % 25 == 0),
        k=3,
        planes=8,
        dims=64,
        codes_col="qcodes",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cos").cast("float").alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q27 — multimodal binary columns: opaque payload + typed metadata stats
# ---------------------------------------------------------------------------


@_declare(
    "q27_binary_payload_stats",
    """
    WITH media AS (
        -- DuckDB's md5 only takes VARCHAR; hashing the text hashes the same
        -- UTF-8 bytes Spark's md5(payload BINARY) sees
        SELECT doc_id, lang, octet_length(encode(text)) AS n_bytes, md5(text) AS h
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(AVG(n_bytes) AS REAL) AS avg_bytes,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_payloads
    FROM media GROUP BY lang
    """,
)
def q27(spark, sf_dir):
    _prep(spark)
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    media = multimodal.as_media(docs, "doc_id", "payload").join(
        docs.select(F.col("doc_id").alias("media_id"), "lang"), "media_id"
    )
    return media.groupBy("lang").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg("n_bytes").cast("float").alias("avg_bytes"),
        F.countDistinct(F.md5(F.col("payload"))).alias("n_distinct_payloads"),
    )


# ---------------------------------------------------------------------------
# q33 — language identification (marker-lexicon heuristic, argmax per doc)
# ---------------------------------------------------------------------------


def _langid_sql() -> str:
    toks_l = "string_split(lower(trim(text)), ' ')"
    entries = []
    for lang, markers in sorted(text.LANG_MARKERS.items()):
        inlist = "', '".join(markers)
        score = (
            f"len(list_filter({toks_l}, w -> w IN ('{inlist}'))) * 1.0"
            f" / len({toks_l})"
        )
        entries.append(f"{{'score': CAST({score} AS DOUBLE), 'lang': '{lang}'}}")
    arr = "[" + ", ".join(entries) + "]"
    return (
        f"CASE WHEN list_aggregate({arr}, 'max').score > 0"
        f" THEN list_aggregate({arr}, 'max').lang ELSE 'unknown' END"
    )


@_declare(
    "q33_language_id",
    f"""
    SELECT lang AS labeled_lang, {_langid_sql()} AS guessed_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def q33(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        F.col("lang").alias("labeled_lang"),
        text.language_id(F.col("text")).alias("guessed_lang"),
    )
    return per.groupBy("labeled_lang", "guessed_lang").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# q18 — weighted sketching (add_with_count semantics: counts are weights) at
# non-default relative accuracy (alpha=0.05): one query pins BOTH the weight
# routing and the gamma parameterization of the alpha formula
# ---------------------------------------------------------------------------


@_declare(
    "q18_weighted_quantiles",
    quantile_oracle_sql(
        "lineitem",
        {"l_linestatus": "l_linestatus"},
        "l_extendedprice",
        alpha=0.05,
        quantiles=(0.5, 0.9),
        stats=("count",),
        weight="l_quantity",
    ),
)
def q18(spark, sf_dir):
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    out = native.sketch_quantile_agg(
        li, ["l_linestatus"], "l_extendedprice", 0.05, (0.5, 0.9), weight="l_quantity"
    )
    return out.select(
        "l_linestatus",
        "count",
        F.col("p50").cast("float").alias("p50"),
        F.col("p90").cast("float").alias("p90"),
    )


# ---------------------------------------------------------------------------
# q28 — IVF-style ANN: per-label centroids as coarse cells, nprobe=2
# ---------------------------------------------------------------------------

_Q28_COS_QB = (
    "list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
)


@_declare(
    "q28_ann_ivf_topk",
    f"""
    WITH cent AS (
        SELECT label AS cell, i AS pos, AVG(CAST(embedding[i] AS DOUBLE)) AS m
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t
        WHERE label IS NOT NULL
        GROUP BY 1, 2
    ),
    centroids AS (
        SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell
    ),
    probes AS (
        SELECT q.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       list_transform(q.embedding, x -> CAST(x AS DOUBLE)),
                       c.centroid) DESC, c.cell ASC
               ) AS crank
        FROM embeddings q, centroids c
        WHERE q.vec_id % 25 = 0
    ),
    sel AS (SELECT query_id, cell FROM probes WHERE crank <= 2),
    scored AS (
        SELECT s.query_id, b.vec_id AS neighbor_id, {_Q28_COS_QB} AS cos
        FROM sel s
        JOIN embeddings b ON b.label = s.cell AND b.vec_id != s.query_id
        JOIN embeddings q ON q.vec_id = s.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(cos AS REAL) AS cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q28(spark, sf_dir):
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 25 == 0)
    out = similarity.ivf_topk(emb, queries_df, k=5, nprobe=2)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("cos").cast("float").alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q29 — duplicate-cluster resolution over near-dup pairs (connected
# components: iterative min-label propagation; oracle = recursive CTE
# computing each node's reachability-minimum)
# ---------------------------------------------------------------------------


@_declare(
    "q29_duplicate_clusters",
    f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, greatest(len({_TOKS}) - 1, 0) + 1),
                   i -> {_TOKS}[CAST(i AS INT)] || ' ' || {_TOKS}[CAST(i AS INT) + 1]
               )) AS s
        FROM documents WHERE doc_id % 3 = 0
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    sizes AS (SELECT doc_id, len(s) AS sz FROM sh),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT s.id_a, s.id_b
        FROM shared s
        JOIN sizes sa ON sa.doc_id = s.id_a
        JOIN sizes sb ON sb.doc_id = s.id_b
        WHERE s.inter * 1.0 / (sa.sz + sb.sz - s.inter) >= 0.10
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    )
    SELECT id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def q29(spark, sf_dir):
    _prep(spark)
    # sub-sample so the pair graph stays bounded at any scale factor — this
    # is an exact-verification query; the sampled subgraph fully exercises
    # the clustering operator
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    pairs = dedup.jaccard_pairs(docs, threshold=0.10)
    return dedup.duplicate_clusters(pairs)


# ---------------------------------------------------------------------------
# q34 — Structured Streaming execution vs batch oracle: hourly tumbling
# windowed sketches over the events stream; the emitted per-window binned
# state is finalized and must equal direct batch sketching of the same rows
# ---------------------------------------------------------------------------


@_declare(
    "q34_streaming_hourly_windows",
    quantile_oracle_sql(
        "events",
        {
            "window_start": "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')",
            "event_type": "event_type",
        },
        "value",
        quantiles=(0.5, 0.95),
        stats=("count",),
    ),
)
def q34(spark, sf_dir):
    import os
    import tempfile

    _prep(spark)
    from ..streaming import streaming_quantiles, windowed_binned_counts

    from ..sources import load_stream

    stream = load_stream(spark, sf_dir, "events")
    binned = windowed_binned_counts(
        stream, "ts", ["event_type"], "value", window="1 hour", watermark="0 seconds"
    )
    # update mode so the final (never-watermark-closed) windows are emitted
    # too; later micro-batches re-emit updated rows, so keep the last
    # emission per (window, key, sign, bin). Driver-side dict sink is TEST
    # HARNESS ONLY (bounded: one entry per window x key x bin) — production
    # streams write to a real sink (parquet/Kafka/Delta) in append mode.
    state = {}

    def sink(batch_df, _id):
        for r in batch_df.collect():
            state[(r.window_start, r.window_end, r.event_type, r.sign, r.bin)] = r.cnt

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            binned.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    sink_df = spark.createDataFrame(
        [(*k, cnt) for k, cnt in state.items()],
        "window_start timestamp, window_end timestamp, event_type string,"
        " sign int, bin int, cnt double",
    )
    out = streaming_quantiles(sink_df, ["event_type"], quantiles=(0.5, 0.95))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "count",
        F.col("p50").cast("float").alias("p50"),
        F.col("p95").cast("float").alias("p95"),
    )


# ---------------------------------------------------------------------------
# q35 — the scalable wire-blob merge topology: blobs decode map-side into the
# struct working form, the merge itself is a Catalyst hash aggregate WITH
# partial aggregation (the shuffle carries combined (key, sign, bin) counts,
# never raw blob rows), and the result re-encodes at the boundary
# ---------------------------------------------------------------------------


@_declare(
    "q35_scalable_merge_rollup",
    quantile_oracle_sql(
        "events",
        {"event_type": "event_type"},
        "value",
        quantiles=(0.5, 0.99),
        stats=("count",),
    ),
)
def q35(spark, sf_dir):
    _prep(spark)
    from ..functions.aggregate import merge_sketches_native

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    pre = native.sketch_struct_agg(ev, ["day", "event_type"], "value", 0.01).select(
        "day", "event_type", native.struct_to_wire("sketch").alias("sketch")
    )
    rolled = merge_sketches_native(pre, ["event_type"], "sketch")
    return rolled.select(
        "event_type",
        fs.ddsketch_count(F.col("sketch")).alias("count"),
        fs.ddsketch_quantile(F.col("sketch"), F.lit(0.5)).cast("float").alias("p50"),
        fs.ddsketch_quantile(F.col("sketch"), F.lit(0.99)).cast("float").alias("p99"),
    )


# ---------------------------------------------------------------------------
# q36 — SimHash near-dup pairs via Hamming-block banding (pigeonhole: any
# pair within Hamming distance 3 shares one of the 4 exact 15-bit blocks)
# ---------------------------------------------------------------------------


@_declare(
    "q36_simhash_pairs",
    f"""
    WITH sig AS (
        SELECT doc_id, CAST({_simhash_sql(60)} AS BIGINT) AS sh FROM documents
    ),
    banded AS (
        SELECT doc_id, sh, b.block_id,
               (sh >> (b.block_id * 15)) & 32767 AS block_val
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS block_id) b
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.sh, b.sh)) AS hamming
        FROM banded a
        JOIN banded b ON a.block_id = b.block_id
                     AND a.block_val = b.block_val
                     AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM pairs WHERE hamming <= 3
    """,
)
def q36(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.simhash_pairs(docs, max_hamming=3, bits=60, blocks=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ===========================================================================
# Round 2: sketch CDF/histogram, relational operators (as-of / sessions /
# band join), deterministic sampling, heavy hitters, tf-idf
# ===========================================================================

_C01 = constants(0.01)
_CDF_THRESHOLDS = (0.0, 2.0, 10.0, 50.0)


def _cdf_bin(v: float) -> int:
    import math as _m

    return _m.ceil(_m.log(v) / _C01["log_gamma"])


def _q37_oracle() -> str:
    lg = repr(_C01["log_gamma"])
    les = []
    outs = []
    for t in _CDF_THRESHOLDS:
        n = f"{t:g}".replace(".", "_")
        if t == 0.0:
            outs.append("CAST((negc + zeroc) / total AS REAL) AS cdf_0")
            continue
        b = _cdf_bin(t)
        # LN argument guarded: DuckDB evaluates the expression eagerly for
        # the whole vector inside aggregate arguments, so LN(0) would raise
        # even under CASE WHEN v > 0
        les.append(
            f"SUM(CASE WHEN v > 0 AND"
            f" CEIL(LN(CASE WHEN v > 0 THEN v ELSE 1 END) / {lg}) <= {b}"
            f" THEN 1 ELSE 0 END) AS le_{b}"
        )
        outs.append(
            f"CAST((negc + zeroc + le_{b}) / total AS REAL) AS cdf_{n}"
        )
    le_sql = ",\n           ".join(les)
    out_sql = ",\n       ".join(outs)
    return f"""
    WITH vals AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    agg AS (
        SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS total,
           SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS negc,
           SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS zeroc,
           {le_sql}
        FROM vals GROUP BY event_type
    )
    SELECT event_type, CAST(total AS BIGINT) AS count,
       {out_sql}
    FROM agg
    """


@_declare("q37_cdf_by_event_type", _q37_oracle())
def q37(spark, sf_dir):
    """ddsketch_cdf (beyond-reference inverse quantile): P[value <= t] per
    event_type, fully native over the struct working form."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    per = native.sketch_struct_agg(ev, ["event_type"], "value", 0.01)
    cols = ["event_type", "CAST(sketch.count AS BIGINT) AS count"]
    for t in _CDF_THRESHOLDS:
        n = f"{t:g}".replace(".", "_")
        cols.append(
            f"CAST({native.struct_cdf_sql('sketch', t, alpha=0.01)} AS FLOAT)"
            f" AS cdf_{n}"
        )
    return per.selectExpr(*cols)


def _q38_oracle() -> str:
    g = repr(_C01["gamma"])
    lg = repr(_C01["log_gamma"])
    return f"""
    WITH vals AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    b AS (
        SELECT event_type,
            CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
            CASE WHEN v > 0 THEN CAST(CEIL(LN(v) / {lg}) AS INTEGER)
                 WHEN v < 0 THEN CAST(CEIL(LN(-v) / {lg}) AS INTEGER)
                 ELSE 0 END AS bin,
            COUNT(*) AS cnt
        FROM vals GROUP BY 1, 2, 3
    )
    SELECT event_type,
        CAST(CASE WHEN sign = 1 THEN POWER({g}, bin - 1.0)
                  WHEN sign = 0 THEN 0.0
                  ELSE -POWER({g}, CAST(bin AS DOUBLE)) END AS REAL) AS bin_lo,
        CAST(CASE WHEN sign = 1 THEN POWER({g}, CAST(bin AS DOUBLE))
                  WHEN sign = 0 THEN 0.0
                  ELSE -POWER({g}, bin - 1.0) END AS REAL) AS bin_hi,
        CAST(cnt AS BIGINT) AS count
    FROM b
    """


@_declare("q38_sketch_histogram", _q38_oracle())
def q38(spark, sf_dir):
    """ddsketch_histogram: explode per-type sketches into (bin_lo, bin_hi,
    count) value ranges — native explode, no Python."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    per = native.sketch_struct_agg(ev, ["event_type"], "value", 0.01)
    hist = native.struct_histogram(per, ["event_type"])
    return hist.selectExpr(
        "event_type",
        "CAST(bin_lo AS FLOAT) AS bin_lo",
        "CAST(bin_hi AS FLOAT) AS bin_hi",
        "CAST(count AS BIGINT) AS count",
    )


@_declare(
    "q39_asof_join_click_error",
    """
    WITH clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    errors AS (
        SELECT user_id, ts FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id,
        CAST(COUNT(*) AS BIGINT) AS n_clicks,
        CAST(COUNT(e.ts) AS BIGINT) AS n_matched,
        CAST(SUM(epoch_us(c.ts) - epoch_us(e.ts)) AS BIGINT) AS total_lag_us,
        CAST(MAX(epoch_us(c.ts) - epoch_us(e.ts)) / 1000000.0 AS REAL) AS max_lag_s
    FROM clicks c ASOF LEFT JOIN errors e
        ON c.user_id = e.user_id AND c.ts >= e.ts
    GROUP BY c.user_id
    """,
)
def q39(spark, sf_dir):
    """As-of join (union-tag-window form): each click enriched with the
    latest preceding error of the same user; DuckDB ASOF JOIN is the oracle."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where("event_type = 'click'").select("user_id", "ts")
    errors = ev.where("event_type = 'error'").select("user_id", "ts")
    j = relational.asof_join(
        clicks, errors, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=[], direction="backward",
    )
    return j.groupBy("user_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_clicks"),
        F.expr("CAST(count(ts_r) AS BIGINT) AS n_matched"),
        F.expr(
            "CAST(sum(unix_micros(ts) - unix_micros(ts_r)) AS BIGINT)"
            " AS total_lag_us"
        ),
        F.expr(
            "CAST(max(unix_micros(ts) - unix_micros(ts_r)) / 1000000.0"
            " AS FLOAT) AS max_lag_s"
        ),
    )


@_declare(
    "q40_sessionization",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    lagged AS (
        SELECT user_id, us,
            CASE WHEN lag(us) OVER w IS NULL
                      OR us - lag(us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_s,
            event_id
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
        SELECT user_id, us,
            SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
        FROM lagged
    ),
    grp AS (
        SELECT user_id, session_idx, COUNT(*) AS n_events,
               MAX(us) - MIN(us) AS dur_us
        FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(n_events) AS BIGINT) AS n_events,
        CAST(MAX(n_events) AS BIGINT) AS max_session_events,
        CAST(SUM(dur_us) AS BIGINT) AS total_dur_us
    FROM grp GROUP BY user_id
    """,
)
def q40(spark, sf_dir):
    """Gap-based sessionization (30 min) per user; window-SQL oracle."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    s = relational.sessionize(
        ev, ["user_id"], "ts", gap_seconds=1800, tiebreak="event_id"
    )
    per_session = s.groupBy("user_id", "session_idx").agg(
        F.expr("count(*) AS n_events"),
        F.expr("max(unix_micros(ts)) - min(unix_micros(ts)) AS dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_sessions"),
        F.expr("CAST(sum(n_events) AS BIGINT) AS n_events"),
        F.expr("CAST(max(n_events) AS BIGINT) AS max_session_events"),
        F.expr("CAST(sum(dur_us) AS BIGINT) AS total_dur_us"),
    )


@_declare(
    "q41_range_band_join",
    """
    WITH errors AS (
        SELECT event_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
        SELECT ts FROM events WHERE event_type = 'click'
    )
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
        CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(COUNT(DISTINCT e.event_id) AS BIGINT) AS n_errors_hit
    FROM errors e JOIN clicks c
        ON epoch_us(c.ts) >= epoch_us(e.ts)
       AND epoch_us(c.ts) <= epoch_us(e.ts) + 300000000
    GROUP BY 1
    """,
)
def q41(spark, sf_dir):
    """Band range-join (bucketed equi-join form): clicks within 5 minutes
    after each error, rolled up per day; plain inequality join is the oracle."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where("event_type = 'error'").selectExpr(
        "event_id AS err_id", "ts"
    )
    clicks = ev.where("event_type = 'click'").select("ts")
    j = relational.range_band_join(
        errors, clicks, "ts", "ts", 0.0, 300.0
    )
    return (
        j.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_pairs"),
            F.expr("CAST(count(DISTINCT err_id) AS BIGINT) AS n_errors_hit"),
        )
    )


@_declare(
    "q42_hash_sample",
    f"""
    SELECT lang,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE substr(md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))), 1, 15)
          < '{"%015x" % int(0.1 * (16 ** 15))}'
    GROUP BY lang
    """,
)
def q42(spark, sf_dir):
    """Deterministic 10% hash sample of documents (engine-portable md5
    predicate), summarized per language."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    sampled = sampling.hash_sample(docs, 0.1, "doc_id")
    return sampled.groupBy("lang").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n"),
        F.expr("CAST(sum(n_chars) AS BIGINT) AS sum_chars"),
    )


@_declare(
    "q43_heavy_hitters",
    """
    WITH toks AS (
        SELECT source,
               unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents
    ),
    counts AS (
        SELECT source, token, COUNT(*) AS c
        FROM toks WHERE token <> '' GROUP BY 1, 2
    ),
    ranked AS (
        SELECT source, token, c,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY c DESC, token ASC) AS rank
        FROM counts
    )
    SELECT source, token, CAST(c AS BIGINT) AS token_count,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q43(spark, sf_dir):
    """Exact heavy hitters: top-10 tokens per source (vocabulary-bounded
    partial aggregation + per-group window)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = text.top_k_tokens(docs, ["source"], "text", k=10)
    return out.selectExpr(
        "source", "token", "CAST(token_count AS BIGINT) AS token_count",
        "CAST(rank AS INT) AS rank",
    )


@_declare(
    "q44_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT source, doc_id,
               unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT source, token, COUNT(*) AS tf
        FROM toks WHERE token <> '' GROUP BY 1, 2
    ),
    dfq AS (
        SELECT token, COUNT(DISTINCT doc_id) AS dfd
        FROM toks WHERE token <> '' GROUP BY 1
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
    scored AS (
        SELECT source, token AS term, tf,
               CAST(tf * ln((nd + 1.0) / (dfd + 1.0)) AS REAL) AS tfidf
        FROM tf JOIN dfq USING (token), n
    ),
    ranked AS (
        SELECT source, term, tf, tfidf,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY tfidf DESC, term ASC) AS rank
        FROM scored
    )
    SELECT source, term, CAST(tf AS BIGINT) AS tf, tfidf,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q44(spark, sf_dir):
    """Corpus tf-idf top-5 terms per source; the score factors into
    (integer tf) x (single idf) so it is engine-reproducible after a
    float32 round."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = text.tfidf_top_terms(docs, ["source"], "text", "doc_id", k=5)
    return out.selectExpr(
        "source", "term", "CAST(tf AS BIGINT) AS tf",
        "CAST(tfidf AS FLOAT) AS tfidf", "CAST(rank AS INT) AS rank",
    )


@_declare(
    "q45_stratified_sample",
    """
    SELECT lang, doc_id FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat_ws('|', '', CAST(doc_id AS VARCHAR))) ASC,
                            doc_id ASC) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
)
def q45(spark, sf_dir):
    """Exactly-20-per-language deterministic stratified sample (md5 ranking:
    stable across engines, partitionings, and runs)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_hash_topn(docs, ["lang"], 20, "doc_id")
    return out.select("lang", "doc_id")


# ---------------------------------------------------------------------------
# q46/q47 — multimodal plumbing under the correctness gate: the deterministic
# fake decoder (byte-histogram features) and byte-strided frame sampling are
# exactly mirrorable in SQL because the synthetic corpus is ASCII (byte ==
# codepoint), so the mapInPandas machinery itself gets hash-checked.
# ---------------------------------------------------------------------------

_Q46_HIST = ", ".join(
    "len(list_filter(cps, x -> x % 8 = {j}))".format(j=j) for j in range(8)
)


@_declare(
    "q46_multimodal_features",
    f"""
    WITH m AS (
        SELECT doc_id, lang, len(text) AS n_bytes,
               list_transform(range(1, least(len(text), 4096) + 1),
                              i -> ord(text[CAST(i AS INT)])) AS cps
        FROM documents
    ),
    f AS (
        SELECT doc_id, lang, n_bytes,
               16 + (n_bytes % 64) AS width,
               16 + ((n_bytes // 64) % 64) AS height,
               [{_Q46_HIST}] AS hist
        FROM m
    )
    SELECT lang,
           CAST(list_position(hist, list_aggregate(hist, 'max')) - 1 AS INT)
               AS dominant_class,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height
    FROM f GROUP BY 1, 2
    """,
)
def q46(spark, sf_dir):
    """Multimodal decode/featurize (mapInPandas, deterministic fake codec):
    per-language distribution of the dominant byte-histogram class plus
    width/height sums derived by the decoder."""
    _prep(spark)
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    media = multimodal.as_media(docs, "doc_id", "payload")
    # oracle-pinned: always the deterministic fake, even when a real codec
    # is installed (the payloads are UTF-8 text, not images)
    feats = multimodal.extract_features(
        media, decoder=multimodal.fake_image_decoder
    )
    joined = feats.join(
        docs.select(F.col("doc_id").alias("media_id"), "lang"), "media_id"
    )
    return (
        joined.selectExpr(
            "lang",
            "CAST(array_position(feature, array_max(feature)) - 1 AS INT)"
            " AS dominant_class",
            "width", "height",
        )
        .groupBy("lang", "dominant_class")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n"),
            F.expr("CAST(sum(width) AS BIGINT) AS sum_width"),
            F.expr("CAST(sum(height) AS BIGINT) AS sum_height"),
        )
    )


@_declare(
    "q47_multimodal_frames",
    """
    WITH frames AS (
        SELECT doc_id AS media_id, f.frame_no,
               substr(text, f.frame_no * 128 + 1, 128) AS frame_text
        FROM documents,
             (SELECT CAST(unnest(range(0, 8)) AS INT) AS frame_no) f
        WHERE f.frame_no < least(8, greatest(1, len(text) // 128))
          AND len(text) > 0  -- empty media: zero frames (both engines)
    )
    SELECT media_id, CAST(frame_no AS INT) AS frame_no,
           md5(frame_text) AS frame_md5,
           CAST(len(frame_text) AS BIGINT) AS frame_bytes
    FROM frames
    """,
)
def q47(spark, sf_dir):
    """Frame-sampling plumbing (byte-strided stand-in for keyframe
    extraction): one row per sampled frame with its digest."""
    _prep(spark)
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    media = multimodal.as_media(docs, "doc_id", "payload")
    frames = multimodal.sample_frames(media, every_n_bytes=128, max_frames=8)
    return frames.selectExpr(
        "media_id",
        "CAST(frame_no AS INT) AS frame_no",
        "md5(frame_payload) AS frame_md5",
        "CAST(octet_length(frame_payload) AS BIGINT) AS frame_bytes",
    )


# ---------------------------------------------------------------------------
# q48 — streaming sessionization (applyInPandasWithState custom stateful
# operator) checked against the batch window-SQL oracle: the running per-key
# summaries' final emission must equal batch gap-sessionization exactly
# ---------------------------------------------------------------------------


@_declare("q48_streaming_sessions", ORACLES["q40_sessionization"])
def q48(spark, sf_dir):
    import tempfile

    _prep(spark)
    from ..streaming import sessionized_gap_stats

    from ..sources import load_stream

    stream = load_stream(spark, sf_dir, "events")
    sess = sessionized_gap_stats(
        stream, "user_id", "ts", gap_seconds=1800, tiebreak="event_id"
    )
    # driver-side dict sink: TEST HARNESS ONLY (one entry per user) —
    # production jobs write the running summaries to a keyed sink
    state = {}

    def sink(batch_df, _id):
        for r in batch_df.collect():
            state[r.key] = (
                r.n_sessions, r.n_events, r.max_session_events, r.total_dur_us
            )

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            sess.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    return spark.createDataFrame(
        [(k, *v) for k, v in state.items()],
        "user_id long, n_sessions long, n_events long,"
        " max_session_events long, total_dur_us long",
    )


# ---------------------------------------------------------------------------
# q49 — benchmark-contamination check (n-gram overlap against an eval set):
# the standard decontamination pass for training corpora
# ---------------------------------------------------------------------------

_G3 = (
    "list_distinct(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),"
    " i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1]"
    " || ' ' || tk[CAST(i AS INT) + 2]))"
)


@_declare(
    "q49_contamination_check",
    f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(trim(text), ' ') AS tk
        FROM documents
    ),
    g AS (SELECT doc_id, source, {_G3} AS gs FROM toks),
    bench AS (
        SELECT DISTINCT unnest(gs) AS bg FROM g WHERE doc_id % 17 = 0
    ),
    corpus AS (
        SELECT doc_id, source, unnest(gs) AS gg FROM g WHERE doc_id % 17 <> 0
    ),
    per AS (
        SELECT c.doc_id, c.source,
               COUNT(*) AS n_grams, COUNT(b.bg) AS n_matched
        FROM corpus c LEFT JOIN bench b ON c.gg = b.bg
        GROUP BY 1, 2
    ),
    alldocs AS (
        SELECT doc_id, source FROM g WHERE doc_id % 17 <> 0
    ),
    fulld AS (
        SELECT a.doc_id, a.source,
               COALESCE(p.n_grams, 0) AS n_grams,
               COALESCE(p.n_matched, 0) AS n_matched,
               CASE WHEN COALESCE(p.n_grams, 0) > 0
                    THEN COALESCE(p.n_matched, 0) * 1.0 / p.n_grams
                    ELSE 0.0 END AS overlap
        FROM alldocs a LEFT JOIN per p ON a.doc_id = p.doc_id
    )
    SELECT source,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN overlap >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_contaminated,
        CAST(SUM(n_matched) AS BIGINT) AS total_matched,
        CAST(MAX(overlap) AS REAL) AS max_overlap
    FROM fulld GROUP BY source
    """,
)
def q49(spark, sf_dir):
    """Decontamination: 3-gram overlap of each corpus doc against the
    broadcast benchmark gram set (doc_id % 17 == 0 plays the eval set)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where("doc_id % 17 = 0")
    corpus = docs.where("doc_id % 17 <> 0")
    per = dedup.ngram_contamination(corpus, bench, "text", "doc_id", ngram=3)
    joined = per.join(
        corpus.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    return joined.groupBy("source").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
        F.expr(
            "CAST(sum(CASE WHEN overlap >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_contaminated"
        ),
        F.expr("CAST(sum(n_matched) AS BIGINT) AS total_matched"),
        F.expr("CAST(max(overlap) AS FLOAT) AS max_overlap"),
    )


# ---------------------------------------------------------------------------
# q50 — sketch-driven range bucketing (approximate ntile without a sort):
# boundaries from the native sketch broadcast back onto the stream
# ---------------------------------------------------------------------------


@_declare(
    "q50_sketch_range_bucket",
    f"""
    WITH q AS ({quantile_oracle_sql(
        "lineitem",
        {"l_returnflag": "l_returnflag"},
        "l_extendedprice",
        quantiles=(0.25, 0.5, 0.75),
        stats=(),
        quantile_cast="DOUBLE",
    )})
    SELECT v.l_returnflag,
        CAST(CASE WHEN v.l_extendedprice IS NULL THEN NULL
                  WHEN v.l_extendedprice <= q.p25 THEN 0
                  WHEN v.l_extendedprice <= q.p50 THEN 1
                  WHEN v.l_extendedprice <= q.p75 THEN 2
                  ELSE 3 END AS INT) AS bucket,
        CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem v JOIN q ON v.l_returnflag = q.l_returnflag
    GROUP BY 1, 2
    """,
)
def q50(spark, sf_dir):
    """Quantile bucketing via broadcast sketch boundaries — the scale
    pattern for approximate range partitioning (no global sort/window)."""
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    b = native.sketch_range_bucket(
        li, ["l_returnflag"], "l_extendedprice", 0.01, (0.25, 0.5, 0.75)
    )
    return b.groupBy("l_returnflag", "bucket").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n")
    )


# ---------------------------------------------------------------------------
# q51 — sliding streaming windows (1h window / 30min slide) in APPEND output
# mode: every event lands in two windows; only windows the watermark has
# CLOSED are emitted (exactly once), proving state is evicted and bounded.
# The oracle replays the slide duplication with an unnest and keeps exactly
# the windows whose end <= max event time (watermark delay 0s).
# ---------------------------------------------------------------------------

_Q51_TABLE = """(
    SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - o.off,
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           time_bucket(INTERVAL '30 minutes', ts) - o.off AS ws,
           event_type, value
    FROM events,
         (SELECT unnest([INTERVAL '0 minutes', INTERVAL '30 minutes']) AS off) o
)"""


@_declare(
    "q51_streaming_sliding_windows",
    quantile_oracle_sql(
        _Q51_TABLE,
        {"window_start": "window_start", "event_type": "event_type"},
        "value",
        quantiles=(0.5, 0.95),
        stats=("count",),
        where="ws + INTERVAL '1 hour' <= (SELECT MAX(ts) FROM events)",
    ),
)
def q51(spark, sf_dir):
    import tempfile

    _prep(spark)
    from ..streaming import streaming_quantiles, windowed_binned_counts

    from ..sources import load_stream

    stream = load_stream(spark, sf_dir, "events")
    binned = windowed_binned_counts(
        stream, "ts", ["event_type"], "value",
        window="1 hour", slide="30 minutes", watermark="0 seconds",
    )
    # append mode: each (window, key, sign, bin) row arrives EXACTLY ONCE,
    # after the watermark passes window_end — a plain list sink suffices and
    # open windows never appear. (Test harness only: production writes go to
    # a real sink, e.g. writeStream.format("parquet").)
    rows = []

    def sink(batch_df, _id):
        rows.extend(
            batch_df.select(
                "window_start", "window_end", "event_type", "sign", "bin", "cnt"
            ).collect()
        )

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            binned.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    sink_df = spark.createDataFrame(
        rows,
        "window_start timestamp, window_end timestamp, event_type string,"
        " sign int, bin int, cnt double",
    )
    out = streaming_quantiles(sink_df, ["event_type"], quantiles=(0.5, 0.95))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "count",
        F.col("p50").cast("float").alias("p50"),
        F.col("p95").cast("float").alias("p95"),
    )


# ---------------------------------------------------------------------------
# q52 — the reference's storage pattern under the gate: pre-aggregated
# sketch tables persisted as day-partitioned parquet (BLOB column), read
# back with partition pruning, rolled up over a date range
# ---------------------------------------------------------------------------

# week-aligned day range (Mondays 2024-01-08 and 2024-01-15): the same
# roll-up is computed from the day-grain store AND from the week-grain
# store produced by compact_sketch_table, so the compaction operator sits
# under the driver's oracle gate (merge is byte-exact, so both stores
# reproduce the direct aggregation identically)
_Q52_LO, _Q52_HI = "2024-01-08", "2024-01-21"
_Q52_WEEKS = ("2024-01-08", "2024-01-15")


def _q52_store(spark, sf_dir: str) -> str:
    """Build (once per sf_dir) the day-partitioned sketch store the query
    reads — the hourly->daily roll-up tables of README.md:119-124."""
    import os
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sketch_store_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    marker = os.path.join(base, "_SUCCESS_STORE")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        )
        pre = native.sketch_struct_agg(ev, ["day", "event_type"], "value", 0.01)
        wire = pre.select(
            "day", "event_type", native.struct_to_wire("sketch").alias("sketch")
        )
        from ..sources import write_sketch_table

        write_sketch_table(wire, base, partition_by=["day"])
        with open(marker, "w") as f:
            f.write("ok")
    return base


def _q52_week_store(spark, sf_dir: str) -> str:
    """Compact (once per sf_dir) the day store to week grain via
    ``compact_sketch_table`` — the store-rewrite operator under test."""
    import os
    import tempfile

    from ..sources import compact_sketch_table

    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_sketch_store_wk_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    marker = os.path.join(base, "_SUCCESS_STORE")
    if not os.path.exists(marker):
        compact_sketch_table(
            spark,
            _q52_store(spark, sf_dir),
            base,
            keys=["event_type"],
            coarsen={
                "week": "date_format(date_trunc('week', CAST(day AS DATE)),"
                " 'yyyy-MM-dd')"
            },
        )
        with open(marker, "w") as f:
            f.write("ok")
    return base


_Q52_ORACLE_BASE = quantile_oracle_sql(
    "events",
    {"event_type": "event_type"},
    "value",
    quantiles=(0.5, 0.95),
    stats=("count",),
    where=(
        f"strftime(date_trunc('day', ts), '%Y-%m-%d')"
        f" BETWEEN '{_Q52_LO}' AND '{_Q52_HI}'"
    ),
)


@_declare(
    "q52_partitioned_store_rollup",
    # the same aggregate must come out of BOTH stores — the oracle is the
    # direct aggregation over raw events, labeled once per store path
    f"SELECT 'day' AS store, * FROM ({_Q52_ORACLE_BASE})\n"
    f"UNION ALL\nSELECT 'week' AS store, * FROM ({_Q52_ORACLE_BASE})",
)
def q52(spark, sf_dir):
    """Partition-pruned roll-up over a stored sketch table, twice: from the
    day-grain store (only the 14 day-directories in the range are scanned —
    the filter sits on the partition column) and from the week-grain store
    produced by ``compact_sketch_table`` (2 week-directories). Stored blobs
    merge on the native path — a Catalyst hash aggregate with partial
    aggregation, not an AggregateInPandas over raw blob rows. Both paths
    must hash-match the direct aggregation oracle: the compaction rewrite
    is thereby driver-checked end to end."""
    from ..functions.aggregate import merge_sketches_native

    _prep(spark)

    def rolled_stats(df, label):
        rolled = merge_sketches_native(df, ["event_type"], "sketch")
        st = rolled.select(
            "event_type", fs.ddsketch_stats_full(F.col("sketch")).alias("st")
        )
        return st.select(
            F.lit(label).alias("store"),
            "event_type",
            F.col("st.count").alias("count"),
            F.col("st.p50").cast("float").alias("p50"),
            F.col("st.p95").cast("float").alias("p95"),
        )

    day = spark.read.parquet(_q52_store(spark, sf_dir)).where(
        (F.col("day") >= _Q52_LO) & (F.col("day") <= _Q52_HI)
    )
    week = spark.read.parquet(_q52_week_store(spark, sf_dir)).where(
        F.col("week").cast("string").isin(*_Q52_WEEKS)
    )
    return rolled_stats(day, "day").unionAll(rolled_stats(week, "week"))


# ---------------------------------------------------------------------------
# q54 — incremental-ingest dedup: a new batch against the existing corpus
# (anti join on normalized-text digests; within-batch canonicalization)
# ---------------------------------------------------------------------------

_NORM = "md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))"


@_declare(
    "q54_incremental_dedup",
    f"""
    WITH newb AS (
        SELECT doc_id, source, {_NORM} AS h,
               doc_id = MIN(doc_id) OVER (PARTITION BY {_NORM}) AS canon
        FROM documents WHERE doc_id % 5 = 4
    ),
    corpus AS (
        SELECT DISTINCT {_NORM} AS h FROM documents WHERE doc_id % 5 <> 4
    )
    SELECT n.source,
        CAST(COUNT(*) AS BIGINT) AS n_new,
        CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_in_corpus,
        CAST(SUM(CASE WHEN n.canon AND c.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_new_unique
    FROM newb n LEFT JOIN corpus c ON n.h = c.h
    GROUP BY n.source
    """,
)
def q54(spark, sf_dir):
    """Appending a batch to a corpus: per source, how many rows are already
    present (exact text match) and how many are genuinely new."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    newb = docs.where("doc_id % 5 = 4")
    corpus = docs.where("doc_id % 5 <> 4")
    out = dedup.incremental_dedup(newb, corpus)
    return out.groupBy("source").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_new"),
        F.expr("CAST(sum(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT) AS n_in_corpus"),
        F.expr("CAST(sum(CASE WHEN is_new_unique THEN 1 ELSE 0 END) AS BIGINT) AS n_new_unique"),
    )


# ---------------------------------------------------------------------------
# q56 — stream-stream time-range join: the q41 band join executed as two
# joined STREAMS with watermarks (Spark buffers both sides in state and
# evicts by watermark); must equal the batch inequality-join oracle
# ---------------------------------------------------------------------------


@_declare("q56_stream_stream_range_join", ORACLES["q41_range_band_join"])
def q56(spark, sf_dir):
    import tempfile

    _prep(spark)
    from ..sources import load_stream

    def read(name):
        return load_stream(spark, sf_dir, "events").where(
            f"event_type = '{name}'"
        )

    # stream-stream joins REQUIRE an equality predicate: reuse the band
    # join's bucketing (width = band = 300 s) as the equi-key — errors land
    # in one bucket, clicks explode to the two buckets that could hold a
    # matching error, and the exact range condition filters within state.
    errors = (
        read("error")
        .selectExpr(
            "event_id AS err_id",
            "ts AS err_ts",
            "unix_micros(ts) div 300000000 AS bkt",
        )
        .withWatermark("err_ts", "1 hour")
    )
    clicks = (
        read("click")
        .selectExpr(
            "ts AS click_ts",
            "explode(array(unix_micros(ts) div 300000000,"
            " unix_micros(ts) div 300000000 - 1)) AS bkt",
        )
        .withWatermark("click_ts", "1 hour")
    )
    pairs = errors.join(
        clicks,
        (errors.bkt == clicks.bkt)
        & F.expr(
            "click_ts >= err_ts AND click_ts <= err_ts + INTERVAL 5 MINUTES"
        ),
    )
    # driver-side list sink: TEST HARNESS ONLY (bounded pair sample) —
    # production stream-stream joins write matches to a real sink
    rows = []

    def sink(batch_df, _id):
        rows.extend(batch_df.select("err_id", "err_ts").collect())

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            pairs.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    got = spark.createDataFrame(rows, "err_id long, err_ts timestamp")
    return (
        got.withColumn(
            "day", F.date_format(F.date_trunc("day", "err_ts"), "yyyy-MM-dd")
        )
        .groupBy("day")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_pairs"),
            F.expr("CAST(count(DISTINCT err_id) AS BIGINT) AS n_errors_hit"),
        )
    )


# ---------------------------------------------------------------------------
# grouping-set helpers shared by the q62 CUBE oracle (per-level bin-math
# oracles UNION ALLed with literal gids)
# ---------------------------------------------------------------------------

_Q57_QS = (0.5, 0.95)
_Q57_COLS = "count, avg, p50, p95"


def _q57_level_oracle(group_by):
    return quantile_oracle_sql(
        "events",
        group_by,
        "value",
        quantiles=_Q57_QS,
        stats=("count", "avg"),
    )


# ---------------------------------------------------------------------------
# q58 — text source/sink round-trip: raw values ingested from CSV, the
# resulting sketch table persisted as JSON (blobs as base64) and read back.
# Doubles survive CSV exactly (shortest-round-trip formatting); sketch bytes
# survive JSON exactly (base64), so the result equals the parquet-path
# oracle bit-for-bit.
# ---------------------------------------------------------------------------


def _q58_store(spark, sf_dir: str) -> tuple[str, str]:
    import os
    import tempfile

    from ..sources import read_source, write_source

    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_text_sources_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    csv_dir = os.path.join(base, "orders_csv")
    json_dir = os.path.join(base, "sketches_json")
    marker = os.path.join(base, "_SUCCESS_STORE")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderstatus", "o_totalprice"
        )
        write_source(orders, csv_dir, format="csv")
        from_csv = read_source(
            spark,
            csv_dir,
            format="csv",
            schema="o_orderstatus string, o_totalprice double",
        )
        sketches = native.sketch_struct_agg(
            from_csv, ["o_orderstatus"], "o_totalprice"
        ).select(
            "o_orderstatus", native.struct_to_wire("sketch").alias("sketch")
        )
        write_source(sketches, json_dir, format="json")
        with open(marker, "w") as f:
            f.write("ok")
    return csv_dir, json_dir


@_declare(
    "q58_csv_json_source_roundtrip",
    quantile_oracle_sql(
        "orders",
        {"o_orderstatus": "o_orderstatus"},
        "o_totalprice",
        quantiles=(0.5, 0.9),
        stats=("count",),
    ),
)
def q58(spark, sf_dir):
    from ..sources import read_source

    _prep(spark)
    _, json_dir = _q58_store(spark, sf_dir)
    sk = read_source(
        spark,
        json_dir,
        format="json",
        schema="o_orderstatus string, sketch string",
        binary_cols=["sketch"],
    )
    return sk.select(
        "o_orderstatus",
        fs.ddsketch_count(F.col("sketch")).alias("count"),
        fs.ddsketch_quantile(F.col("sketch"), F.lit(0.5)).cast("float").alias("p50"),
        fs.ddsketch_quantile(F.col("sketch"), F.lit(0.9)).cast("float").alias("p90"),
    )


# ---------------------------------------------------------------------------
# q59 — trailing 7-day sketch quantiles per (event_type, day): the
# SLO-dashboard shape. Spark explodes each PRE-BINNED row to the 7 output
# days it contributes to (shuffle = |keys x bins x 7|, input-size
# independent); the oracle mirrors it with a range self-join of the binned
# counts fed into the shared bin-math quantile pipeline (binned_from).
# ---------------------------------------------------------------------------


def _q59_oracle() -> str:
    lg = repr(_C01["log_gamma"])
    inner = f"""
    SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
        CASE WHEN v > 0 THEN CAST(CEIL(LN(v) / {lg}) AS INTEGER)
             WHEN v < 0 THEN CAST(CEIL(LN(-v) / {lg}) AS INTEGER) END AS bin,
        CAST(COUNT(*) AS DOUBLE) AS cnt
    FROM (SELECT event_type, ts, CAST(value AS DOUBLE) AS v FROM events
          WHERE value IS NOT NULL AND value
          BETWEEN -1.7976931348623157E308 AND 1.7976931348623157E308)
    GROUP BY 1, 2, 3, 4
    """
    binned_from = f"""
    SELECT d.event_type, d.day, b.sign, b.bin, CAST(SUM(b.cnt) AS DOUBLE) AS cnt
    FROM ({inner}) b
    JOIN (SELECT DISTINCT event_type, day FROM ({inner})) d
      ON b.event_type = d.event_type AND b.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1, 2, 3, 4
    """
    return quantile_oracle_sql(
        "events",
        {"event_type": "event_type", "day": "day"},
        "value",
        quantiles=(0.5, 0.99),
        stats=("count",),
        binned_from=binned_from,
    )


@_declare("q59_trailing_week_quantiles", _q59_oracle())
def q59(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    out = native.trailing_sketch_quantile_agg(
        ev, ["event_type"], "value", "day", trailing=7, quantiles=(0.5, 0.99)
    )
    return out.select("event_type", "day", "count", *_f32("p50", "p99"))


# ---------------------------------------------------------------------------
# q62 — CUBE over (event_type, day): all four grouping-level subsets from
# one scan (adds the day-only level rollup cannot produce). Same
# pre-binned-Expand scale shape as q57.
# ---------------------------------------------------------------------------

_Q62_ORACLE = f"""
SELECT event_type, day, CAST(0 AS INTEGER) AS gid, {_Q57_COLS}
FROM ({_q57_level_oracle({"event_type": "event_type",
                          "day": "strftime(date_trunc('day', ts), '%Y-%m-%d')"})})
UNION ALL
SELECT event_type, CAST(NULL AS VARCHAR) AS day, CAST(1 AS INTEGER) AS gid, {_Q57_COLS}
FROM ({_q57_level_oracle({"event_type": "event_type"})})
UNION ALL
SELECT CAST(NULL AS VARCHAR) AS event_type, day, CAST(2 AS INTEGER) AS gid, {_Q57_COLS}
FROM ({_q57_level_oracle({"day": "strftime(date_trunc('day', ts), '%Y-%m-%d')"})})
UNION ALL
SELECT CAST(NULL AS VARCHAR) AS event_type, CAST(NULL AS VARCHAR) AS day,
       CAST(3 AS INTEGER) AS gid, {_Q57_COLS}
FROM ({_q57_level_oracle({})})
"""


@_declare("q62_cube_quantiles", _Q62_ORACLE)
def q62(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    out = native.sketch_quantile_agg(
        ev, ["event_type", "day"], "value", 0.01, _Q57_QS, rollup="cube"
    )
    return out.select(
        "event_type", "day", "gid", "count", *_f32("avg", "p50", "p95")
    )


# ---------------------------------------------------------------------------
# q63 — gap-filled daily averages with LOCF interpolation (the hypertable
# time_bucket_gapfill + locf shape; reference delegates to host engine,
# SURVEY.md §2.3). Daily avg is float32-cast BEFORE the fill so carried
# values are bit-identical to their source day on both engines.
# ---------------------------------------------------------------------------

_Q63_ORACLE = """
WITH base AS (
    SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           COUNT(*) AS n_events,
           CAST(AVG(CAST(value AS DOUBLE)) AS FLOAT) AS day_avg
    FROM events GROUP BY 1, 2
), bounds AS (
    SELECT event_type, MIN(day) AS mn, MAX(day) AS mx FROM base GROUP BY 1
), grid AS (
    SELECT event_type, unnest(generate_series(mn, mx)) AS day FROM bounds
)
SELECT g.event_type, g.day,
       COALESCE(b.n_events, 0) AS n_events,
       b.day_avg AS day_avg,
       last_value(b.day_avg IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_avg_filled,
       CAST(b.n_events IS NULL AS INTEGER) AS gap_filled
FROM grid g LEFT JOIN base b ON g.event_type = b.event_type AND g.day = b.day
"""


@_declare("q63_gapfill_locf_daily_avg", _Q63_ORACLE)
def q63(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    base = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.avg("value").cast("float").alias("day_avg"),
    )
    out = relational.gapfill_locf(base, ["event_type"], "day", ["day_avg"])
    return out.select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        "day_avg",
        "day_avg_filled",
        "gap_filled",
    )


# ---------------------------------------------------------------------------
# q64 — deterministic HyperLogLog distinct users per event type
# (beyond-reference cardinality sketch; operators/approx.py). The oracle
# replays the identical md5/bit-length/fixed-point register math, so an
# APPROXIMATE operator still passes the exact value-hash gate; the exact
# distinct count rides along for error inspection.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# q65 — cohort retention matrix over events: users cohorted by first active
# day, day-offset cells count distinct returning users. Exact integer
# output; the Spark side reuses one user-keyed exchange across distinct →
# min → join (operators/analytics.py).
# ---------------------------------------------------------------------------

_Q65_ORACLE = """
WITH active AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
    FROM events WHERE user_id IS NOT NULL
), first AS (
    SELECT user_id, MIN(day) AS cohort FROM active GROUP BY 1
)
SELECT f.cohort, a.day - f.cohort AS offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM active a JOIN first f ON a.user_id = f.user_id
WHERE a.day - f.cohort <= 14
GROUP BY 1, 2
"""


@_declare("q65_cohort_retention", _Q65_ORACLE)
def q65(spark, sf_dir):
    from ..operators import analytics

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    return analytics.cohort_retention(ev, "user_id", "day", max_offset=14)


# ---------------------------------------------------------------------------
# q66/q67 — Bloom membership + count-min frequency (operators/approx.py).
# Oracles replay the identical md5-chunk/bitwise math in DuckDB; all outputs
# are integers, so the approximate structures hash-match exactly.
# ---------------------------------------------------------------------------


def _dd_hex2int(src: str, start: int, ndigits: int) -> str:
    """DuckDB expr: hex chars [start, start+ndigits) of ``src`` as BIGINT
    (DuckDB has no conv(); positional digit sum)."""
    terms = [
        f"CAST(strpos('0123456789abcdef', substr({src}, {start + i}, 1)) - 1"
        f" AS BIGINT) * {16 ** (ndigits - 1 - i)}"
        for i in range(ndigits)
    ]
    return "(" + " + ".join(terms) + ")"


def _dd_md5_chunk_mod(i: int, mod: int, src: str = "__h") -> str:
    return f"({_dd_hex2int(src, 8 * i + 1, 8)} % {mod})"


def _q66_oracle(m_bits: int = 4096, k: int = 4) -> str:
    poss = ", ".join(_dd_md5_chunk_mod(i, m_bits) for i in range(k))
    return f"""
    WITH hashed AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS __h
        FROM events WHERE user_id IS NOT NULL
    ),
    bpos AS (SELECT event_type, unnest([{poss}]) AS pos FROM hashed),
    filt AS (
        SELECT event_type, pos // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
        FROM bpos GROUP BY 1, 2
    ),
    probes AS (
        SELECT t.event_type, r.user_id
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(1, 300)) AS user_id) r
    ),
    ppos AS (
        SELECT event_type, user_id, unnest([{poss}]) AS pos
        FROM (SELECT event_type, user_id,
                     md5(CAST(user_id AS VARCHAR)) AS __h FROM probes)
    ),
    pres AS (
        SELECT p.event_type, p.user_id,
               MIN(CASE WHEN f.bits IS NOT NULL
                        AND (f.bits & (CAST(1 AS BIGINT)
                                       << CAST(p.pos % 32 AS INTEGER))) != 0
                   THEN 1 ELSE 0 END) AS maybe
        FROM ppos p LEFT JOIN filt f
            ON p.event_type = f.event_type AND p.pos // 32 = f.word
        GROUP BY 1, 2
    ),
    mem AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT p.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(p.maybe) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN m.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN p.maybe = 1 AND m.user_id IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM pres p LEFT JOIN mem m
        ON p.event_type = m.event_type AND p.user_id = m.user_id
    GROUP BY 1
    """


@_declare("q66_bloom_membership", _q66_oracle())
def q66(spark, sf_dir):
    from ..operators import approx

    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    filt = approx.bloom_build(ev, ["event_type"], "user_id", m_bits=4096, k=4)
    probes = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(1, 301).select(F.col("id").alias("user_id")))
    )
    pr = approx.bloom_probe(
        filt, probes, ["event_type"], "user_id", m_bits=4096, k=4
    )
    mem = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    return (
        pr.join(mem, ["event_type", "user_id"], "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("maybe_present").cast("long").alias("n_maybe"),
            F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_members"),
            F.sum(
                F.when(
                    (F.col("maybe_present") == 1) & F.col("__m").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
        )
    )


def _q67_oracle(width: int = 1024, depth: int = 4) -> str:
    rcs = ", ".join(
        f"{{'r': {r}, 'c': {_dd_md5_chunk_mod(r, width)}}}" for r in range(depth)
    )
    return f"""
    WITH hashed AS (
        SELECT md5(CAST(user_id AS VARCHAR)) AS __h
        FROM events WHERE user_id IS NOT NULL
    ),
    cells AS (SELECT unnest([{rcs}]) AS rc FROM hashed),
    sk AS (
        SELECT rc.r AS r, rc.c AS c, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2
    ),
    probes AS (SELECT unnest(generate_series(1, 20)) AS user_id),
    ppos AS (
        SELECT user_id, rc.r AS r, rc.c AS c
        FROM (SELECT user_id, unnest([{rcs}]) AS rc
              FROM (SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS __h
                    FROM probes))
    ),
    est AS (
        SELECT p.user_id,
               MIN(COALESCE(s.cnt, CAST(0 AS BIGINT))) AS est_count
        FROM ppos p LEFT JOIN sk s ON p.r = s.r AND p.c = s.c
        GROUP BY 1
    )
    SELECT e.user_id, e.est_count,
           CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
    FROM est e LEFT JOIN (
        SELECT user_id, COUNT(*) AS exact_count FROM events
        WHERE user_id BETWEEN 1 AND 20 GROUP BY 1
    ) x ON e.user_id = x.user_id
    """


@_declare("q67_count_min_frequency", _q67_oracle())
def q67(spark, sf_dir):
    from ..operators import approx

    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    sk = approx.cm_build(ev, [], "user_id", width=1024, depth=4)
    pr = spark.range(1, 21).select(F.col("id").alias("user_id"))
    est = approx.cm_estimate(sk, pr, [], "user_id", width=1024, depth=4)
    exact = (
        ev.where(F.col("user_id").between(1, 20))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "user_id", "left").select(
        "user_id",
        "est_count",
        F.coalesce("exact_count", F.lit(0).cast("long")).alias("exact_count"),
    )


# ---------------------------------------------------------------------------
# q68 — trailing-window anomaly detection on daily event volumes: flag
# (event_type, day) cells whose count exceeds mean + 3*stddev of the prior
# 7 days. Mean/stddev are derived IN THE FINAL PROJECTION from integer
# window sums (sum, sum of squares, n) — every windowed aggregate is exact
# integer arithmetic, so both engines hit identical doubles and the z-score
# compares exactly (float32-cast). Built-in stddev would NOT be portable:
# its accumulation order differs per engine.
# ---------------------------------------------------------------------------

_Q68_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
), windowed AS (
    SELECT event_type, day, n_events,
           COUNT(*) OVER w AS w_n,
           SUM(n_events) OVER w AS w_sum,
           SUM(n_events * n_events) OVER w AS w_sumsq
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n_events,
       CAST(mean AS FLOAT) AS base_mean,
       CAST(sd AS FLOAT) AS base_sd,
       CAST(CASE WHEN sd > 0 AND n_events > mean + 3e0 * sd
            THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM (
    SELECT event_type, day, n_events,
           CAST(w_sum AS DOUBLE) / w_n AS mean,
           CASE WHEN w_n > 1 THEN
               SQRT((CAST(w_sumsq AS DOUBLE)
                     - CAST(w_sum AS DOUBLE) * w_sum / w_n) / (w_n - 1))
           END AS sd
    FROM windowed WHERE w_n >= 3
)
"""


@_declare("q68_daily_volume_anomaly", _Q68_ORACLE)
def q68(spark, sf_dir):
    from pyspark.sql import Window

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("unix_micros(ts) div 86400000000")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(-7, -1)
    )
    windowed = daily.select(
        "event_type",
        "day",
        "n_events",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum("n_events").over(w).alias("w_sum"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("w_sumsq"),
    ).where(F.col("w_n") >= 3)
    mean = F.col("w_sum").cast("double") / F.col("w_n")
    sd = F.when(
        F.col("w_n") > 1,
        F.sqrt(
            (
                F.col("w_sumsq").cast("double")
                - F.col("w_sum").cast("double") * F.col("w_sum") / F.col("w_n")
            )
            / (F.col("w_n") - 1)
        ),
    )
    return windowed.select(
        "event_type",
        "day",
        "n_events",
        mean.cast("float").alias("base_mean"),
        sd.cast("float").alias("base_sd"),
        F.when((sd > 0) & (F.col("n_events") > mean + 3.0 * sd), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# q69 — ordered conversion funnel view → click → purchase: per-user step
# timestamps (each step strictly after the previous), collapsed to step
# counts + mean completion time. Timestamps are exact epoch micros, so
# joins/comparisons hash-match; only the final mean is float32-cast.
# ---------------------------------------------------------------------------

_Q69_ORACLE = """
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    WHERE user_id IS NOT NULL
), s1 AS (
    SELECT user_id, MIN(us) AS s1 FROM ev
    WHERE event_type = 'view' GROUP BY 1
), s2 AS (
    SELECT e.user_id, MIN(e.us) AS s2 FROM ev e
    JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.us > s1.s1 GROUP BY 1
), s3 AS (
    SELECT e.user_id, MIN(e.us) AS s3 FROM ev e
    JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.us > s2.s2 GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_step1,
       CAST(COUNT(s2.s2) AS BIGINT) AS n_step2,
       CAST(COUNT(s3.s3) AS BIGINT) AS n_step3,
       CAST(CAST(SUM(s3.s3 - s1.s1) AS DOUBLE) / 1000000e0 / COUNT(s3.s3)
            AS FLOAT) AS avg_conv_sec
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s2.user_id = s3.user_id
"""


@_declare("q69_conversion_funnel", _Q69_ORACLE)
def q69(spark, sf_dir):
    from ..operators import analytics

    _prep(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn("us", F.expr("unix_micros(ts)"))
    )
    fun = analytics.funnel(
        ev,
        "user_id",
        "us",
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
    )
    return fun.agg(
        F.count(F.lit(1)).alias("n_step1"),
        F.count("step_2").alias("n_step2"),
        F.count("step_3").alias("n_step3"),
        (
            F.sum(F.col("step_3") - F.col("step_1")).cast("double")
            / F.lit(1000000.0)
            / F.count("step_3")
        )
        .cast("float")
        .alias("avg_conv_sec"),
    )


# ---------------------------------------------------------------------------
# q70 — semi-structured props extraction: parse the JSON props column,
# bucket the numeric payload, count per (event_type, bucket). JSON path
# evaluation is deterministic on both engines; all outputs integers.
# ---------------------------------------------------------------------------

_Q70_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
            AS INTEGER) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS k_sum
FROM events WHERE props IS NOT NULL
GROUP BY 1, 2
"""


@_declare("q70_json_props_extract", _Q70_ORACLE)
def q70(spark, sf_dir):
    _prep(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy(
            "event_type", F.floor(F.col("k") / 10).cast("int").alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q71 — STREAMING distinct-count windows: hourly HLL registers accumulated
# by Structured Streaming (native MAX aggregate, bounded state), folded to
# estimates in the sink. Oracle replays the register math per (hour,
# event_type) group in DuckDB — the streaming execution must land on the
# bit-identical float32 estimates.
# ---------------------------------------------------------------------------


def _q71_oracle(p: int = 8) -> str:
    from ..operators.approx import hll_alpha

    m = 1 << p
    nhex = p // 4
    x = _dd_hex2int("__h", nhex + 1, 15)
    rho = f"CASE WHEN {x} = 0 THEN 61 ELSE 61 - length(bin({x})) END"
    return f"""
    WITH hashed AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type, md5(CAST(user_id AS VARCHAR)) AS __h
        FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
        SELECT window_start, event_type,
               {_dd_hex2int("__h", 1, nhex)} AS bucket, MAX({rho}) AS maxrho
        FROM hashed GROUP BY 1, 2, 3
    ),
    folded AS (
        SELECT window_start, event_type, COUNT(*) AS observed,
               SUM(CAST(1 AS BIGINT) << (61 - CAST(maxrho AS INTEGER)))
                   AS sum_fp
        FROM regs GROUP BY 1, 2
    )
    SELECT window_start, event_type,
           CAST(CASE
               WHEN raw <= 2.5e0 * {m} AND zeros > 0
                   THEN {m} * LN({m} / CAST(zeros AS DOUBLE))
               ELSE raw
           END AS FLOAT) AS approx_distinct
    FROM (
        SELECT window_start, event_type, zeros,
               {hll_alpha(m)!r}e0 * {m} * {m}.0
                   / (sum_fp / 2305843009213693952e0 + zeros) AS raw
        FROM (SELECT window_start, event_type, sum_fp,
                     {m} - observed AS zeros FROM folded)
    )
    """


@_declare("q71_streaming_distinct_windows", _q71_oracle())
def q71(spark, sf_dir):
    import tempfile

    from ..operators.approx import hll_estimate
    from ..streaming import windowed_hll_registers

    _prep(spark)
    from ..sources import load_stream

    stream = load_stream(spark, sf_dir, "events")
    regs = windowed_hll_registers(
        stream, "ts", ["event_type"], "user_id", p=8,
        window="1 hour", watermark="0 seconds",
    )
    # update mode (final open windows emit too); last emission per register.
    # Driver-side dict sink is TEST HARNESS ONLY (<= 2^p entries per open
    # window x key) — production jobs sink registers to a keyed store.
    state = {}

    def sink(batch_df, _id):
        for r in batch_df.collect():
            state[(r.window_start, r.event_type, r.bucket)] = r.maxrho

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            regs.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    sink_df = spark.createDataFrame(
        [(*k, v) for k, v in state.items()],
        "window_start timestamp, event_type string, bucket long, maxrho int",
    )
    out = hll_estimate(sink_df, ["window_start", "event_type"], p=8)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "approx_distinct",
    )


# ---------------------------------------------------------------------------
# q72 — HLL audience overlap: distinct viewers, distinct purchasers, their
# union via register MAX-merge (the mergeability payoff — no re-scan), and
# the inclusion-exclusion intersection estimate, against the exact overlap.
# One register build serves all three estimates.
# ---------------------------------------------------------------------------


def _q72_oracle(p: int = 8) -> str:
    from ..operators.approx import hll_alpha

    m = 1 << p
    nhex = p // 4
    x = _dd_hex2int("__h", nhex + 1, 15)
    rho = f"CASE WHEN {x} = 0 THEN 61 ELSE 61 - length(bin({x})) END"

    def est(src: str) -> str:
        return f"""(
        SELECT CAST(CASE
                   WHEN raw <= 2.5e0 * {m} AND zeros > 0
                       THEN {m} * LN({m} / CAST(zeros AS DOUBLE))
                   ELSE raw
               END AS FLOAT)
        FROM (
            SELECT zeros, {hll_alpha(m)!r}e0 * {m} * {m}.0
                       / (sum_fp / 2305843009213693952e0 + zeros) AS raw
            FROM (
                SELECT SUM(CAST(1 AS BIGINT)
                           << (61 - CAST(maxrho AS INTEGER))) AS sum_fp,
                       {m} - COUNT(*) AS zeros
                FROM {src}
            )
        ))"""

    return f"""
    WITH hashed AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS __h
        FROM events
        WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')
    ),
    regs AS (
        SELECT event_type, {_dd_hex2int("__h", 1, nhex)} AS bucket,
               MAX({rho}) AS maxrho
        FROM hashed GROUP BY 1, 2
    ),
    vregs AS (SELECT bucket, maxrho FROM regs WHERE event_type = 'view'),
    pregs AS (SELECT bucket, maxrho FROM regs WHERE event_type = 'purchase'),
    uregs AS (
        SELECT bucket, MAX(maxrho) AS maxrho FROM regs GROUP BY 1
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM (
            SELECT user_id FROM events
            WHERE event_type = 'view' AND user_id IS NOT NULL
            INTERSECT
            SELECT user_id FROM events
            WHERE event_type = 'purchase' AND user_id IS NOT NULL
        )
    )
    SELECT {est("vregs")} AS est_viewers,
           {est("pregs")} AS est_purchasers,
           {est("uregs")} AS est_union,
           CAST(CAST({est("vregs")} AS DOUBLE) + {est("pregs")}
                - {est("uregs")} AS FLOAT) AS est_overlap,
           (SELECT exact_overlap FROM exact) AS exact_overlap
    """


@_declare("q72_hll_audience_overlap", _q72_oracle())
def q72(spark, sf_dir):
    from ..operators import approx

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("view", "purchase")
    )
    regs = approx.hll_registers(ev, ["event_type"], "user_id", p=8)
    uregs = regs.groupBy("bucket").agg(F.max("maxrho").alias("maxrho"))
    ests = approx.hll_estimate(regs, ["event_type"], p=8)
    v = ests.where(F.col("event_type") == "view").select(
        F.col("approx_distinct").alias("est_viewers")
    )
    pu = ests.where(F.col("event_type") == "purchase").select(
        F.col("approx_distinct").alias("est_purchasers")
    )
    u = approx.hll_estimate(uregs, [], p=8).select(
        F.col("approx_distinct").alias("est_union")
    )
    viewers = ev.where(F.col("event_type") == "view").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    exact = (
        viewers.intersect(buyers)
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        v.crossJoin(pu)
        .crossJoin(u)
        .withColumn(
            "est_overlap",
            (
                F.col("est_viewers").cast("double")
                + F.col("est_purchasers")
                - F.col("est_union")
            ).cast("float"),
        )
        .crossJoin(exact)
        .select(
            "est_viewers", "est_purchasers", "est_union",
            "est_overlap", "exact_overlap",
        )
    )


# ---------------------------------------------------------------------------
# q73 — deterministic k-means over the embeddings table: 2 Lloyd iterations
# (seeded by the k smallest vec_ids), fixed-point BIGINT centroid updates so
# the iterative approximation is bit-reproducible, map-only assignment.
# ---------------------------------------------------------------------------

_Q73_K = 10
_Q73_ITERS = 2


def _q73_ctes(k: int = _Q73_K, iters: int = _Q73_ITERS, dims: int = 64) -> str:
    """The k-means CTE chain ending in ``final(vec_id, label, e, q, cid)``
    — shared by the q73 summary and the q76 diversity-sampling oracle."""
    dist = (
        "list_aggregate(list_transform(range(1, {n}), i ->"
        " (b.e[i] - c.cvec[i]) * (b.e[i] - c.cvec[i])), 'sum')"
    ).format(n=dims + 1)
    parts = [
        f"""
    WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1048576e0) AS BIGINT)) AS q
        FROM embeddings
        WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
    ),
    seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
               list_transform(q, v -> CAST(v AS DOUBLE) / 1048576e0) AS cvec
        FROM base ORDER BY vec_id LIMIT {k}
    ),
    cents0 AS (
        SELECT list(struct_pack(cid := cid, cvec := cvec) ORDER BY cid)
                   AS cents
        FROM seeds
    )"""
    ]
    prev = "cents0"
    for it in range(1, iters + 1):
        parts.append(f""",
    assign{it} AS (
        SELECT b.*, list_aggregate(list_transform(cc.cents,
                   c -> struct_pack(d := {dist}, cid := c.cid)), 'min').cid
                   AS cid
        FROM base b, {prev} cc
    ),
    sums{it} AS (
        SELECT cid, i, SUM(q[i]) AS s, COUNT(*) AS n
        FROM assign{it}, (SELECT unnest(range(1, {dims + 1})) AS i) d
        GROUP BY cid, i
    ),
    cvec{it} AS (
        SELECT cid, list(CAST(s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * 1048576e0) ORDER BY i) AS cvec
        FROM sums{it} GROUP BY cid
    ),
    cents{it} AS (
        SELECT list(struct_pack(cid := cid, cvec := cvec) ORDER BY cid)
                   AS cents
        FROM cvec{it}
    )""")
        prev = f"cents{it}"
    parts.append(f""",
    final AS (
        SELECT b.*, list_aggregate(list_transform(cc.cents,
                   c -> struct_pack(d := {dist}, cid := c.cid)), 'min').cid
                   AS cid
        FROM base b, {prev} cc
    )""")
    return "".join(parts)


def _q73_oracle(k: int = _Q73_K, iters: int = _Q73_ITERS, dims: int = 64) -> str:
    return f"""{_q73_ctes(k, iters, dims)}
    SELECT CAST(cid AS INT) AS cluster_id,
           COUNT(*) AS n_vecs,
           CAST(CAST(SUM(q[1]) AS DOUBLE)
                / (CAST(COUNT(*) AS DOUBLE) * 1048576e0) AS FLOAT) AS c0,
           CAST(CAST(SUM(q[2]) AS DOUBLE)
                / (CAST(COUNT(*) AS DOUBLE) * 1048576e0) AS FLOAT) AS c1,
           CAST(CAST(SUM(CAST(label AS BIGINT)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE) AS FLOAT) AS mean_label
    FROM final GROUP BY cid"""


@_declare("q73_kmeans_clusters", _q73_oracle())
def q73(spark, sf_dir):
    from ..operators import clustering

    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    # method="expand" pinned: the DuckDB oracle mirrors the expanded
    # left-to-right distance sums exactly; auto would route k*dims=640
    # (k=10 x 64-dim embeddings) to the BLAS shape, whose distance
    # summation order differs in ulps. Gate-sized data, so the
    # interpreted-expansion cost is irrelevant here.
    return clustering.kmeans_summary(
        emb, "embedding", "vec_id", k=_Q73_K, iters=_Q73_ITERS,
        label_col="label", method="expand",
    )


# ---------------------------------------------------------------------------
# q74 — training-shard assignment: deterministic md5 sharding of the corpus
# into 16 shards + per-shard manifest stats (the shard-writer's bookkeeping:
# balance check, token budget per shard, source mix). All-integer output.
# ---------------------------------------------------------------------------

_Q74_SHARDS = 16


def _q74_oracle(n_shards: int = _Q74_SHARDS) -> str:
    h = "md5('|' || CAST(doc_id AS VARCHAR))"
    return f"""
    WITH sharded AS (
        SELECT ({_dd_hex2int(f"{h}", 1, 8)} % {n_shards}) AS shard_id,
               doc_id, source, len({_TOKS}) AS n_tokens, len(text) AS n_chars
        FROM documents
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           SUM(CAST(n_tokens AS BIGINT)) AS token_sum,
           SUM(CAST(n_chars AS BIGINT)) AS char_sum,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM sharded GROUP BY shard_id
    """


@_declare("q74_training_shards", _q74_oracle())
def q74(spark, sf_dir):
    from ..operators import sampling, text as text_ops

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    sharded = sampling.hash_shard(docs, _Q74_SHARDS, "doc_id")
    return (
        sharded.select(
            "shard_id",
            "doc_id",
            "source",
            F.size(F.split(F.trim("text"), " ")).alias("n_tokens"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("token_sum"),
            F.sum(F.col("n_chars").cast("long")).alias("char_sum"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .select(
            F.col("shard_id").cast("int").alias("shard_id"),
            "n_docs", "token_sum", "char_sum",
            "n_sources", "min_doc_id", "max_doc_id",
        )
    )


# ---------------------------------------------------------------------------
# q76 — diversity-aware sampling: k-means clusters (q73) x exactly-n
# deterministic sample per cluster (stratified_hash_topn). The corpus-
# balancing shape: equal representation from every embedding cluster, fully
# reproducible. Output is the per-cluster sample manifest.
# ---------------------------------------------------------------------------

_Q76_N = 20


def _q76_oracle(n: int = _Q76_N) -> str:
    return f"""{_q73_ctes()},
    ranked AS (
        SELECT cid, vec_id, label,
               row_number() OVER (
                   PARTITION BY cid
                   ORDER BY md5('|' || CAST(vec_id AS VARCHAR)) ASC,
                            vec_id ASC
               ) AS rn
        FROM final
    )
    SELECT CAST(cid AS INT) AS cluster_id,
           COUNT(*) AS n_sampled,
           CAST(SUM(vec_id) AS BIGINT) AS vec_id_sum,
           COUNT(DISTINCT label) AS n_labels,
           MIN(vec_id) AS min_vec_id
    FROM ranked WHERE rn <= {n} GROUP BY cid
    """


@_declare("q76_diversity_sample", _q76_oracle())
def q76(spark, sf_dir):
    from ..operators import clustering, sampling

    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    # method="expand" pinned for oracle exactness (see q73)
    cents = clustering.kmeans_centroids(
        emb, "embedding", "vec_id", k=_Q73_K, iters=_Q73_ITERS,
        method="expand",
    )
    assigned = clustering.kmeans_assign(emb, cents, method="expand")
    picked = sampling.stratified_hash_topn(
        assigned, ["cluster_id"], _Q76_N, "vec_id"
    )
    return picked.groupBy("cluster_id").agg(
        F.count("*").alias("n_sampled"),
        F.sum("vec_id").alias("vec_id_sum"),
        F.countDistinct("label").alias("n_labels"),
        F.min("vec_id").alias("min_vec_id"),
    ).select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_sampled", "vec_id_sum", "n_labels", "min_vec_id",
    )


# ---------------------------------------------------------------------------
# q77 — PII-style scrubbing audit: mask digit runs in the semi-structured
# props payload and emit the per-event-type redaction report (rows touched,
# masked runs, distinct survivors). The operator takes email/phone/ipv4
# patterns too (unit-tested); digits are what this synthetic corpus contains.
# ---------------------------------------------------------------------------


def _q77_oracle() -> str:
    return """
    WITH m AS (
        SELECT event_type,
               regexp_replace(props, '[0-9]+', chr(1), 'g') AS _m
        FROM events
    ),
    r AS (
        SELECT event_type, _m,
               length(_m) - length(replace(_m, chr(1), '')) AS runs
        FROM m
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           SUM(CAST(runs > 0 AS BIGINT)) AS n_redacted_rows,
           SUM(CAST(runs AS BIGINT)) AS n_masked_runs,
           COUNT(DISTINCT md5(_m)) AS n_distinct_masked
    FROM r GROUP BY event_type
    """


@_declare("q77_redaction_report", _q77_oracle())
def q77(spark, sf_dir):
    from ..operators import text as text_ops

    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    return text_ops.redaction_stats(
        ev, "props", ["event_type"], patterns=("number",)
    )


# ---------------------------------------------------------------------------
# q78 — KMV (theta-style) distinct sketch set algebra: estimate viewers,
# purchasers, their union, INTERSECTION and DIFFERENCE (viewers who never
# purchase) from k-minimum-hash samples — the set operations HLL cannot
# express — alongside the exact answers. Min-of-integers selections make the
# approximate estimates bit-reproducible cross-engine.
# ---------------------------------------------------------------------------

_Q78_K = 64


def _q78_oracle(k: int = _Q78_K) -> str:
    h = _dd_hex2int("md5(CAST(user_id AS VARCHAR))", 1, 15)

    def est(n: str, kth: str) -> str:
        return (
            f"CAST(CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE)"
            f" ELSE {k - 1}e0 * {1 << 60}e0 / CAST({kth} AS DOUBLE)"
            " END AS FLOAT)"
        )

    return f"""
    WITH va AS (
        SELECT DISTINCT {h} AS h FROM events
        WHERE event_type = 'view' AND user_id IS NOT NULL
        ORDER BY h LIMIT {k}
    ),
    vb AS (
        SELECT DISTINCT {h} AS h FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
        ORDER BY h LIMIT {k}
    ),
    u AS (
        SELECT h FROM (SELECT h FROM va UNION SELECT h FROM vb)
        ORDER BY h LIMIT {k}
    ),
    s AS (
        SELECT (SELECT COUNT(*) FROM va) AS n_a,
               (SELECT MAX(h) FROM va) AS kth_a,
               (SELECT COUNT(*) FROM vb) AS n_b,
               (SELECT MAX(h) FROM vb) AS kth_b,
               (SELECT COUNT(*) FROM u) AS n_u,
               (SELECT MAX(h) FROM u) AS kth_u,
               (SELECT COUNT(*) FROM u
                WHERE h IN (SELECT h FROM va)
                  AND h IN (SELECT h FROM vb)) AS shared
    ),
    e AS (
        SELECT {est("n_a", "kth_a")} AS est_a,
               {est("n_b", "kth_b")} AS est_b,
               {est("n_u", "kth_u")} AS est_union,
               CAST(shared AS DOUBLE) / CAST(n_u AS DOUBLE) AS jacc
        FROM s
    ),
    x AS (
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events
                WHERE event_type = 'view' AND user_id IS NOT NULL) AS exact_a,
               (SELECT COUNT(*) FROM (
                   SELECT user_id FROM events
                   WHERE event_type = 'view' AND user_id IS NOT NULL
                   EXCEPT
                   SELECT user_id FROM events
                   WHERE event_type = 'purchase' AND user_id IS NOT NULL
               )) AS exact_diff_a
    )
    SELECT est_a, est_b, est_union,
           CAST(CAST(jacc AS DOUBLE) * CAST(est_union AS DOUBLE) AS FLOAT)
               AS est_intersection,
           CAST(greatest(CAST(est_a AS DOUBLE)
                - CAST(jacc AS DOUBLE) * CAST(est_union AS DOUBLE), 0e0)
               AS FLOAT) AS est_diff_a,
           CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_diff_a AS BIGINT) AS exact_diff_a
    FROM e, x
    """


@_declare("q78_kmv_set_algebra", _q78_oracle())
def q78(spark, sf_dir):
    from ..operators import approx

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    views = ev.where(F.col("event_type") == "view")
    buys = ev.where(F.col("event_type") == "purchase")
    ka = approx.kmv_sketch(views, [], "user_id", k=_Q78_K)
    kb = approx.kmv_sketch(buys, [], "user_id", k=_Q78_K)
    ests = approx.kmv_set_estimates(ka, kb, [], k=_Q78_K)
    exact_a = views.agg(
        F.countDistinct("user_id").alias("exact_a")
    )
    exact_diff = (
        views.select("user_id")
        .subtract(buys.select("user_id"))
        .agg(F.count("*").alias("exact_diff_a"))
    )
    return ests.crossJoin(exact_a).crossJoin(exact_diff)


# ---------------------------------------------------------------------------
# q79 — streaming heavy hitters: per-hour top-3 most active users per
# event_type. The hot path is a NATIVE streaming count aggregate (bounded
# state: one counter per open window x user); ranking runs batch-side over
# the emitted counter table. Oracle = the equivalent batch window query.
# ---------------------------------------------------------------------------

_Q79_TOP = 3


def _q79_oracle(top: int = _Q79_TOP) -> str:
    return f"""
    WITH counts AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type, user_id, COUNT(*) AS cnt
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT window_start, event_type, user_id, cnt,
               CAST(row_number() OVER (
                   PARTITION BY window_start, event_type
                   ORDER BY cnt DESC, user_id ASC
               ) AS INT) AS rank
        FROM counts
    )
    SELECT * FROM ranked WHERE rank <= {top}
    """


@_declare("q79_streaming_heavy_hitters", _q79_oracle())
def q79(spark, sf_dir):
    import tempfile

    from pyspark.sql import Window

    from ..streaming import windowed_value_counts

    _prep(spark)
    from ..sources import load_stream

    stream = load_stream(spark, sf_dir, "events")
    counts = windowed_value_counts(
        stream, "ts", ["event_type"], "user_id",
        window="1 hour", watermark="0 seconds",
    )
    # update mode (final open windows emit too); last emission per counter.
    # Driver-side dict sink is TEST HARNESS ONLY (one entry per window x
    # key x user) — production jobs rank inside foreachBatch or downstream.
    state = {}

    def sink(batch_df, _id):
        for r in batch_df.collect():
            state[(r.window_start, r.event_type, r.user_id)] = r.cnt

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            counts.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    sink_df = spark.createDataFrame(
        [(*k, v) for k, v in state.items()],
        "window_start timestamp, event_type string, user_id long, cnt long",
    )
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id").asc()
    )
    return (
        sink_df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _Q79_TOP)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type", "user_id", "cnt", "rank",
        )
    )


# ---------------------------------------------------------------------------
# q80 — Gopher-style quality gate report: per-source pass counts for each
# integer-threshold rule (word count, mean word length, alpha-word ratio,
# stopword presence). The corpus-filter audit table.
# ---------------------------------------------------------------------------


def _q80_oracle() -> str:
    toks = "string_split(trim(lower(text)), ' ')"
    sw = "', '".join(
        ("the", "a", "of", "and", "to", "in", "is", "it")
    )
    return f"""
    WITH t AS (
        SELECT doc_id, source,
               len({toks}) AS n,
               list_aggregate(list_transform({toks}, w -> length(w)), 'sum')
                   AS sum_len,
               len(list_filter({toks}, w -> regexp_matches(w, '[a-z]')))
                   AS alpha_words,
               len(list_filter({toks}, w -> w IN ('{sw}'))) AS sw_hits
        FROM documents
    ),
    flags AS (
        SELECT source,
               (n >= 50 AND n <= 100000) AS pass_length,
               (sum_len >= n * 3 AND sum_len <= n * 10) AS pass_word_len,
               (alpha_words * 5 >= n * 4) AS pass_alpha,
               (sw_hits >= 2) AS pass_stopwords
        FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CAST(pass_length AS BIGINT)) AS n_pass_length,
           SUM(CAST(pass_word_len AS BIGINT)) AS n_pass_word_len,
           SUM(CAST(pass_alpha AS BIGINT)) AS n_pass_alpha,
           SUM(CAST(pass_stopwords AS BIGINT)) AS n_pass_stopwords,
           SUM(CAST(pass_length AND pass_word_len AND pass_alpha
                    AND pass_stopwords AS BIGINT)) AS n_pass_all
    FROM flags GROUP BY source
    """


@_declare("q80_gopher_quality_gate", _q80_oracle())
def q80(spark, sf_dir):
    from ..operators import text as text_ops

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    flags = text_ops.gopher_flags(
        docs, "text", "doc_id", extra_cols=("source",)
    )
    return flags.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("pass_length").cast("long")).alias("n_pass_length"),
        F.sum(F.col("pass_word_len").cast("long")).alias("n_pass_word_len"),
        F.sum(F.col("pass_alpha").cast("long")).alias("n_pass_alpha"),
        F.sum(F.col("pass_stopwords").cast("long")).alias("n_pass_stopwords"),
        F.sum(F.col("pass_all").cast("long")).alias("n_pass_all"),
    )


# ---------------------------------------------------------------------------
# q81 — TPC-H Q5 shape (local supplier volume): the 6-way join slice of the
# relational surface. Revenue sums run in DECIMAL so the aggregate is exact
# and aggregation-order-independent (a double SUM would not hash-match).
# Scale: nation/region broadcast explicitly; customer/supplier stay
# shuffle-joined on their keys (at 100 TB they exceed broadcast budgets);
# the l-o join keys cluster the biggest shuffle once.
# ---------------------------------------------------------------------------


def _q81_oracle() -> str:
    return """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                    * (CAST(1 AS DECIMAL(4,2))
                       - CAST(l_discount AS DECIMAL(4,2))))
               AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """


@_declare("q81_tpch_q5_local_supplier_volume", _q81_oracle())
def q81(spark, sf_dir):
    _prep(spark)
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(15,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q82 — bitmap activity index retention: per-user day bitmask (bit_or of
# day bits — mergeable, partitioning-independent), then EXACT d7/d14
# retention as pure bit arithmetic on the index. The raw event log is
# scanned once; every retention offset afterwards touches |users| rows.
# ---------------------------------------------------------------------------

_Q82_DAYS = 30


def _q82_oracle(n_days: int = _Q82_DAYS, offsets=(7, 14)) -> str:
    day = "datediff('day', DATE '2024-01-01', CAST(ts AS DATE))"

    def arr(o: int) -> str:
        if o == 0:
            return (
                f"list_filter(range(0, {n_days}),"
                " d -> ((bits >> CAST(d AS INTEGER)) & 1) = 1)"
            )
        return (
            f"list_filter(range(0, {n_days - o}),"
            " d -> ((bits >> CAST(d AS INTEGER)) & 1) = 1"
            f" AND ((bits >> CAST(d + {o} AS INTEGER)) & 1) = 1)"
        )

    joins = []
    coalesces = []
    for o in offsets:
        joins.append(
            f"""LEFT JOIN (
            SELECT day_idx, COUNT(*) AS n_ret{o}
            FROM (SELECT unnest(a{o}) AS day_idx FROM arrays) GROUP BY 1
        ) r{o} USING (day_idx)"""
        )
        coalesces.append(f"coalesce(n_ret{o}, CAST(0 AS BIGINT)) AS n_ret{o}")
    sets = ", ".join(f"{arr(o)} AS a{o}" for o in (0, *offsets))
    return f"""
    WITH masks AS (
        SELECT user_id AS user, bit_or(CAST(1 AS BIGINT) << CAST({day} % 63
                   AS INTEGER)) AS bits
        FROM events
        WHERE user_id IS NOT NULL AND {day} >= 0
        GROUP BY 1
    ),
    arrays AS (SELECT user, {sets} FROM masks),
    active AS (
        SELECT day_idx, COUNT(*) AS n_active
        FROM (SELECT unnest(a0) AS day_idx FROM arrays) GROUP BY 1
    )
    SELECT CAST(day_idx AS INT) AS day_idx, n_active,
           {", ".join(coalesces)}
    FROM active {" ".join(joins)}
    """


@_declare("q82_bitmap_retention", _q82_oracle())
def q82(spark, sf_dir):
    from ..operators import bitmap

    _prep(spark)
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') AS INT) AS day_idx",
    )
    masks = bitmap.activity_bitmap(ev, "user_id", "day_idx")
    return bitmap.retention_report(masks, _Q82_DAYS, offsets=(7, 14))


# ---------------------------------------------------------------------------
# q86 — streaming first-occurrence dedup: documents replayed as a real
# two-micro-batch file stream through dropDuplicatesWithinWatermark state;
# per-source emitted/dropped accounting must equal the batch
# first-occurrence oracle (arrival order == doc_id order by construction)
# ---------------------------------------------------------------------------


@_declare(
    "q86_streaming_first_seen",
    f"""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY {_NORM} ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
    FROM ranked GROUP BY source
    """,
)
def q86(spark, sf_dir):
    """Streaming ingest front-end dedup: each distinct normalized text is
    emitted exactly once (first arrival wins) via native
    ``dropDuplicatesWithinWatermark`` state (streaming.streaming_first_seen).

    The stage writes an arrival-ordered two-file copy (doc_id order within
    and across files; the mtime gap makes the file source replay them as two
    micro-batches). Event time is constant, so the 1-hour watermark never
    evicts state mid-replay — each distinct digest therefore emits exactly
    once. The per-source accounting attributes every emitted row to its
    digest's CANONICAL source (the min-doc_id row's source, via min_by), so
    the result does not depend on WHICH duplicate the state operator
    happened to see first — the emitted-digest set and per-digest emission
    count are what the oracle checks, and those are order-invariant (a
    file split into several read partitions cannot flip the hash).
    Driver-side row sink is TEST HARNESS ONLY — production streams write
    the emitted rows to a real sink in append mode.
    """
    import shutil
    import tempfile
    import time

    _prep(spark)
    from ..streaming import streaming_first_seen

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "text",
        F.to_timestamp(F.lit("2024-03-01 10:00:00")).alias("ts"),
    )
    stage = tempfile.mkdtemp(prefix="ddsketch_q86_")
    try:
        max_id = docs.agg(F.max("doc_id")).first()[0]
        if max_id is None:
            raise ValueError("q86 requires a non-empty documents table")
        thr = max_id // 2
        for mode, cond in (
            ("overwrite", F.col("doc_id") <= thr),
            ("append", F.col("doc_id") > thr),
        ):
            docs.where(cond).repartition(1).sortWithinPartitions(
                "doc_id"
            ).write.mode(mode).parquet(stage)
            if mode == "overwrite":
                time.sleep(1.1)  # file-source ordering is by modification time

        stream = (
            spark.readStream.schema(
                "doc_id bigint, source string, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        emitted = streaming_first_seen(stream, "ts", text="text", watermark="1 hour")
        rows = []

        def sink(batch_df, _id):
            rows.extend(batch_df.select("doc_id", "text").collect())

        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                emitted.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "q86 streaming dedup did not finish within 300s"
                )
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    from ..operators.dedup import normalize_text

    em = spark.createDataFrame(
        [(r.doc_id, r.text) for r in rows], "doc_id long, text string"
    ).withColumn("h", F.md5(normalize_text(F.col("text"))))
    # attribute each emitted row to its digest's canonical (min-doc_id)
    # source; counts then depend only on the emitted-digest multiset, not
    # on which duplicate arrived at the dedup state first
    canon = (
        docs.withColumn("h", F.md5(normalize_text(F.col("text"))))
        .groupBy("h")
        .agg(F.min_by("source", "doc_id").alias("source"))
    )
    uniq = (
        em.join(canon, "h")
        .groupBy("source")
        .agg(F.count("*").alias("n_unique"))
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("n_rows"))
    return totals.join(uniq, "source", "left").select(
        "source",
        F.col("n_rows").cast("long").alias("n_rows"),
        (F.col("n_rows") - F.coalesce(F.col("n_unique"), F.lit(0)))
        .cast("long")
        .alias("n_dups"),
        F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
    )


# ---------------------------------------------------------------------------
# q87 — sketch trimmed mean (rank-windowed robust mean): native fold over
# the struct form vs a DuckDB bin-math mirror (same sign-ordered cumulative
# overlap weights over the same log bins)
# ---------------------------------------------------------------------------

_TM_WINDOWS = ((0.25, 0.75), (0.05, 0.5))


def _tm_name(lo: float, hi: float) -> str:
    return f"tm_{lo:g}_{hi:g}".replace(".", "")


def _q87_oracle() -> str:
    g = repr(_C01["gamma"])
    lg = repr(_C01["log_gamma"])
    mult = f"(2.0 - 2.0 / (1.0 + {g}))"
    win_cols = []
    for lo, hi in _TM_WINDOWS:
        w = (
            f"GREATEST(LEAST(cum0 + cnt, {hi!r} * total)"
            f" - GREATEST(cum0, {lo!r} * total), 0.0)"
        )
        win_cols.append(
            f"CAST(SUM({w} * v_rep) / SUM({w}) AS REAL) AS {_tm_name(lo, hi)}"
        )
    wins = ",\n       ".join(win_cols)
    # LN arguments guarded with inner CASE: DuckDB evaluates eagerly over
    # the whole vector, so LN(<=0) would raise even under the outer CASE
    return f"""
    WITH vals AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL
    ),
    b AS (
        SELECT event_type,
            CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
            CASE WHEN v > 0 THEN
                   CAST(CEIL(LN(CASE WHEN v > 0 THEN v ELSE 1 END) / {lg})
                        AS INTEGER)
                 WHEN v < 0 THEN
                   CAST(CEIL(LN(CASE WHEN v < 0 THEN -v ELSE 1 END) / {lg})
                        AS INTEGER)
                 ELSE 0 END AS bin,
            CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM vals GROUP BY 1, 2, 3
    ),
    ordv AS (
        SELECT event_type, cnt,
            CASE WHEN sign = 1 THEN POWER({g}, CAST(bin AS DOUBLE)) * {mult}
                 WHEN sign = 0 THEN 0.0
                 ELSE -(POWER({g}, CAST(bin AS DOUBLE)) * {mult}) END AS v_rep,
            SUM(cnt) OVER (
                PARTITION BY event_type
                ORDER BY CASE sign WHEN -1 THEN 0 WHEN 0 THEN 1 ELSE 2 END,
                         CASE WHEN sign = -1 THEN -bin ELSE bin END
                ROWS UNBOUNDED PRECEDING) - cnt AS cum0,
            SUM(cnt) OVER (PARTITION BY event_type) AS total
        FROM b
    )
    SELECT event_type, CAST(total AS BIGINT) AS count,
       {wins}
    FROM ordv GROUP BY event_type, total
    """


@_declare("q87_trimmed_mean_by_event_type", _q87_oracle())
def q87(spark, sf_dir):
    """ddsketch_trimmed_mean (beyond-reference robust mean): interquartile
    and 5-50% rank-window means per event_type, fully native over the
    struct working form — one fold over the sign-ordered bins, no Python.
    The oracle rebuilds the identical overlap weights with a cumulative
    window over the same bins in the same order, so the doubles agree and
    the float32 cast pins them bit-for-bit."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    per = native.sketch_struct_agg(ev, ["event_type"], "value", 0.01)
    cols = ["event_type", "CAST(sketch.count AS BIGINT) AS count"]
    for lo, hi in _TM_WINDOWS:
        cols.append(
            f"CAST({native.struct_trimmed_mean_sql('sketch', lo, hi)}"
            f" AS FLOAT) AS {_tm_name(lo, hi)}"
        )
    return per.selectExpr(*cols)


# ---------------------------------------------------------------------------
# q88 — semantic dedup (SemDeDup, Abbas et al. 2023): k-means cells bucket
# the embedding space, then every vector with a smaller-id same-cell
# neighbor at cos >= threshold is dropped. Per-cluster keep accounting.
# Threshold 0.45 deliberately reuses q24's gate-proven cosine boundary.
# ---------------------------------------------------------------------------

_Q88_THR = 0.45


def _q88_oracle() -> str:
    return f"""{_q73_ctes()},
    pairs AS (
        SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
        FROM final a JOIN final b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.e, b.e) >= {_Q88_THR}
    ),
    dom AS (SELECT DISTINCT id_b FROM pairs),
    flagged AS (
        SELECT f.cid, f.vec_id, (d.id_b IS NULL) AS is_kept
        FROM final f LEFT JOIN dom d ON f.vec_id = d.id_b
    )
    SELECT CAST(cid AS INT) AS cluster_id,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN NOT is_kept THEN vec_id END), 0)
               AS BIGINT) AS dropped_id_sum
    FROM flagged GROUP BY cid"""


@_declare("q88_semantic_dedup", _q88_oracle())
def q88(spark, sf_dir):
    """similarity.semantic_dedup over the embeddings table with the q73
    deterministic k-means cells (same k/iters, so the oracle reuses the
    shared literal-centroid CTE chain), summarized per cluster."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    # max_cell is explicitly unbounded: the DuckDB oracle computes exact
    # all-pairs within every cell, so the Spark side must never silently
    # sub-bucket (dropping cross-sub-bucket pairs) just because a cell
    # outgrew the default cap at a larger scale factor — parity must not
    # depend on data scale.
    out = similarity.semantic_dedup(
        emb, threshold=_Q88_THR, k=_Q73_K, iters=_Q73_ITERS,
        max_cell=1 << 62, subplanes=0, method="expand",
    )
    return out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("is_kept"), 1).otherwise(0)).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(~F.col("is_kept"), F.col("vec_id"))), F.lit(0)
        ).alias("dropped_id_sum"),
    ).select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_vecs", "n_kept", "dropped_id_sum",
    )



# ---------------------------------------------------------------------------
# q89 — one-pass multi-metric quantiles (native.sketch_quantile_agg_multi):
# three lineitem metrics unpivoted by stack() so one scan + one shuffle pair
# covers all of them. The oracle is the equivalent UNION ALL of per-metric
# quantile oracles with a literal metric tag (unpivot == union of columns).
# Promoted to a driver row in round 6 (was pytest-only, COVERAGE one-pass
# multi-metric row).
# ---------------------------------------------------------------------------

_Q89_METRICS = ("l_quantity", "l_extendedprice", "l_discount")


def _q89_oracle() -> str:
    parts = [
        quantile_oracle_sql(
            "lineitem",
            {"l_returnflag": "l_returnflag", "metric": f"'{m}'"},
            m,
            quantiles=(0.5, 0.95),
            stats=("count",),
        )
        for m in _Q89_METRICS
    ]
    return " UNION ALL ".join(f"SELECT * FROM ({p})" for p in parts)


@_declare("q89_multi_metric_quantiles", _q89_oracle())
def q89(spark, sf_dir):
    _prep(spark)
    li = load_table(spark, sf_dir, "lineitem")
    out = native.sketch_quantile_agg_multi(
        li, ["l_returnflag"], list(_Q89_METRICS), quantiles=(0.5, 0.95)
    )
    return out.select(
        "l_returnflag",
        "metric",
        "count",
        F.col("p50").cast("float").alias("p50"),
        F.col("p95").cast("float").alias("p95"),
    )


# ---------------------------------------------------------------------------
# q90 — Efraimidis-Spirakis priority sampling on an INTEGER weight domain:
# the continuous ln(u)/w race keys made the operator drift-sensitive for a
# float-weight oracle (documented round 4); with integer weights and a
# rank-only output the selection hash-matches exactly — the oracle mirrors
# the md5/52-bit uniform and the race arithmetic term by term. Promoted to
# a driver row in round 6 (was pytest-only).
# ---------------------------------------------------------------------------

_Q90_N = 5

# 13-hex-digit md5 prefix as an exact integer (DuckDB lacks conv(); the
# positional-digit sum stays < 2^52, exact in BIGINT and in DOUBLE)
_Q90_HEX = "md5('|' || CAST(doc_id AS VARCHAR))"
_Q90_H = "(" + " + ".join(
    f"CAST(strpos('0123456789abcdef', substr({_Q90_HEX}, {1 + i}, 1)) - 1"
    f" AS BIGINT) * {16 ** (13 - 1 - i)}"
    for i in range(13)
) + ")"


def _q90_oracle() -> str:
    return f"""
    WITH scored AS (
        SELECT lang, doc_id,
               (CAST(n_chars AS BIGINT) % 7 + 1) AS w,
               ln((CAST({_Q90_H} AS DOUBLE) + 0.5) / 4503599627370496.0)
                   / CAST((CAST(n_chars AS BIGINT) % 7 + 1) AS DOUBLE) AS k
        FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id, w,
               row_number() OVER (
                   PARTITION BY lang ORDER BY k DESC, doc_id ASC
               ) AS rn
        FROM scored
    )
    SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(w AS BIGINT) AS w
    FROM ranked WHERE rn <= {_Q90_N}
    """


@_declare("q90_priority_sample_int", _q90_oracle())
def q90(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (F.col("n_chars").cast("long") % 7 + 1)
    out = sampling.priority_sample(
        docs.select("lang", "doc_id", "n_chars"),
        _Q90_N,
        w,
        "doc_id",
        strata=["lang"],
    )
    return out.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("n_chars").cast("long") % 7 + 1).alias("w"),
    )


# ---------------------------------------------------------------------------
# q93 — hashed-n-gram linear quality classifier (round 9): the
# fastText-style quality/domain filter shape. Weights here are a
# deterministic DYADIC function of the bucket id
# (((bucket * 2654435761) % 2001 - 1000) / 1024) so every per-doc partial
# sum is exact in double → order-independent → hash-exact across engines;
# a trained (bucket, weight) table takes the broadcast-join path, pinned
# equivalent in test_operators.
# ---------------------------------------------------------------------------

_Q93_BUCKETS = 4096


def _q93_oracle() -> str:
    hex8 = _dd_hex2int("md5(g)", 1, 8)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(text), ' +', ' ', 'g'), ' ') AS t
        FROM documents
    ),
    g AS (SELECT doc_id, unnest(t) AS g FROM toks),
    f AS (
        SELECT doc_id, ({hex8} % {_Q93_BUCKETS}) AS bucket, COUNT(*) AS cnt
        FROM g GROUP BY 1, 2
    ),
    sc AS (
        SELECT doc_id,
               SUM(CAST(cnt AS DOUBLE)
                   * (CAST((bucket * 2654435761) % 2001 - 1000 AS DOUBLE)
                      / 1024)) AS s,
               COUNT(*) AS nf, SUM(cnt) AS ng
        FROM f GROUP BY 1
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           coalesce(sc.s, 0.0) + 0.25 AS clf_score,
           CAST(coalesce(sc.nf, 0) AS BIGINT) AS n_features,
           CAST(coalesce(sc.ng, 0) AS BIGINT) AS n_grams
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN sc ON sc.doc_id = d.doc_id
    """


@_declare("q93_linear_quality_classifier", _q93_oracle())
def q93(spark, sf_dir):
    from ..operators import text as text_ops

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = lambda b: (  # noqa: E731 — dyadic procedural weights (see header)
        ((b * F.lit(2654435761)) % 2001 - 1000).cast("double")
        / F.lit(1024.0)
    )
    return text_ops.linear_quality_score(
        docs, w, text="text", id_col="doc_id",
        buckets=_Q93_BUCKETS, bias=0.25,
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("clf_score"),
        F.col("n_features"),
        F.col("n_grams"),
    )


# ---------------------------------------------------------------------------
# q90b — the FLOAT-weight path of the same race, driver-gated (round 9,
# VERDICT r8 item 7): weights are DYADIC doubles ((n_chars % 97 + 1) / 8 —
# 97 distinct values, deliberately NOT a constant rescaling of q90's
# 7-value integer domain, which would be rank-identical to q90), so
# w = CAST(int AS DOUBLE) * 0.125 is exact in both engines and the race
# key ln(u) / w adds NO new transcendental beyond the ln() q90 already
# pins cross-engine. Selection-set output (ids + 8w as an exact BIGINT),
# like q90 — rank boundaries were margin-checked at sf0.01/sf0.001 when
# this gate landed. The irreducibly float remainder (arbitrary non-dyadic
# weights) stays pytest-pinned (test_priority_sample_weighted_exact_n).
# ---------------------------------------------------------------------------


def _q90b_oracle() -> str:
    return f"""
    WITH scored AS (
        SELECT lang, doc_id,
               (CAST(n_chars AS BIGINT) % 97 + 1) AS w8,
               ln((CAST({_Q90_H} AS DOUBLE) + 0.5) / 4503599627370496.0)
                   / (CAST((CAST(n_chars AS BIGINT) % 97 + 1) AS DOUBLE)
                      * CAST(0.125 AS DOUBLE)) AS k
        FROM documents
    ),
    ranked AS (
        SELECT lang, doc_id, w8,
               row_number() OVER (
                   PARTITION BY lang ORDER BY k DESC, doc_id ASC
               ) AS rn
        FROM scored
    )
    SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(w8 AS BIGINT) AS w8
    FROM ranked WHERE rn <= {_Q90_N}
    """


@_declare("q90b_priority_sample_float", _q90b_oracle())
def q90b(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    w = (F.col("n_chars").cast("long") % 97 + 1).cast("double") * F.lit(0.125)
    out = sampling.priority_sample(
        docs.select("lang", "doc_id", "n_chars"),
        _Q90_N,
        w,
        "doc_id",
        strata=["lang"],
    )
    return out.select(
        "lang",
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("n_chars").cast("long") % 97 + 1).alias("w8"),
    )


def _nullsafe_totals_join(probes, totals):
    """Broadcast totals onto probe rows with the oracle's IS NOT DISTINCT
    FROM semantics: a NULL event_type group gets its count too (a plain
    equality join would yield n=NULL for those rows and hash-mismatch
    one NULL event_type away)."""
    return probes.join(
        F.broadcast(totals.withColumnRenamed("event_type", "__et")),
        probes["event_type"].eqNullSafe(F.col("__et")),
        "left",
    ).drop("__et")


def _q91_oracle() -> str:
    lg = repr(_C01["log_gamma"])
    return f"""
    WITH vals AS (
        SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events
    ),
    b AS (
        SELECT event_type,
            CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
            CASE WHEN v > 0 THEN CAST(CEIL(LN(v) / {lg}) AS INTEGER)
                 WHEN v < 0 THEN CAST(CEIL(LN(-v) / {lg}) AS INTEGER)
                 END AS bin,
            COUNT(*) AS cnt
        FROM vals
        WHERE v IS NOT NULL
          AND v BETWEEN -1.7976931348623157E308 AND 1.7976931348623157E308
        GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT event_type, sign, bin,
            SUM(cnt) OVER (
                PARTITION BY event_type
                ORDER BY sign,
                    coalesce(CASE WHEN sign = -1 THEN -bin ELSE bin END, 0)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS le,
            SUM(cnt) OVER (PARTITION BY event_type) AS total
        FROM b
    ),
    totals AS (
        SELECT event_type, SUM(cnt) AS total FROM b GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, CAST(d.v AS REAL) AS x,
        CASE WHEN d.v IS NOT NULL
              AND d.v BETWEEN -1.7976931348623157E308
                          AND 1.7976931348623157E308
             THEN CAST(c.le AS DOUBLE) / CAST(c.total AS DOUBLE) END AS pct,
        CAST(t.total AS BIGINT) AS n
    FROM vals d
    LEFT JOIN totals t ON t.event_type IS NOT DISTINCT FROM d.event_type
    LEFT JOIN cum c
      ON c.event_type IS NOT DISTINCT FROM d.event_type
     AND c.sign = (CASE WHEN d.v > 0 THEN 1 WHEN d.v < 0 THEN -1 ELSE 0 END)
     AND c.bin IS NOT DISTINCT FROM
         (CASE WHEN d.v > 0 AND d.v <= 1.7976931348623157E308
               THEN CAST(CEIL(LN(d.v) / {lg}) AS INTEGER)
               WHEN d.v < 0 AND d.v >= -1.7976931348623157E308
               THEN CAST(CEIL(LN(-d.v) / {lg}) AS INTEGER) END)
    WHERE d.event_id % 101 = 0
    """


@_declare("q91_percentile_rank_by_type", _q91_oracle())
def q91(spark, sf_dir):
    """Sketch-driven percentile rank (per-domain score normalization):
    each probed event's value mapped to its within-event_type CDF
    position via the binned-counts cumsum + broadcast bin join — the
    map-only calibration pass a mixture-balancing pipeline runs over
    quality scores. Bin-granular, so exact-count ratios gate it."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    ranked = native.percentile_rank(
        ev.select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
        alpha=0.01,
        out_col="pct",
    )
    # group size rides along for the composite's n column: re-derive it
    # from the rank's own exact-count machinery (cheap second tiny agg)
    totals = ev.where(
        F.col("value").isNotNull()
        & F.col("value").between(-1.7976931348623157e308, 1.7976931348623157e308)
    ).groupBy("event_type").agg(F.count("*").alias("n"))
    out = _nullsafe_totals_join(
        ranked.where(F.col("event_id") % 101 == 0), totals
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("value").cast("float").alias("x"),
        F.col("pct").cast("double").alias("pct"),
        F.col("n").cast("long").alias("n"),
    )


def _q92_oracle() -> str:
    lg = repr(_C01["log_gamma"])
    g = repr(_C01["gamma"])
    mult = repr(1.0 + (1.0 - 2.0 / (1.0 + _C01["gamma"])))
    bin_probe = f"""(CASE WHEN d.v > 0 AND d.v <= 1.7976931348623157E308
               THEN CAST(CEIL(LN(d.v) / {lg}) AS INTEGER)
               WHEN d.v < 0 AND d.v >= -1.7976931348623157E308
               THEN CAST(CEIL(LN(-d.v) / {lg}) AS INTEGER) END)"""
    return f"""
    WITH vals AS (
        SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events
    ),
    fin AS (
        SELECT event_type, v,
            CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
            CASE WHEN v > 0 THEN CAST(CEIL(LN(v) / {lg}) AS INTEGER)
                 WHEN v < 0 THEN CAST(CEIL(LN(-v) / {lg}) AS INTEGER)
                 END AS bin
        FROM vals
        WHERE v IS NOT NULL
          AND v BETWEEN -1.7976931348623157E308 AND 1.7976931348623157E308
    ),
    b AS (
        SELECT event_type, sign, bin, COUNT(*) AS cnt
        FROM fin GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT event_type, sign, bin,
            SUM(cnt) OVER (
                PARTITION BY event_type
                ORDER BY sign,
                    coalesce(CASE WHEN sign = -1 THEN -bin ELSE bin END, 0)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS le,
            SUM(cnt) OVER (PARTITION BY event_type) AS total
        FROM b
    ),
    rb AS (SELECT sign, bin, COUNT(*) AS cnt FROM fin GROUP BY 1, 2),
    rcum AS (
        SELECT sign, bin,
            SUM(cnt) OVER (
                ORDER BY sign,
                    coalesce(CASE WHEN sign = -1 THEN -bin ELSE bin END, 0)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS le,
            SUM(cnt) OVER () AS total
        FROM rb
    ),
    u AS (
        SELECT event_type, sign, bin, 0 AS tag,
            CAST(le AS DOUBLE) / CAST(total AS DOUBLE) AS f,
            CAST(NULL AS DOUBLE) AS rv
        FROM cum
        UNION ALL
        SELECT NULL, sign, bin, 1,
            CAST(le AS DOUBLE) / CAST(total AS DOUBLE),
            CASE WHEN sign = 1 THEN POWER({g}, CAST(bin AS DOUBLE)) * {mult}
                 WHEN sign = -1
                 THEN -POWER({g}, CAST(bin AS DOUBLE)) * {mult}
                 ELSE 0.0 END
        FROM rcum
    ),
    m AS (
        SELECT *, MIN(rv) OVER (
            ORDER BY f, tag
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
        ) AS qv
        FROM u
    ),
    mp AS (SELECT event_type, sign, bin, qv FROM m WHERE tag = 0),
    totals AS (
        SELECT event_type, COUNT(*) AS total FROM fin GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, CAST(d.v AS REAL) AS x,
        CASE WHEN d.v IS NOT NULL
              AND d.v BETWEEN -1.7976931348623157E308
                          AND 1.7976931348623157E308
             THEN c.qv END AS qn,
        CAST(t.total AS BIGINT) AS n
    FROM vals d
    LEFT JOIN totals t ON t.event_type IS NOT DISTINCT FROM d.event_type
    LEFT JOIN mp c
      ON c.event_type IS NOT DISTINCT FROM d.event_type
     AND c.sign = (CASE WHEN d.v > 0 THEN 1 WHEN d.v < 0 THEN -1 ELSE 0 END)
     AND c.bin IS NOT DISTINCT FROM {bin_probe}
    WHERE d.event_id % 101 = 0
    """


@_declare("q92_quantile_normalize_by_type", _q92_oracle())
def q92(spark, sf_dir):
    """Quantile normalization (cross-domain score calibration): each
    probed event's value projected onto the GLOBAL value distribution at
    its within-event_type percentile — the union+window CDF inversion
    over structure-sized bin tables, no range join. Bin-granular
    representative values, so POWER/exact-count parity gates it."""
    _prep(spark)
    ev = load_table(spark, sf_dir, "events")
    out = native.quantile_normalize(
        ev.select("event_id", "event_type", "value"),
        "value",
        ["event_type"],
        alpha=0.01,
        out_col="qn",
    )
    totals = ev.where(
        F.col("value").isNotNull()
        & F.col("value").between(
            -1.7976931348623157e308, 1.7976931348623157e308
        )
    ).groupBy("event_type").agg(F.count("*").alias("n"))
    out = _nullsafe_totals_join(
        out.where(F.col("event_id") % 101 == 0), totals
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        F.col("value").cast("float").alias("x"),
        F.col("qn").cast("double").alias("qn"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# q94 — BM25 retrieval scoring (round 9): rank the corpus against a fixed
# 3-query probe set, top-10 per query. Per-term contributions are rounded
# to 2^-16 fixed-point BIGINTs before the per-(query, doc) sum, so the
# accumulation is integer (order-free across engines/partitions); only the
# per-term double (one ln + one rational in identical evaluation order on
# both sides) must agree cross-engine — the q44 tf-idf recipe extended to
# a multi-term sum. Beyond-reference operator (text.bm25_scores).
# ---------------------------------------------------------------------------

_Q94_QUERIES = [
    (1, "hash join merge batch"),
    (2, "window sort stream order"),
    (3, "customer query filter vector"),
]


def _q94_oracle() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in _Q94_QUERIES)
    return f"""
    WITH q(qid, qtext) AS (VALUES {vals}),
    qt AS (
        SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS term FROM q
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
        FROM documents
    ),
    pdt AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM pdt GROUP BY 1),
    dfreq AS (
        SELECT term, COUNT(*) AS dfd FROM pdt
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
    ),
    stats AS (
        SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS nd,
               (SELECT COUNT(*) FROM toks WHERE term <> '') AS tt
    ),
    m AS (
        SELECT qt.qid, pdt.doc_id,
               CAST(floor(
                   ln(1.0 + (nd - dfd + 0.5) / (dfd + 0.5))
                   * (tf * 2.5
                      / (tf + 1.5 * (0.25 + 0.75 * dl / (tt / CAST(nd AS DOUBLE)))))
                   * 65536.0 + 0.5) AS BIGINT) AS c
        FROM pdt
        JOIN qt USING (term) JOIN dfreq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
    ),
    sc AS (
        SELECT qid, doc_id, SUM(c) AS s, COUNT(*) AS n_terms
        FROM m GROUP BY 1, 2
    ),
    ranked AS (
        SELECT qid, doc_id, CAST(CAST(s AS BIGINT) / 65536.0 AS REAL) AS bm25,
               n_terms,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY CAST(CAST(s AS BIGINT) / 65536.0 AS REAL) DESC,
                            doc_id ASC) AS rank
        FROM sc
    )
    SELECT CAST(qid AS INT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
           bm25, CAST(n_terms AS BIGINT) AS n_terms, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """


@_declare("q94_bm25_topk", _q94_oracle())
def q94(spark, sf_dir):
    """BM25 top-10 docs per probe query (text.bm25_scores): one corpus
    scan feeds tf/dl/df; the query side broadcasts; fixed-point term sums
    make the score order-independent (engine-reproducible)."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(_Q94_QUERIES, "query_id int, query_text string")
    out = text.bm25_scores(docs, qdf, text="text", id_col="doc_id", k=10)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("bm25").cast("float").alias("bm25"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q95 — duplicate-cluster representative selection (round 9): after
# connected components resolves near-dup clusters, keep the
# highest-QUALITY member (here: n_chars, an exact integer) instead of the
# min id — the "keep the best copy" step of a dedup pipeline. Same
# subgraph as q29; integer score + min-id tie-break = hash-exact.
# ---------------------------------------------------------------------------


@_declare(
    "q95_cluster_representatives",
    f"""
    WITH labels AS (SELECT * FROM ({{Q29}}) t),
    scored AS (
        SELECT l.id, l.cluster_id, d.n_chars
        FROM labels l JOIN documents d ON d.doc_id = l.id
    ),
    ranked AS (
        SELECT cluster_id, id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY cluster_id) AS nm
        FROM scored
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(id AS BIGINT) AS rep_id,
           CAST(n_chars AS BIGINT) AS rep_score,
           CAST(nm AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """.replace("{Q29}", ORACLES["q29_duplicate_clusters"]),
)
def q95(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    pairs = dedup.jaccard_pairs(docs, threshold=0.10)
    labels = dedup.duplicate_clusters(pairs)
    reps = dedup.cluster_representatives(
        labels,
        docs.select(F.col("doc_id").alias("id"), F.col("n_chars")),
        "n_chars",
    )
    return reps.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("rep_id").cast("long").alias("rep_id"),
        F.col("rep_score").cast("long").alias("rep_score"),
        F.col("n_members").cast("long").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# q96 — DSIR importance weights (round 9): per-document log importance
# ratio of hashed BIGRAM frequencies between a target subset
# (doc_id % 7 = 0) and the full corpus — the data-selection scorer
# (Xie et al. 2023) on top of the hashed-n-gram machinery. Weights are
# snapped to the 2^-16 grid, so cnt·w and the per-doc sums are exact
# dyadic rationals (order-free, engine-reproducible); only the per-bucket
# ln pair must agree cross-engine (same exposure class as q94's idf).
# Also the driver gate for hashed_ngram_features' ngram=2 path (q93
# gates ngram=1).
# ---------------------------------------------------------------------------

_Q96_BUCKETS = 4096


def _q96_oracle() -> str:
    hex8 = _dd_hex2int("md5(g)", 1, 8)
    a_b = 0.5 * _Q96_BUCKETS
    return f"""
    WITH toks AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(text), ' +', ' ', 'g'), ' ') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, unnest(list_transform(
                   range(1, greatest(len(t) - 1, 0) + 1),
                   i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
               )) AS g
        FROM toks
    ),
    b AS (SELECT doc_id, ({hex8} % {_Q96_BUCKETS}) AS bucket FROM g),
    raw_b AS (SELECT bucket, COUNT(*) AS c_raw FROM b GROUP BY 1),
    tgt_b AS (
        SELECT bucket, COUNT(*) AS c_tgt FROM b WHERE doc_id % 7 = 0
        GROUP BY 1
    ),
    totals AS (
        SELECT (SELECT COUNT(*) FROM b) AS t_raw,
               (SELECT COUNT(*) FROM b WHERE doc_id % 7 = 0) AS t_tgt
    ),
    wtab AS (
        SELECT r.bucket,
               CAST(floor(
                   (ln((coalesce(t.c_tgt, 0) + 0.5) / (t_tgt + {a_b!r}))
                    - ln((r.c_raw + 0.5) / (t_raw + {a_b!r})))
                   * 65536.0 + 0.5) AS BIGINT) / 65536.0 AS w
        FROM raw_b r LEFT JOIN tgt_b t USING (bucket) CROSS JOIN totals
    ),
    f AS (
        SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ),
    sc AS (
        SELECT f.doc_id, SUM(f.cnt * w.w) AS s,
               COUNT(*) AS nf, SUM(f.cnt) AS ng
        FROM f JOIN wtab w USING (bucket) GROUP BY 1
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           coalesce(sc.s, 0.0) + 0.0 AS dsir_score,
           CAST(coalesce(sc.nf, 0) AS BIGINT) AS n_features,
           CAST(coalesce(sc.ng, 0) AS BIGINT) AS n_grams
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN sc ON sc.doc_id = d.doc_id
    """


@_declare("q96_dsir_scores", _q96_oracle())
def q96(spark, sf_dir):
    from ..operators import text as text_ops

    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    wdf = text_ops.dsir_logratio_weights(
        docs,
        docs.where(F.col("doc_id") % 7 == 0),
        text="text",
        id_col="doc_id",
        buckets=_Q96_BUCKETS,
        ngram=2,
    )
    out = text_ops.linear_quality_score(
        docs, wdf, text="text", id_col="doc_id",
        buckets=_Q96_BUCKETS, ngram=2, bias=0.0, out_col="dsir_score",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("dsir_score"),
        F.col("n_features"),
        F.col("n_grams"),
    )


# ---------------------------------------------------------------------------
# q97 — duplicated-span COVERAGE (round 9): the drop-vs-trim column — per
# document, the fraction of tokens inside q86's stitched extents.
# Integers pin the gate; the fraction is one deterministic division.
# ---------------------------------------------------------------------------


@_declare(
    "q97_span_coverage",
    f"""
    WITH ext AS (SELECT * FROM ({{Q86}}) e),
    agg AS (
        SELECT doc_id, SUM(span_end - span_start + 1) AS dup_tokens
        FROM ext GROUP BY 1
    ),
    cnt AS (
        SELECT doc_id,
               coalesce(len(string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')), 0) AS n_tokens
        FROM documents
    )
    SELECT CAST(cnt.doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CASE WHEN n_tokens > 0
                THEN CAST(coalesce(dup_tokens, 0) AS DOUBLE) / n_tokens
           END AS dup_fraction
    FROM cnt LEFT JOIN agg ON agg.doc_id = cnt.doc_id
    """.replace("{Q86}", ORACLES["q86_duplicate_span_extents"]),
)
def q97(spark, sf_dir):
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    # xxhash64 stated explicitly at the oracle-gated site (see q86 note)
    out = dedup.span_coverage(docs, text="text", id_col="doc_id",
                              n=_Q85_N, min_docs=2, gram_hash="xxhash64")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens"),
        F.col("dup_tokens"),
        F.col("dup_fraction"),
    )


# ---------------------------------------------------------------------------
# q98 — reciprocal-rank fusion (round 9): hybrid retrieval's combiner.
# Fuses q94's BM25 top-10 with a per-query quality-prior ranking (top-10
# docs by n_chars desc, id asc — the "longer is better" prior replicated
# per query). Contributions are floor(2^24/(k0+rank)) INTEGERS, so the
# fusion involves no float arithmetic at all — trivially hash-exact.
# ---------------------------------------------------------------------------


def _q98_oracle() -> str:
    vals = ", ".join(f"({i})" for i, _ in _Q94_QUERIES)
    return f"""
    WITH bm AS (SELECT * FROM ({{Q94}}) t),
    qs(qid) AS (VALUES {vals}),
    prior AS (
        SELECT qs.qid AS query_id, d.doc_id, d.rk AS rank
        FROM qs CROSS JOIN (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rk
            FROM documents
        ) d
        WHERE d.rk <= 10
    ),
    sa AS (
        SELECT query_id, doc_id,
               CAST(floor(16777216 / (60 + rank)) AS BIGINT) AS c FROM bm
    ),
    sb AS (
        SELECT query_id, doc_id,
               CAST(floor(16777216 / (60 + rank)) AS BIGINT) AS c FROM prior
    ),
    j AS (
        SELECT coalesce(sa.query_id, sb.query_id) AS query_id,
               coalesce(sa.doc_id, sb.doc_id) AS doc_id,
               coalesce(sa.c, 0) + coalesce(sb.c, 0) AS rrf_score,
               sa.c IS NOT NULL AS in_a, sb.c IS NOT NULL AS in_b
        FROM sa FULL OUTER JOIN sb
          ON sa.query_id = sb.query_id AND sa.doc_id = sb.doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, rrf_score, in_a, in_b,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_score DESC, doc_id ASC) AS rank
        FROM j
    )
    SELECT CAST(query_id AS INT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(rrf_score AS BIGINT) AS rrf_score, in_a, in_b,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """.replace("{Q94}", _q94_oracle())


def rrf_hybrid_from(bm, spark, sf_dir):
    """q98's fusion given an already-built BM25 top-k frame — the q47
    composite passes its (checkpointed, 30-row) retrieval so the bm25
    pipeline runs once for both parts."""
    docs = load_table(spark, sf_dir, "documents")
    # distributed top-10 (TakeOrderedAndProject), then rank the 10 rows —
    # never a partitionless window over the corpus
    top = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked_docs = top.withColumn("rank", F.row_number().over(w))
    qids = spark.createDataFrame(
        [(i,) for i, _ in _Q94_QUERIES], "query_id int"
    )
    prior = qids.crossJoin(F.broadcast(ranked_docs)).select(
        "query_id", "doc_id", "rank"
    )
    out = text.rrf_fuse(bm, prior, k0=60, k=10)
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rrf_score").cast("long").alias("rrf_score"),
        F.col("in_a"),
        F.col("in_b"),
        F.col("rank").cast("int").alias("rank"),
    )


@_declare("q98_rrf_hybrid", _q98_oracle())
def q98(spark, sf_dir):
    """RRF fusion of the BM25 probe retrieval with a per-query quality
    prior (top-10 by n_chars) — integer fixed-point, no floats."""
    _prep(spark)
    # the staged q94 fn is called directly (the module-level QUERIES dict
    # is rebuilt into the 50 driver slots by build_final)
    return rrf_hybrid_from(q94(spark, sf_dir), spark, sf_dir)


# ---------------------------------------------------------------------------
# q101 — vocab-driven greedy subword tokenization (q45 'tok' part): real
# BPE-style token accounting replacing the chars/4 proxy. Spark executes a
# map-only nested fold with the vocab as literal arrays (text.py
# vocab_token_counts); the DuckDB mirror walks the identical greedy rule
# with a recursive CTE over the DISTINCT words. Counts are integers —
# hash-exact by construction.
# ---------------------------------------------------------------------------


def _vocab_oracle_sql(vocab=None) -> str:
    vocab = text.BPE_SUBWORD_VOCAB if vocab is None else vocab
    by_len: dict = {}
    for v in vocab:
        # entries are inlined into SQL IN-lists as '<token>'; a quote
        # would break the statement (both default vocabs are lowercase
        # ASCII letters only, so this is an invariant, not a filter)
        assert "'" not in v, f"vocab entry {v!r} contains a quote"
        by_len.setdefault(len(v), set()).add(v)
    lens = sorted(by_len, reverse=True)

    def in_list(l: int) -> str:
        return ", ".join("'" + t + "'" for t in sorted(by_len[l]))

    step_cases = " ".join(
        f"WHEN substr(w, pos + 1, {l}) IN ({in_list(l)}) THEN {l}"
        for l in lens
    )
    match_any = " OR ".join(
        f"substr(w, pos + 1, {l}) IN ({in_list(l)})" for l in lens
    )
    return f"""
    WITH RECURSIVE
    tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents
    ),
    tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
    words AS (SELECT DISTINCT w FROM tok2),
    seg AS (
        SELECT w, 0 AS pos, 0 AS n, 0 AS unk FROM words
        UNION ALL
        SELECT w,
               pos + (CASE {step_cases} ELSE 1 END),
               n + 1,
               unk + (CASE WHEN {match_any} THEN 0 ELSE 1 END)
        FROM seg WHERE pos < len(w)
    ),
    fin AS (SELECT w, n, unk FROM seg WHERE pos >= len(w)),
    perdoc AS (
        SELECT t.doc_id,
               COUNT(*) AS n_words,
               SUM(f.n) AS n_bpe_tokens,
               SUM(f.unk) AS n_unk
        FROM tok2 t JOIN fin f ON f.w = t.w
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(COALESCE(p.n_unk, 0) AS BIGINT) AS n_unk
    FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    """


@_declare("q101_vocab_token_stats", _vocab_oracle_sql())
def q101(spark, sf_dir):
    """Greedy longest-match subword token accounting on the fixed
    BPE_SUBWORD_VOCAB — per-doc (n_words, n_bpe_tokens, n_unk), map-only
    on the Spark side (nested literal-vocab folds; no shuffle, no UDF).
    The DuckDB oracle walks the same greedy rule word-by-word via a
    recursive CTE; the Spark plan deliberately does NOT factor through
    distinct words — at corpus scale a map-only pass beats a
    distinct+join detour, and the per-word rule is cheap."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = text.vocab_token_stats(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_unk").cast("long").alias("n_unk"),
    )


@_declare("q103_vocab_token_stats_bulk", _vocab_oracle_sql())
def q103(spark, sf_dir):
    """The Arrow BULK kernel of the same greedy rule (round 11 —
    text._vocab_token_stats_bulk: hash-dict probes + per-task word
    memoization, the production path at any vocab size; measured ~45x
    the interpreted expression fold, SCALING.md). Same oracle as q101:
    the two forms are defined to be output-identical, and this slot
    makes that identity a driver-gated cross-engine fact, not just a
    pytest pin. Integer counts — hash-exact by construction."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = text.vocab_token_stats(docs, form="bulk")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_unk").cast("long").alias("n_unk"),
    )


@_declare(
    "q104_vocab_token_stats_bigvocab",
    _vocab_oracle_sql(text.BPE_SUBWORD_VOCAB_2K),
)
def q104(spark, sf_dir):
    """The bulk kernel gated IN ITS OWN REGIME (round 12): the greedy
    rule over the 2,054-entry generated vocab (BPE_SUBWORD_VOCAB_2K) —
    beyond VOCAB_EXPR_MAX=512, where the expression fold refuses loudly
    and ``form="auto"`` MUST route to the Arrow hash-dict kernel. q103
    pins expr/bulk identity at the 94-entry default; this slot pins the
    production-sized path against the same recursive-CTE DuckDB oracle
    built from the big vocab (per-length IN-lists of 26/676/1,352
    entries — DuckDB hashes constant IN-lists, so the mirror bears the
    size). Integer counts — hash-exact by construction."""
    _prep(spark)
    docs = load_table(spark, sf_dir, "documents")
    out = text.vocab_token_stats(docs, vocab=text.BPE_SUBWORD_VOCAB_2K)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_unk").cast("long").alias("n_unk"),
    )


# ---------------------------------------------------------------------------
# q100 — product-quantization ADC top-k (q39 'pq' part): the compressed-
# domain ANN scorer over FIXED literal dyadic codebooks. Like q38's
# 'proj'/'maha' parts, the gate pins the ARITHMETIC (encode argmin + LUT
# build + m-term ADC sum, every IEEE op mirrored in the same order, so the
# doubles are bit-identical cross-engine); codebook TRAINING (pq_train =
# m deterministic k-means runs) is pytest-pinned, the same split as eigh.
# Dyadic entries (multiples of 2^-4) make each (x-c) and x*c product exact.
# ---------------------------------------------------------------------------

_PQ_M = 8
_PQ_KSUB = 16
_PQ_DSUB = 8
# 17 is coprime with the stride, so all 16 codewords per subspace are
# distinct patterns; values span [-0.5, 0.5], the embeddings' range
_PQ_CB = [
    [
        [(((j * 5 + c * 3 + t * 7) % 17) - 8) * 0.0625 for t in range(_PQ_DSUB)]
        for c in range(_PQ_KSUB)
    ]
    for j in range(_PQ_M)
]


def _pq_cb_sql(j: int) -> str:
    return "[" + ", ".join(
        "[" + ", ".join(repr(float(v)) for v in cw) + "]::DOUBLE[]"
        for cw in _PQ_CB[j]
    ) + "]"


def _pq_oracle_sql() -> str:
    """DuckDB mirror of pq_encode + pq_adc_topk on the fixed codebooks:
    squared-L2 argmin per subspace (list_position = FIRST min, matching
    Spark's array_position tie-break), per-query LUT dots, and the m-term
    ADC sum — every sum written as an explicit left-to-right chain to
    match the Spark fold's order (its 0.0 + t1 first step is exact).
    The ranked CTE drops NULL-adc rows to mirror pq_adc_topk's filter:
    an interior-NULL embedding codes to NULL-bearing codes and a NULL
    score, which DuckDB would otherwise keep (NULLS LAST) while Spark
    drops it — a hash mismatch whenever a query has < k finite
    candidates."""
    def code_expr(j: int) -> str:
        off = j * _PQ_DSUB
        terms = " + ".join(
            f"(xd[{off+t+1}] - c[{t+1}]) * (xd[{off+t+1}] - c[{t+1}])"
            for t in range(_PQ_DSUB)
        )
        dists = f"list_transform({_pq_cb_sql(j)}, c -> {terms})"
        return f"list_position({dists}, list_min({dists})) - 1"

    def lut_expr(j: int) -> str:
        off = j * _PQ_DSUB
        dots = " + ".join(
            f"xd[{off+t+1}] * c[{t+1}]" for t in range(_PQ_DSUB)
        )
        return f"list_transform({_pq_cb_sql(j)}, c -> {dots})"

    codes = "[" + ", ".join(code_expr(j) for j in range(_PQ_M)) + "]"
    luts = "[" + ", ".join(lut_expr(j) for j in range(_PQ_M)) + "]"
    score = " + ".join(
        f"q.lut[{j+1}][c.codes[{j+1}] + 1]" for j in range(_PQ_M)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {_PQ_M * _PQ_DSUB}
    ),
    coded AS (SELECT vec_id, {codes} AS codes FROM base),
    qs AS (SELECT vec_id, {luts} AS lut FROM base WHERE vec_id % 25 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {score} AS adc
        FROM coded c JOIN qs q ON q.vec_id != c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id ASC) AS rank
        FROM scored WHERE adc IS NOT NULL
    )
    SELECT query_id, neighbor_id, CAST(adc AS REAL) AS cos,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """


@_declare("q100_ann_pq_adc", _pq_oracle_sql())
def q100(spark, sf_dir):
    """PQ/ADC compressed-domain top-3 on the fixed dyadic codebooks —
    pq_encode (map-only argmin codes) + pq_adc_topk (broadcast LUT
    queries, m-term add-chain scoring, corpus never shuffled). The shared
    q39 schema calls the score column 'cos'; for this part it carries the
    ADC inner-product approximation (documented, same as qlsh's quantized
    cos)."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    coded = similarity.pq_encode(emb, _PQ_CB)
    out = similarity.pq_adc_topk(
        coded, emb.where(F.col("vec_id") % 25 == 0), _PQ_CB, k=3
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("adc").cast("float").alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


def _ivf_pq_oracle_sql() -> str:
    """DuckDB mirror of ivf_pq_topk: q28's centroid/probe machinery (the
    proven float-avg + cosine probe pattern) composed with q100's
    fold-order PQ codes, LUTs, and ADC sum — candidates restricted to
    each query's nprobe cells, then scored compressed-domain. The ranked
    CTE drops NULL-adc rows to mirror ivf_pq_topk's filter (see
    _pq_oracle_sql)."""
    def code_expr(j: int) -> str:
        off = j * _PQ_DSUB
        terms = " + ".join(
            f"(xd[{off+t+1}] - c[{t+1}]) * (xd[{off+t+1}] - c[{t+1}])"
            for t in range(_PQ_DSUB)
        )
        dists = f"list_transform({_pq_cb_sql(j)}, c -> {terms})"
        return f"list_position({dists}, list_min({dists})) - 1"

    def lut_expr(j: int) -> str:
        off = j * _PQ_DSUB
        dots = " + ".join(
            f"xd[{off+t+1}] * c[{t+1}]" for t in range(_PQ_DSUB)
        )
        return f"list_transform({_pq_cb_sql(j)}, c -> {dots})"

    codes = "[" + ", ".join(code_expr(j) for j in range(_PQ_M)) + "]"
    luts = "[" + ", ".join(lut_expr(j) for j in range(_PQ_M)) + "]"
    score = " + ".join(
        f"q.lut[{j+1}][c.codes[{j+1}] + 1]" for j in range(_PQ_M)
    )
    d = _PQ_M * _PQ_DSUB
    return f"""
    WITH base AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {d}
    ),
    cent AS (
        SELECT label AS cell, i AS pos, AVG(CAST(embedding[i] AS DOUBLE)) AS m
        FROM embeddings, (SELECT unnest(range(1, {d + 1})) AS i) t
        WHERE label IS NOT NULL
        GROUP BY 1, 2
    ),
    centroids AS (
        SELECT cell, list(m ORDER BY pos) AS centroid FROM cent GROUP BY cell
    ),
    probes AS (
        SELECT q.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.xd, c.centroid) DESC,
                            c.cell ASC
               ) AS crank
        FROM base q, centroids c
        WHERE q.vec_id % 25 = 0
    ),
    sel AS (SELECT query_id, cell FROM probes WHERE crank <= 2),
    coded AS (SELECT vec_id, label, {codes} AS codes FROM base),
    qs AS (SELECT vec_id, {luts} AS lut FROM base WHERE vec_id % 25 = 0),
    scored AS (
        SELECT s.query_id, c.vec_id AS neighbor_id, {score} AS adc
        FROM sel s
        JOIN coded c ON c.label = s.cell AND c.vec_id != s.query_id
        JOIN qs q ON q.vec_id = s.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id ASC) AS rank
        FROM scored WHERE adc IS NOT NULL
    )
    SELECT query_id, neighbor_id, CAST(adc AS REAL) AS cos,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """


@_declare("q102_ann_ivf_pq", _ivf_pq_oracle_sql())
def q102(spark, sf_dir):
    """IVF-PQ composition on the fixed dyadic codebooks: coarse label
    cells prune (q28's proven centroid/probe machinery), PQ codes
    compress what is scored (q100's fold-order ADC arithmetic)."""
    _prep(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    coded = similarity.pq_encode(emb, _PQ_CB).where(
        F.col("embedding").isNotNull()
    )
    out = similarity.ivf_pq_topk(
        coded, emb.where(F.col("vec_id") % 25 == 0), _PQ_CB, k=3, nprobe=2
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("adc").cast("float").alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q99 — streaming NEAR-dup ingest gate (MinHash band first-seen state):
# streaming execution vs a pure-SQL batch LSH oracle. The oracle's novelty
# rule — a doc is novel iff it is the min-doc_id member of every one of its
# band buckets — is exactly what first-seen band state computes under
# id-ordered arrival, restated order-invariantly (q86 recipe: the streamed
# fact checked is the emitted-band-key multiset; doc attribution is
# canonicalized so the result cannot depend on which simultaneous collider
# the state operator happened to see first).
# ---------------------------------------------------------------------------

_ND_BANDS = 4
_ND_HASHES = 16


@_declare(
    "q99_streaming_neardup",
    f"""
    WITH sig AS (SELECT doc_id, source, {_minhash_sql(_ND_HASHES)} AS sg
                 FROM documents),
    banded AS (
        SELECT doc_id, source, b.band_id,
               md5(concat_ws('|', sg[b.band_id * 4 + 1], sg[b.band_id * 4 + 2],
                             sg[b.band_id * 4 + 3], sg[b.band_id * 4 + 4]))
                   AS band_hash
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
    ),
    owner AS (
        SELECT band_id, band_hash, MIN(doc_id) AS owner_id
        FROM banded GROUP BY 1, 2
    ),
    docflag AS (
        SELECT d.doc_id, d.source,
               SUM(CASE WHEN o.owner_id = d.doc_id THEN 1 ELSE 0 END)
                   AS n_owned
        FROM banded d
        JOIN owner o
          ON o.band_id = d.band_id AND o.band_hash = d.band_hash
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n_owned < {_ND_BANDS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dups,
           CAST(SUM(CASE WHEN n_owned = {_ND_BANDS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique
    FROM docflag GROUP BY source
    """,
)
def q99(spark, sf_dir):
    """Streaming near-dup ingest gate: MinHash band rows through native
    ``dropDuplicatesWithinWatermark`` state (streaming.streaming_neardup_bands
    — the state stage of streaming_neardup_lsh), replayed as two
    doc_id-ordered micro-batches exactly like q86.

    Event time is constant, so the watermark never evicts mid-replay and
    each distinct (band_id, band_hash) emits exactly once across both
    batches. The per-source accounting is order-invariant the q86 way:
    the streamed fact is the emitted band-key MULTISET (its exactly-once
    property is load-bearing — a doc is counted novel only if its bands'
    total emission count equals the band count, so a key emitted twice or
    never flips rows and hash-mismatches); WHICH simultaneous collider
    survived a band is canonicalized to the min-doc_id owner, matching
    first-seen semantics under the staged id-ordered arrival. A doc is
    novel iff it owns all of its bands — the batch LSH candidate rule
    (one shared band = candidate pair) restated for a streaming gate.
    Driver-side row sink is TEST HARNESS ONLY.
    """
    import shutil
    import tempfile
    import time

    _prep(spark)
    from ..operators.dedup import minhash_band_structs
    from ..streaming import streaming_neardup_bands

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        "text",
        F.to_timestamp(F.lit("2024-03-01 10:00:00")).alias("ts"),
    )
    stage = tempfile.mkdtemp(prefix="ddsketch_q99_")
    try:
        max_id = docs.agg(F.max("doc_id")).first()[0]
        if max_id is None:
            raise ValueError("q99 requires a non-empty documents table")
        thr = max_id // 2
        for mode, cond in (
            ("overwrite", F.col("doc_id") <= thr),
            ("append", F.col("doc_id") > thr),
        ):
            docs.where(cond).repartition(1).sortWithinPartitions(
                "doc_id"
            ).write.mode(mode).parquet(stage)
            if mode == "overwrite":
                time.sleep(1.1)  # file-source ordering is by modification time

        stream = (
            spark.readStream.schema(
                "doc_id bigint, source string, text string, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        emitted = streaming_neardup_bands(
            stream, "ts", text="text", id_col="doc_id",
            num_hashes=_ND_HASHES, bands=_ND_BANDS, watermark="1 hour",
        )
        rows = []

        def sink(batch_df, _id):
            rows.extend(batch_df.select("band_id", "band_hash").collect())

        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                emitted.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "q99 streaming neardup gate did not finish within 300s"
                )
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    # emitted band-key multiset (the streamed fact under check)
    em = spark.createDataFrame(
        [(int(r.band_id), r.band_hash) for r in rows],
        "band_id int, band_hash string",
    ).groupBy("band_id", "band_hash").agg(F.count("*").alias("n_emit"))

    # canonical batch banding with the SAME per-row expression the stream
    # used (shared minhash_band_structs formula)
    banded = docs.select(
        "doc_id",
        "source",
        F.explode(
            minhash_band_structs(F.col("text"), _ND_HASHES, _ND_BANDS, 2)
        ).alias("__b"),
    ).select("doc_id", "source", "__b.band_id", "__b.band_hash")
    owner = banded.groupBy("band_id", "band_hash").agg(
        F.min("doc_id").alias("owner_id")
    )
    docflag = (
        banded.join(owner, ["band_id", "band_hash"])
        .join(em, ["band_id", "band_hash"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(
                F.when(F.col("owner_id") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_owned"),
            # exactly-once emission is load-bearing: each band contributes
            # n_emit/1 only if the state emitted its key exactly once
            F.sum(F.coalesce(F.col("n_emit"), F.lit(0))).alias("n_emit"),
        )
    )
    novel = (F.col("n_owned") == _ND_BANDS) & (F.col("n_emit") == _ND_BANDS)
    return docflag.groupBy("source").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.when(novel, 0).otherwise(1)).cast("long").alias("n_dups"),
        F.sum(F.when(novel, 1).otherwise(0)).cast("long").alias("n_unique"),
    )


# ===========================================================================
# Final registry: the driver grades at most 50 queries, so the staged
# per-operator declarations above are curated into exactly 50 slots
# (renames into priority order + same-family composites). The staged dicts
# remain available for tests that exercise members individually.
# ===========================================================================

STAGED_QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = dict(QUERIES)
STAGED_ORACLES: Dict[str, str] = dict(ORACLES)

from .composites import build_final  # noqa: E402  (needs the staged defs)

QUERIES, ORACLES = build_final(STAGED_QUERIES, STAGED_ORACLES)
