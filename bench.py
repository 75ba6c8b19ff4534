#!/usr/bin/env python3
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints JSON lines; the last one is the record:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The comparator is DuckDB executing the equivalent bin-math oracle SQL over
the same parquet (BASELINE.md); its timings are included as
``duckdb_oracle`` unless --no-compare is passed. The SPARK sections run
FIRST (round 13 — the r12 record was erased when an external wall-clock
timeout landed after a contention-doubled DuckDB phase): a timeout must
cost the comparator, never the subject. The gateway JVM is shut down
before the DuckDB phase starts so the comparator still runs on an
otherwise-idle machine, and an incremental ``{"partial": ...}`` snapshot
line is printed after every completed section and family rep — the
driver parses the LAST stdout line, so a killed run is parsed as the
newest complete snapshot instead of losing the round.
``native_sketch_rows_per_sec`` reports the native path's marginal
throughput at 60M generated rows — the scale-relevant number (per-query
times at sf0.1 are fixed-overhead-bound).

Per-family protocol: every 60M-class family runs under a multi-pass
scheduler — spread repetitions in rotated order, min taken, and pass
membership decided from the family's measured pass-1 rep. See
_run_family_passes for the rules.

Machine state travels with the timings. Every family rep records the
share of CPU time the hypervisor gave to other guests while it ran
(``steal_share``, next to ``raw_runs_sec`` on the raw line and in the
sidecar), and the final line carries one ``machine`` block: ``nproc``,
the CPU canary before the Spark and before the DuckDB phase, and each
engine's highest per-rep steal share. Timing noise on a shared host is
a property of the host to record, not a threshold to tune.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window, functions as F

from duckdb_ddsketch_spark import streaming
from duckdb_ddsketch_spark.operators import (
    analytics,
    approx,
    bitmap,
    clustering,
    decomposition,
    dedup,
    native,
    relational,
    sampling,
    similarity,
    text as text_ops,
)
from perfbench.probes import cpu_canary_ms, cpu_ticks, steal_share

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))

# ---------------------------------------------------------------------------
# Session wall-clock guard (round 13, VERDICT r12 items 1-2). The r12 run
# was killed by an external timeout after the comparator phase — running
# first back then — took ~2x its expected time under host contention.
# Every REQUIRED measurement (pass-1 reps, headline, native) always runs;
# the OPTIONAL pass-2/3 spread reps are skipped once the session passes
# this deadline, and the record then names the engine under
# ``passes_truncated_over_budget``. 4500 s: a healthy full session ends
# ~2400 s, a 2x-contended comparator still fits pass 1, and the observed
# external kill window is > 4800 s.
# ---------------------------------------------------------------------------
_T0 = time.monotonic()
_DEADLINE_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE_SEC", "4500"))


def _budget_left() -> float:
    return _DEADLINE_SEC - (time.monotonic() - _T0)

# Headline set: the scale-relevant pipelines (native path, the canonical
# blob-aggregation roll-up, the pandas ingest path) plus one query from each
# beyond-reference family (dedup, similarity) for breadth. These are STAGED
# registry names (duckdb_ddsketch_spark/plans/declared.py): the stable
# per-operator declarations, keyed identically across rounds even though the
# driver-facing 50-slot registry renumbers/merges them — so BENCH_r{N}
# timings stay comparable round over round.
HEADLINE = [
    "q01_price_quantiles_by_returnflag",
    "q11_agg_rollup_event_type",
    "q12_stats_agg_by_linestatus",
    "q13_native_daily_rollup",
    "q14_struct_merge_native",
    "q20_exact_dedup_summary",
    "q25_ann_bruteforce_topk",
    "q39_asof_join_click_error",
    "q43_heavy_hitters",
]

N_60M = 60_000_000

# ---------------------------------------------------------------------------
# Per-family 60M-row comparators: the same generated data and the same
# algorithm run in both engines (mirroring the native-sketch 60M comparator).
# sf0.1 per-query times are fixed-overhead-bound (~0.3-1s stage-scheduling
# floor); these are the honest scale signals per operator family.
# Gate: SPARK_GRAFT_BENCH_FAMILIES=0 skips them.
# ---------------------------------------------------------------------------

FAMILIES = os.environ.get("SPARK_GRAFT_BENCH_FAMILIES", "1") != "0"

# Attribution tooling: SPARK_GRAFT_BENCH_ONLY=fam1,fam2 runs just those
# families (both engines), skipping the rest AND their warm-ups — a fresh
# single-family process is how within-session JVM-state effects are told
# apart from plan changes. Official driver runs leave this unset.
_ONLY = {
    s.strip()
    for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
    if s.strip()
}


def _fam_on(name: str) -> bool:
    return not _ONLY or name in _ONLY


def _partial(result: dict, stage: str) -> None:
    """Timeout insurance (round 13): print a compact snapshot of the
    record so far. The driver parses the LAST stdout line, so if an
    external wall-clock kill lands mid-run, the newest complete snapshot
    becomes the round record instead of nothing. Completed runs end with
    _emit's final line, which makes every snapshot invisible to them.

    The snapshot applies the same compaction as _emit (families at 2dp,
    oracle as a total, no spaces between JSON tokens) so a killed run's
    last line stays inside the driver's tail-capture window."""
    snap: dict = {"partial": stage}
    for k, v in result.items():
        if k == "duckdb_oracle":
            snap["duckdb_oracle_total"] = round(sum(v.values()), 3)
        elif k in ("spark_families_60m_sec", "duckdb_families_60m_sec"):
            snap[k] = {n: round(t, 2) for n, t in v.items()}
        else:
            snap[k] = v
    print(json.dumps(snap, separators=(",", ":")), flush=True)

# Round-over-round continuity contract: these keys appeared in the official
# BENCH_r05.json `spark_families_60m_sec` and MUST keep their names —
# renaming one silently breaks every cross-round comparison the judge and
# refresh_docs.py make. New families may be ADDED freely
# (test_bench_smoke.py pins superset-of-r5 + exact current registry).
R5_FAMILY_NAMES = frozenset({
    "hll_distinct",
    "asof_join",
    "heavy_hitters",
    "exact_dedup",
    "minhash_lsh_600k",
    "bitmap_retention",
    "ann_brute_2m_x128",
    "text_metrics_15m",
    "sessionize_60m",
    "pack_manifest_15m",
    "funnel_60m",
    "kmeans_60m",
    "streaming_windows",
    "streaming_windows_full_recompute",
})


def _per(mod: int, n: int, base: int) -> int:
    """A cardinality modulus (distinct users, docs, classes) for ``n``
    rows that keeps the per-row character ``mod`` has at a family's
    ``base`` rows; exactly ``mod`` at ``base``. Structure parameters
    (group count, k, dims, query count, shard count) do not scale."""
    return max(1, mod * n // base)


# deterministic generators (arithmetic only — identical rows in both engines)
def _hll_users(n: int) -> str:
    return f"(id * 2654435761) % {_per(10_000_000, n, N_60M)}"


def _dedup_doc(n: int) -> str:
    return f"id % {_per(DEDUP_DOCS, n, N_60M)}"


HEAVY_TOK = "(id * id + 17 * id) % 50021"
DEDUP_DOCS = 30_000_000  # distinct docs at N_60M rows: a 50% dup rate
N_ASOF_L, N_ASOF_R = 54_000_000, 6_000_000
ASOF_USERS = 100_000
N_MINHASH = 600_000
MINHASH_D = 550_000
N_BITMAP_USERS = 5_000_000

# ANN family: exact brute-force top-k — 2M 16-dim corpus x 128 queries
# (256M scored pairs). Components are dyadic rationals + 0.5 so no vector
# is ever zero-norm; both engines generate identical doubles. Spark drives
# similarity.brute_force_topk (Arrow + numpy matmul, distributive
# local top-k — the corpus never shuffles); DuckDB runs the canonical SQL
# form (cross join + windowed rank over the materialized pair set) — a SQL
# engine has no way to express "local top-k then merge" without the
# partitioning machinery, which is the point of the comparison.
N_ANN_CORPUS, N_ANN_Q, ANN_K = 2_000_000, 128, 10
ANN_PRIMES = (
    13, 101, 977, 8191, 131, 337, 547, 761,
    1009, 1213, 1427, 1619, 1823, 2029, 2239, 2447,
)

# PQ/ADC family (round 10): fixed dyadic codebooks over the same 16-dim
# generator — m=4 subspaces x 16 codewords x 4 sub-dims; entries are the
# exact half-integers 0.5..16.5 (the generator's component range), so
# every (x - c) and x*c is computed on identical doubles in both engines.
PQ_M, PQ_KSUB, PQ_DSUB = 4, 16, 4
PQ_CB = [
    [
        [float((j * 5 + c * 3 + t * 7) % 17) + 0.5 for t in range(PQ_DSUB)]
        for c in range(PQ_KSUB)
    ]
    for j in range(PQ_M)
]

# text-metrics family: 15M 8-token docs (120M tokens) through the repo's
# token_stats operator (split / distinct / length arithmetic, all
# whole-stage-codegen) vs the same list arithmetic in DuckDB.
N_TEXT, N_TEXT_D = 15_000_000, 1_000_000

# BM25 family probe queries over the generated text corpus's token
# classes (aK exists for K < 101, bK < 97, cK < 89, dK < 83, eK < 79,
# fK < 73, gK < 71, hK < 67 — see _minhash_text_sql)
BM25_QUERIES = [
    (1, "a7 b13 c55"),
    (2, "d9 e30 f8"),
    (3, "g2 h1 a100"),
]

# sessionization family: 60M events, 1M users (60 events/user spread over a
# day — mean gap 1440s, so a 900s gap threshold genuinely splits sessions).
# Spark drives relational.sessionize (lag + running-sum window, one shuffle
# on the key); DuckDB runs the identical window SQL.
SESS_USERS, SESS_GAP_S = 1_000_000, 900
SESS_TS = "(id * 2654435761) % 86400"

# sequence-packing family: 15M docs into 8192-token training sequences,
# 256 shards (the per-shard window is the documented scale shape — one
# global window would serialize). Spark drives sampling.pack_manifest.
N_PACK, PACK_SHARDS, PACK_BUDGET = 15_000_000, 256, 8192
PACK_TOK = "(id * 40503) % 1951 + 50"

# funnel family: 3-step ordered conversion funnel over 60M events, 2M
# users (30 events each, pseudo-random times, 5 event types). Spark
# drives analytics.funnel (per-step min-after-gate, all joins keyed on
# the user column); DuckDB runs the identical chained min/gate SQL.
# user modulus must be COPRIME with the 5 event types: with 2M users
# (2M % 5 == 0) every user's ids share one residue mod 5, so each user
# only ever emits ONE event type and the funnel is degenerate (the same
# modular-aliasing trap the neardup probe generator hit)
FUNNEL_USERS = 1_999_999
FUNNEL_TS = "(id * 2654435761) % 1000000"
FUNNEL_ET = "(id * 7919) % 5"

# k-means family: 60M 4-dim vectors of exactly-representable dyadic
# rationals ((id*p) % 1024) / 64 — identical doubles in both engines, so
# the Python-driven DuckDB mirror reproduces the Spark operator's centroid
# literals bit-for-bit between iterations.
KM_K, KM_ITERS = 8, 2
KM_PRIMES = (13, 101, 977, 8191)
KM_SCALE = 1048576.0  # clustering._SCALE

# wide-dims k-means family (round 7): 15M rows x 64 dims, k=8 — k*dims =
# 512 puts clustering._choose_method on the Arrow+numpy BLAS route (the
# codegen cliff bails past 64 expanded terms; SCALING.md width sweep), so
# this family pins that route round-over-round with a DuckDB mirror, as
# VERDICT r6 #3 asked. 64 odd primes with distinct residues mod 1024 so no
# two generated components are identical columns.
N_KM_WIDE = 15_000_000
KM_WIDE_PRIMES = (
    13, 17, 19, 23, 29, 31, 37, 41,
    43, 47, 53, 59, 61, 67, 71, 73,
    79, 83, 89, 97, 101, 103, 107, 109,
    113, 127, 131, 137, 139, 149, 151, 157,
    163, 167, 173, 179, 181, 191, 193, 197,
    199, 211, 223, 227, 229, 233, 239, 241,
    251, 257, 263, 269, 271, 277, 281, 283,
    293, 307, 311, 313, 317, 331, 337, 347,
)

# percentile-rank family (round 7): sketch-driven score normalization at
# 60M rows x 25 groups — one partially-aggregated binned pass, a window
# cumsum over the tiny groups x bins table, and the broadcast
# (grp, sign, bin) join back onto the stream. Values are dyadic
# rationals spanning all three sign classes, identical doubles in both
# engines; DuckDB runs the same cumsum + join.
PCT_V = "((id * 48271) % 2001 - 1000)"

# Gram-matrix family (round 7): the PCA stats pass at 2M x 64 int8 codes.
# Spark runs the one-matmul-per-Arrow-batch partial-aggregate shape
# (operators/decomposition.gram_matrix, integer mode — exact BIGINTs);
# DuckDB runs its fastest available form, a single 4096-SUM flat aggregate
# over the same generated codes (it has no matmul; the pivot/unnest form
# materializes n*d^2 rows and measures far slower). Cross-engine VALUE
# parity for integer gram is gated by q38's 'gram' part at sf0.01.
N_GRAM = 2_000_000
GRAM_D = 64


def _km_vec(i: int, primes: tuple = KM_PRIMES) -> list:
    return [((i * p) % 1024) / 64.0 for p in primes]


def _km_seed_centroids(primes: tuple = KM_PRIMES) -> list:
    # mirrors clustering.kmeans_centroids seeding: quantize+dequantize the
    # k smallest ids' vectors (exact for these dyadic inputs)
    import math as _m

    return [
        (cid, [_m.floor(v * KM_SCALE) / KM_SCALE for v in _km_vec(cid, primes)])
        for cid in range(KM_K)
    ]


# duplicate-span-extents family (round 9): substring-level dedup at scale.
# 2M 24-token docs: 8 unique tokens + a 16-token boilerplate tail drawn
# from a 50k-block pool (~40 docs/block), all integer||string arithmetic
# so both engines generate identical corpora. Every doc carries 9
# duplicated 8-grams that stitch into ONE 16-token extent — the census
# sees 34M grams, the stitcher 18M marked positions. Spark drives
# dedup.duplicate_span_extents; DuckDB runs the identical census + dup
# join + lag/running-sum stitching in its fastest form (printf
# generation; grams CTE MATERIALIZED — inlining recomputed the 34M-gram
# census for the join probe, 70 -> 33 s/M measured). Value parity is
# gated by q33's 'extent' part at sf0.01.
N_SPAN, SPAN_POOL, SPAN_N = 2_000_000, 50_000, 8


def _span_text_sql(idv: str, pool: int) -> str:
    uniq = " || ' ' || ".join(
        f"'u{j}_' || CAST(({idv}) * {2 * j + 3} AS VARCHAR)" for j in range(8)
    )
    boil = " || ' ' || ".join(
        f"'b{j}_' || CAST((({idv}) % {pool}) * {j + 1} AS VARCHAR)"
        for j in range(16)
    )
    return f"{uniq} || ' ' || {boil}"


def _span_text_printf(idv: str) -> str:
    """printf form of _span_text_sql — identical output text, one format
    call per row instead of ~50 string concats (the concat form measured
    13.2 s/M docs of pure generation on the DuckDB side)."""
    fmt = " ".join(
        [f"u{j}_%d" for j in range(8)] + [f"b{j}_%d" for j in range(16)]
    )
    args = ", ".join(
        [f"({idv}) * {2 * j + 3}" for j in range(8)]
        + [f"(({idv}) % {SPAN_POOL}) * {j + 1}" for j in range(16)]
    )
    return f"printf('{fmt}', {args})"


# streaming family: 60M (ts, key, value) rows staged ONCE as deterministic
# TIME-ORDERED parquet files (numpy-generated — no JVM needed, so the DuckDB
# pass can still run on an idle machine). Both engines consume the same 16
# files in the same arrival order as 16 incremental batches: Spark drives
# the repo's windowed-binned-counts streaming state operator (append mode,
# watermark eviction, maxFilesPerTrigger=1), DuckDB runs the textbook
# incremental-view-maintenance loop a batch engine needs for the same
# continuously-arriving workload (per-file grouped upsert into a keyed
# state table). A one-shot full-recompute DuckDB number is also recorded
# (informational) — it answers a different question (recompute everything
# at the end) than the streaming operator does (answer after every batch).
STREAM_KEYS, STREAM_HOURS, STREAM_FILES = 25, 1000, 16
STREAM_DIR = os.environ.get("TMPDIR", "/tmp")
# both engines ingest the 16 files in arrival chunks of 4 — micro-batch
# fixed costs (state commit, plan) amortize over real per-batch work
STREAM_BATCH_FILES = 4


def _stream_src(n: int) -> str:
    # the cache key encodes every generation parameter so a config change
    # can't silently reuse stale staged files through the _DONE sentinel
    return os.path.join(
        STREAM_DIR,
        f"ddsketch_bench_stream_v2_{n}_{STREAM_KEYS}k_{STREAM_HOURS}h_{STREAM_FILES}f",
    )


def _ensure_stream_src(n: int) -> str:
    """Stage the ``n``-row stream once; returns its directory."""
    src = _stream_src(n)
    done = os.path.join(src, "_DONE")
    if os.path.exists(done):
        return src
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    base = 1_700_000_000
    per = n // STREAM_FILES
    per_hour = n // STREAM_HOURS
    for f in range(STREAM_FILES):
        ids = np.arange(f * per, (f + 1) * per, dtype=np.int64)
        # epoch micros; the HOUR component (ids // per_hour) is
        # non-decreasing across files, while the second offset (ids % 3600)
        # resets within each hour block. Append-mode correctness therefore
        # relies on batch boundaries aligning with whole hour blocks:
        # each file spans 62.5 hour-blocks, so every 4-file batch covers
        # exactly 250 whole hours and the 10-min watermark (advanced only
        # between batches) never drops an in-hour late row. Changing
        # STREAM_FILES/STREAM_HOURS/STREAM_BATCH_FILES must preserve that
        # alignment (or make ts fully monotone); a row count n divisible by
        # both STREAM_FILES and STREAM_HOURS keeps it at any scale.
        ts = (base + (ids // per_hour) * 3600 + (ids % 3600)) * 1_000_000
        tbl = pa.table(
            {
                "ts": pa.Array.from_pandas(ts).cast(pa.timestamp("us")),
                "key": pa.Array.from_pandas((ids % STREAM_KEYS).astype(np.int32)),
                "value": pa.Array.from_pandas(
                    ((ids * 7919) % 100_000) / 10.0 + 1.0
                ),
            }
        )
        pq.write_table(tbl, os.path.join(src, f"part-{f:02d}.parquet"))
    with open(done, "w") as fh:
        fh.write("ok")
    return src


def _minhash_text_sql(d: str) -> str:
    """8-token doc text derived from a duplicate-class id ``d`` — portable
    integer arithmetic, so Spark and DuckDB generate identical corpora
    (~9%% of docs share a class with another doc at N_MINHASH/MINHASH_D)."""
    parts = []
    for tag, mod, div in (
        ("a", 101, 1), ("b", 97, 101), ("c", 89, 3), ("d", 83, 7),
        ("e", 79, 11), ("f", 73, 13), ("g", 71, 17), ("h", 67, 19),
    ):
        parts.append(f"'{tag}' || CAST((({d}) // {div}) % {mod} AS VARCHAR)")
    return " || ' ' || ".join(parts)


# Raw per-repetition times for every measured point, keyed
# "spark:q01" / "duckdb:q01" / "spark_fam:ann_brute_2m_x128" /
# "duckdb_fam:...". Emitted as `raw_runs_sec` in the JSON so a
# round-over-round delta on the best-of point estimate can be read
# against the run spread (noise vs regression) — the point tables
# keep quoting best-of. Family reps also record their steal share under
# the same key, emitted as `steal_share`.
_RAW_RUNS: dict = {}
_RAW_STEAL: dict = {}


def _record(key, secs: float) -> None:
    if key is not None:
        _RAW_RUNS.setdefault(key, []).append(round(secs, 3))


def _timed(fn, key=None) -> float:
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    _record(key, dt)
    return round(dt, 3)


def _machine(result: dict) -> dict:
    """The record's ``machine`` block, created on first use."""
    return result.setdefault(
        "machine", {"nproc": os.cpu_count(), "canary_ms": {}, "steal_max": {}}
    )


# ---------------------------------------------------------------------------
# Multi-pass family protocol (round 9 — VERDICT r8 items 1/3).
#
# This VM's load episodes last minutes, so a family's reps are spread
# across the session and the min is quoted: one episode cannot own all of
# them. The passes:
#   pass 1 — every family once, canonical order (streaming mid-list, not
#            tail; the widest k-means family mid-list too);
#   pass 2 — families whose pass-1 rep < pass-2 cutoff, REVERSED order
#            (the former tail runs first, minutes away from its pass-1 rep);
#   pass 3 — cheap families (pass-1 rep < pass-3 cutoff), order rotated by
#            a third.
# Each rep records the steal share over its run, so a reader can tell a
# slow cell on a contended host from a slow plan.
# ---------------------------------------------------------------------------

# canonical pass-1 order: ann_brute and funnel lead, so they get the first
# minutes of a fresh process; streaming sits mid-list (never the tail), as
# does the slowest Spark family (wide k-means)
FAMILY_PASS1_ORDER = [
    "ann_brute_2m_x128",
    "funnel_60m",
    "hll_distinct",
    "asof_join",
    "streaming_windows",
    "heavy_hitters",
    "exact_dedup",
    "minhash_lsh_600k",
    "span_extents_2m",
    "streaming_windows_full_recompute",
    "bitmap_retention",
    "ann_quantized_2m_x128",
    "ann_pq_2m_x128",
    "text_metrics_15m",
    "vocab_tok_15m",
    "bm25_15m",
    "kmeans_15m_d64",
    "sessionize_60m",
    "pack_manifest_15m",
    "kmeans_60m",
    "gram_2m_x64",
    "pctrank_60m",
    "qnorm_60m",
]

# pass-2/3 membership cutoffs on the pass-1 rep (sec). Asymmetric because
# the DuckDB side's big families are 60-230 s each — repeating all of
# them would double a ~20-min section for cells already >> the noise floor.
PASS_CUTOFFS = {"spark": (60.0, 15.0), "duckdb": (30.0, 10.0)}


def _run_family_passes(entries, engine: str, result: dict, on_progress=None) -> dict:
    """Run family entries under the multi-pass protocol; returns
    {name: min_sec}. ``entries``: list of (name, thunk, setup) — setup
    (or None) runs once before the family's first timed rep (stream
    staging, steady-state warm-ups). Families not selected by
    SPARK_GRAFT_BENCH_ONLY are skipped entirely. ``on_progress``, when
    given, is called with the current {name: min_sec} snapshot after
    every timed rep — the partial-emission hook.

    Pass membership comes from each family's pass-1 rep (PASS_CUTOFFS).
    Pass-1 reps always run (they ARE the record); a pass-2/3 rep is
    optional and is skipped once the session has no room for twice the
    family's pass-1 time. The engine's highest per-rep steal share goes
    to result["machine"]["steal_max"]."""
    p2_cut, p3_cut = PASS_CUTOFFS[engine]
    order = {n: i for i, n in enumerate(FAMILY_PASS1_ORDER)}
    sel = [e for e in entries if _fam_on(e[0])]
    sel.sort(key=lambda e: order.get(e[0], len(order)))
    times: dict = {}
    shares: list = []
    warmed = set()

    def run_one(entry):
        name, fn, setup = entry
        if setup is not None and name not in warmed:
            setup()
            warmed.add(name)
        key = f"{engine}_fam:{name}"
        ticks = cpu_ticks()
        times.setdefault(name, []).append(_timed(fn, key=key))
        shares.append(round(steal_share(ticks, cpu_ticks()), 4))
        _RAW_STEAL.setdefault(key, []).append(shares[-1])
        if on_progress is not None:
            on_progress({n: round(min(ts), 3) for n, ts in times.items()})

    def pass1(name):
        return times[name][0]

    def affordable(name):
        # an optional rep is worth starting only while the session has
        # room for ~2x its pass-1 time (contended boxes run slow)
        return _budget_left() > 2.0 * max(pass1(name), 1.0)

    truncated = False
    for e in sel:  # pass 1 — canonical order
        run_one(e)
    for e in reversed(sel):  # pass 2 — reversed (old tail first)
        if pass1(e[0]) < p2_cut:
            if not affordable(e[0]):
                truncated = True
                continue
            run_one(e)
    third = len(sel) // 3
    for e in sel[third:] + sel[:third]:  # pass 3 — rotated by a third
        if pass1(e[0]) < p3_cut:
            if not affordable(e[0]):
                truncated = True
                continue
            run_one(e)
    if truncated:
        result.setdefault("passes_truncated_over_budget", []).append(engine)
    if shares:
        _machine(result)["steal_max"][engine] = max(shares)
    return {n: round(min(ts), 3) for n, ts in times.items()}


def _best3(fn, key=None) -> float:
    """Best-of-3 (min): both engines get the same treatment, and min is the
    variance-proof statistic for sub-second queries on a shared machine —
    round-over-round deltas reflect plan changes, not scheduler jitter."""
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        reps.append(time.perf_counter() - t0)
        _record(key, reps[-1])
    return round(min(reps), 3)


def run_duckdb(result: dict) -> None:
    """DuckDB comparator on an otherwise-idle machine (round 13: runs
    AFTER the Spark phase, whose gateway JVM has been shut down)."""
    import duckdb

    _machine(result)["canary_ms"]["duckdb"] = round(cpu_canary_ms(), 1)

    from duckdb_ddsketch_spark.plans import declared

    from duckdb_ddsketch_spark.sources import TABLES

    con = duckdb.connect()
    # thread parity with Spark's local[CPUS] from the FIRST query: the
    # default (all hardware cores) would give the headline oracles a
    # different core budget than the families section below
    con.execute(f"SET threads={CPUS}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    oracles = declared.STAGED_ORACLES
    ducks = {}
    # single-family attribution runs skip the headline/60M sections on
    # BOTH engines — the flag exists to measure one family in a process
    # that has done nothing else
    for name in HEADLINE if not _ONLY else ():
        if name in oracles:
            sql = oracles[name]
            con.execute(sql).fetchall()  # warm (parquet in page cache)
            ducks[name] = _best3(lambda: con.execute(sql).fetchall(), key=f"duckdb:{name}")
    if not _ONLY:
        result["duckdb_oracle"] = ducks
        _partial(result, "duckdb_oracle_done")

    # Same 60M-row workload in DuckDB (generation + binned quantile
    # aggregation, one query, all threads) — the apples-to-apples
    # scale-proxy comparison for the native path.
    import math as _math

    _gamma = 1.0 + 2.0 * 0.01 / 0.99
    _lg = repr(_math.log(_gamma))
    duck_60m = f"""
    WITH gen AS (
        SELECT CAST(range % 25 AS VARCHAR) AS grp,
               POWER(random() * 4 + 1, 3) * 10 AS v
        FROM range({N_60M})
    ),
    binned AS (
        SELECT grp, CAST(CEIL(LN(v) / {_lg}) AS INTEGER) AS bin,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM gen GROUP BY 1, 2
    ),
    tot AS (SELECT grp, SUM(cnt) AS total FROM binned GROUP BY 1),
    cum AS (
        SELECT grp, bin, cnt,
               SUM(cnt) OVER (PARTITION BY grp ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM binned
    )
    SELECT t.grp,
           MIN(CASE WHEN c.cum > 0.5 * (t.total - 1) THEN c.bin END),
           MIN(CASE WHEN c.cum > 0.95 * (t.total - 1) THEN c.bin END),
           MIN(CASE WHEN c.cum > 0.99 * (t.total - 1) THEN c.bin END)
    FROM cum c JOIN tot t USING (grp) GROUP BY 1
    """
    if not _ONLY:
        con.execute(duck_60m).fetchall()
        t0 = time.perf_counter()
        con.execute(duck_60m).fetchall()
        result["duckdb_60m_sec"] = round(time.perf_counter() - t0, 3)
        _partial(result, "duckdb_60m_done")

    if FAMILIES:
        entries = []
        for name, sql in _duckdb_family_sqls().items():
            if callable(sql):
                thunk = lambda f=sql: f(con)
            else:
                thunk = lambda s=sql: con.execute(s).fetchall()
            setup = None
            if name in ("streaming_windows", "streaming_windows_full_recompute"):
                if name == "streaming_windows_full_recompute" and not callable(sql):
                    # steady-state policy (mirrored on the Spark side):
                    # this one-shot query is warmed once so the recorded
                    # number measures the aggregation, not first-touch
                    def setup(s=sql):
                        _ensure_stream_src(N_60M)
                        con.execute(s).fetchall()

                else:
                    setup = lambda: _ensure_stream_src(N_60M)
            entries.append((name, thunk, setup))

        def _prog(cells):
            result["duckdb_families_60m_sec"] = cells
            _partial(result, "duckdb_families_progress")

        result["duckdb_families_60m_sec"] = _run_family_passes(
            entries, "duckdb", result, on_progress=_prog
        )
    con.close()


def _duckdb_family_sqls() -> dict:
    """Same-algorithm DuckDB mirrors of the per-family 60M workloads
    (generation inline, single cold pass — symmetric with the Spark side)."""
    from duckdb_ddsketch_spark.operators.approx import hll_alpha
    from duckdb_ddsketch_spark.plans.declared import _dd_hex2int

    sqls = {}

    # HLL distinct users per key (p=8): md5-register math, both engines
    m, nhex = 256, 2
    x = _dd_hex2int("__h", nhex + 1, 15)
    rho = f"CASE WHEN {x} = 0 THEN 61 ELSE 61 - length(bin({x})) END"
    sqls["hll_distinct"] = f"""
    WITH gen AS (
        SELECT range % 25 AS grp, ({_hll_users(N_60M).replace('id', 'range')}) AS u
        FROM range({N_60M})
    ),
    hashed AS (SELECT grp, md5(CAST(u AS VARCHAR)) AS __h FROM gen),
    regs AS (
        SELECT grp, {_dd_hex2int("__h", 1, nhex)} AS bucket, MAX({rho}) AS mr
        FROM hashed GROUP BY 1, 2
    ),
    folded AS (
        SELECT grp, COUNT(*) AS observed,
               SUM(CAST(1 AS BIGINT) << (61 - CAST(mr AS INTEGER))) AS sum_fp
        FROM regs GROUP BY 1
    )
    SELECT grp, {hll_alpha(m)!r}e0 * {m} * {m}.0
               / (sum_fp / 2305843009213693952e0 + ({m} - observed)) AS est
    FROM folded
    """

    # as-of join: every click joined to the latest preceding error per user
    sqls["asof_join"] = f"""
    WITH l AS (SELECT range % {ASOF_USERS} AS u, range * 7 AS ts
               FROM range({N_ASOF_L})),
         r AS (SELECT range % {ASOF_USERS} AS u, range * 71 AS ts
               FROM range({N_ASOF_R}))
    SELECT COUNT(*) AS n, COUNT(r.ts) AS matched, SUM(l.ts - r.ts) AS lag_sum
    FROM l ASOF LEFT JOIN r ON l.u = r.u AND l.ts >= r.ts
    """

    # exact heavy hitters: top-10 tokens per key
    sqls["heavy_hitters"] = f"""
    WITH gen AS (
        SELECT range % 25 AS grp,
               CAST(({HEAVY_TOK.replace('id', 'range')}) AS VARCHAR) AS tok
        FROM range({N_60M})
    ),
    counts AS (SELECT grp, tok, COUNT(*) AS c FROM gen GROUP BY 1, 2),
    ranked AS (
        SELECT grp, tok, c,
               row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok ASC)
                   AS rank
        FROM counts
    )
    SELECT * FROM ranked WHERE rank <= 10
    """

    # exact dedup accounting on normalized text (50% dup rate)
    sqls["exact_dedup"] = f"""
    WITH gen AS (
        SELECT range % 4 AS src,
               'lorem ipsum dolor ' || CAST(({_dedup_doc(N_60M).replace('id', 'range')})
                   AS VARCHAR) AS text
        FROM range({N_60M})
    )
    SELECT src, COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')))
               AS n_distinct
    FROM gen GROUP BY src
    """

    # duplicate-span extents at 2M 24-token docs: the same census + dup
    # join + lag/running-sum stitching the Spark operator runs (value
    # parity is q33's 'extent' part; this is the throughput mirror).
    # printf generation + MATERIALIZED grams are DuckDB's fastest form
    # (see the N_SPAN block comment for the measurements).
    sqls["span_extents_2m"] = f"""
    WITH docs AS (
        SELECT range AS doc_id,
               {_span_text_printf('range')} AS text
        FROM range({N_SPAN})
    ),
    toks AS (
        SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ') AS t
        FROM docs
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, unnest(list_transform(
                   range(1, greatest(len(t) - {SPAN_N - 1}, 0) + 1),
                   i -> struct_pack(
                       pos := CAST(i AS INT),
                       h := md5(array_to_string(
                           t[CAST(i AS INT):CAST(i + {SPAN_N - 1} AS INT)], ' '))
                   )), recursive := true) AS g
        FROM toks
    ),
    dup AS (
        SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
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
               CASE WHEN pos - prev <= {SPAN_N} THEN 0 ELSE 1 END AS brk
        FROM lagged
    ),
    ext AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS eid
        FROM flagged
    )
    SELECT COUNT(*) AS n_extents,
           SUM(span_end - span_start + 1) AS cut_tokens
    FROM (
        SELECT doc_id, MIN(pos) AS span_start,
               MAX(pos) + {SPAN_N - 1} AS span_end
        FROM ext GROUP BY doc_id, eid
    )
    """

    # MinHash+LSH candidate pairs at 600k docs (~67M md5 calls — the same
    # hash work as a 60M-row single-hash workload)
    toks = "string_split(text, ' ')"
    shingles = (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - 1, 0) + 1),"
        f" i -> {toks}[CAST(i AS INT)] || ' ' || {toks}[CAST(i AS INT) + 1]))"
    )
    sig = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min')"
        for i in range(16)
    )
    sqls["minhash_lsh_600k"] = f"""
    WITH docs AS (
        SELECT range AS id,
               {_minhash_text_sql(f'range % {MINHASH_D}')} AS text
        FROM range({N_MINHASH})
    ),
    shing AS (SELECT id, {shingles} AS sh FROM docs),
    sig AS (SELECT id, [{sig}] AS sg FROM shing),
    banded AS (
        SELECT id, b.band_id,
               md5(sg[b.band_id * 4 + 1] || '|' || sg[b.band_id * 4 + 2] || '|' ||
                   sg[b.band_id * 4 + 3] || '|' || sg[b.band_id * 4 + 4]) AS bh
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band_id) b
    )
    SELECT COUNT(*) FROM (
        SELECT DISTINCT a.id AS ia, b.id AS ib
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bh = b.bh AND a.id < b.id
    )
    """
    # ANN brute-force top-k: cross join + windowed rank (the SQL-native
    # plan); corpus norms precomputed once via MATERIALIZED (favorable)
    ndim = len(ANN_PRIMES)

    def _ann_comps(idv: str) -> str:
        return ", ".join(
            f"CAST((({idv}) * {p}) % 1024 AS DOUBLE) / 64.0 + 0.5 AS x{d}"
            for d, p in enumerate(ANN_PRIMES)
        )

    _ann_norm = "sqrt(" + " + ".join(f"x{d} * x{d}" for d in range(ndim)) + ")"
    _ann_dot = " + ".join(f"c.x{d} * q.x{d}" for d in range(ndim))
    sqls["ann_brute_2m_x128"] = f"""
    WITH corpus AS MATERIALIZED (
        SELECT range AS id, {_ann_comps('range')} FROM range({N_ANN_CORPUS})
    ),
    cn AS MATERIALIZED (SELECT *, {_ann_norm} AS nrm FROM corpus),
    q AS MATERIALIZED (
        SELECT * , {_ann_norm} AS nrm
        FROM (SELECT range AS qid, {_ann_comps('range')} FROM range({N_ANN_Q}))
    ),
    scored AS (
        SELECT q.qid, c.id, ({_ann_dot}) / (c.nrm * q.nrm) AS cos
        FROM cn c CROSS JOIN q
        WHERE c.id <> q.qid
    )
    SELECT qid, id, cos FROM scored
    QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC)
            <= {ANN_K}
    """

    # quantized ANN: identical int8 pipeline — one calibration max over the
    # corpus, clamped affine codes per dim, exact BIGINT dot, windowed rank
    _q_maxabs = ", ".join(f"MAX(ABS(x{d}))" for d in range(ndim))
    _q_codes = ", ".join(
        f"GREATEST(-127, LEAST(127,"
        f" CAST(floor(x{d} / s + 0.5) AS BIGINT))) AS c{d}"
        for d in range(ndim)
    )
    _q_dot = " + ".join(f"c.c{d} * q.c{d}" for d in range(ndim))
    sqls["ann_quantized_2m_x128"] = f"""
    WITH corpus AS MATERIALIZED (
        SELECT range AS id, {_ann_comps('range')} FROM range({N_ANN_CORPUS})
    ),
    sc AS MATERIALIZED (
        SELECT GREATEST({_q_maxabs}) / 127 AS s FROM corpus
    ),
    codes AS MATERIALIZED (
        SELECT id, {_q_codes} FROM corpus, sc
    ),
    qcodes AS MATERIALIZED (
        SELECT * FROM codes WHERE id < {N_ANN_Q}
    ),
    scored AS (
        SELECT q.id AS qid, c.id, ({_q_dot}) AS qdot
        FROM codes c CROSS JOIN qcodes q
        WHERE c.id <> q.id
    )
    SELECT qid, id, qdot FROM scored
    QUALIFY row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, id ASC)
            <= {ANN_K}
    """

    # PQ/ADC: identical pipeline — argmin codes per subspace (squared-diff
    # terms accumulated left-to-right, list_position = FIRST min, exactly
    # the Spark fold's arithmetic), per-query lookup tables, 4-term ADC
    # sum, windowed rank
    def _pq_cb_sql(j: int) -> str:
        return "[" + ", ".join(
            "[" + ", ".join(repr(float(v)) for v in cw) + "]::DOUBLE[]"
            for cw in PQ_CB[j]
        ) + "]"

    def _pq_code(j: int) -> str:
        off = j * PQ_DSUB
        terms = " + ".join(
            f"(xd[{off+t+1}] - c[{t+1}]) * (xd[{off+t+1}] - c[{t+1}])"
            for t in range(PQ_DSUB)
        )
        d = f"list_transform({_pq_cb_sql(j)}, c -> {terms})"
        return f"list_position({d}, list_min({d})) - 1"

    def _pq_lut(j: int) -> str:
        off = j * PQ_DSUB
        dots = " + ".join(f"xd[{off+t+1}] * c[{t+1}]" for t in range(PQ_DSUB))
        return f"list_transform({_pq_cb_sql(j)}, c -> {dots})"

    _pq_xd = "[" + ", ".join(f"x{d}" for d in range(ndim)) + "]"
    _pq_codes_sql = "[" + ", ".join(_pq_code(j) for j in range(PQ_M)) + "]"
    _pq_luts_sql = "[" + ", ".join(_pq_lut(j) for j in range(PQ_M)) + "]"
    _pq_score = " + ".join(
        f"q.lut[{j+1}][c.codes[{j+1}] + 1]" for j in range(PQ_M)
    )
    sqls["ann_pq_2m_x128"] = f"""
    WITH base AS MATERIALIZED (
        SELECT id, {_pq_xd} AS xd
        FROM (SELECT range AS id, {_ann_comps('range')}
              FROM range({N_ANN_CORPUS}))
    ),
    coded AS MATERIALIZED (SELECT id, {_pq_codes_sql} AS codes FROM base),
    qs AS MATERIALIZED (
        SELECT id, {_pq_luts_sql} AS lut FROM base WHERE id < {N_ANN_Q}
    ),
    scored AS (
        SELECT q.id AS qid, c.id, {_pq_score} AS adc
        FROM coded c CROSS JOIN qs q
        WHERE c.id <> q.id
    )
    SELECT qid, id, adc,
           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id ASC)
               AS rk
    FROM scored
    QUALIFY rk <= {ANN_K}
    """

    # text metrics: token/char accounting over 15M generated docs — the
    # same split/list_distinct/length arithmetic token_stats performs
    sqls["text_metrics_15m"] = f"""
    WITH docs AS (
        SELECT range AS doc_id,
               {_minhash_text_sql(f'range % {N_TEXT_D}')} AS text
        FROM range({N_TEXT})
    ),
    toksd AS (
        SELECT length(text) AS n_chars, string_split(text, ' ') AS toks
        FROM docs
    ),
    per AS (
        SELECT len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               n_chars,
               CAST(CEIL(n_chars / 4.0) AS INT) AS est_bpe,
               CAST(n_chars AS DOUBLE) / len(toks) AS avg_tok
        FROM toksd
    )
    SELECT COUNT(*) AS n_docs, SUM(n_tokens) AS tok_sum,
           SUM(n_distinct) AS distinct_sum, SUM(est_bpe) AS bpe_sum,
           AVG(avg_tok) AS avg_tok_len
    FROM per
    """

    # round 11: vocab-driven greedy subword tokenization over the same
    # 15M-doc corpus — the REAL token accounting (q101/q103 semantics,
    # default BPE_SUBWORD_VOCAB) as a throughput family. DuckDB walks the
    # greedy rule over the DISTINCT words with a recursive CTE and joins
    # the per-word counts back to the exploded corpus (its best available
    # pure-SQL form — the same dictionary-encode trick the Spark bulk
    # kernel gets from per-task memoization); Spark runs the Arrow bulk
    # kernel (text._vocab_token_stats_bulk).
    from duckdb_ddsketch_spark.operators.text import BPE_SUBWORD_VOCAB

    vt_by_len: dict = {}
    for v in BPE_SUBWORD_VOCAB:
        # entries are inlined below as '<token>' in SQL IN-lists: a
        # quote would break the statement if the mirror is ever
        # parameterized over a user vocab, so assert the invariant here
        assert "'" not in v, f"vocab entry {v!r} contains a quote"
        vt_by_len.setdefault(len(v), set()).add(v)
    vt_lens = sorted(vt_by_len, reverse=True)
    vt_step = " ".join(
        "WHEN substr(w, pos + 1, {l}) IN ({ts}) THEN {l}".format(
            l=l, ts=", ".join("'" + t + "'" for t in sorted(vt_by_len[l]))
        )
        for l in vt_lens
    )
    vt_any = " OR ".join(
        "substr(w, pos + 1, {l}) IN ({ts})".format(
            l=l, ts=", ".join("'" + t + "'" for t in sorted(vt_by_len[l]))
        )
        for l in vt_lens
    )
    sqls["vocab_tok_15m"] = f"""
    WITH RECURSIVE
    docs AS (
        SELECT range AS doc_id,
               {_minhash_text_sql(f'range % {N_TEXT_D}')} AS text
        FROM range({N_TEXT})
    ),
    tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM docs
    ),
    tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
    words AS (SELECT DISTINCT w FROM tok2),
    seg AS (
        SELECT w, 0 AS pos, 0 AS n, 0 AS unk FROM words
        UNION ALL
        SELECT w,
               pos + (CASE {vt_step} ELSE 1 END),
               n + 1,
               unk + (CASE WHEN {vt_any} THEN 0 ELSE 1 END)
        FROM seg WHERE pos < len(w)
    ),
    fin AS (SELECT w, n, unk FROM seg WHERE pos >= len(w))
    SELECT COUNT(*) AS word_sum, SUM(f.n) AS tok_sum, SUM(f.unk) AS unk_sum
    FROM tok2 t JOIN fin f ON f.w = t.w
    """

    # BM25 retrieval over the same 15M-doc text corpus: 3 probe queries,
    # top-10 per query — the full tf/df/dl pipeline both engines run
    # identically (fixed-point term sums, doc-id tie-break; the Spark
    # side is text.bm25_scores' single linear chain)
    bm25_vals = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)
    sqls["bm25_15m"] = f"""
    WITH docs AS (
        SELECT range AS doc_id,
               {_minhash_text_sql(f'range % {N_TEXT_D}')} AS text
        FROM range({N_TEXT})
    ),
    q(qid, qtext) AS (VALUES {bm25_vals}),
    qt AS (
        SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS term FROM q
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM docs
    ),
    pdt AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM docs),
    dfreq AS (
        SELECT term, COUNT(*) AS dfd FROM pdt
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1
    ),
    stats AS (
        SELECT CAST({N_TEXT} AS BIGINT) AS nd,
               (SELECT COUNT(*) FROM toks) AS tt
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
    FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """

    # sessionization: identical lag + running-sum window over 60M events
    sqls["sessionize_60m"] = f"""
    WITH gen AS (
        SELECT range AS id, range % {SESS_USERS} AS u,
               ({SESS_TS.replace('id', 'range')}) AS ts
        FROM range({N_60M})
    ),
    flagged AS (
        SELECT u,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > {SESS_GAP_S}
                    THEN 1 ELSE 0 END AS ns
        FROM gen WINDOW w AS (PARTITION BY u ORDER BY ts ASC, id ASC)
    ),
    per AS (SELECT u, SUM(ns) AS n_sessions FROM flagged GROUP BY u)
    SELECT COUNT(*) AS n_users, SUM(n_sessions) AS n_sessions FROM per
    """

    # sequence packing: identical cumulative-window pack over 15M docs
    sqls["pack_manifest_15m"] = f"""
    WITH gen AS (
        SELECT range AS doc_id, range % {PACK_SHARDS} AS shard,
               ({PACK_TOK.replace('id', 'range')}) AS tokens
        FROM range({N_PACK})
    ),
    packed AS (
        SELECT shard, tokens,
               CAST(FLOOR(COALESCE(SUM(tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {PACK_BUDGET}) AS BIGINT) AS seq_id
        FROM gen
    ),
    man AS (
        SELECT shard, seq_id, COUNT(*) AS n_docs, SUM(tokens) AS token_sum
        FROM packed GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_seqs, SUM(n_docs) AS docs,
           SUM(token_sum) AS toks, MAX(token_sum) AS max_tok
    FROM man
    """

    # funnel: identical chained min-after-gate steps over 60M events
    sqls["funnel_60m"] = f"""
    WITH gen AS (
        SELECT range % {FUNNEL_USERS} AS u,
               ({FUNNEL_TS.replace('id', 'range')}) AS ts,
               ({FUNNEL_ET.replace('id', 'range')}) AS e
        FROM range({N_60M})
    ),
    s1 AS (SELECT u, MIN(ts) AS step_1 FROM gen WHERE e = 0 GROUP BY u),
    s2 AS (
        SELECT g.u, MIN(g.ts) AS step_2
        FROM gen g JOIN s1 ON g.u = s1.u
        WHERE g.e = 1 AND g.ts > s1.step_1 GROUP BY g.u
    ),
    s3 AS (
        SELECT g.u, MIN(g.ts) AS step_3
        FROM gen g JOIN s2 ON g.u = s2.u
        WHERE g.e = 2 AND g.ts > s2.step_2 GROUP BY g.u
    )
    SELECT (SELECT COUNT(*) FROM s1) AS n1,
           (SELECT COUNT(*) FROM s2) AS n2,
           (SELECT COUNT(*) FROM s3) AS n3,
           (SELECT CAST(SUM(step_3) AS BIGINT) FROM s3) AS t3_sum
    """

    # k-means: Python-driven mirror of clustering.kmeans_summary — the Spark
    # operator collects k*dims centroid sums between Lloyd iterations, so
    # the honest DuckDB mirror is the same loop with literal centroids
    # substituted per pass (2 assignment+sum passes + 1 summary pass).
    def _km_gen_cols(primes=KM_PRIMES):
        return ", ".join(
            f"CAST(((range * {p}) % 1024) / 64.0 AS DOUBLE) AS v{d}"
            for d, p in enumerate(primes)
        )

    def _km_assigned_cte(cents, primes=KM_PRIMES, n=N_60M) -> str:
        dists = ", ".join(
            "("
            + " + ".join(
                f"(v{d} - {c[d]!r}) * (v{d} - {c[d]!r})"
                for d in range(len(primes))
            )
            + f") AS d{cid}"
            for cid, c in cents
        )
        dmin = "LEAST(" + ", ".join(f"d{cid}" for cid, _ in cents) + ")"
        case = (
            "CASE "
            + " ".join(f"WHEN d{cid} = dmin THEN {cid}" for cid, _ in cents)
            + " END"
        )
        return f"""
        gen AS (SELECT {_km_gen_cols(primes)} FROM range({n})),
        dist AS (SELECT *, {dists} FROM gen),
        assigned AS (SELECT *, {case} AS cid
                     FROM (SELECT *, {dmin} AS dmin FROM dist))
        """

    def _duck_kmeans(con, primes=KM_PRIMES, n=N_60M) -> None:
        cents = _km_seed_centroids(primes)
        ndim = len(primes)
        qsums = ", ".join(
            f"CAST(SUM(CAST(floor(v{d} * {KM_SCALE!r}) AS BIGINT)) AS BIGINT)"
            f" AS s{d}"
            for d in range(ndim)
        )
        for _ in range(KM_ITERS):
            rows = con.execute(
                f"""WITH {_km_assigned_cte(cents, primes, n)}
                SELECT cid, {qsums}, COUNT(*) AS n
                FROM assigned GROUP BY cid ORDER BY cid
                """
            ).fetchall()
            cents = [
                (
                    r[0],
                    [
                        float(r[1 + d]) / (float(r[-1]) * KM_SCALE)
                        for d in range(ndim)
                    ],
                )
                for r in rows
            ]
        con.execute(
            f"""WITH {_km_assigned_cte(cents, primes, n)}
            SELECT CAST(cid AS INT) AS cluster_id, COUNT(*) AS n_vecs,
                   CAST(CAST(SUM(CAST(floor(v0 * {KM_SCALE!r}) AS BIGINT)) AS DOUBLE)
                        / (COUNT(*) * {KM_SCALE!r}) AS FLOAT) AS c0,
                   CAST(CAST(SUM(CAST(floor(v1 * {KM_SCALE!r}) AS BIGINT)) AS DOUBLE)
                        / (COUNT(*) * {KM_SCALE!r}) AS FLOAT) AS c1
            FROM assigned GROUP BY cid ORDER BY cid
            """
        ).fetchall()

    sqls["kmeans_60m"] = _duck_kmeans
    # wide-dims arm: the same Python-driven Lloyd loop at 15M x 64 dims
    # (8 x 64 = 512 flat distance terms per row in the assigned CTE)
    sqls["kmeans_15m_d64"] = lambda con: _duck_kmeans(
        con, KM_WIDE_PRIMES, N_KM_WIDE
    )

    def _duck_gram(con):
        cols = ", ".join(
            f"CAST((range * {3 + 7 * d}) % 255 - 127 AS BIGINT) AS c{d}"
            for d in range(GRAM_D)
        )
        sums = ", ".join(
            f"SUM(c{i}*c{j}) AS g_{i}_{j}"
            for i in range(GRAM_D)
            for j in range(GRAM_D)
        )
        return con.execute(
            f"SELECT {sums} FROM (SELECT {cols} FROM range({N_GRAM})) t"
        ).fetchall()

    sqls["gram_2m_x64"] = _duck_gram

    import math as _math_pct

    _pct_lg = repr(_math_pct.log(1.0 + 2.0 * 0.01 / 0.99))
    _pct_v = PCT_V.replace("id", "range")
    _pct_bin_d = (
        f"CASE WHEN d.v > 0 THEN CAST(CEIL(LN(d.v) / {_pct_lg}) AS INTEGER)"
        f" WHEN d.v < 0 THEN CAST(CEIL(LN(-d.v) / {_pct_lg}) AS INTEGER) END"
    )
    sqls["pctrank_60m"] = f"""
    WITH vals AS (
        SELECT range % 25 AS grp, CAST({_pct_v} AS DOUBLE) / 32.0 AS v
        FROM range({N_60M})
    ),
    b AS (
        SELECT grp,
            CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
            CASE WHEN v > 0 THEN CAST(CEIL(LN(v) / {_pct_lg}) AS INTEGER)
                 WHEN v < 0 THEN CAST(CEIL(LN(-v) / {_pct_lg}) AS INTEGER)
                 END AS bin,
            COUNT(*) AS cnt
        FROM vals GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT grp, sign, bin,
            SUM(cnt) OVER (
                PARTITION BY grp
                ORDER BY sign,
                    coalesce(CASE WHEN sign = -1 THEN -bin ELSE bin END, 0)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS le,
            SUM(cnt) OVER (PARTITION BY grp) AS total
        FROM b
    )
    SELECT COUNT(*) AS n_ranked,
           AVG(CAST(c.le AS DOUBLE) / CAST(c.total AS DOUBLE)) AS mean_pct
    FROM vals d
    JOIN cum c
      ON c.grp = d.grp
     AND c.sign = (CASE WHEN d.v > 0 THEN 1 WHEN d.v < 0 THEN -1 ELSE 0 END)
     AND c.bin IS NOT DISTINCT FROM ({_pct_bin_d})
    """

    # quantile normalization over the same generated data: per-group bins,
    # a global reference from the SAME bin partials, the union+window CDF
    # inversion (min-over-suffix of the monotone representative values, no
    # range join), then the (grp, sign, bin) probe join — the identical
    # algorithm the Spark operator runs (declared.py q92's oracle shape).
    _pct_gamma = 1.0 + 2.0 * 0.01 / 0.99
    _pct_g = repr(_pct_gamma)
    _pct_mult = repr(1.0 + (1.0 - 2.0 / (1.0 + _pct_gamma)))
    sqls["qnorm_60m"] = f"""
    WITH vals AS (
        SELECT range % 25 AS grp, CAST({_pct_v} AS DOUBLE) / 32.0 AS v
        FROM range({N_60M})
    ),
    b AS (
        SELECT grp,
            CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS sign,
            CASE WHEN v > 0 THEN CAST(CEIL(LN(v) / {_pct_lg}) AS INTEGER)
                 WHEN v < 0 THEN CAST(CEIL(LN(-v) / {_pct_lg}) AS INTEGER)
                 END AS bin,
            COUNT(*) AS cnt
        FROM vals GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT grp, sign, bin,
            SUM(cnt) OVER (
                PARTITION BY grp
                ORDER BY sign,
                    coalesce(CASE WHEN sign = -1 THEN -bin ELSE bin END, 0)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS le,
            SUM(cnt) OVER (PARTITION BY grp) AS total
        FROM b
    ),
    rb AS (SELECT sign, bin, SUM(cnt) AS cnt FROM b GROUP BY 1, 2),
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
        SELECT grp, sign, bin, 0 AS tag,
            CAST(le AS DOUBLE) / CAST(total AS DOUBLE) AS f,
            CAST(NULL AS DOUBLE) AS rv
        FROM cum
        UNION ALL
        SELECT NULL, sign, bin, 1,
            CAST(le AS DOUBLE) / CAST(total AS DOUBLE),
            CASE WHEN sign = 1 THEN POWER({_pct_g}, CAST(bin AS DOUBLE)) * {_pct_mult}
                 WHEN sign = -1
                 THEN -POWER({_pct_g}, CAST(bin AS DOUBLE)) * {_pct_mult}
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
    mp AS (SELECT grp, sign, bin, qv FROM m WHERE tag = 0)
    SELECT COUNT(c.qv) AS n_mapped, AVG(c.qv) AS mean_qn
    FROM vals d
    JOIN mp c
      ON c.grp = d.grp
     AND c.sign = (CASE WHEN d.v > 0 THEN 1 WHEN d.v < 0 THEN -1 ELSE 0 END)
     AND c.bin IS NOT DISTINCT FROM ({_pct_bin_d})
    """

    # streaming windows: the same (hour window, key, sign, bin) state the
    # Spark streaming operator maintains, kept incrementally per arriving
    # file — the IVM loop a batch engine needs for a continuous workload.
    import math as _math

    _lg = repr(_math.log(1.0 + 2.0 * 0.01 / 0.99))

    def _stream_select(src: str) -> str:
        return f"""
        SELECT date_trunc('hour', ts) AS ws, key,
               CASE WHEN value > 0 THEN 1 WHEN value < 0 THEN -1 ELSE 0 END
                   AS sign,
               -- zeros map to bin 0 here (the operator under test uses a
               -- NULL bin, but the state table's PRIMARY KEY cannot hold
               -- NULL); safe because the generator emits value >= 1.0 only
               CASE WHEN value > 0 THEN CAST(CEIL(LN(value) / {_lg}) AS INTEGER)
                    WHEN value < 0 THEN CAST(CEIL(LN(-value) / {_lg}) AS INTEGER)
                    ELSE 0 END AS bin,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM read_parquet({src})
        GROUP BY 1, 2, 3, 4
        """

    def _duck_streaming(con) -> None:
        con.execute(
            "CREATE OR REPLACE TABLE __stream_state ("
            "ws TIMESTAMP, key INTEGER, sign INTEGER, bin INTEGER,"
            " cnt DOUBLE, PRIMARY KEY (ws, key, sign, bin))"
        )
        src = _stream_src(N_60M)
        for f0 in range(0, STREAM_FILES, STREAM_BATCH_FILES):
            batch = ", ".join(
                f"'{src}/part-{f:02d}.parquet'"
                for f in range(f0, f0 + STREAM_BATCH_FILES)
            )
            con.execute(
                f"INSERT INTO __stream_state {_stream_select(f'[{batch}]')}"
                " ON CONFLICT DO UPDATE SET cnt = cnt + excluded.cnt"
            )
        con.execute("SELECT COUNT(*), SUM(cnt) FROM __stream_state").fetchall()
        con.execute("DROP TABLE __stream_state")

    # bitmap activity/retention: 63-day bitmask per user via bit_or, then
    # day-activity and 7-day retention expanded from SET BITS only (not a
    # user x day-grid cross join) — the identical algorithm on both sides.
    sqls["bitmap_retention"] = f"""
    WITH gen AS (
        SELECT range % {N_BITMAP_USERS} AS u,
               (range * 2654435761) % 62 AS day
        FROM range({N_60M})
    ),
    bm AS (
        SELECT u, bit_or(CAST(1 AS BIGINT) << CAST(day AS INT)) AS bits
        FROM gen GROUP BY u
    ),
    act AS (
        SELECT unnest(list_filter(range(0, 62),
               d -> ((bits >> CAST(d AS INT)) & 1) = 1)) AS day_idx
        FROM bm
    ),
    ret AS (
        SELECT unnest(list_filter(range(0, 55),
               d -> ((bits >> CAST(d AS INT)) & 1) = 1
                AND ((bits >> CAST(d + 7 AS INT)) & 1) = 1)) AS day_idx
        FROM bm
    ),
    a AS (SELECT day_idx, COUNT(*) AS n_active FROM act GROUP BY 1),
    r AS (SELECT day_idx, COUNT(*) AS n_ret7 FROM ret GROUP BY 1)
    SELECT a.day_idx, a.n_active, COALESCE(r.n_ret7, 0) AS n_ret7
    FROM a LEFT JOIN r USING (day_idx) ORDER BY 1
    """

    sqls["streaming_windows"] = _duck_streaming
    # summary materialization on both engines: the comparator measures the
    # windowed aggregation, not driver-side transfer of ~6M result rows
    sqls["streaming_windows_full_recompute"] = (
        "SELECT COUNT(*) AS n, SUM(cnt) AS c FROM ("
        + _stream_select(f"'{_stream_src(N_60M)}/part-*.parquet'")
        + ")"
    )
    return sqls


# ---------------------------------------------------------------------------
# The Spark family bodies, each defined once. run_spark_families times a
# body at its base row count, scripts/scaling_curve_probe.py at fractions
# and multiples of it, and the smoke tests compare its rows with the DuckDB
# mirror at small sizes. ``body(spark, n)`` returns the rows it collected.
# Cardinality moduli follow ``n`` through _per, so at the base count every
# generated SQL string is the one the DuckDB mirror is written against.
# ---------------------------------------------------------------------------


def _gen(spark, n, expr_pairs, partitions=64):
    return spark.range(n, numPartitions=partitions).selectExpr(
        *[f"{e} AS {a}" for a, e in expr_pairs]
    )


def _hll_distinct(spark, n):
    df = _gen(spark, n, [("grp", "id % 25"), ("u", _hll_users(n))])
    return approx.hll_distinct(df, ["grp"], "u", p=8).collect()


def _asof_join(spark, n):
    # the user count is structure: per-user rows scale with n, as a
    # corpus scale-up would; the right side keeps its 1:9 share of the left
    left = _gen(spark, n, [("u", f"id % {ASOF_USERS}"), ("ts", "id * 7")])
    right = _gen(
        spark, _per(N_ASOF_R, n, N_ASOF_L), [("u", f"id % {ASOF_USERS}"), ("ts", "id * 71")]
    )
    j = relational.asof_join(
        left, right, on=["u"], left_ts="ts", right_ts="ts", right_cols=[]
    )
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("ts_r").alias("matched"),
        F.sum(F.col("ts") - F.col("ts_r")).alias("lag_sum"),
    ).collect()


def _heavy_hitters(spark, n):
    # the 50021-token vocabulary is structure (a language's heavy-hitter
    # set doesn't grow with corpus size): only the event stream scales
    df = _gen(spark, n, [("grp", "id % 25"), ("tok", f"CAST(({HEAVY_TOK}) AS STRING)")])
    counts = df.groupBy("grp", "tok").count()
    w = Window.partitionBy("grp").orderBy(F.col("count").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .collect()
    )


def _exact_dedup(spark, n):
    text = f"'lorem ipsum dolor ' || CAST(({_dedup_doc(n)}) AS STRING)"
    df = _gen(spark, n, [("src", "id % 4"), ("text", text)])
    return dedup.exact_dedup_summary(df, ["src"], text="text", id_col="id").collect()


def _span_extents(spark, n):
    t = _span_text_sql("id", _per(SPAN_POOL, n, N_SPAN)).replace("VARCHAR", "STRING")
    docs = _gen(spark, n, [("doc_id", "id"), ("text", t)])
    # bench opts into the xxhash64 gram key explicitly (8-byte shuffle
    # keys, measured 23.6 -> 12.6 s vs md5 on this family)
    return (
        dedup.duplicate_span_extents(
            docs, text="text", id_col="doc_id", n=SPAN_N, min_docs=2,
            gram_hash="xxhash64",
        )
        .agg(
            F.count(F.lit(1)).alias("n_extents"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias("cut_tokens"),
        )
        .collect()
    )


def _class_docs(spark, n, classes, id_col="doc_id", partitions=64):
    """n 8-token docs over ``classes`` duplicate classes (_minhash_text_sql)."""
    t = (
        _minhash_text_sql(f"id % {classes}")
        .replace("//", "div")
        .replace("VARCHAR", "STRING")
    )
    return _gen(spark, n, [(id_col, "id"), ("text", t)], partitions)


def _minhash_lsh(spark, n):
    docs = _class_docs(spark, n, _per(MINHASH_D, n, N_MINHASH), "id", partitions=32)
    return [(dedup.lsh_candidate_pairs(docs, text="text", id_col="id").count(),)]


def _bitmap_retention(spark, n):
    df = _gen(
        spark, n,
        [("user", f"id % {_per(N_BITMAP_USERS, n, N_60M)}"),
         ("day", "(id * 2654435761) % 62")],
    )
    bm = bitmap.activity_bitmap(df, "user", "day")
    return bitmap.retention_report(bm, 62, offsets=(7,)).collect()


def _ann_inputs(spark, n):
    """An n-row corpus and the N_ANN_Q queries from the 16-dim generator."""
    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D + 0.5D AS DOUBLE)" for p in ANN_PRIMES
    ) + ")"
    cols = [("vec_id", "id"), ("embedding", vec)]
    return _gen(spark, n, cols), _gen(spark, N_ANN_Q, cols)


def _ann_brute(spark, n):
    corpus, queries = _ann_inputs(spark, n)
    return similarity.brute_force_topk(
        corpus, queries, k=ANN_K, max_query_rows=N_ANN_Q
    ).collect()


def _ann_quantized(spark, n):
    # calibrate (one global-max pass) -> quantize (map-only) -> exact
    # integer-dot top-k; the DuckDB mirror performs the identical
    # calibration + flat-arithmetic codes + windowed rank
    corpus, queries = _ann_inputs(spark, n)
    scale = similarity.quantize_calibration(corpus, bits=8)
    qc = similarity.quantize_embeddings(corpus, scale, bits=8)
    qq = similarity.quantize_embeddings(queries, scale, bits=8)
    return similarity.quantized_topk(qc, qq, k=ANN_K, max_query_rows=N_ANN_Q).collect()


def _ann_pq(spark, n):
    # fixed dyadic codebooks (PQ_CB) -> numpy encode (fold-order distance
    # accumulation, codes equal to the mirror's argmin) -> collected-LUT
    # ADC top-k; the mirror runs the identical argmin + list lookups
    corpus, queries = _ann_inputs(spark, n)
    coded = similarity.pq_encode(corpus, PQ_CB)
    return similarity.pq_adc_topk(
        coded, queries, PQ_CB, k=ANN_K, max_query_rows=N_ANN_Q
    ).collect()


def _text_docs(spark, n):
    return _class_docs(spark, n, _per(N_TEXT_D, n, N_TEXT))


def _text_metrics(spark, n):
    stats = text_ops.token_stats(_text_docs(spark, n), text="text", id_col="doc_id")
    return stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok_sum"),
        F.sum("n_distinct_tokens").alias("distinct_sum"),
        F.sum("est_bpe_tokens").alias("bpe_sum"),
        F.avg("avg_token_len").alias("avg_tok_len"),
    ).collect()


def _vocab_tok(spark, n):
    st = text_ops.vocab_token_stats(_text_docs(spark, n), form="bulk")
    return st.agg(
        F.sum("n_words").alias("word_sum"),
        F.sum("n_bpe_tokens").alias("tok_sum"),
        F.sum("n_unk").alias("unk_sum"),
    ).collect()


def _bm25(spark, n):
    docs = _text_docs(spark, n)
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id int, query_text string")
    return text_ops.bm25_scores(docs, qdf, k=10).collect()


def _sessionize(spark, n):
    df = _gen(
        spark, n,
        [("id", "id"), ("user", f"id % {_per(SESS_USERS, n, N_60M)}"),
         ("ts", f"timestamp_seconds({SESS_TS})")],
    )
    sess = relational.sessionize(
        df, ["user"], ts="ts", gap_seconds=SESS_GAP_S, tiebreak="id"
    )
    per_user = sess.groupBy("user").agg((F.max("session_idx") + 1).alias("ns"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("ns").alias("n_sessions")
    ).collect()


def _pack_manifest(spark, n):
    df = _gen(
        spark, n,
        [("doc_id", "id"), ("shard", f"id % {PACK_SHARDS}"), ("tokens", PACK_TOK)],
    )
    man = sampling.pack_manifest(
        df, "tokens", PACK_BUDGET, keys=["shard"], order_col="doc_id"
    )
    # window sort cost scales with ROWS per reducer, not bytes — the
    # session-wide 8MB advisory (spark_session) keeps the 15M-row shuffle
    # parallel (4.6s with the 64MB default -> 1.4s)
    return man.agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("n_docs").alias("docs"),
        F.sum("token_sum").alias("toks"),
        F.max("token_sum").alias("max_tok"),
    ).collect()


def _funnel(spark, n):
    # an odd user modulus, so it stays coprime with the 5 event types at
    # every scale (see FUNNEL_USERS)
    users = _per(FUNNEL_USERS, n, N_60M) | 1
    df = _gen(
        spark, n, [("user", f"id % {users}"), ("ts", FUNNEL_TS), ("e", FUNNEL_ET)]
    )
    cur = analytics.funnel(
        df, "user", "ts", [F.col("e") == 0, F.col("e") == 1, F.col("e") == 2]
    )
    return cur.agg(
        F.count(F.lit(1)).alias("n1"),
        F.count("step_2").alias("n2"),
        F.count("step_3").alias("n3"),
        F.sum("step_3").alias("t3_sum"),
    ).collect()


def _kmeans(spark, n, primes=KM_PRIMES):
    vec = "array(" + ", ".join(
        f"CAST(((id * {p}) % 1024) / 64.0D AS FLOAT)" for p in primes
    ) + ")"
    df = _gen(spark, n, [("vec_id", "id"), ("embedding", vec)])
    return clustering.kmeans_summary(
        df, "embedding", "vec_id", k=KM_K, iters=KM_ITERS
    ).collect()


def _kmeans_wide(spark, n):
    # k*dims = 512 > 64: _choose_method auto-routes through the Arrow+numpy
    # BLAS assignment (the expand route's codegen bails to interpreted eval
    # past 64 terms — SCALING.md width sweep); this family pins that route
    return _kmeans(spark, n, KM_WIDE_PRIMES)


def _gram(spark, n):
    # PCA stats pass on int8 codes: per-batch X^T X collapse inside
    # mapInPandas, exchange carries n_batches * d^2 scalars only
    codes = "array(" + ", ".join(
        f"CAST((id * {3 + 7 * d}) % 255 - 127 AS INT)" for d in range(GRAM_D)
    ) + ")"
    df = _gen(spark, n, [("vec_id", "id"), ("qcodes", codes)])
    return decomposition.gram_matrix(df, "qcodes", dims=GRAM_D, integer=True).collect()


def _pct_values(spark, n):
    return _gen(spark, n, [("grp", "id % 25"), ("v", f"{PCT_V} / 32.0D")])


def _pctrank(spark, n):
    ranked = native.percentile_rank(_pct_values(spark, n), "v", ["grp"])
    return ranked.agg(
        F.count("pct_rank").alias("n_ranked"), F.avg("pct_rank").alias("mean_pct")
    ).collect()


def _qnorm(spark, n):
    # quantile normalization over the pctrank family's data: the per-group
    # bins, the union+window CDF inversion onto the global reference, and
    # the broadcast probe join — everything after the one binned pass is
    # structure-sized; DuckDB runs the identical CTE chain
    out = native.quantile_normalize(_pct_values(spark, n), "v", ["grp"])
    return out.agg(
        F.count("qnorm").alias("n_mapped"), F.avg("qnorm").alias("mean_qn")
    ).collect()


def _run_streaming(spark, src, glob_filter=None):
    """The repo's windowed-binned-counts state operator over the staged
    files in arrival chunks of STREAM_BATCH_FILES; returns each
    micro-batch's output row count."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ddsketch_bench_ckpt_")
    try:
        reader = spark.readStream.schema(
            "ts TIMESTAMP, key INT, value DOUBLE"
        ).option("maxFilesPerTrigger", STREAM_BATCH_FILES)
        if glob_filter:
            reader = reader.option("pathGlobFilter", glob_filter)
        binned = streaming.windowed_binned_counts(
            reader.parquet(src), "ts", ["key"], "value", window="1 hour"
        )
        n_out = []
        q = (
            binned.writeStream.outputMode("append")
            .foreachBatch(lambda df, _bid: n_out.append(df.count()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return n_out
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _streaming_windows(spark, n):
    return _run_streaming(spark, _ensure_stream_src(n))


def run_full_recompute(spark, n):
    """The ``streaming_windows_full_recompute`` body: one batch aggregation
    over the ``n``-row staged stream, the counterpart of the DuckDB
    full-recompute row, so the bench records both streaming-vs-IVM and
    batch-vs-batch."""
    gamma = native.gamma_of(0.01)
    df = spark.read.schema("ts TIMESTAMP, key INT, value DOUBLE").parquet(
        _ensure_stream_src(n)
    )
    v = F.col("value")
    # The first aggregate produces 5.86M groups (~300MB of shuffle):
    # AQE's byte-based partition coalescing (64MB advisory) would fold
    # the final aggregate into ~5 reducer tasks, but aggregate work
    # scales with GROUPS, not bytes — keep all reducers for this stage
    # (3.7s -> 1.4s measured; profiled round 5, see SCALING.md).
    # The 16 staged files also under-parallelize the 32-core map stage
    # at the default 128MB split: 4MB splits give every core a scan +
    # partial-agg task (1.55s -> 1.42s, the measured floor).
    # (the reduce side stays parallel via the session-wide 8MB
    # advisory — see spark_session(); only the input split needs help)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    try:
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("ws"),
            "key",
            F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(0).alias("sign"),
            # zeros -> bin 0, mirroring the DuckDB side's PK-safe mapping
            # (generator emits value >= 1.0 only, so the branch is dead)
            F.when(v > 0, native.value_to_bin_expr(v, gamma))
            .when(v < 0, native.value_to_bin_expr(-v, gamma))
            .otherwise(F.lit(0))
            .alias("bin"),
        ).agg(F.count("*").cast("double").alias("cnt")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("c")
        ).collect()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def spark_families() -> dict:
    """``{name: (base_rows, body)}`` for the 23 Spark families. Built per
    call from the row-count constants, so a caller that rebinds them (the
    smoke tests' small sizes) moves the bases too."""
    return {
        "hll_distinct": (N_60M, _hll_distinct),
        "asof_join": (N_ASOF_L, _asof_join),
        "heavy_hitters": (N_60M, _heavy_hitters),
        "exact_dedup": (N_60M, _exact_dedup),
        "span_extents_2m": (N_SPAN, _span_extents),
        "minhash_lsh_600k": (N_MINHASH, _minhash_lsh),
        "bitmap_retention": (N_60M, _bitmap_retention),
        "ann_brute_2m_x128": (N_ANN_CORPUS, _ann_brute),
        "ann_quantized_2m_x128": (N_ANN_CORPUS, _ann_quantized),
        "ann_pq_2m_x128": (N_ANN_CORPUS, _ann_pq),
        "text_metrics_15m": (N_TEXT, _text_metrics),
        "vocab_tok_15m": (N_TEXT, _vocab_tok),
        "bm25_15m": (N_TEXT, _bm25),
        "sessionize_60m": (N_60M, _sessionize),
        "pack_manifest_15m": (N_PACK, _pack_manifest),
        "funnel_60m": (N_60M, _funnel),
        "kmeans_60m": (N_60M, _kmeans),
        "kmeans_15m_d64": (N_KM_WIDE, _kmeans_wide),
        "gram_2m_x64": (N_GRAM, _gram),
        "pctrank_60m": (N_60M, _pctrank),
        "qnorm_60m": (N_60M, _qnorm),
        "streaming_windows": (N_60M, _streaming_windows),
        "streaming_windows_full_recompute": (N_60M, run_full_recompute),
    }


def run_spark_families(spark, result: dict) -> None:
    """Spark side of the per-family 60M comparators: every body of
    spark_families() at its base row count, under _run_family_passes."""
    setups = {
        # one-file warm-up: the streaming machinery (state store,
        # micro-batch planner, streaming codegen) appears nowhere else in
        # the session, so its one-time JIT would otherwise be billed to
        # this family alone — the headline section applies the same
        # steady-state policy. Runs once, before the family's FIRST rep.
        "streaming_windows": lambda: _run_streaming(
            spark, _ensure_stream_src(N_60M), glob_filter="part-00.parquet"
        ),
        # steady-state policy (mirrored on the DuckDB side): warm once so
        # the recorded number measures the aggregation, not batch-plan JIT
        "streaming_windows_full_recompute": lambda: run_full_recompute(spark, N_60M),
    }
    entries = [
        (name, lambda body=body, n=n: body(spark, n), setups.get(name))
        for name, (n, body) in spark_families().items()
    ]

    def _prog(cells):
        result["spark_families_60m_sec"] = cells
        _partial(result, "spark_families_progress")

    result["spark_families_60m_sec"] = _run_family_passes(
        entries, "spark", result, on_progress=_prog
    )


def _shutdown_jvm(spark) -> None:
    """Stop Spark AND exit the gateway JVM (round 13): the DuckDB
    comparator now runs AFTER the Spark phase, and it must still see an
    otherwise-idle machine — spark.stop() alone leaves a 16g-heap JVM
    process alive for the rest of the session."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gw is None:
        return
    try:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
    except Exception:
        pass  # best-effort: a lingering idle JVM only costs memory


def spark_session():
    """The bench's SparkSession; the scaling probe runs on it too."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("ddsketch-spark-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # 8MB advisory: AQE still merges near-empty reducers but stops
        # serializing group- and sort-heavy stages (bitmap 6.2->4.9s,
        # pack 4.6->1.4s, full-recompute 3.7->1.5s measured; aggregate
        # and window cost scales with rows/groups per task, not bytes)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 16g (was 8g, the never-calibrated original default): the r11/r12
        # adjudications proved 8g put kmeans_15m_d64's 3.84 GB cached
        # corpus exactly at the unified-memory eviction boundary (~4.6 GB
        # usable), making the cell bimodal — 8g fresh processes read
        # 32-90 s across one day while 16g read a stable 31.5/35.2.
        # DuckDB's phase runs uncapped on the same 128 GiB box, so a 16g
        # Spark heap is still the conservative side of a fair comparison,
        # and it is the more representative per-executor posture for the
        # cached-corpus families at cluster scale.
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Minimal standardized warm-up for a process that times families
    only: absorb JVM/codegen/Arrow-worker cold-start WITHOUT executing any
    other workload — the measurement is the family, not first-touch JIT
    (families >= 20 s run once, so the spike would otherwise land inside
    their single timed run)."""
    spark.range(1_000_000, numPartitions=8).select(F.sum("id")).collect()

    def _noop(batches):
        yield from batches

    spark.range(100_000).select(
        F.col("id").cast("double").alias("x")
    ).mapInArrow(_noop, "x double").select(F.sum("x")).collect()
    # md5 + hash-aggregate + shuffle codegen: the round-9 exact_dedup
    # adjudication measured a 23.9 s first rep (vs 8.2 s steady) in a
    # process whose warm-up had never JIT'd these paths — bill the
    # one-time compile to the warm-up, not the first timed rep
    spark.range(100_000, numPartitions=8).selectExpr(
        "md5(CAST(id AS STRING)) AS h", "id % 7 AS g"
    ).groupBy("g").agg(F.countDistinct("h").alias("d")).collect()


def main() -> None:
    result: dict = {}
    _machine(result)["canary_ms"]["spark"] = round(cpu_canary_ms(), 1)

    from duckdb_ddsketch_spark.plans import declared

    spark = spark_session()
    queries = declared.STAGED_QUERIES
    timings: dict[str, float] = {}
    # Warm-up pass: JVM JIT, parquet footers, Python UDF workers. Excluded
    # from timings — we measure steady-state throughput, which is what
    # extrapolates to long-running cluster workloads. Single-family
    # attribution runs (SPARK_GRAFT_BENCH_ONLY) skip the headline + native
    # sections entirely: the flag's purpose is a process that has executed
    # NOTHING before the selected family.
    if _ONLY:
        warm_up(spark)
    for name in HEADLINE if not _ONLY else ():
        queries[name](spark, SF_DIR).collect()

    for name in HEADLINE if not _ONLY else ():
        fn = queries[name]
        timings[name] = _best3(lambda: fn(spark, SF_DIR).collect(), key=f"spark:{name}")

    sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        # a non-'sf<number>' dir must not throw AFTER the measurement
        # loops and lose the whole record — fall back to the raw path
        sf_label = float(sf_label)
    except ValueError:
        sf_label = SF_DIR
    if not _ONLY:
        result.update(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_label,
            }
        )
        _partial(result, "spark_headline_done")
    else:
        result.update({"metric": "bench_only_families", "sf": sf_label})

    # Marginal throughput of the native sketch path at 100x the bench rows —
    # the number that extrapolates to cluster scale (per-query times above are
    # dominated by fixed scheduling overhead at this tiny SF). The plan is
    # REBUILT for the timed run: re-collecting one DataFrame would reuse its
    # materialized shuffle outputs and time only the final stage.
    def native_60m():
        gen = spark.range(N_60M, numPartitions=64).select(
            (F.col("id") % 25).cast("string").alias("grp"),
            (F.pow(F.rand(seed=42) * 4 + 1, 3) * 10).alias("v"),
        )
        return native.sketch_quantile_agg(gen, ["grp"], "v", 0.01, (0.5, 0.95, 0.99))

    if not _ONLY:
        native_60m().collect()
        t0 = time.perf_counter()
        native_60m().collect()
        dt = time.perf_counter() - t0
        result["native_sketch_rows_per_sec"] = int(N_60M / dt)
        result["native_sketch_60m_sec"] = round(dt, 3)
        _partial(result, "spark_native_done")

    if FAMILIES:
        run_spark_families(spark, result)

    # the full Spark record exists from here on — every later phase is
    # comparator/robustness work an external timeout may cost us
    _shutdown_jvm(spark)
    _partial(result, "spark_done")

    if "--no-compare" not in sys.argv:
        run_duckdb(result)
        _partial(result, "duckdb_done")

    # raw repetitions behind the best-of point estimates travel on their own
    # stdout line + sidecar (see _emit) — spread makes shared-runner noise
    # distinguishable from regression without bloating the summary line
    _emit(result)


# the driver's tail capture has held ~2000 chars across rounds; the r8
# 19-family summary line was 1887 bytes — one family from truncation.
# _emit budgets the final line and the smoke test pins it.
FINAL_LINE_BUDGET = 1900


def _emit(result: dict) -> None:
    """Print the bench record so the driver's tail capture always parses.

    The driver captures only the tail of stdout and parses the LAST line
    as the official record. Round 7 lesson: folding ``raw_runs_sec`` into
    the summary made that single line longer than the capture window,
    which truncated the leading keys (headline block, oracle times) out
    of the round record. So raw runs, the per-rep steal shares and the
    per-query oracle dict travel on the sidecar + an earlier stdout line;
    the FINAL line carries the per-query oracle TOTAL (the only form the
    docs/judge quote) and the compact ``machine`` block. Round 11 (the
    23rd family nudged the worst-case line to 1902 B): the final line's
    family cells are trimmed to 2 decimals — a 10 ms summary granularity;
    the 3-decimal values stay on the raw-runs line and sidecar. The
    machine block would push that worst case past the budget again, so
    the final line also drops the spaces between JSON tokens.
    """
    result.pop("raw_runs_sec", None)
    oracle = result.pop("duckdb_oracle", None)
    if oracle is not None:
        result["duckdb_oracle_total"] = round(sum(oracle.values()), 3)
    for fam_key in ("spark_families_60m_sec", "duckdb_families_60m_sec"):
        fams = result.get(fam_key)
        if fams:
            raw_fams = {f"{fam_key}_3dp": dict(fams)}
            _RAW_RUNS.setdefault("final_cells_3dp", {}).update(raw_fams)
            result[fam_key] = {k: round(v, 2) for k, v in fams.items()}
    raw = {"raw_runs_sec": _RAW_RUNS, "steal_share": _RAW_STEAL}
    if oracle is not None:
        raw["duckdb_oracle"] = oracle
    try:
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_raw_runs.json")
        with open(sidecar, "w") as f:
            json.dump(raw, f)
    except OSError:
        pass  # read-only checkout: the stdout line below still carries the data
    print(json.dumps(raw))
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > FINAL_LINE_BUDGET:
        # loud, on its own line (never the last): a future addition that
        # overflows the capture window should fail the smoke test, but if
        # one slips through, the record itself says why it truncated
        print(json.dumps({"warning": "final line exceeds capture budget",
                          "bytes": len(line)}))
    print(line)


if __name__ == "__main__":
    main()
