"""bench.py machinery smoke test at tiny N.

A broken bench.py costs a whole round of BENCH numbers (the driver runs it
unattended), so every family — Spark side and DuckDB mirror — must at
least execute end-to-end. Constants are patched down so the entire sweep
runs in ~a minute; timings are discarded.
"""

import importlib
import sys
from pathlib import Path

import duckdb
import pytest


@pytest.fixture(scope="module")
def bench_small(tmp_path_factory):
    # this checkout's bench.py, wherever the checkout lives
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    bench = importlib.import_module("bench")
    saved = {
        k: getattr(bench, k)
        for k in (
            "N_60M",
            "DEDUP_DOCS",
            "N_ASOF_L",
            "N_ASOF_R",
            "ASOF_USERS",
            "N_MINHASH",
            "MINHASH_D",
            "N_BITMAP_USERS",
            "N_ANN_CORPUS",
            "N_ANN_Q",
            "N_KM_WIDE",
            "N_GRAM",
            "N_TEXT",
            "N_TEXT_D",
            "N_PACK",
            "SESS_USERS",
            "FUNNEL_USERS",
            "STREAM_DIR",
            "N_SPAN",
            "SPAN_POOL",
        )
    }
    bench.N_60M = 50_000
    bench.DEDUP_DOCS = 25_000  # a 50% dup rate, like the real value
    bench.N_ASOF_L, bench.N_ASOF_R = 45_000, 5_000
    bench.ASOF_USERS = 1_000  # 45 left and 5 right rows per user
    bench.N_MINHASH = 4_000
    bench.MINHASH_D = 3_600
    # odd, so a user's rows land 7 days apart (an even user count steps
    # each user's day by an even amount modulo 62)
    bench.N_BITMAP_USERS = 4_999
    bench.N_ANN_CORPUS, bench.N_ANN_Q = 5_000, 8
    bench.N_KM_WIDE = 10_000
    bench.N_GRAM = 10_000
    bench.N_TEXT, bench.N_TEXT_D = 20_000, 500
    bench.N_PACK = 20_000
    bench.SESS_USERS = 1_000
    bench.FUNNEL_USERS = 1_999  # coprime with 5 event types, like the real value
    bench.STREAM_DIR = str(tmp_path_factory.mktemp("bench_stream"))
    bench.N_SPAN, bench.SPAN_POOL = 10_000, 50  # ~200 docs/block, like real
    yield bench
    for k, v in saved.items():
        setattr(bench, k, v)


def test_family_names_continuity_r5(bench_small):
    """Round-over-round comparability pin (round-5 verdict item 8):
    every family key from the official BENCH_r05 run must keep its name —
    a rename would silently break cross-round BENCH_r{N} comparisons and
    the refresh_docs.py doc tables. Adding NEW families is fine."""
    assert len(bench_small.R5_FAMILY_NAMES) == 14
    # the DuckDB mirror registry must also cover every r5 family
    assert bench_small.R5_FAMILY_NAMES <= set(bench_small._duckdb_family_sqls())


def test_all_spark_families_execute(spark, bench_small, monkeypatch):
    # zero cutoffs: every family runs its pass-1 rep only — the protocol
    # has its own tests, this one checks that each family executes
    monkeypatch.setattr(bench_small, "PASS_CUTOFFS", {"spark": (0.0, 0.0)})
    rows = {}
    families = bench_small.spark_families

    def recording():
        return {
            name: (n, lambda spark, n, name=name, body=body: rows.setdefault(name, body(spark, n)))
            for name, (n, body) in families().items()
        }

    monkeypatch.setattr(bench_small, "spark_families", recording)
    bench_small._RAW_RUNS.clear()
    result = {}
    bench_small.run_spark_families(spark, result)
    fam = result["spark_families_60m_sec"]
    reps = bench_small._RAW_RUNS
    assert {k: len(v) for k, v in reps.items()} == {f"spark_fam:{n}": 1 for n in fam}
    bench_small._RAW_RUNS.clear()
    # superset-of-r5 is the continuity contract; exact equality with the
    # current registry catches accidental drops of newer families too
    assert bench_small.R5_FAMILY_NAMES <= set(fam)
    assert set(fam) == bench_small.R5_FAMILY_NAMES | {
        "ann_quantized_2m_x128",  # round 6
        "kmeans_15m_d64",  # round 7: wide-dims BLAS-routed k-means
        "gram_2m_x64",  # round 7: PCA Gram stats pass, exact int codes
        "pctrank_60m",  # round 7: percentile-rank score normalization
        "qnorm_60m",  # round 8: quantile normalization (CDF inversion)
        "span_extents_2m",  # round 9: substring-level dedup extents
        "bm25_15m",  # round 9: BM25 retrieval scoring over the text corpus
        "ann_pq_2m_x128",  # round 10: PQ/ADC compressed-domain ANN
        "vocab_tok_15m",  # round 11: greedy vocab tokenization, bulk kernel
    }
    assert all(t >= 0 for t in fam.values())
    # the small sizes keep each family's shape: duplicates to drop, users
    # retained on day 7, and clicks with an error before them
    assert all(0 < r.n_dups < r.n_docs for r in rows["exact_dedup"])
    assert any(r.n_ret7 > 0 for r in rows["bitmap_retention"])
    (asof,) = rows["asof_join"]
    assert asof.n // 2 < asof.matched < asof.n


def test_all_duckdb_family_mirrors_execute(bench_small):
    bench_small._ensure_stream_src(bench_small.N_60M)
    con = duckdb.connect()
    try:
        for name, sql in bench_small._duckdb_family_sqls().items():
            if callable(sql):
                sql(con)
            else:
                con.execute(sql).fetchall()
    finally:
        con.close()


def test_headline_oracles_resolve(bench_small):
    from duckdb_ddsketch_spark.plans import declared

    for name in bench_small.HEADLINE:
        assert name in declared.STAGED_QUERIES
        assert name in declared.STAGED_ORACLES


def _both(spark, b, name):
    """(Spark rows, DuckDB mirror rows) of one family at small N: the
    family body bench.py times, against its mirror."""
    base, body = b.spark_families()[name]
    sql = b._duckdb_family_sqls()[name]
    con = duckdb.connect()
    try:
        drows = sql(con) if callable(sql) else con.execute(sql).fetchall()
    finally:
        con.close()
    return body(spark, base), drows


def test_sessionize_and_pack_mirrors_agree(spark, bench_small):
    """The two window-family mirrors must compute the SAME summary values
    as the Spark operators at small N — a mirror that merely executes can
    still silently measure a different workload (the round-4 strlen/length
    lesson)."""
    b = bench_small
    srows, drows = _both(spark, b, "sessionize_60m")
    srow, drow = srows[0], drows[0]
    assert (int(srow[0]), int(srow[1])) == (int(drow[0]), int(drow[1]))

    srows, drows = _both(spark, b, "pack_manifest_15m")
    assert tuple(int(x) for x in srows[0]) == tuple(int(x) for x in drows[0])

    srows, drows = _both(spark, b, "funnel_60m")
    norm = lambda row: tuple(int(x) if x is not None else 0 for x in row)
    assert norm(srows[0]) == norm(drows[0])

    # quantized ANN: the full top-k row set is exact integers on both
    # engines — compare it verbatim, no tolerance
    srows, drows = _both(spark, b, "ann_quantized_2m_x128")
    srows = sorted((r.query_id, r.neighbor_id, r.qdot) for r in srows)
    drows = sorted((int(a), int(c_), int(d)) for a, c_, d in drows)
    assert srows == drows and len(srows) == b.N_ANN_Q * b.ANN_K


def test_raw_run_spread_recorded(bench_small):
    """Round-6 verdict item 2: best-of point estimates alone make ±5-10%
    shared-runner noise indistinguishable from regression — every timed
    point must also record its raw repetition times under a stable
    `<side>:<name>` key for the `raw_runs_sec` JSON section, and every
    family rep its steal share under the same key."""
    bench_small._RAW_RUNS.clear()
    bench_small._RAW_STEAL.clear()
    calls = []
    assert bench_small._best3(lambda: calls.append(1), key="spark:qx") >= 0
    assert len(calls) == 3
    assert len(bench_small._RAW_RUNS["spark:qx"]) == 3
    # multi-pass scheduler: a cheap family (pass-1 rep < pass-3 cutoff)
    # gets 3 spread reps, ALL recorded, min quoted
    result: dict = {}
    fams = bench_small._run_family_passes(
        [("hll_distinct", lambda: None, None)], "spark", result
    )
    assert len(bench_small._RAW_RUNS["spark_fam:hll_distinct"]) == 3
    assert fams["hll_distinct"] == min(
        bench_small._RAW_RUNS["spark_fam:hll_distinct"]
    )
    # one steal share per family rep, each a share of CPU time
    shares = bench_small._RAW_STEAL["spark_fam:hll_distinct"]
    assert len(shares) == 3 and all(0.0 <= x <= 1.0 for x in shares)
    assert result["machine"]["steal_max"] == {"spark": max(shares)}
    # key-less timing (warm-ups, one-shots) records nothing
    bench_small._timed(lambda: None)
    assert set(bench_small._RAW_RUNS) == {"spark:qx", "spark_fam:hll_distinct"}
    assert set(bench_small._RAW_STEAL) == {"spark_fam:hll_distinct"}
    bench_small._RAW_RUNS.clear()
    bench_small._RAW_STEAL.clear()


def test_family_passes_protocol(bench_small, monkeypatch):
    """Round-9 protocol (VERDICT r8 items 1/3): spread reps with rotated
    order, pass membership from each family's measured pass-1 rep, and
    setup-before-first-rep."""
    b = bench_small
    b._RAW_RUNS.clear()
    # cutoffs scaled down so sleeps of a tenth of a second decide membership
    monkeypatch.setattr(b, "PASS_CUTOFFS", {"spark": (0.5, 0.05)})
    seq = []

    def mk(name, first_sleep=0.0):
        def run():
            import time as _t

            if first_sleep and name not in seq:
                _t.sleep(first_sleep)  # only the pass-1 rep is slow
            seq.append(name)

        return run

    setup_calls = []
    entries = [
        ("hll_distinct", mk("hll_distinct"), None),
        ("streaming_windows", mk("streaming_windows"),
         lambda: setup_calls.append("sw")),
        ("kmeans_15m_d64", mk("kmeans_15m_d64", 0.1), None),  # < 0.5, >= 0.05
        ("gram_2m_x64", mk("gram_2m_x64", 0.6), None),        # >= 0.5
    ]
    result: dict = {}
    fams = b._run_family_passes(entries, "spark", result)
    # setup ran exactly once, despite 3 timed reps of the family
    assert setup_calls == ["sw"]
    # pass 1 canonical order; pass 2 reversed, without gram (slow pass 1);
    # pass 3 rotated by a third, cheap families only: k-means's fast
    # pass-2 rep does not bring it back, its slow pass-1 rep decides
    assert seq == [
        "hll_distinct", "streaming_windows", "kmeans_15m_d64", "gram_2m_x64",  # pass 1
        "kmeans_15m_d64", "streaming_windows", "hll_distinct",  # pass 2 rev
        "streaming_windows", "hll_distinct",                    # pass 3 rot
    ]
    assert set(fams) == {n for n, _, _ in entries}
    assert fams["gram_2m_x64"] >= 0.6
    assert fams["kmeans_15m_d64"] < 0.1  # min over reps, fast pass 2 included
    assert "passes_truncated_over_budget" not in result
    b._RAW_RUNS.clear()


def test_emit_final_line_is_compact_summary(bench_small, capsys, tmp_path, monkeypatch):
    """Round-7 verdict item 1: the driver parses the LAST stdout line with a
    bounded tail capture, so the final line must be the compact summary
    (no raw_runs_sec — that key made the r7 record unparseable); raw runs
    and the per-rep steal shares travel on an earlier line and in a
    sidecar file, while the final line keeps the machine block."""
    import json as _json

    monkeypatch.setattr(bench_small, "__file__", str(tmp_path / "bench.py"))
    bench_small._RAW_RUNS.clear()
    bench_small._RAW_STEAL.clear()
    bench_small._RAW_RUNS["spark:qx"] = [0.5, 0.4]
    bench_small._RAW_RUNS["spark_fam:f1"] = [3.0, 1.1]
    bench_small._RAW_STEAL["spark_fam:f1"] = [0.0312, 0.0004]
    machine = {"nproc": 4, "canary_ms": {"spark": 20.6, "duckdb": 21.3},
               "steal_max": {"spark": 0.0312, "duckdb": 0.0}}
    result = {
        "machine": machine,
        "metric": "headline_queries_total",
        "value": 1.0,
        "raw_runs_sec": {"stale": []},
        "duckdb_oracle": {"q01": 0.1, "q02": 0.25},
    }
    bench_small._emit(result)
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 2
    raw_line, summary_line = (_json.loads(ln) for ln in lines)
    assert raw_line["raw_runs_sec"] == {"spark:qx": [0.5, 0.4], "spark_fam:f1": [3.0, 1.1]}
    # one steal share per family rep, keyed like its raw run
    assert raw_line["steal_share"] == {"spark_fam:f1": [0.0312, 0.0004]}
    # the per-query oracle dict rides the raw line / sidecar
    assert raw_line["duckdb_oracle"] == {"q01": 0.1, "q02": 0.25}
    assert "raw_runs_sec" not in summary_line
    assert "steal_share" not in summary_line
    assert "duckdb_oracle" not in summary_line
    # ...while the final line keeps the quoted forms and the machine block
    assert summary_line["duckdb_oracle_total"] == 0.35
    assert summary_line["machine"] == machine
    assert summary_line["metric"] == "headline_queries_total"
    sidecar = _json.loads((tmp_path / "bench_raw_runs.json").read_text())
    assert sidecar == raw_line
    bench_small._RAW_RUNS.clear()
    bench_small._RAW_STEAL.clear()


def test_emit_final_line_fits_capture_budget(bench_small, capsys, tmp_path, monkeypatch):
    """Round-9: the driver's tail capture held ~2000 chars across rounds
    and the r8 19-family line was 1887 B — one family from truncation.
    A realistic 23-family record (both engines, headline, native, oracle
    total, the machine block) must emit a final line under the budget,
    or the next family addition silently loses the round's record. The
    last partial snapshot of a killed run must fit too."""
    import json as _json

    monkeypatch.setattr(bench_small, "__file__", str(tmp_path / "bench.py"))
    bench_small._RAW_RUNS.clear()
    bench_small._RAW_STEAL.clear()
    fams = list(bench_small.FAMILY_PASS1_ORDER)
    assert len(fams) == 23
    heads = bench_small.HEADLINE
    result = {
        "machine": {"nproc": 32, "canary_ms": {"spark": 123.4, "duckdb": 118.7},
                    "steal_max": {"spark": 0.1234, "duckdb": 0.0567}},
        "duckdb_oracle": {q: 0.123 for q in heads},
        "duckdb_60m_sec": 24.567,
        "duckdb_families_60m_sec": {f: 123.456 for f in fams},
        "metric": "headline_queries_total",
        "value": 5.018,
        "unit": "sec",
        "queries": {q: 0.891 for q in heads},
        "sf": 0.1,
        "native_sketch_rows_per_sec": 43821234,
        "native_sketch_60m_sec": 1.369,
        "spark_families_60m_sec": {f: 51.871 for f in fams},
    }
    for f in fams:
        for engine in ("spark", "duckdb"):
            bench_small._RAW_STEAL[f"{engine}_fam:{f}"] = [0.1234, 0.0567, 0.0]
    bench_small._partial(result, "duckdb_families_progress")
    snap = capsys.readouterr().out.strip()
    assert len(snap) <= bench_small.FINAL_LINE_BUDGET, len(snap)
    bench_small._emit(result)
    raw, final = capsys.readouterr().out.strip().splitlines()[-2:]
    assert len(final) <= bench_small.FINAL_LINE_BUDGET, len(final)
    assert _json.loads(final)["machine"]["steal_max"] == {"spark": 0.1234, "duckdb": 0.0567}
    assert len(_json.loads(raw)["steal_share"]) == 46
    bench_small._RAW_RUNS.clear()
    bench_small._RAW_STEAL.clear()


def test_gram_mirror_agrees(spark, bench_small):
    """The gram family's DuckDB flat-aggregate mirror must produce the
    SAME 4096 exact integers as the Spark gram_matrix route at small N
    (different output shapes: 4096 one-row columns vs 4096 rows)."""
    b = bench_small
    srows, drows = _both(spark, b, "gram_2m_x64")
    g = {(r.i, r.j): r.g for r in srows}
    assert len(g) == b.GRAM_D * b.GRAM_D
    for idx, (i, j) in enumerate(
        (i, j) for i in range(b.GRAM_D) for j in range(b.GRAM_D)
    ):
        assert g[(i, j)] == drows[0][idx], (i, j)


def test_pctrank_mirror_agrees(spark, bench_small):
    """The pctrank mirror must compute the SAME (n_ranked, mean_pct) as
    the Spark operator at small N (the round-4 silently-different-
    workload lesson); mean is a float reduction, compared to 1e-9 rel."""
    b = bench_small
    srows, drows = _both(spark, b, "pctrank_60m")
    srow, drow = srows[0], drows[0]
    assert int(srow[0]) == int(drow[0]) == b.N_60M
    assert abs(srow[1] - drow[1]) <= 1e-9 * abs(drow[1])


def test_qnorm_mirror_agrees(spark, bench_small):
    """The qnorm mirror must compute the SAME (n_mapped, mean_qn) as the
    Spark operator at small N. Per-row qn values are bit-identical
    cross-engine (q92's value-hash gate pins them); the MEAN is a float
    reduction whose summation order differs, so 1e-9 rel like pctrank."""
    b = bench_small
    srows, drows = _both(spark, b, "qnorm_60m")
    srow, drow = srows[0], drows[0]
    # every generated v is finite and the self-reference covers every
    # (sign, bin), so all N rows map
    assert int(srow[0]) == int(drow[0]) == b.N_60M
    assert abs(srow[1] - drow[1]) <= 1e-9 * abs(drow[1])


def test_span_extents_mirror_agrees(spark, bench_small):
    """Round-9 family: the DuckDB span-extents mirror must produce the
    SAME (n_extents, cut_tokens) as the Spark operator at small N —
    integer outputs, so equality is exact. Also pins the generator's
    intended shape: one 16-token boilerplate extent per doc."""
    b = bench_small
    srows, drows = _both(spark, b, "span_extents_2m")
    srow, drow = srows[0], drows[0]
    assert (int(srow[0]), int(srow[1])) == (int(drow[0]), int(drow[1]))
    # generator shape: every doc's 16-token boilerplate tail repeats
    # across ~N/POOL docs -> exactly one extent per doc, 16 tokens wide
    assert int(srow[0]) == b.N_SPAN
    assert int(srow[1]) == 16 * b.N_SPAN


def test_bm25_mirror_agrees(spark, bench_small):
    """Round-9 family: the DuckDB BM25 mirror must return the SAME
    (query_id, doc_id, bm25, n_terms, rank) top-10 rows as
    text.bm25_scores at small N — fixed-point scores and a doc-id
    tie-break make the comparison exact."""
    b = bench_small
    srows, drows = _both(spark, b, "bm25_15m")
    srows = sorted(
        (r.query_id, r.doc_id, round(float(r.bm25), 6), r.n_terms, r.rank)
        for r in srows
    )
    drows = sorted(
        (int(q), int(d), round(float(s), 6), int(nt), int(rk))
        for q, d, s, nt, rk in drows
    )
    assert srows == drows and len(srows) == 10 * len(b.BM25_QUERIES)


def test_vocab_tok_mirror_agrees(spark, bench_small):
    """The round-11 vocab_tok_15m family: the Spark Arrow bulk kernel and
    the DuckDB distinct-word recursive-CTE mirror must compute identical
    (word_sum, tok_sum, unk_sum) totals at small N — same greedy rule,
    same default vocab, integer-exact."""
    srows, drows = _both(spark, bench_small, "vocab_tok_15m")
    srow = tuple(int(x) for x in srows[0])
    assert srow == tuple(int(x) for x in drows[0])
    assert srow[0] > 0 and srow[1] > srow[0]


def test_partial_snapshot_lines(bench_small, capsys, monkeypatch):
    """Round 13 (VERDICT r12 item 1): every completed section/family rep
    prints a {"partial": ...} snapshot so an external wall-clock kill
    leaves the newest complete record as the last stdout line. Snapshots
    must apply _emit's compaction (oracle totalled, family cells at 2dp)
    so a killed run's last line stays inside the driver's tail-capture
    window, and they carry the machine block measured so far."""
    import json as _json

    b = bench_small
    machine = {"nproc": 4, "canary_ms": {"spark": 20.6}, "steal_max": {"spark": 0.0012}}
    result = {
        "machine": machine,
        "metric": "headline_queries_total",
        "value": 1.5,
        "duckdb_oracle": {"q01": 0.1, "q02": 0.25},
        "spark_families_60m_sec": {"hll_distinct": 5.678},
    }
    b._partial(result, "spark_done")
    snap = _json.loads(capsys.readouterr().out.strip())
    assert snap["partial"] == "spark_done"
    assert "duckdb_oracle" not in snap
    assert snap["duckdb_oracle_total"] == 0.35
    assert snap["spark_families_60m_sec"] == {"hll_distinct": 5.68}
    assert snap["metric"] == "headline_queries_total"
    assert snap["machine"] == machine
    # result itself is untouched (the final _emit still sees everything)
    assert "duckdb_oracle" in result
    # single-family runs snapshot like any other run
    monkeypatch.setattr(b, "_ONLY", {"hll_distinct"})
    b._partial(result, "spark_done")
    assert _json.loads(capsys.readouterr().out.strip()) == snap
    # the family-passes progress hook feeds snapshots after every rep
    seen = []
    b._run_family_passes(
        [("hll_distinct", lambda: None, None)], "spark", {},
        on_progress=lambda cells: seen.append(dict(cells)),
    )
    assert len(seen) == 3  # pass 1 + pass 2 + pass 3 for a cheap family
    assert all("hll_distinct" in s for s in seen)
    b._RAW_RUNS.clear()
    b._RAW_STEAL.clear()


def test_budget_skips_optional_work(bench_small, monkeypatch):
    """Round 13 (VERDICT r12 item 2): once the session deadline passes,
    pass-2/3 spread reps are SKIPPED rather than run — pass-1 cells always
    exist and the record names the truncated engine. A timeout can then
    never erase the record."""
    b = bench_small
    b._RAW_RUNS.clear()
    monkeypatch.setattr(b, "_DEADLINE_SEC", -1.0)  # deadline already passed
    calls = []
    result: dict = {}
    fams = b._run_family_passes(
        [("hll_distinct", lambda: calls.append("h"), None),
         ("kmeans_60m", lambda: calls.append("k"), None)],
        "spark", result,
    )
    # exactly one pass-1 rep each: no pass 2/3
    assert calls == ["h", "k"]
    assert set(fams) == {"hll_distinct", "kmeans_60m"}
    assert result["passes_truncated_over_budget"] == ["spark"]
    b._RAW_RUNS.clear()


def test_pq_mirror_agrees(spark, bench_small):
    """Round-10 family: the DuckDB PQ/ADC mirror must return the SAME
    (query_id, neighbor_id, adc, rank) top-k rows as the Spark
    pq_encode -> pq_adc_topk pipeline at small N — the mirror
    walks the identical fold-order arithmetic, so adc doubles are
    bit-exact (no rounding in the comparison)."""
    b = bench_small
    srows, drows = _both(spark, b, "ann_pq_2m_x128")
    srows = sorted(
        (r.query_id, r.neighbor_id, float(r.adc), r.rank) for r in srows
    )
    drows = sorted((int(q), int(d), float(s), int(rk)) for q, d, s, rk in drows)
    assert srows == drows and len(srows) == b.ANN_K * b.N_ANN_Q


def test_scaling_probe_runs_the_bench_bodies(spark, bench_small, monkeypatch):
    """scripts/scaling_curve_probe.py times the bench's own family
    bodies: it builds no DataFrame, rebinds no bench constant, probes
    exactly the bench table's families, and its main loop yields one
    {rows, sec, marginal_slope} record per family."""
    import ast

    root = Path(__file__).resolve().parent.parent
    tree = ast.parse((root / "scripts" / "scaling_curve_probe.py").read_text())
    targets = [
        t
        for node in ast.walk(tree)
        if isinstance(node, (ast.Assign, ast.AugAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
    ]
    assert not [
        t for t in targets
        if isinstance(t, ast.Attribute) and getattr(t.value, "id", None) == "bench"
    ]
    assert not [
        node for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in ("range", "selectExpr", "readStream", "createDataFrame")
    ]
    monkeypatch.syspath_prepend(str(root / "scripts"))
    probe = importlib.import_module("scaling_curve_probe")
    table = bench_small.spark_families()
    fams = probe.families()
    assert set(fams) == set(table)
    assert all(body is table[name][1] for name, (_, body) in fams.items())

    names = {"hll_distinct", "streaming_windows"}
    out = probe.probe(spark, names, (0.32, 0.64))
    assert set(out) == names
    n = bench_small.N_60M
    for rec in out.values():
        assert set(rec) == {"rows", "sec", "marginal_slope"}
        assert rec["rows"] == [int(n * 0.32), int(n * 0.64)]
        assert all(s > 0 for s in rec["sec"])
        assert isinstance(rec["marginal_slope"], float)
