"""Measured scaling curves: family runtime vs input rows at three scales.

SCALING.md's 100 TB arguments are structural ("the shuffle is bounded by
keys x registers", "the corpus never shuffles"). This probe adds the
measured counterpart: it runs the bench's own family bodies
(``bench.spark_families()``, the code ``bench.py`` times) on the bench's
session at 0.25x / 0.5x / 1.0x of each family's bench row count. Each
body holds its PER-ROW CHARACTER constant — cardinality moduli (distinct
docs, users, HLL key space) scale with n while structure parameters
(group count, k, dims, query count, shard count) stay fixed, exactly the
split a cluster scale-up preserves. If the work is row-bounded, the
marginal log-log slope between the two largest scales sits at ~1.0 or
below (fixed stage-scheduling overhead pulls it under); a slope clearly
above 1 exposes a hidden all-pairs / global-sort term that would detonate
at cluster scale long before 100 TB.

Prints one JSON line:
    {family: {"rows": [...], "sec": [...], "marginal_slope": s}, ...}

Single-session minima are still exposed to transient-load episodes
(same-cell spread up to ~40% across sessions — SCALING.md measurement
notes), so the recorded curves take the min per cell ACROSS probe
sessions: pass --merge <prior.json> to fold a previous session's output
in (min per matching (family, rows) cell, slopes recomputed).

Usage: python scripts/scaling_curve_probe.py [fam1,fam2,...] [--merge f.json]
                                              [--scales 0.25,0.5,1.0]
Families: the bench's family names (default: all of them).
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

import bench  # noqa: E402

# the ANN families are probed from 4x the bench corpus: at 2M x 16-dim a
# top-k is ~all fixed job overhead (which is WHY it beats the quadratic
# SQL comparator); the linear corpus term only dominates from ~2M rows up
BASE_FACTOR = {"ann_brute_2m_x128": 4, "ann_quantized_2m_x128": 4, "ann_pq_2m_x128": 4}


def families(names=None) -> dict:
    """``{name: (base_rows, body)}``: the bench's bodies at the probe's bases."""
    return {
        name: (base * BASE_FACTOR.get(name, 1), body)
        for name, (base, body) in bench.spark_families().items()
        if not names or name in names
    }


def probe(spark, names, scales, prior=None) -> dict:
    todo = families(names)
    # warm-up: one untimed smallest-scale pass per family (JIT per plan shape)
    for base, body in todo.values():
        body(spark, int(base * scales[0]))
    # min over ROUNDS of the whole grid, not back-to-back reps: this box
    # shows multi-second transient-load episodes (SCALING.md measurement-
    # spread notes), and spreading a cell's reps minutes apart keeps one
    # episode from owning both reps of one unlucky (family, scale) cell
    best: dict = {}
    for _ in range(3):
        for name, (base, body) in todo.items():
            for s in scales:
                n = int(base * s)
                t0 = time.perf_counter()
                body(spark, n)
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
    for name, (base, _body) in todo.items():
        rows = [int(base * s) for s in scales]
        secs = [round(best[(name, n)], 3) for n in rows]
        # marginal slope between the two largest scales: the least
        # overhead-polluted pairwise estimate (fixed ~0.3-0.5 s stage
        # scheduling makes small scales read sublinear)
        slope = math.log(secs[-1] / secs[-2]) / math.log(rows[-1] / rows[-2])
        out[name] = {"rows": rows, "sec": secs, "marginal_slope": round(slope, 2)}
        print(f"# {name}: {out[name]}", flush=True)
    out.update(carried)
    return out


def main() -> None:
    argv = list(sys.argv[1:])
    prior = None
    scales = (0.25, 0.5, 1.0)
    if "--merge" in argv:
        i = argv.index("--merge")
        with open(argv[i + 1]) as f:
            prior = json.load(f)
        del argv[i : i + 2]
    if "--scales" in argv:
        i = argv.index("--scales")
        scales = tuple(sorted(float(s) for s in argv[i + 1].split(",")))
        del argv[i : i + 2]
    names = set(argv[0].split(",")) if argv else None
    spark = bench.spark_session()
    bench.warm_up(spark)
    print(json.dumps(probe(spark, names, scales, prior)))


if __name__ == "__main__":
    main()
