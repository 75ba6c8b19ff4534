"""Scale-parity audit of every capped operator knob (VERDICT r6 #6).

The q88 lesson generalized: an operator knob whose default silently changes
RESULTS past a data-size threshold — while the DuckDB oracle stays exact —
turns a green sf0.01 gate into a scale-dependent lie. This audit enumerates
EVERY cap-like knob in the operator surface and pins, for each, one of the
four acceptable postures:

  pinned          the declared query passes the knob explicitly at a value
                  the oracle matches (q88 max_cell, q22 max_bucket, q36
                  max_hamming)
  oracle-mirrors  the oracle SQL applies the identical cap, so parity holds
                  at ANY scale (q22's bsz CTE)
  loud            crossing the cap raises instead of truncating
                  (max_query_rows, duplicate_clusters max_iters)
  unused/off      the knob is off by default (jaccard max_df, retention
                  max_offset; sample_frames max_frames is a semantic
                  sampling spec mirrored by its oracle)

A completeness sweep greps the package for ``max_*`` keyword parameters so
a future knob cannot land unclassified.
"""

import inspect
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

PKG = Path(__file__).resolve().parent.parent / "duckdb_ddsketch_spark"

# every max_* keyword parameter in the operator/streaming surface, with its
# audited posture; the completeness test fails if the source grows a knob
# not listed here
KNOB_REGISTRY = {
    ("operators/dedup.py", "lsh_candidate_pairs", "max_bucket"): "pinned+oracle-mirrors (q22)",
    ("operators/dedup.py", "minhash_lsh_dedup", "max_bucket"): "pinned+oracle-mirrors (q22)",
    ("operators/dedup.py", "jaccard_pairs", "max_df"): "off-by-default (None)",
    ("operators/dedup.py", "lsh_plan", "max_hashes"): "driver-side planner search bound, touches no data (results change only via the b/r the CALLER then passes on)",
    ("operators/dedup.py", "duplicate_clusters", "max_iters"): "loud (raises on non-convergence)",
    ("operators/dedup.py", "_star_contraction", "max_rounds"): "loud (raises on non-convergence; internal plumbing of duplicate_clusters max_iters)",
    ("operators/dedup.py", "simhash_pairs", "max_hamming"): "pinned+oracle-mirrors (q36)",
    ("operators/multimodal.py", "sample_frames", "max_frames"): "semantic sampling spec, oracle mirrors (q49)",
    ("operators/analytics.py", "cohort_retention", "max_offset"): "off-by-default (None)",
    ("operators/similarity.py", "embedding_neardup_lsh", "max_bucket"): "pinned+oracle-mirrors (q24b -> q38 'lshpairs')",
    ("operators/similarity.py", "brute_force_topk", "max_query_rows"): "loud (raises)",
    ("operators/similarity.py", "semantic_dedup", "max_cell"): "pinned (q88, 1<<62)",
    ("operators/similarity.py", "quantized_topk", "max_query_rows"): "loud (raises)",
    ("operators/similarity.py", "pq_adc_topk", "max_query_rows"): "loud (raises)",
    ("operators/similarity.py", "ivf_topk", "max_query_rows"): "loud (raises)",
}


def test_registry_complete_against_source():
    """Grep every def-signature max_* kwarg under the package; each must be
    classified in KNOB_REGISTRY (and nothing stale remains)."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = str(path.relative_to(PKG))
        # walk function defs, collect max_* params from their signatures
        for m in re.finditer(r"def (\w+)\(((?:[^()]|\([^()]*\))*)\)", src):
            fn, params = m.group(1), m.group(2)
            for pm in re.finditer(r"(max_[a-z_]+)\s*[:=]", params):
                if pm.group(1) == "max_cell_size":
                    continue
                found.add((rel, fn, pm.group(1)))
    assert found == set(KNOB_REGISTRY), (
        "knob registry out of sync with source:\n"
        f"unclassified: {sorted(found - set(KNOB_REGISTRY))}\n"
        f"stale: {sorted(set(KNOB_REGISTRY) - found)}"
    )


def test_pinned_knobs_appear_in_declared_source():
    """Every 'pinned' posture must be visible at the declared call site."""
    from duckdb_ddsketch_spark.plans import declared

    src = inspect.getsource(declared)
    assert "max_cell=1 << 62" in src  # q88
    assert "max_bucket=1000" in src  # q22
    assert "max_hamming=3" in src  # q36
    assert "max_bucket=_Q24B_MAXB" in src and declared._Q24B_MAXB == 2000  # q24b


def test_oracle_mirrors_the_caps():
    """'oracle-mirrors' postures: the oracle SQL applies the identical cap."""
    from duckdb_ddsketch_spark.plans import declared

    oracles = declared.STAGED_ORACLES
    q22 = oracles["q22_minhash_lsh_neardups"]
    assert "s.n <= 1000" in q22, "q22 oracle lost the max_bucket mirror"
    q36 = oracles["q36_simhash_pairs"]
    assert "hamming <= 3" in q36, "q36 oracle lost the max_hamming mirror"
    q24b = oracles["q24b_embedding_neardup_lsh"]
    assert "s.n <= 2000" in q24b, "q24b oracle lost the max_bucket mirror"


def test_max_query_rows_raises_loudly(spark):
    from duckdb_ddsketch_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.brute_force_topk(df, df, k=1, max_query_rows=3).collect()
    qc = similarity.quantize_embeddings(df, 1.0, bits=8)
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.quantized_topk(qc, qc, k=1, max_query_rows=3).collect()


def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """A component with diameter > max_iters must fail loudly, never return
    silently-partial clusters that an exact oracle would contradict."""
    from duckdb_ddsketch_spark.operators import dedup

    chain = [(i, i + 1) for i in range(9)]  # path graph, diameter 9
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(ValueError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iters=2, method="propagation")
    out = dedup.duplicate_clusters(pairs, max_iters=20, method="propagation")
    assert {r.cluster_id for r in out.collect()} == {0}
    # the log-diameter star form has the same loud-cap contract: one
    # contraction round cannot collapse a 60-hop path
    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        dedup.duplicate_clusters(deep, max_iters=1, method="star")
