"""Similarity search over embedding columns (array<float>).

Every operator here has one implementation, in one of two shapes:

* **collected queries, local top-k** — :func:`brute_force_topk`,
  :func:`ivf_topk`, :func:`quantized_topk` and :func:`pq_adc_topk` collect
  the query side to the driver (at most ``max_query_rows`` rows), then one
  ``mapInArrow`` pass scores each corpus batch against it in numpy and
  keeps the batch's top-k per query (top-k is distributive); a single
  window ranks the merged |partitions| x |queries| x k rows. The corpus
  never shuffles. Ids must be integral.
* **bucketed joins (sign-LSH / IVF-style)** — deterministic random
  hyperplanes derived from md5 of (plane, dim) give every vector a bucket
  code; the join is restricted to equal codes (plus optional multi-probe).
  The shuffle then moves (code, id, vec) clustered by code instead of the
  full cross product. The hyperplanes are engine-reproducible (no RNG
  state), so the operator remains oracle-checkable. :func:`lsh_topk` is
  the top-k for query sets too large to collect.

The Catalyst folds promote to double before folding so results are stable
across engines to within ulps (absorbed by float32 output casts). The numpy
kernels whose output must equal a DuckDB mirror bit for bit (quantized dots,
PQ codes, ADC scores) accumulate in the mirror's left-to-right order.
"""

from __future__ import annotations

from collections import Counter
from typing import Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import arrow_udf

__all__ = [
    "cosine",
    "dot",
    "int_dot",
    "int_normsq",
    "norm",
    "brute_force_topk",
    "cosine_near_pairs",
    "ivf_topk",
    "hyperplane_code",
    "lsh_topk",
    "embedding_neardup_lsh",
    "semantic_dedup",
    "ivf_pq_topk",
    "pq_adc_topk",
    "pq_encode",
    "pq_train",
    "quantize_calibration",
    "quantize_embeddings",
    "dequantize_embeddings",
    "quantized_topk",
]


def _i64_ids(col):
    """Arrow id column -> (int64 vector, valid mask or None). Integral
    ids convert zero-copy; a NULL id yields a mask (the row is dropped —
    through pandas it surfaced as NaN and raised; silently casting NaN
    to int64 is undefined). Non-integral id types raise, as documented
    on every collected-query top-k."""
    if not pa.types.is_integer(col.type):
        raise TypeError(
            f"id column must be an integer type for the top-k kernels;"
            f" got {col.type} (a float id like 1.7 would silently"
            f" truncate — cast the column to bigint upstream)"
        )
    if col.null_count == 0:
        return (
            col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
            None,
        )
    vals = col.to_pylist()
    ok = np.array([v is not None for v in vals], dtype=bool)
    ids = np.array([0 if v is None else v for v in vals], dtype=np.int64)
    return ids, ok


def _require_int_ids(df, id_col: str, caller: str) -> None:
    """The numpy top-k kernels stage ids as int64 vectors on BOTH sides; the
    corpus side is guarded per batch by :func:`_i64_ids`, and this is
    the query-side twin — without it a double id like 1.7 would silently
    truncate through ``np.array(..., dtype=np.int64)`` into a wrong
    ``query_id`` instead of raising."""
    t = dict(df.dtypes).get(id_col)
    if t is None:
        raise TypeError(
            f"{caller}: id column {id_col!r} does not exist in the query"
            f" frame (columns: {df.columns})"
        )
    if t not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"{caller} stages {id_col!r} as an int64 vector; got type"
            f" {t} (a float id like 1.7 would silently truncate — cast"
            " the column to bigint upstream)"
        )


def _rb_vec_matrix(col, nd):
    """Arrow list column -> (float64 matrix, valid-row mask) for the numpy
    kernels. The fast path reinterprets the list values buffer ZERO-COPY
    (uniform-width verified via offsets, no nulls — what the upstream
    width/NULL filters guarantee) and only then widens to float64; the
    fallback materializes rows and masks NULL-row/ragged ones so a
    stray malformed row degrades instead of desyncing the batch.

    An INTERIOR null element becomes NaN and its row is KEPT — exactly
    what the Arrow->pandas conversion fed the previous pandas kernels:
    a NaN row's distances are all NaN, argmin returns index 0 (the
    smallest cid, matching the SQL paths' NULL-distance tie-break), and
    ``_quantize_i64``'s CAST semantics count it with 0 contribution —
    so the blas route stays update-identical to expand/fold on such
    rows. Returns (None, mask) when the batch holds no usable row; mask
    is None when every row is valid (the fast path)."""
    n = len(col)
    if n == 0:
        return None, None
    if col.null_count == 0:
        flat = col.flatten()
        if flat.null_count == 0 and len(flat) == n * nd:
            # per-row width check: two ragged rows whose lengths merely
            # SUM to n*nd would otherwise reshape across row boundaries
            offs = np.asarray(col.offsets)
            if (offs[1:] - offs[:-1] == nd).all():
                X = (
                    flat.to_numpy(zero_copy_only=False)
                    .reshape(n, nd)
                    .astype(np.float64, copy=False)
                )
                return X, None
    rows = col.to_pylist()
    ok = np.array(
        [r is not None and len(r) == nd for r in rows], dtype=bool
    )
    if not ok.any():
        return None, ok
    X = np.array(
        [
            [np.nan if x is None else x for x in rows[i]]
            for i in np.flatnonzero(ok)
        ],
        dtype=np.float64,
    )
    return X, ok


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (never an error) when either norm is 0.

    ``try_divide`` instead of ``/``: under ANSI mode a single zero
    embedding in a 100 TB corpus would otherwise fail the whole job.
    NULL compares false against any threshold, so degenerate vectors
    simply never qualify as near-duplicates or neighbors.
    """
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def int_dot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two integer-code arrays (ragged pairs
    fold to NULL via zip_with's NULL padding).

    The fold runs in the DOUBLE domain and casts the final sum to long:
    every code product is an exact integer-valued double and the running
    sum stays exact while below 2^53 (8-bit codes: ~5e11 dims; 16-bit:
    ~8e6 dims — far past any embedding width), so the result is the same
    exact BIGINT as an integer fold. Two measured hazards shape this
    (SCALING.md "Similarity search"): an integer fold pays a Cast
    node plus ANSI overflow checks per element inside the interpreted
    higher-order function (~4x), and casting each ARRAY up front
    (``transform``) materializes two fresh arrays per evaluation — per
    candidate PAIR when projection collapse inlines the expression into
    a bucket join — so the element casts live inside the zip_with lambda
    instead, allocating nothing."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("long")


def int_normsq(a: Column) -> Column:
    """Exact BIGINT squared norm of an integer-code array — a single-array
    fold (no zip_with, no intermediate arrays): the per-side precompute
    for :func:`_int_cos`, cost-matched to :func:`norm` so the quantized
    bucket routes pay the same per-row (and, under projection collapse,
    per-pair) price as the float routes. Same double-domain exactness
    argument as :func:`int_dot`."""
    return (
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        ).cast("long")
    )


def _int_cos(qdot: Column, normsq_a: Column, normsq_b: Column) -> Column:
    """Cosine from an exact integer dot and two exact integer squared
    norms: ``qdot / (sqrt(|a|^2) * sqrt(|b|^2))``. Every input is an exact
    BIGINT and sqrt / * / ÷ are correctly-rounded IEEE ops, so the double
    result is bit-reproducible across engines — unlike a float dot fold,
    whose value depends on summation order. NULL when either norm is 0
    (try_divide), matching :func:`cosine`'s degenerate-vector semantics."""
    return F.try_divide(
        qdot.cast("double"),
        F.sqrt(normsq_a.cast("double")) * F.sqrt(normsq_b.cast("double")),
    )


def cosine_near_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos >= threshold).

    The exact O(n^2) baseline; at corpus scale use
    :func:`embedding_neardup_lsh` (bucketed self-join, same exact verify).
    """
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _auto_planes(n: int, target_occupancy: float = 2.0) -> int:
    """The plane-count scaling law: ``ceil(log2(n / target_occupancy))``,
    clamped to [4, 30].

    Candidate pairs per code table are the quadratic term
    ``~n^2 / 2^planes``; holding EXPECTED bucket occupancy
    (``n / 2^planes``) constant as the corpus grows keeps the verify
    stage linear-ish in n — the round-5 probe measured 4x corpus = 2.76x
    wall at fixed planes vs 1.78x with occupancy held (+2 planes at 4x),
    and this law reproduces exactly those probe plane counts (16 at
    100k, 18 at 400k). Real buckets are skewed (clustered corpora
    collapse onto popular codes — ``max_bucket`` caps the degenerate
    ones), so the target is an expected-uniform anchor, not a promise.
    """
    import math

    if n <= 1:
        return 4
    return max(4, min(30, math.ceil(math.log2(n / target_occupancy))))


def embedding_neardup_lsh(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes=None,
    dims=None,
    tables: int = 4,
    max_bucket: int = 2000,
    target_occupancy: float = 2.0,
) -> DataFrame:
    """Corpus-scale embedding near-duplicate pairs — the bucketed twin of
    :func:`cosine_near_pairs` (which is the exact O(n^2) verification
    baseline and stays that way on purpose).

    Shape: ``tables`` independent sign-LSH code tables (each ``planes``
    deterministic md5 hyperplanes — table t uses plane indices
    t*planes..t*planes+planes-1, so tables share no planes) bucket the
    corpus; candidate pairs form ONLY inside equal (table, code) buckets
    via a self equi-join, then the exact cosine filters at ``threshold``.
    Multiple tables are the standard OR-construction: a near-dup pair is
    missed only if it splits in EVERY table, so recall rises with
    ``tables`` while the join stays bucket-local. Candidates found by
    several tables dedup on (id_a, id_b) before verification.

    Scale: all tables' codes are computed in ONE pass over the corpus
    (a posexplode to (table, code) rows, lazily local-checkpointed so the
    projection is not re-derived for the bucket-size aggregate and both
    join sides); the join shuffles clustered by (table, code) — never an
    all-pairs product. ``max_bucket`` drops degenerate buckets (e.g. a
    zero-mode corpus collapsing to one code), the same skew cap the text
    LSH path uses. ``dims`` defaults to the data's width (validated —
    a mismatch raises instead of silently bucketing everything together).
    Output ⊆ ``cosine_near_pairs(df, threshold)`` with recall < 1
    (documented approximate operator).

    ``planes`` defaults to the corpus-size scaling law
    :func:`_auto_planes` (``ceil(log2(n / target_occupancy))``) — the
    quadratic candidate term returns at scale if the plane count stays
    fixed, so the default grows with log2(n) at the cost of one count()
    job; pass ``planes`` explicitly to skip the count or tune recall
    (fewer planes = bigger buckets = higher recall, more candidates).
    """
    dims = _resolve_dims(df, vec_col, dims)
    if planes is None:
        # count only rows that can reach a bucket (non-NULL, width-matched)
        # — NULL/ragged rows never produce a code, and counting them would
        # inflate the plane count (lower recall) on dirty corpora
        planes = _auto_planes(
            df.where(
                F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dims)
            ).count(),
            target_occupancy,
        )
    ids = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    codes = F.array(
        *[
            hyperplane_code(
                F.col("vec"), planes=planes, dims=dims, plane_offset=t * planes
            )
            for t in range(tables)
        ]
    )
    coded = ids.select("id", F.posexplode(codes).alias("tbl", "code"))
    coded = coded.localCheckpoint(eager=False)
    sizes = coded.groupBy("tbl", "code").agg(F.count("*").alias("__bn"))
    kept = coded.join(
        F.broadcast(sizes.where(F.col("__bn") <= max_bucket)), ["tbl", "code"]
    ).drop("__bn")
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = ids.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("va"),
        norm(F.col("vec")).alias("na"),
    )
    vb = ids.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vb"),
        norm(F.col("vec")).alias("nb"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")).alias(
                "cos"
            ),
        )
        .where(F.col("cos") >= threshold)
    )


def _local_topk_batch(ids, q_ids, scores, take, require_finite):
    """Deterministic local top-k over one corpus batch — the kernel every
    :func:`_topk_pass` scorer ends in.

    A plain argpartition keeps an ARBITRARY subset of score-tied rows
    (integer dots tie constantly; duplicate vectors make exact float
    ties), so: take the k-th score per query (np.partition: values only),
    widen to every row at/above it, order (score DESC, id ASC), and cut
    at ``take`` — deterministic regardless of batch boundaries, matching
    the final window's ordering. Vectorized across queries: one nonzero +
    one lexsort per batch, no per-query Python loop (kernel variants
    cost-attributed in SCALING.md "Similarity search").

    Self-matches (corpus id == query id) are dropped here, as is any
    row failing ``require_finite`` — the float cosine path's -inf/NaN
    sentinels (zero-norm or non-finite embeddings); the integer-dot
    path has no sentinel and skips that gather. ``scores`` is
    (batch, n_queries); returns (qi, ri) index arrays into
    (query, batch-row) selecting the emitted pairs in final order.
    """
    n = scores.shape[0]
    thresh = np.partition(scores, n - take, axis=0)[n - take]
    mask = scores >= thresh
    if require_finite:
        # Degenerate tied-band hazard: a query with fewer than ``take``
        # finite-scoring rows has a -inf k-th score, and ``>= -inf``
        # would widen the candidate set to EVERY degenerate (zero-norm /
        # NaN->-inf) entry for that query — up to batch x queries index
        # pairs on a mostly-degenerate corpus (~6e8 at 65k x 10k).
        # Gating the widen itself on finiteness bounds the candidates to
        # finite entries only; -inf rows sort after all finite rows, so
        # the emitted set is unchanged and the post-cut finite filter
        # becomes redundant.
        mask &= np.isfinite(scores)
    ri, qi = np.nonzero(mask)
    order = np.lexsort((ids[ri], -scores[ri, qi], qi))
    qi, ri = qi[order], ri[order]
    starts = np.searchsorted(qi, np.arange(len(q_ids)))
    pos = np.arange(len(qi)) - starts[qi]
    sel = (pos < take) & (ids[ri] != q_ids[qi])
    return qi[sel], ri[sel]


def _batch_rows(rb, width: int):
    """One corpus batch's usable rows — column 0 the id, column 1 the
    vector — as (int64 ids, float64 matrix, kept-row mask over the batch),
    or None when no row is left. NULL ids, NULL or wrong-width vectors and
    vectors with a non-finite component never score."""
    mat, ok = _rb_vec_matrix(rb.column(1), width)
    if mat is None:
        return None
    ids, ok_id = _i64_ids(rb.column(0))
    keep = np.ones(rb.num_rows, dtype=bool) if ok is None else ok.copy()
    use = np.isfinite(mat).all(axis=1)
    if ok_id is not None:
        use &= ok_id[keep]
    if not use.all():
        mat = mat[use]
        keep[np.flatnonzero(keep)[~use]] = False
    if not len(mat):
        return None
    return ids[keep], mat, keep


def _collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    row_limit: int,
    caller: str,
    width=None,
):
    """The query side on the driver: (int64 ids, float64 matrix), or None
    when no usable query is left. More than ``row_limit`` rows (the
    caller's ``max_query_rows``) raise instead of risking the driver.
    Rows drop as on the corpus side (:func:`_batch_rows`). Without a
    fixed ``width`` the reference width is the modal width of the
    collected queries (ties -> smaller), so one ragged query cannot
    decide it for everyone."""
    _require_int_ids(queries, id_col, caller)
    vec = F.col(vec_col)
    present = vec.isNotNull()
    if width is not None:
        present &= F.size(vec) == width
    rows = (
        queries.where(present)
        .select(id_col, vec_col)
        .limit(row_limit + 1)
        .collect()
    )
    if len(rows) > row_limit:
        raise ValueError(
            f"{caller} collects the query set to the driver; got more than"
            f" max_query_rows={row_limit} rows. Use lsh_topk (no driver"
            " collect) for large query sets, or raise max_query_rows"
            " explicitly if the driver can hold the matrix."
        )
    if width is None:
        counts = Counter(len(r[1]) for r in rows)
        width = max(counts, key=lambda w: (counts[w], -w), default=0)
    rows = [r for r in rows if r[0] is not None and len(r[1]) == width]
    if not width or not rows:
        return None
    q_ids = np.array([r[0] for r in rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in rows], dtype=np.float64)
    finite = np.isfinite(q_mat).all(axis=1)
    if not finite.any():
        return None
    return q_ids[finite], q_mat[finite]


def _empty_topk(corpus: DataFrame, score_col: str, score_type: str) -> DataFrame:
    return corpus.sparkSession.createDataFrame(
        [], f"query_id long, neighbor_id long, {score_col} {score_type}, rank int"
    )


def _rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """The final window: rank 1..k per query, score DESC, neighbor id ASC."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, "rank")
    )


def _topk_pass(
    corpus: DataFrame,
    cols,
    width: int,
    k: int,
    score_col: str,
    score_type: str,
    candidates,
) -> DataFrame:
    """The distributed top-k behind every collected-query operator: one
    ``mapInArrow`` pass hands each corpus batch's usable rows
    (:func:`_batch_rows`) to ``candidates(ids, mat, *rest)`` — ``rest`` are
    the ``cols`` after the id and the vector, as Arrow arrays cut to those
    rows — which returns the batch's local top-k as (query ids, neighbor
    ids, scores). :func:`_rank_topk` then merges them, so the one exchange
    feeds the final window and the corpus never shuffles."""
    arrow_type = pa.int64() if score_type == "long" else pa.float64()

    def run(batches):
        for rb in batches:
            rows = _batch_rows(rb, width)
            if rows is None:
                continue
            ids, mat, keep = rows
            mask = pa.array(keep)
            rest = [rb.column(i).filter(mask) for i in range(2, rb.num_columns)]
            q, n, s = candidates(ids, mat, *rest)
            if len(q):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(q, pa.int64()),
                        pa.array(n, pa.int64()),
                        pa.array(s, arrow_type),
                    ],
                    names=["query_id", "neighbor_id", score_col],
                )

    scored = corpus.select(*cols).mapInArrow(
        run, schema=f"query_id long, neighbor_id long, {score_col} {score_type}"
    )
    return _rank_topk(scored, score_col, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Returns (query_id, neighbor_id, cos, rank), rank 1..k, self-matches
    excluded, ties broken by neighbor id. Each corpus batch is one numpy
    matmul against the collected query matrix (:func:`_topk_pass`), so
    results match an exact cosine up to BLAS summation-order ulps. NULL,
    wrong-width, zero-norm and non-finite vectors never score, on either
    side. ``id_col`` must be integral; more than ``max_query_rows``
    queries raise (use :func:`lsh_topk` for large query sets).
    """
    q = _collect_queries(
        queries, id_col, vec_col, max_query_rows, "brute_force_topk"
    )
    if q is None:
        return _empty_topk(corpus, "cos", "double")
    q_ids, q_mat = q
    q_norm = np.linalg.norm(q_mat, axis=1)

    def candidates(ids, mat):
        denom = np.outer(np.linalg.norm(mat, axis=1), q_norm)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            cos = np.where(denom > 0.0, (mat @ q_mat.T) / denom, -np.inf)
        # zero-norm pairs score -inf, the sentinel _local_topk_batch skips;
        # a NaN (an overflowing norm) must become -inf too, or it would
        # poison the k-th-score threshold for its query
        np.nan_to_num(cos, copy=False, nan=-np.inf, neginf=-np.inf)
        qi, ri = _local_topk_batch(
            ids, q_ids, cos, min(k + 1, len(ids)), require_finite=True
        )
        return q_ids[qi], ids[ri], cos[ri, qi]

    return _topk_pass(
        corpus, (id_col, vec_col), q_mat.shape[1], k, "cos", "double",
        candidates,
    )


def hyperplane_code(
    vec: Column, planes: int = 8, dims: int = 64, plane_offset: int = 0
) -> Column:
    """Sign-LSH bucket code from deterministic pseudo-random hyperplanes.

    Plane p's component for dimension d is derived from md5(p||','||d),
    mapped into [-1, 1): engine-independent, reproducible, no RNG state.
    Code bit p = sign(v · plane_p). ``plane_offset`` shifts the plane
    indices so independent code tables (OR-construction LSH) share no
    hyperplanes. ``dims`` must equal the embedding width: ``zip_with``
    NULL-pads a mismatch and the projection silently degenerates — the
    DataFrame-level operators validate it (:func:`_resolve_dims`).
    """
    code = F.lit(0).cast("long")
    for p in range(planes):
        comps = F.array(
            *[
                F.lit(_plane_component(plane_offset + p, d))
                for d in range(dims)
            ]
        )
        proj = F.aggregate(
            F.zip_with(_dbl(vec), comps, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        code = code + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return code


def _resolve_dims(df: DataFrame, vec_col: str, dims) -> int:
    """Derive/validate the embedding width (one LIMIT-1 probe job).

    A ``dims`` that disagrees with the data would make every hyperplane
    projection NULL (``zip_with`` pads with NULLs), silently collapsing
    all vectors into code 0 — so mismatch is an error, never a degrade.

    The probe filters to non-NULL vectors first (a NULL embedding in the
    probed row must not fail the job — callers already exclude NULL rows
    from the computation itself). The probed row is otherwise arbitrary;
    on a RAGGED corpus pass ``dims`` explicitly (the mismatch check then
    raises deterministically instead of depending on partition order).
    """
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    actual = None if row is None else row["d"]
    if dims is None:
        if actual is None:
            raise ValueError(
                f"cannot derive dims: '{vec_col}' has no non-NULL rows; "
                f"pass dims="
            )
        return int(actual)
    if actual is not None and int(actual) != int(dims):
        raise ValueError(
            f"dims={dims} does not match {vec_col} width {actual}"
        )
    return int(dims)


def _plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random value in [-1, 1) from md5 — matches the
    DuckDB oracle expression byte for byte."""
    import hashlib

    h = hashlib.md5(f"{p},{d}".encode()).hexdigest()[:15]
    return int(h, 16) / float(1 << 59) - 1.0


def _cell_centroids(corpus: DataFrame, vec_col: str, label_col: str) -> DataFrame:
    """Per-cell mean vectors for the IVF routes: (cell, centroid) rows,
    bounded at cells x d doubles. Shared by :func:`ivf_topk` and
    :func:`ivf_pq_topk` so the probe-selection aggregate is written once.
    NULL-label rows are excluded: a NULL cell can never be probed, so
    including it would only waste one of each query's ``nprobe`` slots."""
    return (
        corpus.where(F.col(label_col).isNotNull())
        .select(F.col(label_col).alias("cell"), F.posexplode(_dbl(F.col(vec_col))))
        .groupBy("cell", "pos")
        .agg(F.avg("col").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("e"))
        .select("cell", F.expr("transform(e, x -> x.m)").alias("centroid"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """IVF-style ANN: coarse cells = per-``label`` centroids (mean vectors);
    each query searches only its ``nprobe`` nearest cells.

    The inverted-file shape at scale: the centroids come from ONE bounded
    aggregate (cells x d doubles, collected); with unlabeled data, plug any
    clustering that yields an (id, cell) assignment. Probe selection runs
    in numpy on the driver (centroid cosine DESC, cell ASC); then
    :func:`_topk_pass` scores each corpus batch's rows against only the
    queries probing their cell. Output schema matches
    :func:`brute_force_topk`, and so do ``max_query_rows`` and the
    integral ``id_col``. Deterministic end to end, so the DuckDB oracle
    reproduces it, with one caveat: a query whose centroid cosines tie
    across the nprobe boundary to within float summation order may probe
    a different (equally near) cell than the mirror.

    NULL-label rows form no cell and are never searched. NULL /
    wrong-width / non-finite rows drop out; an empty (or all-NULL) query
    or corpus side yields an empty result, not an error. Queries of
    another than the modal width return no rows, and a cell whose
    centroid width disagrees (it held an over-long corpus row) is never
    probed.
    """
    q = _collect_queries(queries, id_col, vec_col, max_query_rows, "ivf_topk")
    if q is None:
        return _empty_topk(corpus, "cos", "double")
    q_ids, q_mat = q
    width = q_mat.shape[1]
    q_norm = np.linalg.norm(q_mat, axis=1)
    cent_rows = [
        r
        for r in _cell_centroids(corpus, vec_col, label_col).collect()
        if len(r["centroid"]) == width
    ]
    if not cent_rows:
        return _empty_topk(corpus, "cos", "double")
    cells = np.array([r["cell"] for r in cent_rows])
    cmat = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        ccos = (q_mat @ cmat.T) / np.outer(q_norm, np.linalg.norm(cmat, axis=1))
    np.nan_to_num(ccos, copy=False, nan=-np.inf, neginf=-np.inf)
    # top-nprobe cells per query: centroid cosine DESC, cell ASC
    order = np.lexsort((cells[None, :].repeat(len(q_ids), 0), -ccos), axis=1)
    cell_to_q: dict = {}
    for qi, row in enumerate(cells[order[:, :nprobe]]):
        for c in row:
            cell_to_q.setdefault(c, []).append(qi)

    def candidates(ids, mat, labels):
        labels = np.asarray(labels.to_pylist(), dtype=object)
        probed = np.array([c in cell_to_q for c in labels], dtype=bool)
        ids, mat, labels = ids[probed], mat[probed], labels[probed]
        norms = np.linalg.norm(mat, axis=1)
        # the local top-k runs PER CELL on a dense (cell rows x probing
        # queries) matrix: every entry is a real candidate, so the k-th
        # score never degenerates to -inf and widens to the whole batch
        outs = []
        for c in np.unique(labels):
            ri_c = np.flatnonzero(labels == c)
            qi_c = np.asarray(cell_to_q[c], dtype=np.int64)
            denom = np.outer(norms[ri_c], q_norm[qi_c])
            with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
                sub = np.where(
                    denom > 0.0, (mat[ri_c] @ q_mat[qi_c].T) / denom, -np.inf
                )
            np.nan_to_num(sub, copy=False, nan=-np.inf, neginf=-np.inf)
            qi, ri = _local_topk_batch(
                ids[ri_c], q_ids[qi_c], sub, min(k + 1, len(ri_c)),
                require_finite=True,
            )
            outs.append((q_ids[qi_c][qi], ids[ri_c][ri], sub[ri, qi]))
        if not outs:
            return (), (), ()
        return [np.concatenate(x) for x in zip(*outs)]

    return _topk_pass(
        corpus, (id_col, vec_col, label_col), width, k, "cos", "double",
        candidates,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to equal sign-LSH codes.

    Trades recall for a code-equality join: at 100 TB the corpus shuffles
    once clustered by code (2^planes buckets; plane count tunes bucket
    size), queries broadcast. Output schema matches ``brute_force_topk``.

    ``codes_col`` routes the whole operator through int8 quantized codes
    (:func:`quantize_embeddings`) instead of float vectors — the 100 TB
    path, where the corpus shuffle/broadcast ships 4x fewer bytes.
    Hyperplane bucket signs are scale-invariant under symmetric
    quantization (``code ≈ x/scale`` with ``scale > 0``, so
    ``sign(code·p) = sign(x·p)`` up to rounding), and cosine is
    scale-free, so the quantized route approximates the float route's
    output on the same schema while scoring with exact integer dots
    (bit-reproducible across engines — no summation-order float drift;
    equivalence/recall pinned by ``test_lsh_topk_quantized_route``).
    """
    col = codes_col if codes_col is not None else vec_col
    dims = _resolve_dims(corpus, col, dims)
    if codes_col is not None:
        side_norm = lambda: int_normsq(F.col(col))  # noqa: E731
        score = _int_cos(
            int_dot(F.col("qvec"), F.col("nvec")),
            F.col("qnorm"),
            F.col("nnorm"),
        )
    else:
        side_norm = lambda: norm(F.col(col))  # noqa: E731
        score = F.try_divide(
            dot(F.col("qvec"), F.col("nvec")),
            F.col("qnorm") * F.col("nnorm"),
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(col).alias("qvec"),
        side_norm().alias("qnorm"),
        hyperplane_code(F.col(col), planes, dims).alias("qcode"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(col).alias("nvec"),
        side_norm().alias("nnorm"),
        hyperplane_code(F.col(col), planes, dims).alias("ncode"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("ncode") == F.col("qcode"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        score.alias("cos"),
    ).where(F.col("cos").isNotNull())
    return _rank_topk(scored, "cos", k)


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    k: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
    max_cell: int = 100_000,
    subplanes=None,
    checkpoint: str = "local",
    method: str = "auto",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding space
    with the deterministic k-means (`clustering.kmeans_centroids`), then
    drop every document that has a SAME-CELL neighbor with a smaller id at
    cosine >= ``threshold`` (the standard keep-one-representative policy,
    published as SemDeDup; Abbas et al. 2023, arXiv:2303.09540).

    Returns the input's id column + ``cluster_id`` + ``is_kept``. The
    dominance rule is non-iterative on purpose — "keep the min id of every
    near-dup pair" needs no connected components, one anti-join decides
    each row, and the result is deterministic and oracle-checkable.

    Scale shape (100 TB): assignment is map-only (centroids are literal
    expressions); candidate pairs form ONLY inside one k-means cell via an
    equi-join on ``cluster_id``, the IVF analogue of the LSH bucketing in
    :func:`embedding_neardup_lsh`. A degenerate cell larger than
    ``max_cell`` is sub-bucketed with ``subplanes`` sign-LSH planes before
    pairing (recall inside such cells drops to the LSH collision rate —
    documented approximation; cells below the cap are exact within-cell).
    ``subplanes`` defaults to the scaling law
    ``ceil(log2(max_cell_size / max_cell)) + 2`` (clamped to [1, 30];
    0 when no cell exceeds the cap) so the within-cell quadratic term
    does not return as the corpus grows — explicit values are honored.
    Cross-cell near-dups are missed by construction, exactly SemDeDup's
    published trade-off.

    Shape note (measured, round 5): unlike :func:`embedding_neardup_lsh`
    — whose candidates are few after `max_bucket` + distinct, so vectors
    join back per-id AFTER pair formation — this operator carries the
    vectors THROUGH the cell-bucketed self-join. When candidate pairs
    outnumber corpus rows (coarse cells), the join-back shape costs two
    extra pair-sized shuffles and measured 1.3-2x slower; carrying the
    payload verifies at pair formation with no further join. Pick the
    shape by expected candidates:corpus ratio.

    ``checkpoint``: "local" (default) materializes the assignment with
    ``localCheckpoint`` — fastest, but blocks live only on executors and
    lineage is truncated, so one executor loss fails the job; pass
    "reliable" on cluster-scale runs (requires ``sc.setCheckpointDir``
    on durable storage) to survive executor loss.

    ``method`` picks the k-means distance evaluation (forwarded to
    `clustering.kmeans_centroids`/`kmeans_assign`): "auto" uses codegen'd
    expansion inside the ``k*dims`` envelope and the Arrow+numpy BLAS
    shape above it; "fold"/"expand" are the cross-engine-exact routes
    the oracle-gated callers pin.
    """
    from . import clustering

    # fail fast on knob typos: checkpoint='durable' used to surface only
    # AFTER the full clustering job had already run (ADVICE r6)
    if checkpoint not in ("local", "reliable"):
        raise ValueError(
            f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}"
        )
    if centroids is None:
        centroids = clustering.kmeans_centroids(
            df, vec_col, id_col, k, iters, method
        )
    if not centroids:
        # empty corpus: zero rows with the output schema, like the oracle
        return df.where(F.lit(False)).select(
            F.col(id_col),
            F.lit(None).cast("int").alias("cluster_id"),
            F.lit(True).alias("is_kept"),
        )
    dims = _resolve_dims(df, vec_col, None)
    assigned = clustering.kmeans_assign(df, centroids, vec_col, method).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col("cluster_id"),
    )
    # the checkpoint is load-bearing twice over: (1) the assignment is
    # computed once, not re-derived for the size aggregate and both join
    # sides; (2) it is a hard optimizer barrier — the self-join below
    # derives an isnotnull(cluster_id) predicate that Catalyst would
    # otherwise push beneath kmeans_assign's width filter and evaluate
    # the ANSI-fragile vec[d] arithmetic on raw (possibly ragged) rows.
    # Fault-tolerance trade-off: localCheckpoint blocks live only on
    # executors with lineage truncated, so one executor loss makes the
    # job unrecoverable — fine on a single box / short jobs; cluster-scale
    # runs should pass checkpoint="reliable" (requires
    # sc.setCheckpointDir on durable storage) to survive executor loss.
    if checkpoint == "reliable":
        assigned = assigned.checkpoint(eager=False)
    else:  # "local" — validated at entry
        assigned = assigned.localCheckpoint(eager=False)
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("__cn"))
    if subplanes is None:
        # the sub-bucket scaling law (round-5 probe: the quadratic
        # within-cell pairing term returns at 4x corpus when subplanes
        # stays fixed): enough planes to split the LARGEST oversized cell
        # back to ~max_cell, +2 margin because sign-LSH splits correlated
        # same-cell vectors unevenly (~4x more sub-buckets than a uniform
        # split would need). One k-row aggregate over the checkpointed
        # assignment; pass subplanes explicitly to skip it.
        import math

        row = sizes.agg(F.max("__cn").alias("m")).first()
        max_cn = int(row["m"]) if row is not None and row["m"] is not None else 0
        subplanes = (
            max(1, min(30, math.ceil(math.log2(max_cn / max_cell)) + 2))
            if max_cn > max_cell
            else 0
        )
    coded = (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .withColumn(
            "subcode",
            F.when(
                F.col("__cn") > max_cell,
                hyperplane_code(F.col("vec"), planes=subplanes, dims=dims),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("__cn")
    )
    a = coded.select(
        F.col("cluster_id"), F.col("subcode"),
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        norm(F.col("vec")).alias("na"),
    )
    b = coded.select(
        F.col("cluster_id"), F.col("subcode"),
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        norm(F.col("vec")).alias("nb"),
    )
    dominated = (
        a.join(
            b,
            (a["cluster_id"] == b["cluster_id"])
            & (a["subcode"] == b["subcode"])
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(
            F.try_divide(
                dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
            )
            >= threshold
        )
        .select(F.col("id_b").alias("__dom"))
        .distinct()
    )
    return (
        coded.join(dominated, coded["id"] == dominated["__dom"], "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cluster_id"),
            F.col("__dom").isNull().alias("is_kept"),
        )
    )


def quantize_calibration(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
) -> float:
    """Symmetric scalar-quantization calibration: one bounded aggregate
    over the corpus returns ``scale = max|x| / (2^(bits-1) - 1)`` — the
    step size that maps the widest observed component onto the top code.

    Scale shape: a partial-aggregated global max (one tiny shuffle row
    per task) and a single driver scalar — the same bounded-collect
    budget as a k-means centroid fetch. At 100 TB calibrate on a
    deterministic sample (``df.where(col % m == 0)``) — the max is
    rank-insensitive to sampling in practice and the quantizer clamps
    outliers anyway. NULL embeddings are ignored; an empty/all-NULL
    corpus raises ValueError (no scale is learnable).
    """
    if not 2 <= bits <= 16:
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    qmax = (1 << (bits - 1)) - 1
    row = df.where(F.col(vec_col).isNotNull()).agg(
        F.max(F.array_max(F.transform(_dbl(F.col(vec_col)), F.abs))).alias("m")
    ).first()
    if row is None or row["m"] is None:
        raise ValueError(f"no non-NULL '{vec_col}' rows to calibrate on")
    return float(row["m"]) / qmax


def quantize_embeddings(
    df: DataFrame,
    scale: float,
    vec_col: str = "embedding",
    bits: int = 8,
    out_col: str = "qcodes",
) -> DataFrame:
    """Symmetric scalar quantization of an embedding column to integer
    codes in ``[-(2^(bits-1)-1), 2^(bits-1)-1]``: ``code = clamp(
    floor(x/scale + 0.5))`` — at 8 bits a 4x storage/shuffle-bandwidth
    cut before ANN or near-dup search, the standard compression step a
    100 TB vector pipeline applies before indexing.

    ``scale`` is a LITERAL (from :func:`quantize_calibration` or a
    config), so the transform is map-only whole-stage-codegen'd
    arithmetic — no per-row min/max, no duplicated subexpressions, no
    shuffle. Codes are exact integers: downstream integer math
    (:func:`quantized_topk`) is bit-reproducible across engines, unlike
    float scoring. NULL embeddings pass through as NULL codes.

    The clamp happens in the DOUBLE domain BEFORE floor/cast, so
    out-of-range values (sample-based calibration, corrupt components)
    clamp to the range edges instead of wrapping through the int cast or
    failing the job under ANSI; non-finite components follow Spark's
    comparison rules (±inf clamp to ±qmax, NaN — which compares greater
    than everything — lands on +qmax).
    """
    if not 2 <= bits <= 16:
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    if not scale > 0:
        raise ValueError(f"scale must be > 0, got {scale}")
    qmax = (1 << (bits - 1)) - 1
    codes = F.transform(
        _dbl(F.col(vec_col)),
        lambda x: F.floor(
            F.greatest(
                F.lit(float(-qmax)),
                F.least(
                    F.lit(float(qmax)),
                    x / F.lit(float(scale)) + F.lit(0.5),
                ),
            )
        ).cast("int"),
    )
    return df.withColumn(out_col, codes)


def dequantize_embeddings(
    df: DataFrame,
    scale: float,
    codes_col: str = "qcodes",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``x ≈ code * scale``.
    Reconstruction error is bounded by ``scale/2`` per component (clamped
    outliers excepted). Map-only."""
    if not scale > 0:
        raise ValueError(f"scale must be > 0, got {scale}")
    return df.withColumn(
        out_col,
        F.transform(
            F.col(codes_col), lambda c: c.cast("double") * F.lit(float(scale))
        ),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "qcodes",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Top-k neighbors by INTEGER dot product over quantized codes:
    (query_id, neighbor_id, qdot, rank), self-matches excluded, ties by
    neighbor id. Symmetric quantization preserves dot-product ordering up
    to the (positive) factor ``scale^2``, so ranks approximate the float
    ranking while every score is an exact BIGINT: codes are staged as
    float64, whose products and sums stay exact far beyond any embedding
    width (|code| <= 32767 even at 16 bits -> exact up to ~2^23 dims), so
    the matmul is bit-reproducible across engines and runs.

    Same shape as :func:`brute_force_topk` (``max_query_rows``, integral
    ``id_col``), but the Arrow transfer ships int codes, 4x smaller than
    float64 vectors. NULL / ragged code rows drop out.
    """
    q = _collect_queries(
        queries, id_col, codes_col, max_query_rows, "quantized_topk"
    )
    if q is None:
        return _empty_topk(corpus, "qdot", "long")
    q_ids, q_mat = q

    def candidates(ids, mat):
        dots = mat @ q_mat.T  # exact integers in float64
        # integer dots: no -inf/NaN sentinel, skip the finite gather
        qi, ri = _local_topk_batch(
            ids, q_ids, dots, min(k + 1, len(ids)), require_finite=False
        )
        return q_ids[qi], ids[ri], dots[ri, qi].astype(np.int64)

    return _topk_pass(
        corpus, (id_col, codes_col), q_mat.shape[1], k, "qdot", "long",
        candidates,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) scoring — the
# standard billion-vector compression posture: m subspace codebooks of ksub
# centroids turn a d-dim float vector into m small integer codes
# (d*4 bytes -> m bytes at ksub<=256), and queries score compressed codes
# through a per-query lookup table without ever reconstructing vectors.
# Completes the quantization ladder next to int8 symmetric codes
# (quantize_embeddings) and sign-LSH buckets (hyperplane_code).
# ---------------------------------------------------------------------------


def _pq_shape(codebooks) -> Tuple[int, int]:
    """Validate a PQ codebook list-of-lists and return (m, dsub)."""
    if not codebooks or not all(book for book in codebooks):
        raise ValueError("codebooks must be a non-empty list of non-empty"
                         " per-subspace centroid lists")
    dsub = len(codebooks[0][0])
    for j, book in enumerate(codebooks):
        for cw in book:
            if len(cw) != dsub:
                raise ValueError(
                    f"subspace {j}: codeword width {len(cw)} != {dsub}"
                    " (all codewords must share one sub-dimension)"
                )
    return len(codebooks), dsub


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    dims=None,
    iters: int = 4,
    tol: float = 0.0,
):
    """Train PQ codebooks: deterministic Lloyd's k-means (``ksub``
    centroids) independently on each of ``m`` d/m-dim subspaces. Returns
    ``codebooks[j] = [centroid, ...]`` — plain Python floats, ready to be
    closed over by :func:`pq_encode` / :func:`pq_adc_topk` as constants.

    Determinism is inherited from ``clustering.kmeans_centroids``
    (fixed-point partial sums, order-free under any partitioning; empty
    clusters drop out rather than respawn, so a subspace codebook may
    come back with < ksub codewords — harmless, codes just skip those
    slots). Cost: m independent k-means runs = m x iters bounded corpus
    scans over a dsub-wide slice; at 100 TB train on a deterministic
    sample (``df.where(col(id) % s == 0)``) — codebooks are a model, not
    a per-row computation, exactly like quantize_calibration's scale.
    """
    from .clustering import kmeans_centroids

    d = _resolve_dims(df, vec_col, dims)
    if m < 1 or d % m != 0:
        raise ValueError(f"m={m} must divide the vector width d={d}")
    if ksub < 1:
        raise ValueError(f"ksub must be >= 1, got {ksub}")
    dsub = d // m
    vec = _dbl(F.col(vec_col))
    books = []
    for j in range(m):
        sub = df.where(
            F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == d)
        ).select(
            F.col(id_col),
            F.slice(vec, j * dsub + 1, dsub).alias("__pq_sub"),
        )
        cents = kmeans_centroids(
            sub, vec_col="__pq_sub", id_col=id_col, k=ksub, iters=iters,
            tol=tol,
        )
        books.append([list(map(float, c)) for _, c in cents])
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Map-only PQ encoding: ``out_col`` = array<int> of ``m`` 0-based
    nearest-codeword indices (squared-L2 argmin per subspace, first-index
    tie-break). Every input row and column is kept; a NULL, wrong-width or
    non-finite vector encodes as NULL. The codebooks are closed over, so
    this is per-row arithmetic — no shuffle, no model join; at 8 subspaces
    a 64-dim float vector compresses 256 bytes -> 8 small ints before any
    index build or shuffle.

    A scalar Arrow UDF encodes a whole batch in numpy. The squared
    distances accumulate per sub-dimension left to right (never the
    ||x||^2 - 2x.c + ||c||^2 rearrangement, whose different doubles could
    flip an argmin on a near-tie) and ``argmin`` takes the FIRST minimum,
    so the codes equal the DuckDB mirror's ``list_position(ds,
    list_min(ds))`` bit for bit (the q39 'pq' driver gate).
    """
    m, dsub = _pq_shape(codebooks)
    width = m * dsub
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    out_type = pa.list_(pa.int32())

    def encode(vecs: pa.Array) -> pa.Array:
        mat, ok = _rb_vec_matrix(vecs, width)
        if mat is None:
            return pa.nulls(len(vecs), out_type)
        keep = np.ones(len(vecs), dtype=bool) if ok is None else ok.copy()
        finite = np.isfinite(mat).all(axis=1)
        mat = mat[finite]
        keep[np.flatnonzero(keep)[~finite]] = False
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j, cb in enumerate(books):
            acc = np.zeros((len(mat), len(cb)))
            for t in range(dsub):
                d = mat[:, j * dsub + t, None] - cb[None, :, t]
                acc = acc + d * d
            codes[:, j] = np.argmin(acc, axis=1)
        offsets = np.zeros(len(vecs) + 1, dtype=np.int32)
        np.cumsum(np.where(keep, m, 0), out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(codes.ravel()), mask=pa.array(~keep)
        )

    return df.withColumn(
        out_col, arrow_udf(encode, "array<int>")(F.col(vec_col))
    )


def _pq_lut_col(vec: Column, codebooks) -> Column:
    """Per-row ADC lookup table: array of ``m`` arrays, entry [j][c] =
    <vec_subj, codebook[j][c]>, each dot accumulated left-to-right (the
    fold order every PQ form here mirrors). Subvectors are let-bound so
    the vector expression evaluates once per subspace, not per codeword."""
    from .dedup import _let

    m, dsub = _pq_shape(codebooks)
    dvec = _dbl(vec)

    def sub_lut(j: int) -> Column:
        cb = F.array(
            *[
                F.array(*[F.lit(float(v)) for v in cw])
                for cw in codebooks[j]
            ]
        )

        def body(sub: Column) -> Column:
            return F.transform(
                cb,
                lambda c: F.aggregate(
                    F.zip_with(sub, c, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
            )

        return _let(F.slice(dvec, j * dsub + 1, dsub), body)

    return F.array(*[sub_lut(j) for j in range(m)])


def _pq_adc_expr(lut: Column, codes: Column) -> Column:
    """ADC score: sum_j lut[j][codes_j], folded in subspace order (the
    exact add sequence :func:`pq_adc_topk` and the DuckDB mirrors replay)."""
    return F.aggregate(
        F.zip_with(lut, codes, lambda l, cd: F.element_at(l, cd + 1)),
        F.lit(0.0),
        lambda a, b: a + b,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """IVF-PQ: the standard billion-vector index posture — coarse cells
    prune WHICH rows are scored (:func:`ivf_topk`'s probe rule, here as
    Catalyst joins), product-quantized codes compress WHAT is scored
    (:func:`pq_adc_topk`'s LUT arithmetic). Each query ranks the per-cell mean
    centroids by cosine, keeps its ``nprobe`` nearest cells, and
    ADC-scores only those cells' rows from their m-byte PQ codes.

    At 100 TB this is the only ANN shape that is simultaneously
    sub-linear in rows touched (nprobe/num_cells of the corpus, which a
    cell-partitioned store turns into partition pruning) and sub-linear
    in bytes per row touched (m code bytes, not d floats). The centroid
    table is cells x d doubles (broadcast); probes are a query-bounded
    broadcast; the corpus is never shuffled. Candidates are scored with
    the same fold-order ADC arithmetic as :func:`pq_adc_topk`, so with
    literal codebooks the scores stay engine-reproducible; recall is
    bounded by the probe choice exactly as in :func:`ivf_topk` (raise
    ``nprobe`` to trade scan for recall). Returns
    (query_id, neighbor_id, adc, rank); NULL-label rows are never
    searched, NULL-code rows drop out.

    ``corpus`` needs the raw ``vec_col`` only to build centroids; pass a
    pre-built centroid table at index-build time in production by
    storing cell assignments alongside the codes (this function mirrors
    :func:`ivf_topk`'s build-from-labels shape for oracle parity).
    """
    m, dsub = _pq_shape(codebooks)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    centroids = _cell_centroids(corpus, vec_col, label_col)
    q = queries.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == m * dsub)
    ).select(
        F.col(id_col).alias("query_id"),
        _dbl(F.col(vec_col)).alias("qvec"),
        _pq_lut_col(F.col(vec_col), codebooks).alias("__lut"),
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "__lut",
            "cell",
            cosine(F.col("qvec"), F.col("centroid")).alias("ccos"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("ccos").desc(), F.col("cell").asc()
                )
            ),
        )
        .where(F.col("crank") <= nprobe)
        .select("query_id", "__lut", "cell")
    )
    c = corpus.where(F.col(codes_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(codes_col).alias("__cd"),
        F.col(label_col).alias("cell"),
    )
    scored = c.join(
        F.broadcast(probes),
        (c["cell"] == probes["cell"])
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        _pq_adc_expr(F.col("__lut"), F.col("__cd")).alias("adc"),
    ).where(F.col("adc").isNotNull())
    return _rank_topk(scored, "adc", k)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Top-k by ASYMMETRIC distance computation (ADC): each query builds a
    per-subspace lookup table ``lut[j][c] = <q_subj, codebook[j][c]>``
    from its RAW vector, and every corpus row scores as
    ``sum_j lut[j][code_j]`` — an m-term add chain per (query, doc) pair,
    never a d-term dot, never a reconstructed vector. This is the inner
    product ADC of Jegou et al.'s PQ paper, the standard
    compressed-domain scorer: queries stay uncompressed (asymmetric =
    no query-side quantization error), the corpus stays m bytes/row.

    Same shape as :func:`brute_force_topk` (``max_query_rows``, integral
    ``id_col``); the LUT gather is numpy fancy indexing, and the Arrow
    transfer ships m small ints per row. The tables accumulate one
    sub-dimension at a time and the score one subspace at a time, left to
    right — the DuckDB mirror's add sequence — so scores are bit-identical
    to it. Returns (query_id, neighbor_id, adc, rank), self-pairs
    excluded, ties by neighbor id; rows whose codes are NULL, ragged or
    out of range for their codebook drop out, as do wrong-width and
    non-finite queries.
    """
    m, dsub = _pq_shape(codebooks)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = _collect_queries(
        queries, id_col, vec_col, max_query_rows, "pq_adc_topk",
        width=m * dsub,
    )
    if q is None:
        return _empty_topk(corpus, "adc", "double")
    q_ids, q_mat = q
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sizes = np.array([len(b) for b in books], dtype=np.int64)
    # LUT_j: (ksub_j, nq), accumulated one sub-dimension at a time
    luts = []
    for j, cb in enumerate(books):
        acc = np.zeros((len(q_ids), len(cb)))
        for t in range(dsub):
            acc = acc + np.outer(q_mat[:, j * dsub + t], cb[:, t])
        luts.append(acc.T.copy())

    def candidates(ids, mat):
        codes = mat.astype(np.int64)
        valid = ((codes >= 0) & (codes < sizes)).all(axis=1)
        if not valid.any():
            return (), (), ()
        ids, codes = ids[valid], codes[valid]
        scores = np.zeros((len(codes), len(q_ids)))
        for j in range(m):
            scores = scores + luts[j][codes[:, j]]
        qi, ri = _local_topk_batch(
            ids, q_ids, scores, min(k + 1, len(ids)), require_finite=True
        )
        return q_ids[qi], ids[ri], scores[ri, qi]

    return _topk_pass(
        corpus, (id_col, codes_col), m, k, "adc", "double", candidates
    )
