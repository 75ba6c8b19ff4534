"""Similarity search over embedding columns (array<float>).

Two paths, as a production ANN pipeline would ship them:

* **brute force** — exact cosine top-k: a self-join with the dot product as
  a native ``aggregate(zip_with(...))`` fold and a per-query ``row_number``
  window. At scale: broadcast the (much smaller) query set against the
  corpus so the corpus never shuffles; norms are precomputed and reused.
* **bucketed (sign-LSH / IVF-style)** — deterministic random hyperplanes
  derived from md5 of (plane, dim) give every vector a bucket code; the join
  is restricted to equal codes (plus optional multi-probe). The shuffle then
  moves (code, id, vec) clustered by code instead of the full cross product.
  The hyperplanes are engine-reproducible (no RNG state), so the operator
  remains oracle-checkable.

All arithmetic is promoted to double before folding so results are stable
across engines to within ulps (absorbed by float32 output casts).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "cosine",
    "dot",
    "int_dot",
    "int_normsq",
    "norm",
    "brute_force_topk",
    "cosine_near_pairs",
    "brute_force_topk_blas",
    "ivf_topk",
    "ivf_topk_blas",
    "hyperplane_code",
    "lsh_topk",
    "embedding_neardup_lsh",
    "semantic_dedup",
    "ivf_pq_topk",
    "pq_adc_topk",
    "pq_adc_topk_blas",
    "pq_encode",
    "pq_encode_blas",
    "pq_train",
    "quantize_calibration",
    "quantize_embeddings",
    "dequantize_embeddings",
    "quantized_topk",
    "quantized_topk_blas",
]


def _i64_ids(col):
    """Arrow id column -> (int64 vector, valid mask or None). Integral
    ids convert zero-copy; a NULL id yields a mask (the row is dropped —
    through pandas it surfaced as NaN and raised; silently casting NaN
    to int64 is undefined). Non-integral id types raise, as documented
    on every BLAS route."""
    import numpy as np
    import pyarrow.types as patypes

    if not patypes.is_integer(col.type):
        raise TypeError(
            f"id column must be an integer type for the BLAS routes;"
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
    """The BLAS routes stage ids as int64 vectors on BOTH sides; the
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
    """Arrow list column -> (float64 matrix, valid-row mask) for the BLAS
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
    import numpy as np

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


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Returns (query_id, neighbor_id, cos, rank), rank 1..k, self-matches
    excluded, ties broken by neighbor id. ``queries`` is broadcast — the
    corpus is scanned once, never shuffled until the tiny top-k window.
    """
    # norms are precomputed per vector: higher-order folds are interpreted
    # (not codegen'd), so hoisting them out of the O(|q|x|c|) join removes
    # two thirds of the per-pair work
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        norm(F.col(vec_col)).alias("nnorm"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.try_divide(dot(F.col("qvec"), F.col("nvec")), F.col("qnorm") * F.col("nnorm")).alias("cos"),
    )
    scored = scored.where(F.col("cos").isNotNull())  # zero-norm rows drop out
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
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
    """Deterministic local top-k over one BLAS batch — the shared kernel
    behind :func:`brute_force_topk_blas` and :func:`quantized_topk_blas`.

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
    import numpy as np

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


def brute_force_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact top-k via Arrow + numpy matmul — the dense-linear-algebra path.

    The fold-based form is pure Catalyst but interprets one lambda step per
    element; for wide embeddings BLAS wins by orders of magnitude. Shape:
    the (small) query matrix is closed over and shipped to every partition;
    ``mapInPandas`` emits only each partition's local top-k per query
    (top-k is distributive), so the final window sees |partitions|·|q|·k
    rows — the corpus itself never shuffles. Results match
    ``brute_force_topk`` up to BLAS summation-order ulps.

    The query side is collected to the driver and closed over, which is the
    point of this verification path — ``max_query_rows`` bounds that collect
    so an oversized query set fails fast instead of OOMing the driver.

    ``id_col`` must be integral (ids are staged as an int64 vector and the
    output schema is ``long``); string/decimal ids raise on the first
    batch. The fold form :func:`brute_force_topk` accepts any id type.
    """
    import numpy as np
    import pandas as pd

    _require_int_ids(queries, id_col, 'brute_force_topk_blas')
    q_rows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"brute_force_topk_blas collects the query set to the driver; got "
            f"more than max_query_rows={max_query_rows} rows. Use lsh_topk or "
            "ivf_topk for large query sets (the scale paths), or raise "
            "max_query_rows explicitly if the driver can hold the matrix."
        )
    # NULL ids drop like the corpus side's _i64_ids mask (np.int64
    # staging would otherwise crash opaquely on None)
    q_rows = [r for r in q_rows if r[0] is not None]
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = (
        "query_id long, neighbor_id long, cos double"
    )

    width = q_mat.shape[1] if q_mat.ndim == 2 else 0

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            # drop NULL / wrong-width corpus rows BEFORE the reshape: a
            # single malformed embedding otherwise makes the batch array
            # ragged and fails np.linalg.norm — one bad row must never
            # fail a 100 TB job (mirrors the Catalyst paths, where such
            # rows produce NULL cos and fall out of top-k). Zero-copy
            # list-buffer reshape on the clean fast path; interior-NULL
            # elements surface as NaN (scored -inf below), exactly what
            # the pandas conversion fed the previous kernel.
            mat, ok = _rb_vec_matrix(rb.column(1), width)
            if mat is None:
                continue
            ids, ok_id = _i64_ids(rb.column(0))
            if ok is not None:
                ids = ids[ok]
                if ok_id is not None:
                    ok_id = ok_id[ok]
            if ok_id is not None:
                # NULL ids: drop the row (a NULL id would otherwise
                # surface as NaN -> undefined int64)
                mat = mat[ok_id]
                ids = ids[ok_id]
                if not len(mat):
                    continue
            norms = np.linalg.norm(mat, axis=1)
            denom = np.outer(norms, q_norm)  # (batch, nq)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0.0, (mat @ q_mat.T) / denom, -np.inf)
            # zero-norm rows score -inf so they can never enter top-k —
            # mirrors the Catalyst paths' try_divide -> NULL semantics.
            # NaN scores (non-finite embedding components) become -inf
            # in place (cos is batch-local, safe to mutate): a NaN would
            # poison the tie-break threshold (cos >= NaN is all-False)
            # and silently drop every finite candidate for that query.
            # neginf must stay -inf: nan_to_num's default would rewrite
            # the zero-norm sentinel to a finite -1.8e308, letting
            # degenerate rows slip past the isfinite filter below
            np.nan_to_num(cos, copy=False, nan=-np.inf, neginf=-np.inf)
            take = min(k + 1, cos.shape[0])
            qi, ri = _local_topk_batch(
                ids, q_ids, cos, take, require_finite=True
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": pa.array(q_ids[qi], pa.int64()),
                    "neighbor_id": pa.array(ids[ri], pa.int64()),
                    "cos": pa.array(cos[ri, qi], pa.float64()),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
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


def _cell_centroids(
    corpus: DataFrame, vec_col: str, label_col: str, integer: bool = False
) -> DataFrame:
    """Per-cell mean vectors for the IVF routes: (cell, centroid) rows,
    bounded at cells x d doubles. Shared by :func:`ivf_topk` (both the
    float and ``codes_col`` branches) and :func:`ivf_topk_blas` so the
    probe-selection aggregate stays expression-identical in one place
    (the documented fold/BLAS parity depends on it). NULL-label rows are
    excluded: a NULL cell can never be probed (the cell equi-join is
    null-rejecting), so including it would only waste one of each
    query's ``nprobe`` slots. ``integer=True`` (the quantized-codes
    route) averages via exact BIGINT component sums and ONE
    correctly-rounded division — engine-reproducible, unlike an
    order-sensitive float avg."""
    if integer:
        src = F.col(vec_col)
        mean = (F.sum("col").cast("double") / F.count("col")).alias("m")
    else:
        src = _dbl(F.col(vec_col))
        mean = F.avg("col").alias("m")
    return (
        corpus.where(F.col(label_col).isNotNull())
        .select(F.col(label_col).alias("cell"), F.posexplode(src))
        .groupBy("cell", "pos")
        .agg(mean)
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
    codes_col: str | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse cells = per-``label`` centroids (mean vectors);
    each query searches only its ``nprobe`` nearest cells.

    The inverted-file shape at scale: centroids are a tiny broadcast table;
    the corpus is (or can be stored) clustered by cell, so a probe reads
    ``nprobe/num_cells`` of the data instead of all of it. Here cells come
    from the existing label column; with unlabeled data, plug any clustering
    that yields a (id, cell) assignment. NULL-label rows form no cell and
    are never searched (the cell equi-join is null-rejecting — both here
    and in :func:`ivf_topk_blas`). Deterministic end to end, so the
    DuckDB oracle reproduces it exactly. Output schema matches
    ``brute_force_topk``.

    ``codes_col`` runs the operator over int8 quantized codes
    (:func:`quantize_embeddings`): cell centroids become exact integer
    sums divided once (no float-summation drift), probe selection uses
    cosine against those centroids (cosine is scale-free, so the nearest
    cells are the float route's cells up to quantization rounding), and
    in-cell scoring uses exact integer dots — the corpus side ships 4x
    fewer bytes through the cell join.
    """
    col = codes_col if codes_col is not None else vec_col
    if codes_col is not None:
        neigh_norm = int_normsq(F.col(col))
        score = _int_cos(
            int_dot(F.col("qvec"), F.col("nvec")),
            int_normsq(F.col("qvec")),
            F.col("nnorm"),
        )
        centroids = _cell_centroids(corpus, col, label_col, integer=True)
    else:
        neigh_norm = norm(F.col(col))
        score = F.try_divide(
            dot(F.col("qvec"), F.col("nvec")),
            norm(F.col("qvec")) * F.col("nnorm"),
        )
        centroids = _cell_centroids(corpus, col, label_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(col).alias("qvec"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "qvec",
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
        .select("query_id", "qvec", "cell")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(col).alias("nvec"),
        neigh_norm.alias("nnorm"),
        F.col(label_col).alias("cell"),
    )
    scored = c.join(
        F.broadcast(probes),
        (c["cell"] == probes["cell"]) & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        score.alias("cos"),
    ).where(F.col("cos").isNotNull())
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """:func:`ivf_topk` on the Arrow + numpy path — the BLAS family's
    bucketed member (with :func:`brute_force_topk_blas` /
    :func:`quantized_topk_blas`). The fold form's in-cell scoring is an
    interpreted HOF per candidate pair; at 1M x 64 x 100 queries that is
    ~40 s where this path runs the same search in ~2 s
    (fold wall measured in SCALING.md "Similarity search"; dim
    reduction AND this kernel both attack it).

    Shape: cell centroids come from ONE bounded Spark aggregate (cells x
    d doubles collected); queries are collected under ``max_query_rows``
    (the same driver-budget guard as the other BLAS routes); probe
    selection runs in numpy; then a single ``mapInArrow`` pass scores
    each partition's rows against only the queries probing their cell —
    the corpus never shuffles, and the final window sees
    |partitions| * |q| * k rows.

    Results match :func:`ivf_topk` up to BLAS summation-order ulps, with
    one caveat: a query whose centroid cosines TIE across the nprobe
    boundary may probe a different cell than the fold form (both orders
    are valid nearest-cell sets; ties are broken cell-ASC in both).
    ``id_col`` must be integral, as for the other BLAS routes. NULL /
    wrong-width / unlabeled corpus rows drop out per batch; an empty (or
    all-NULL) query or corpus side yields an empty result, not an error.
    Ragged inputs degrade rather than crash: the reference width is the
    modal width of the collected queries (ties -> smaller), other-width
    queries return no rows (they score NULL on the fold form), and a
    cell whose centroid width disagrees (it held an over-long corpus
    row) is never probed — the fold form ranks such cells last via NULL
    centroid cosines, so the two routes only diverge on corpora where
    malformed cells would have been probed anyway.
    """
    import numpy as np
    import pandas as pd

    out_full = "query_id long, neighbor_id long, cos double, rank int"

    def _empty():
        return corpus.sparkSession.createDataFrame([], out_full)

    _require_int_ids(queries, id_col, 'ivf_topk_blas')
    q_rows = (
        queries.where(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ivf_topk_blas collects the query set to the driver; got more "
            f"than max_query_rows={max_query_rows} rows. Use ivf_topk (no "
            "driver collect) for large query sets, or raise max_query_rows "
            "explicitly if the driver can hold the matrix."
        )
    if not q_rows:
        return _empty()
    # modal width (ties -> smaller): one ragged query must not decide the
    # width for everyone, and np.array on ragged rows would raise
    widths = sorted({len(r[1]) for r in q_rows})
    counts = {w: 0 for w in widths}
    for r in q_rows:
        counts[len(r[1])] += 1
    width = max(widths, key=lambda w: (counts[w], -w))
    if width == 0:
        return _empty()
    # NULL ids drop like the corpus side's _i64_ids mask
    q_rows = [r for r in q_rows if len(r[1]) == width and r[0] is not None]
    if not q_rows:
        return _empty()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    # cell centroids: the SAME bounded aggregate as the fold form
    # (cells x d doubles); cells whose centroid width disagrees held an
    # over-long corpus row — dropped here (see docstring)
    cent_rows = [
        r
        for r in _cell_centroids(corpus, vec_col, label_col).collect()
        if len(r["centroid"]) == width
    ]
    if not cent_rows:
        return _empty()
    cells = np.array([r["cell"] for r in cent_rows])
    cmat = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        ccos = (q_mat @ cmat.T) / np.outer(q_norm, cnorm)
    np.nan_to_num(ccos, copy=False, nan=-np.inf, neginf=-np.inf)
    # top-nprobe cells per query, ties broken cell ASC (the fold form's
    # row_number orderBy ccos DESC, cell ASC)
    order = np.lexsort((cells[None, :].repeat(len(q_ids), 0), -ccos), axis=1)
    probe_cells = cells[order[:, : min(nprobe, len(cells))]]
    cell_to_q: dict = {}
    for qi, row in enumerate(probe_cells):
        for c in row:
            cell_to_q.setdefault(c, []).append(qi)

    out_schema = "query_id long, neighbor_id long, cos double"

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            mat, ok = _rb_vec_matrix(rb.column(1), width)
            if mat is None:
                continue
            ids, ok_id = _i64_ids(rb.column(0))
            labels = np.asarray(rb.column(2).to_pylist(), dtype=object)
            if ok is not None:
                ids = ids[ok]
                labels = labels[ok]
                if ok_id is not None:
                    ok_id = ok_id[ok]
            if ok_id is not None:
                mat = mat[ok_id]
                ids = ids[ok_id]
                labels = labels[ok_id]
            probed = np.array(
                [c in cell_to_q for c in labels], dtype=bool
            )
            if not probed.any():
                continue
            mat = mat[probed]
            ids = ids[probed]
            labels = labels[probed]
            norms = np.linalg.norm(mat, axis=1)
            # the shared local-top-k kernel runs PER CELL on a dense
            # (cell rows x cell queries) submatrix — every entry is a
            # real candidate score, so the k-th-score threshold never
            # degenerates to -inf (a dense batch x |q| matrix would be
            # mostly -inf here and the widen step would select it all)
            outs = []
            for c in np.unique(labels):
                ri_c = np.nonzero(labels == c)[0]
                qi_c = np.asarray(cell_to_q[c], dtype=np.int64)
                denom = np.outer(norms[ri_c], q_norm[qi_c])
                with np.errstate(divide="ignore", invalid="ignore"):
                    sub = np.where(
                        denom > 0.0, (mat[ri_c] @ q_mat[qi_c].T) / denom,
                        -np.inf,
                    )
                np.nan_to_num(sub, copy=False, nan=-np.inf, neginf=-np.inf)
                take = min(k + 1, sub.shape[0])
                qi, ri = _local_topk_batch(
                    ids[ri_c], q_ids[qi_c], sub, take, require_finite=True
                )
                outs.append(
                    (q_ids[qi_c][qi], ids[ri_c][ri], sub[ri, qi])
                )
            if outs:
                yield pa.RecordBatch.from_pydict(
                    {
                        "query_id": pa.array(
                            np.concatenate([o[0] for o in outs]), pa.int64()
                        ),
                        "neighbor_id": pa.array(
                            np.concatenate([o[1] for o in outs]), pa.int64()
                        ),
                        "cos": pa.array(
                            np.concatenate([o[2] for o in outs]),
                            pa.float64(),
                        ),
                    }
                )

    scored = corpus.select(id_col, vec_col, label_col).mapInArrow(
        score, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


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
) -> DataFrame:
    """Top-k neighbors by INTEGER dot product over quantized codes:
    (query_id, neighbor_id, qdot, rank), self-matches excluded, ties by
    neighbor id. Symmetric quantization preserves dot-product ordering up
    to the (positive) factor ``scale^2``, so ranks approximate the float
    ranking while every score is an exact BIGINT — bit-reproducible
    across engines and runs, immune to summation-order float drift.

    Same scale shape as :func:`brute_force_topk`: queries broadcast, the
    corpus scanned once and never shuffled until the tiny per-query
    top-k window. NULL code rows drop out.
    """
    q = queries.where(F.col(codes_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(codes_col).alias("qa")
    )
    c = corpus.where(F.col(codes_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("qb")
    )
    # same double-domain fold as int_dot: exact for integer codes far
    # past any embedding width, ~4x faster than the ANSI-checked integer
    # fold inside the interpreted HOF
    qdot = int_dot(F.col("qa"), F.col("qb"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", qdot.alias("qdot"))
        # ragged-width pairs fold to NULL (zip_with pads the shorter array
        # with NULLs) — drop them outright so the fold and BLAS forms stay
        # bit-identical at ANY k, instead of relying on NULLS-LAST ordering
        .where(F.col("qdot").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "rank")
    )


def quantized_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "qcodes",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """:func:`quantized_topk` on the Arrow + numpy path — BLAS matmul
    speed with EXACT integer results: int codes are staged as float64,
    whose products/sums stay exact far beyond any embedding width
    (|code| <= 32767 even at 16 bits -> exact up to ~2^23 dims), so the
    output is bit-identical to the fold-based form, not ulp-close like
    the float cosine paths. Same scale shape as
    :func:`brute_force_topk_blas`: bounded query collect, corpus never
    shuffles, |partitions|*|q|*k rows into the final window — but the
    Arrow transfer ships int codes, 4x smaller than float64 vectors.
    NULL / ragged code rows drop out per batch.

    ``id_col`` must be integral (the BLAS batch stages ids as an int64
    vector and the output schema is ``long``, like
    :func:`brute_force_topk_blas`); string/decimal ids raise on the
    first batch. The fold form :func:`quantized_topk` has no such
    restriction — the bit-identical claim holds on the shared domain.
    """
    import numpy as np
    import pandas as pd

    _require_int_ids(queries, id_col, 'quantized_topk_blas')
    q_rows = (
        queries.where(F.col(codes_col).isNotNull())
        .select(id_col, codes_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"quantized_topk_blas collects the query set to the driver; got "
            f"more than max_query_rows={max_query_rows} rows. For large "
            "query sets use quantized_topk (no driver collect) or "
            "dequantize and route through the lsh_topk/ivf_topk scale "
            "paths; or raise max_query_rows explicitly if the driver can "
            "hold the matrix."
        )
    # NULL ids drop like the corpus side's _i64_ids mask
    q_rows = [r for r in q_rows if r[0] is not None]
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, qdot long, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    width = q_mat.shape[1] if q_mat.ndim == 2 else 0

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            mat, ok = _rb_vec_matrix(rb.column(1), width)
            if mat is None:
                continue
            ids, ok_id = _i64_ids(rb.column(0))
            if ok is not None:
                ids = ids[ok]
                if ok_id is not None:
                    ok_id = ok_id[ok]
            if ok_id is not None:
                mat = mat[ok_id]
                ids = ids[ok_id]
                if not len(mat):
                    continue
            # a code row with an interior NULL (NaN after the reshape)
            # is malformed: drop it like the fold form, whose int_dot
            # folds it to NULL — previously a NaN dot reached the
            # int64 cast below with undefined astype semantics
            finite = np.isfinite(mat).all(axis=1)
            if not finite.all():
                mat = mat[finite]
                ids = ids[finite]
                if not len(mat):
                    continue
            dots = mat @ q_mat.T  # (batch, nq) — exact integers in f64
            take = min(k + 1, dots.shape[0])
            # integer dots: no -inf/NaN sentinel, skip the finite gather
            qi, ri = _local_topk_batch(
                ids, q_ids, dots, take, require_finite=False
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": pa.array(q_ids[qi], pa.int64()),
                    "neighbor_id": pa.array(ids[ri], pa.int64()),
                    "qdot": pa.array(
                        dots[ri, qi].astype(np.int64), pa.int64()
                    ),
                }
            )

    scored = corpus.select(id_col, codes_col).mapInArrow(
        score, schema="query_id long, neighbor_id long, qdot long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "qdot", "rank")
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
    baked into :func:`pq_encode` / :func:`pq_adc_topk` as literals.

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


def _pq_code_expr(vec: Column, codebooks, j: int, dsub: int) -> Column:
    """0-based nearest-codeword index for subspace ``j`` — squared-L2
    argmin with first-index tie-break (array_position finds the FIRST
    min, mirroring DuckDB's list_position). Both the subvector and the
    distance array are let-bound so the slice and every (x-c)^2 term are
    evaluated exactly once (see dedup._let — without the binding the
    subvector tree would inline into all ksub distance lambdas)."""
    from .dedup import _let

    cb = F.array(
        *[
            F.array(*[F.lit(float(v)) for v in cw])
            for cw in codebooks[j]
        ]
    )

    def dists(sub: Column) -> Column:
        return F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        )

    return _let(
        F.slice(vec, j * dsub + 1, dsub),
        lambda sub: _let(
            dists(sub),
            lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast(
                "int"
            ),
        ),
    )


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Map-only PQ encoding: ``out_col`` = array<int> of ``m`` 0-based
    nearest-codeword indices (squared-L2 argmin per subspace, first-index
    tie-break). The codebooks are LITERALS, so this is pure per-row
    arithmetic — no shuffle, no model join, whole-row parallel at any
    scale; at 8 subspaces a 64-dim float vector compresses 256 bytes ->
    8 small ints before any index build or shuffle. NULL or wrong-width
    vectors encode as NULL.

    Every engine computing the same IEEE ops in the same order gets the
    same doubles, so with literal codebooks the codes — and everything
    downstream of them — are reproducible cross-engine (the q39 'pq'
    driver gate runs exactly this against a DuckDB mirror).
    """
    m, dsub = _pq_shape(codebooks)
    vec = _dbl(F.col(vec_col))
    codes = F.array(
        *[_pq_code_expr(vec, codebooks, j, dsub) for j in range(m)]
    )
    guarded = F.when(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) == m * dsub),
        codes,
    )
    return df.withColumn(out_col, guarded)


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
    exact add sequence the BLAS form and the DuckDB mirrors replay)."""
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
    prune WHICH rows are scored (:func:`ivf_topk`'s probe machinery),
    product-quantized codes compress WHAT is scored (:func:`pq_adc_topk`'s
    broadcast-LUT arithmetic). Each query ranks the per-cell mean
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by ASYMMETRIC distance computation (ADC): each query builds a
    per-subspace lookup table ``lut[j][c] = <q_subj, codebook[j][c]>``
    map-side from its RAW vector, and every corpus row scores as
    ``sum_j lut[j][code_j]`` — an m-term add chain per (query, doc) pair,
    never a d-term dot, never a reconstructed vector. This is the inner
    product ADC of Jegou et al.'s PQ paper, the standard
    compressed-domain scorer: queries stay uncompressed (asymmetric =
    no query-side quantization error), the corpus stays m bytes/row.

    Scale shape — identical envelope to :func:`brute_force_topk`: the
    query side (with its model-sized LUT column, m x ksub doubles per
    query) broadcasts; the corpus is scanned once, never shuffled until
    the tiny per-query top-k window; compose with the IVF/LSH bucketers
    upstream to prune candidates exactly as with raw vectors. Returns
    (query_id, neighbor_id, adc, rank), self-pairs excluded, ties by
    neighbor id; NULL codes / wrong-width queries drop out.
    """
    m, dsub = _pq_shape(codebooks)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = queries.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == m * dsub)
    ).select(
        F.col(id_col).alias("query_id"),
        _pq_lut_col(F.col(vec_col), codebooks).alias("__lut"),
    )
    c = corpus.where(F.col(codes_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("__cd")
    )
    adc = _pq_adc_expr(F.col("__lut"), F.col("__cd"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
        .where(F.col("adc").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )


def pq_encode_blas(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """:func:`pq_encode` on the Arrow + numpy path — returns
    (id_col, out_col) with BIT-IDENTICAL codes: the squared-L2 distances
    accumulate per sub-dimension in the same left-to-right order as the
    expression form's fold (never the ||x||^2 - 2x.c + ||c||^2
    rearrangement, whose different doubles could flip an argmin on a
    near-tie), and numpy's argmin takes the FIRST minimum exactly like
    array_position. Map-only (mapInArrow), corpus never shuffles; use for
    bulk encoding where the interpreted-HOF expression form's per-row
    lambda overhead dominates (measured ~10x on the 2M x 128 bench
    shape). NULL / ragged / non-finite vectors drop out (the expression
    form keeps them as NULL-code rows — select its output when you need
    one row per input).

    ``id_col`` must be integral (ids stage as an int64 vector), like the
    other _blas forms.
    """
    import numpy as np

    m, dsub = _pq_shape(codebooks)
    _require_int_ids(df, id_col, "pq_encode_blas")
    width = m * dsub
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    def encode(batches):
        import pyarrow as pa

        for rb in batches:
            mat, ok = _rb_vec_matrix(rb.column(1), width)
            if mat is None:
                continue
            ids, ok_id = _i64_ids(rb.column(0))
            if ok is not None:
                ids = ids[ok]
                if ok_id is not None:
                    ok_id = ok_id[ok]
            if ok_id is not None:
                mat = mat[ok_id]
                ids = ids[ok_id]
            if not len(mat):
                continue
            finite = np.isfinite(mat).all(axis=1)
            if not finite.all():
                mat = mat[finite]
                ids = ids[finite]
                if not len(mat):
                    continue
            codes = np.empty((mat.shape[0], m), dtype=np.int32)
            for j, cb in enumerate(books):
                acc = np.zeros((mat.shape[0], cb.shape[0]))
                off = j * dsub
                for t in range(dsub):
                    d = mat[:, off + t, None] - cb[None, :, t]
                    acc = acc + d * d
                codes[:, j] = np.argmin(acc, axis=1)  # first min, like
                # array_position(ds, array_min(ds))
            yield pa.RecordBatch.from_pydict(
                {
                    "i": pa.array(ids, pa.int64()),
                    "c": pa.array(list(codes), pa.list_(pa.int32())),
                }
            )

    return df.select(id_col, vec_col).mapInArrow(
        encode, schema="i long, c array<int>"
    ).select(F.col("i").alias(id_col), F.col("c").alias(out_col))


def pq_adc_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """:func:`pq_adc_topk` on the Arrow + numpy path, BIT-IDENTICAL to
    the expression form: the per-query lookup tables accumulate one
    sub-dimension at a time and the ADC score one subspace at a time —
    the same add sequence as the folds — so scores, ranks, and tie-breaks
    match exactly (pinned in pytest). The LUT gather (score[b, q] =
    sum_j LUT_j[code_bj, q]) is numpy fancy indexing, the operation ADC
    exists for. Same envelope as the other _blas top-ks: bounded query
    collect, corpus codes stream through mapInArrow, never shuffled,
    |partitions| x |q| x k rows into the final window; the Arrow transfer
    ships m small ints per row — at m=16 over 128 dims that is 64x fewer
    bytes than the float64 vectors. Rows whose codes are NULL, ragged,
    or out of range for their codebook drop out.
    """
    import numpy as np

    m, dsub = _pq_shape(codebooks)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _require_int_ids(queries, id_col, "pq_adc_topk_blas")
    q_rows = (
        queries.where(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == m * dsub)
        )
        .select(id_col, vec_col)
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"pq_adc_topk_blas collects the query set to the driver; got "
            f"more than max_query_rows={max_query_rows} rows. Use "
            "pq_adc_topk (no driver collect) for large query sets, or "
            "raise max_query_rows explicitly."
        )
    q_rows = [r for r in q_rows if r[0] is not None]
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, adc double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sizes = np.array([b.shape[0] for b in books], dtype=np.int64)
    # LUT_j: (ksub_j, nq), accumulated in the expression fold's order
    luts = []
    for j, cb in enumerate(books):
        acc = np.zeros((len(q_rows), cb.shape[0]))
        off = j * dsub
        for t in range(dsub):
            acc = acc + np.outer(q_mat[:, off + t], cb[:, t])
        luts.append(acc.T.copy())

    def score(batches):
        import pyarrow as pa

        for rb in batches:
            mat, ok = _rb_vec_matrix(rb.column(1), m)
            if mat is None:
                continue
            ids, ok_id = _i64_ids(rb.column(0))
            if ok is not None:
                ids = ids[ok]
                if ok_id is not None:
                    ok_id = ok_id[ok]
            if ok_id is not None:
                mat = mat[ok_id]
                ids = ids[ok_id]
            if not len(mat):
                continue
            finite = np.isfinite(mat).all(axis=1)
            if not finite.all():
                mat = mat[finite]
                ids = ids[finite]
                if not len(mat):
                    continue
            cint = mat.astype(np.int64)
            valid = ((cint >= 0) & (cint < sizes[None, :])).all(axis=1)
            if not valid.all():
                cint = cint[valid]
                ids = ids[valid]
                if not len(cint):
                    continue
            scores = np.zeros((cint.shape[0], len(q_ids)))
            for j in range(m):
                scores = scores + luts[j][cint[:, j]]
            # self-pairs are dropped inside _local_topk_batch (take k+1
            # absorbs the lost slot); require_finite guards NaN query
            # components flowing through the LUT
            take = min(k + 1, scores.shape[0])
            qi, ri = _local_topk_batch(
                ids, q_ids, scores, take, require_finite=True
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": pa.array(q_ids[qi], pa.int64()),
                    "neighbor_id": pa.array(ids[ri], pa.int64()),
                    "adc": pa.array(scores[ri, qi], pa.float64()),
                }
            )

    scored = corpus.select(id_col, codes_col).mapInArrow(
        score, schema="query_id long, neighbor_id long, adc double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc", "rank")
    )
