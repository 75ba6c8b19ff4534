"""Distributed matrix decomposition: Gram matrix + PCA over embedding columns.

The training-data use case: whiten / reduce an ``array<float>`` embedding
column before clustering or ANN indexing (PCA to 8-32 dims is the standard
pre-step for IVF at corpus scale), and audit embedding spaces (spectrum =
how many effective dimensions a provider's vectors really have).

Scale shape (the whole point of the design):

* ``gram_matrix`` computes per-batch ``X^T X`` with one numpy/BLAS matmul
  inside ``mapInPandas`` — each Arrow batch COLLAPSES to one d x d partial
  before anything shuffles, so the exchange carries ``n_batches * d^2``
  scalars (d=64 -> 32 KB per batch), never the vectors themselves. The
  final ``groupBy(i, j).sum`` is a tiny hash aggregate. This is the same
  partial-aggregate discipline as the sketch operators: shuffle size is
  bounded by STRUCTURE size (d^2), independent of row count — at 100 TB
  the reduce side sees megabytes.
* ``pca_components`` augments each vector with a constant 1 so ONE Gram
  pass yields X^T X, the per-dimension sums, and the row count (the
  homogeneous-coordinates trick); the d x d eigendecomposition runs on
  the driver — a bounded collect of d^2 doubles, same budget class as a
  k-means centroid fetch.
* ``pca_project`` is map-only: the component matrix is closed over as
  literals; no shuffle, no second scan of anything but the input.

Integer mode (``integer=True``) runs the matmul on int8 quantization codes
(:func:`~duckdb_ddsketch_spark.operators.similarity.quantize_embeddings`):
every partial and the final sums are exact BIGINTs, so the Gram matrix is
bit-reproducible across engines and partitionings — the drift-proof gate
shape (products ``<= 127^2``; an int64 overflows only past ~5.7e14 rows).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from .similarity import _dbl, _rb_vec_matrix, _resolve_dims

__all__ = [
    "gram_matrix",
    "mahalanobis_scores",
    "pca_components",
    "pca_project",
]


def _width_of(df: DataFrame, vec_col: str, dims: Optional[int]) -> int:
    """Embedding width for the Gram/PCA operators. An EXPLICIT ``dims``
    is authoritative (no probe job): wrong-width rows are skipped per
    batch anyway, so validating against one arbitrarily-probed row would
    turn a single ragged row into a partition-order-dependent job
    failure — the opposite of the skip contract. ``dims=None`` derives
    the width from an arbitrary non-NULL row (pass ``dims`` on ragged
    corpora, as :func:`~.similarity._resolve_dims` documents)."""
    if dims is not None:
        return int(dims)
    return _resolve_dims(df, vec_col, None)


def _gram_partials_fn(vec_col: str, width: int, integer: bool):
    """The per-partition Gram collapse shared by the batch operator and
    the streaming tracker: returns (arrow-iterator fn, output schema)
    for ``mapInArrow``. Each Arrow batch becomes ONE d x d partial (a
    single numpy matmul) read via the zero-copy list-buffer reshape
    (:func:`~.similarity._rb_vec_matrix` — interior NULLs surface as
    NaN, exactly what the pandas conversion produced); NULL /
    wrong-width / non-finite rows are skipped."""
    out_type = "long" if integer else "double"
    schema = f"i int, j int, g {out_type}"

    def part(batches):
        import numpy as np
        import pyarrow as pa

        acc = None
        for rb in batches:
            mat, _ = _rb_vec_matrix(rb.column(0), width)
            if mat is None:
                continue
            # one NaN/inf component would poison every G[i][j] through the
            # accumulated matmul (and np.rint(NaN).astype(int64) is
            # undefined in integer mode) — drop those rows like
            # NULL/ragged ones: one corrupt row must never take out the
            # whole matrix
            finite = np.isfinite(mat).all(axis=1)
            if not finite.all():
                mat = mat[finite]
                if not len(mat):
                    continue
            g = mat.T @ mat
            if integer:
                # cast PER BATCH: the exactness bound (batch rows x
                # max_code^2 < 2^53) holds per Arrow batch; a float64
                # accumulator across a whole partition could drift past
                # 2^53 and break bit-reproducibility across partitionings
                g = np.rint(g).astype(np.int64)
            acc = g if acc is None else acc + g
        if acc is None:
            return
        ii, jj = np.indices(acc.shape)
        pa_type = pa.int64() if integer else pa.float64()
        yield pa.RecordBatch.from_pydict(
            {
                "i": pa.array(ii.ravel(), pa.int32()),
                "j": pa.array(jj.ravel(), pa.int32()),
                "g": pa.array(acc.ravel(), pa_type),
            }
        )

    return part, schema


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: Optional[int] = None,
    integer: bool = False,
) -> DataFrame:
    """d x d Gram matrix ``G[i][j] = sum_rows(x_i * x_j)`` as (i, j, g) rows.

    NULL / wrong-width / non-finite rows are skipped per batch (one
    malformed row must never fail — or poison — a 100 TB job; mirrors the
    ANN BLAS kernels). With ``integer=True`` the input must hold integral
    codes; sums are exact BIGINTs (column ``g`` is ``long``), else ``g``
    is ``double``.

    The per-batch matmul runs in float64 even in integer mode — BLAS speed
    with exact results: |code| <= 32767 even at 16-bit quantization keeps
    every per-batch sum far below 2^53 (batch rows x 127^2 for 8-bit), and
    each batch's partial is cast back to int64 BEFORE accumulating across
    batches, so the per-batch bound is the only exactness requirement and
    the result is bit-identical under any partitioning.
    """
    width = _width_of(df, vec_col, dims)
    part, schema = _gram_partials_fn(vec_col, width, integer)
    out_type = "long" if integer else "double"
    partials = df.select(vec_col).mapInArrow(part, schema=schema)
    return partials.groupBy("i", "j").agg(
        F.sum("g").cast(out_type).alias("g")
    )


def pca_components(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 2,
    dims: Optional[int] = None,
) -> Tuple[List[float], List[List[float]], List[float]]:
    """Top-k principal components of an embedding column, one data pass.

    Returns ``(mean, components, explained_variance)`` as plain Python
    lists: ``mean`` is the per-dimension mean (length d), ``components``
    is k rows of length d (orthonormal, ordered by descending variance),
    ``explained_variance`` the matching k eigenvalues of the sample
    covariance (ddof=1).

    One ``gram_matrix`` pass over vectors augmented with a constant 1
    yields X^T X, the column sums, and n simultaneously (homogeneous
    coordinates); the (d+1)^2 collect is bounded and the ``eigh`` on the
    d x d covariance is driver-side numpy — d is an embedding width, not
    a data size.

    Sign convention: each component is flipped so its
    largest-absolute-magnitude entry is positive — eigenvector sign is
    otherwise arbitrary and would differ across BLAS builds.
    """
    import numpy as np

    width = _width_of(df, vec_col, dims)
    if not 1 <= k <= width:
        raise ValueError(f"k must be in [1, dims={width}], got {k}")
    aug = df.where(F.col(vec_col).isNotNull()).select(
        F.concat(
            _dbl(F.col(vec_col)), F.array(F.lit(1.0))
        ).alias(vec_col)
    )
    rows = gram_matrix(aug, vec_col, dims=width + 1).collect()
    g = np.zeros((width + 1, width + 1))
    for r in rows:
        g[r["i"], r["j"]] = r["g"]
    n = g[width, width]
    if n < 2:
        raise ValueError(
            f"need >= 2 finite width-{width} '{vec_col}' rows, got {int(n)}"
            " (an explicit dims= that matches no row contributes zero rows"
            " — wrong-width rows are skipped, not errors)"
        )
    sums = g[width, :width]
    mean = sums / n
    # sample covariance from the Gram block: (X^T X - n mu mu^T) / (n-1)
    cov = (g[:width, :width] - n * np.outer(mean, mean)) / (n - 1.0)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return (
        mean.tolist(),
        comps.tolist(),
        evals[order].tolist(),
    )


def pca_project(
    df: DataFrame,
    mean: Sequence[float],
    components: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    out_col: str = "pc",
    whiten: Optional[Sequence[float]] = None,
) -> DataFrame:
    """Project vectors onto principal components: ``pc = W (x - mean)``.

    Map-only Catalyst: ``mean`` and each component row are closed over as
    array LITERALS (no per-row recomputation, no join, no shuffle) and
    each coordinate is one ``aggregate(zip_with(...))`` fold. NULL /
    wrong-width vectors project to NULL. Output column is
    ``array<double>`` of length k.

    ``whiten`` takes the matching ``explained_variance`` list and scales
    each coordinate to unit variance (``pc_i / sqrt(ev_i)``) — the form
    downstream cosine/euclidean consumers (SemDeDup, IVF) want when the
    spectrum is skewed. The division folds into the component literals at
    plan-build time: zero runtime cost.

    The fold is interpreted per element (HOF), fine for the d <= a few
    hundred of real embedding pipelines; a corpus-scale reduction that
    feeds ANN indexing should quantize AFTER projection
    (:func:`~.similarity.quantize_embeddings`) so the 4x byte cut applies
    to the reduced width.
    """
    if out_col in df.columns:
        raise ValueError(
            f"out_col {out_col!r} already exists in the frame"
            " (withColumn would silently clobber it)"
        )
    d = len(mean)
    if any(len(c) != d for c in components):
        raise ValueError("every component must have the same width as mean")
    if whiten is not None:
        if len(whiten) != len(components):
            raise ValueError(
                "whiten needs one explained-variance entry per component"
            )
        if any(not ev > 0 for ev in whiten):
            raise ValueError("whiten variances must be > 0")
        components = [
            [c / float(ev) ** 0.5 for c in w]
            for w, ev in zip(components, whiten)
        ]
    # W(x - mean) = Wx - W.mean: fold the centering into one CONSTANT
    # offset per coordinate instead of materializing a centered array.
    # The derived-array form pays the projection-collapse hazard
    # (SCALING.md, similarity section): Catalyst inlines the centering
    # zip_with into EVERY coordinate's fold, recomputing the d-element
    # subtraction k times per row — measured 8x wall on the 1M x 64 -> 8
    # reduction probe (SCALING.md, PCA reduction). One zip_with over
    # the raw stored column per coordinate has no intermediate to inline.
    offsets = [
        sum(float(c) * float(m) for c, m in zip(w, mean))
        for w in components
    ]

    def coord(w: Sequence[float], off: float) -> Column:
        w_lit = F.array(*[F.lit(float(c)) for c in w])
        return (
            F.aggregate(
                F.zip_with(_dbl(F.col(vec_col)), w_lit, lambda x, c: x * c),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            - F.lit(off)
        )

    # the when-guard wraps the WHOLE output array: a ragged/NULL vector
    # yields a NULL column, not an array of k NULLs
    proj = F.when(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == F.lit(d)),
        F.array(
            *[coord(w, off) for w, off in zip(components, offsets)]
        ),
    )
    return df.withColumn(out_col, proj)


def mahalanobis_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: Optional[int] = None,
    out_col: str = "maha_sq",
    variance_floor: float = 1e-9,
    stats: Optional[tuple] = None,
) -> DataFrame:
    """Squared Mahalanobis distance of each vector from the corpus mean —
    the covariance-aware outlier score a training pipeline gates
    embeddings on (corrupt encoder outputs, wrong-model rows, and
    adversarial inserts sit far out in whitened space even when their
    raw norm looks ordinary).

    ``(x - mu)^T Sigma^-1 (x - mu)`` = the squared norm of the WHITENED
    full-rank projection, so this is one :func:`pca_components` pass
    (k = d) plus a map-only fold — no second scan beyond the projection
    itself, no shuffle. Directions whose variance falls below
    ``variance_floor`` are dropped (degenerate/constant dimensions would
    otherwise explode the inverse); the score then lives in the
    remaining r-dim subspace, which is the standard pseudo-inverse
    semantics. NULL / ragged vectors score NULL.

    ``stats=(mean, components, variances)`` skips the
    :func:`pca_components` scan and scores against the given basis —
    the calibrate-once / apply-many split every other normalization
    operator here exposes (compute stats on one corpus snapshot, score
    every later shard map-only), and the seam that lets the scoring
    arithmetic be driver-gated on fixed literals while ``eigh`` itself
    stays pytest-pinned (it is genuinely BLAS-build-sensitive).
    ``variance_floor`` applies to the supplied variances identically.

    At 100 TB: the stats pass is the bounded Gram collect (d^2 doubles);
    scoring is whole-row-parallel with literal matrices. Under a known
    threshold (chi-squared quantile at d dof for Gaussian-ish spaces),
    filter ``maha_sq <= t`` stays map-only and pushes down.
    """
    if out_col in df.columns:
        raise ValueError(
            f"out_col {out_col!r} already exists in the frame"
            " (withColumn would silently clobber it)"
        )
    # collision-free internal temp: a frame that already carries a
    # __maha_pc column (e.g. a prior projection) must not be clobbered
    tmp = "__maha_pc"
    while tmp in df.columns:
        tmp += "_"
    if stats is not None:
        mean, comps, ev = stats
        if len(comps) != len(ev):
            raise ValueError(
                "stats needs one variance per component, got"
                f" {len(comps)} components / {len(ev)} variances"
            )
    else:
        width = _width_of(df, vec_col, dims)
        mean, comps, ev = pca_components(df, vec_col, k=width, dims=width)
    keep = [i for i, v in enumerate(ev) if v > variance_floor]
    comps = [comps[i] for i in keep]
    ev_kept = [ev[i] for i in keep]
    projected = pca_project(
        df, mean, comps, vec_col=vec_col, out_col=tmp,
        whiten=ev_kept,
    )
    score = F.aggregate(
        F.col(tmp), F.lit(0.0), lambda a, x: a + x * x
    )
    return projected.withColumn(out_col, score).drop(tmp)
