"""Scalar ddsketch_* functions as Arrow UDFs.

Each mirrors one scalar function of the reference extension (signatures and
NULL semantics from its src/lib.rs) and is written as a plain per-row
function under one decorator, ``_scalar``, which owns the row rule:

    NULL argument, undecodable blob, or a kernel ValueError/ArithmeticError
    → NULL

(lib.rs:154-157, 191-194, 296-299). Arguments annotated ``DDSketch`` arrive
decoded by ``decode_or_none``. The kernel errors are a mapping
``value_to_bin`` cannot evaluate, a merge mismatch (``SketchMergeError``,
lib.rs:241-243), a refining downsample and a relative accuracy outside
(0, 1). NULL for a struct result is a struct of NULL fields, and a NaN
result is NULL. The remaining NULLs are the kernel's: an empty sketch has
count 0 and every other stat NULL (lib.rs:341-344, 388-395), and ``q``
outside [0, 1] gives NULL (datadog_encoding.rs:656-658).

These are the *parity* path: every call decodes and (for add/merge) re-encodes
the sketch, exactly like the reference's stated per-call cost. Bulk pipelines
should use the native path (operators/native.py), which keeps sketches in
binned form and touches Python only at the wire boundary.
"""

from __future__ import annotations

import inspect
import math

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY, decode_or_none

__all__ = [
    "ddsketch_create",
    "ddsketch_empty",
    "ddsketch_add",
    "ddsketch_merge",
    "ddsketch_quantile",
    "ddsketch_quantiles",
    "ddsketch_cdf",
    "ddsketch_trimmed_mean",
    "ddsketch_downsample",
    "ddsketch_count",
    "ddsketch_min",
    "ddsketch_max",
    "ddsketch_sum",
    "ddsketch_avg",
    "ddsketch_stats",
    "ddsketch_stats_full",
    "ddsketch_prepare",
    "ddsketch_prepare_sql",
    "STATS_SCHEMA",
    "STATS_FULL_SCHEMA",
]

STATS_SCHEMA = StructType(
    [
        StructField("count", LongType()),
        StructField("sum", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
        StructField("avg", DoubleType()),
    ]
)

# ddsketch_stats_agg's return struct (lib.rs:898-949): merged sketch + stats +
# the six canonical quantiles, computed in one decode pass.
STATS_FULL_SCHEMA = StructType(
    [
        StructField("sketch", BinaryType()),
        StructField("count", LongType()),
        StructField("sum", DoubleType()),
        StructField("avg", DoubleType()),
        StructField("min", DoubleType()),
        StructField("max", DoubleType()),
        StructField("p25", DoubleType()),
        StructField("p50", DoubleType()),
        StructField("p75", DoubleType()),
        StructField("p90", DoubleType()),
        StructField("p95", DoubleType()),
        StructField("p99", DoubleType()),
    ]
)


def _scalar(return_type: DataType):
    """Register a per-row function as a scalar Arrow UDF under the row rule
    of the module docstring. The UDF keeps the function's name, so
    DataFrame-API column names read ``fn(args)``."""
    arrow_type = to_arrow_type(return_type)
    null = (
        (None,) * len(return_type.fields)
        if isinstance(return_type, StructType)
        else None
    )

    def wrap(fn):
        params = inspect.signature(fn, eval_str=True).parameters.values()
        decode = [p.annotation is DDSketch for p in params]

        def row(args: tuple):
            if any(a is None for a in args):
                return null
            try:
                return fn(*args)
            except (ValueError, ArithmeticError):
                return null

        def run(*cols: pa.Array) -> pa.Array:
            values = [
                map(decode_or_none, c.to_pylist()) if d else c.to_pylist()
                for c, d in zip(cols, decode)
            ]
            # from_pandas: a NaN result is NULL
            return pa.array(
                [row(args) for args in zip(*values)], arrow_type, from_pandas=True
            )

        run.__name__ = run.__qualname__ = fn.__name__
        run.__doc__ = fn.__doc__
        return arrow_udf(return_type)(run)

    return wrap


def ddsketch_create(relative_accuracy: float = DEFAULT_RELATIVE_ACCURACY) -> bytes:
    """Driver-side constructor: serialized empty sketch (the reference's
    one-row table function, lib.rs:53-113, reduced to its essence)."""
    return DDSketch(relative_accuracy).encode()


@_scalar(BinaryType())
def ddsketch_empty(alpha: float):
    """SQL-callable constructor: ``ddsketch_empty(0.01)`` → empty sketch."""
    return DDSketch(float(alpha)).encode()


def _added(s: DDSketch, v) -> bytes | None:
    v = float(v)
    if math.isnan(v):  # the kernel would skip it; the row is NULL
        return None
    s.add(v)
    return s.encode()


@_scalar(BinaryType())
def ddsketch_add(s: DDSketch, v: float):
    return _added(s, v)


@_scalar(BinaryType())
def ddsketch_merge(a: DDSketch, b: DDSketch):
    a.merge(b)
    return a.encode()


@_scalar(DoubleType())
def ddsketch_quantile(s: DDSketch, q: float):
    return s.quantile(float(q))


@_scalar(ArrayType(DoubleType()))
def ddsketch_quantiles(s: DDSketch, qs: list):
    """Array form: every requested quantile from ONE decode —
    ``ddsketch_quantiles(s, array(0.5d, 0.95d, 0.99d))``. Amortizes the
    per-call deserialization the reference flags as its main scalar cost
    (README.md:236-237, the rationale for stats_agg). A NULL element gives
    a NULL element."""
    return [None if q is None else s.quantile(float(q)) for q in qs]


@_scalar(BinaryType())
def ddsketch_downsample(s: DDSketch, alpha: float):
    """Beyond-reference: re-encode a sketch at a coarser relative accuracy
    (DDSketch.downsample), so stores built at different accuracies become
    mergeable — the reference can only reject such merges
    (datadog_encoding.rs:598-607). A refining target is NULL."""
    return s.downsample(float(alpha)).encode()


@_scalar(DoubleType())
def ddsketch_cdf(s: DDSketch, v: float):
    """Beyond-reference inverse of ``ddsketch_quantile``: fraction of values
    <= v at bin granularity (see DDSketch.cdf). An empty sketch is NULL."""
    return s.cdf(float(v))


@_scalar(DoubleType())
def ddsketch_trimmed_mean(s: DDSketch, q_lo: float, q_hi: float):
    """Beyond-reference rank-windowed (trimmed) mean — the interquartile
    mean for (0.25, 0.75); see DDSketch.trimmed_mean. An empty window is
    NULL."""
    return s.trimmed_mean(float(q_lo), float(q_hi))


@_scalar(LongType())
def ddsketch_count(s: DDSketch):
    return s.get_count()


@_scalar(DoubleType())
def ddsketch_min(s: DDSketch):
    return s.get_min()


@_scalar(DoubleType())
def ddsketch_max(s: DDSketch):
    return s.get_max()


@_scalar(DoubleType())
def ddsketch_sum(s: DDSketch):
    return s.get_sum()


@_scalar(DoubleType())
def ddsketch_avg(s: DDSketch):
    return s.get_avg()


@_scalar(STATS_SCHEMA)
def ddsketch_stats(s: DDSketch):
    """One-pass stats struct (count, sum, min, max, avg) — lib.rs:559-622."""
    return (s.get_count(), s.get_sum(), s.get_min(), s.get_max(), s.get_avg())


_STATS_QUANTILES = (0.25, 0.50, 0.75, 0.90, 0.95, 0.99)


def stats_full_row(blob) -> tuple:
    """One ``STATS_FULL_SCHEMA`` row from a wire blob: the stats and the six
    quantiles off one decode (lib.rs:811-895). A NULL or undecodable blob
    gives 12 NULLs."""
    s = decode_or_none(blob)
    if s is None:
        return (None,) * len(STATS_FULL_SCHEMA.fields)
    return (
        bytes(blob),
        s.get_count(),
        s.get_sum(),
        s.get_avg(),
        s.get_min(),
        s.get_max(),
        *(s.quantile(q) for q in _STATS_QUANTILES),
    )


@_scalar(STATS_FULL_SCHEMA)
def ddsketch_stats_full(blob: bytes):
    """``ddsketch_stats_agg``'s struct for one stored blob: all stats + 6
    quantiles in one decode (lib.rs:811-895). The blob is passed through
    undecoded, since the struct carries its bytes."""
    return stats_full_row(blob)


def ddsketch_prepare(value_col, alpha: float = DEFAULT_RELATIVE_ACCURACY):
    """Column helper: one-value sketch per row (bulk-ingest building block).

    ``ddsketch_prepare(F.col("v"))`` ≡ ``ddsketch_add(lit(empty), v)`` but
    without decoding an empty sketch per row. A bad ``alpha`` raises here.
    """
    DDSketch(alpha)
    return ddsketch_prepare_sql(value_col, F.lit(float(alpha)))


@_scalar(BinaryType())
def ddsketch_prepare_sql(v: float, alpha: float):
    """SQL form of :func:`ddsketch_prepare`:
    ``ddsketch_prepare(v, 0.01d)`` → one-value sketch per row."""
    return _added(DDSketch(float(alpha)), v)
