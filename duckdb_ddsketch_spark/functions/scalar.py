"""Scalar ddsketch_* functions as Arrow-vectorized pandas UDFs.

Each mirrors one scalar function of the reference extension (signatures and
NULL semantics from /root/reference/src/lib.rs):

* NULL input → NULL output (lib.rs:154-157, 175-178 manual NULL propagation);
* undecodable blob → NULL (lib.rs:191-194, 296-299);
* empty sketch → count 0, everything else NULL (lib.rs:341-344, 388-395);
* ``q`` outside [0, 1] → NULL (datadog_encoding.rs:656-658).

These are the *parity* path: every call decodes and (for add/merge) re-encodes
the sketch, exactly like the reference's stated per-call cost. Bulk pipelines
should use the native path (operators/native.py), which keeps sketches in
binned form and touches Python only at the wire boundary.
"""

from __future__ import annotations

import math
from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY

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


def _try_decode(blob) -> Optional[DDSketch]:
    if blob is None:
        return None
    try:
        return DDSketch.decode(bytes(blob))
    except Exception:
        return None


def ddsketch_create(relative_accuracy: float = DEFAULT_RELATIVE_ACCURACY) -> bytes:
    """Driver-side constructor: serialized empty sketch (the reference's
    one-row table function, lib.rs:53-113, reduced to its essence)."""
    return DDSketch(relative_accuracy).encode()


@pandas_udf(BinaryType())
def ddsketch_empty(alpha: pd.Series) -> pd.Series:
    """SQL-callable constructor: ``ddsketch_empty(0.01)`` → empty sketch."""
    return alpha.map(
        lambda a: DDSketch(float(a)).encode() if a is not None else None
    )


@pandas_udf(BinaryType())
def ddsketch_add(sketch: pd.Series, value: pd.Series) -> pd.Series:
    def go(blob, v):
        s = _try_decode(blob)
        if s is None or v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        s.add(float(v))
        return s.encode()

    return pd.Series(
        [go(b, v) for b, v in zip(sketch, value)], dtype=object
    )


@pandas_udf(BinaryType())
def ddsketch_merge(s1: pd.Series, s2: pd.Series) -> pd.Series:
    def go(b1, b2):
        a = _try_decode(b1)
        b = _try_decode(b2)
        if a is None or b is None:
            return None
        try:
            a.merge(b)
        except Exception:
            # gamma / index_offset mismatch → NULL (lib.rs:241-243)
            return None
        return a.encode()

    return pd.Series([go(a, b) for a, b in zip(s1, s2)], dtype=object)


@pandas_udf(DoubleType())
def ddsketch_quantile(sketch: pd.Series, q: pd.Series) -> pd.Series:
    def go(blob, quantile):
        s = _try_decode(blob)
        if s is None or quantile is None:
            return None
        return s.quantile(float(quantile))

    return pd.Series(
        [go(b, v) for b, v in zip(sketch, q)], dtype="float64"
    )


@pandas_udf(ArrayType(DoubleType()))
def ddsketch_quantiles(sketch: pd.Series, qs: pd.Series) -> pd.Series:
    """Array form: every requested quantile from ONE decode —
    ``ddsketch_quantiles(s, array(0.5d, 0.95d, 0.99d))``. Amortizes the
    per-call deserialization the reference flags as its main scalar cost
    (README.md:236-237, the rationale for stats_agg)."""

    def go(blob, quantiles):
        s = _try_decode(blob)
        if s is None or quantiles is None:
            return None
        return [s.quantile(float(q)) if q is not None else None for q in quantiles]

    return pd.Series([go(b, q) for b, q in zip(sketch, qs)], dtype=object)


@pandas_udf(BinaryType())
def ddsketch_downsample(sketch: pd.Series, alpha: pd.Series) -> pd.Series:
    """Beyond-reference: re-encode a sketch at a coarser relative accuracy
    (DDSketch.downsample), so stores built at different accuracies become
    mergeable — the reference can only reject such merges
    (datadog_encoding.rs:598-607). Bad blob/NULL input/refining target ->
    NULL."""

    def go(blob, a):
        s = _try_decode(blob)
        if s is None or a is None:
            return None
        try:
            return s.downsample(float(a)).encode()
        except ValueError:
            return None

    return pd.Series([go(b, a) for b, a in zip(sketch, alpha)], dtype=object)


@pandas_udf(DoubleType())
def ddsketch_cdf(sketch: pd.Series, v: pd.Series) -> pd.Series:
    """Beyond-reference inverse of ``ddsketch_quantile``: fraction of values
    <= v at bin granularity (see DDSketch.cdf). NULL semantics match the
    other scalars: bad blob/NULL input/empty sketch -> NULL."""

    def go(blob, value):
        s = _try_decode(blob)
        if s is None or value is None:
            return None
        return s.cdf(float(value))

    return pd.Series([go(b, x) for b, x in zip(sketch, v)], dtype="float64")


@pandas_udf(DoubleType())
def ddsketch_trimmed_mean(
    sketch: pd.Series, q_lo: pd.Series, q_hi: pd.Series
) -> pd.Series:
    """Beyond-reference rank-windowed (trimmed) mean — the interquartile
    mean for (0.25, 0.75); see DDSketch.trimmed_mean. NULL semantics match
    the other scalars: bad blob/NULL/empty window -> NULL."""

    def go(blob, lo, hi):
        s = _try_decode(blob)
        if s is None or lo is None or hi is None:
            return None
        return s.trimmed_mean(float(lo), float(hi))

    return pd.Series(
        [go(b, lo, hi) for b, lo, hi in zip(sketch, q_lo, q_hi)],
        dtype="float64",
    )


@pandas_udf(LongType())
def ddsketch_count(sketch: pd.Series) -> pd.Series:
    def go(blob):
        s = _try_decode(blob)
        return None if s is None else s.get_count()

    return pd.Series([go(b) for b in sketch], dtype="object").astype("Int64")


@pandas_udf(DoubleType())
def ddsketch_min(sketch: pd.Series) -> pd.Series:
    return pd.Series(
        [(s.get_min() if (s := _try_decode(b)) is not None else None) for b in sketch],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def ddsketch_max(sketch: pd.Series) -> pd.Series:
    return pd.Series(
        [(s.get_max() if (s := _try_decode(b)) is not None else None) for b in sketch],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def ddsketch_sum(sketch: pd.Series) -> pd.Series:
    return pd.Series(
        [(s.get_sum() if (s := _try_decode(b)) is not None else None) for b in sketch],
        dtype="float64",
    )


@pandas_udf(DoubleType())
def ddsketch_avg(sketch: pd.Series) -> pd.Series:
    return pd.Series(
        [(s.get_avg() if (s := _try_decode(b)) is not None else None) for b in sketch],
        dtype="float64",
    )


@pandas_udf(STATS_SCHEMA)
def ddsketch_stats(sketch: pd.Series) -> pd.DataFrame:
    """One-pass stats struct (count, sum, min, max, avg) — lib.rs:559-622."""
    rows = []
    for blob in sketch:
        s = _try_decode(blob)
        if s is None:
            rows.append((None, None, None, None, None))
        else:
            rows.append((s.get_count(), s.get_sum(), s.get_min(), s.get_max(), s.get_avg()))
    return pd.DataFrame(rows, columns=["count", "sum", "min", "max", "avg"])


@pandas_udf(STATS_FULL_SCHEMA)
def ddsketch_stats_full(sketch: pd.Series) -> pd.DataFrame:
    """Finalizer of ddsketch_stats_agg: all stats + 6 quantiles in one decode
    (lib.rs:811-895). Compose as ``ddsketch_stats_full(ddsketch_agg(s))``."""
    cols = ["sketch", "count", "sum", "avg", "min", "max", "p25", "p50", "p75", "p90", "p95", "p99"]
    rows = []
    for blob in sketch:
        s = _try_decode(blob)
        if s is None:
            rows.append((None,) * 12)
        else:
            rows.append(
                (
                    bytes(blob),
                    s.get_count(),
                    s.get_sum(),
                    s.get_avg(),
                    s.get_min(),
                    s.get_max(),
                    s.quantile(0.25),
                    s.quantile(0.50),
                    s.quantile(0.75),
                    s.quantile(0.90),
                    s.quantile(0.95),
                    s.quantile(0.99),
                )
            )
    return pd.DataFrame(rows, columns=cols)


def ddsketch_prepare(value_col, alpha: float = DEFAULT_RELATIVE_ACCURACY):
    """Column helper: one-value sketch per row (bulk-ingest building block).

    ``ddsketch_prepare(F.col("v"))`` ≡ ``ddsketch_add(lit(empty), v)`` but
    without decoding an empty sketch per row.
    """
    return ddsketch_prepare_sql(value_col, F.lit(float(alpha)))


@pandas_udf(BinaryType())
def ddsketch_prepare_sql(value: pd.Series, alpha: pd.Series) -> pd.Series:
    """SQL form of :func:`ddsketch_prepare`:
    ``ddsketch_prepare(v, 0.01d)`` → one-value sketch per row."""

    def go(v, a):
        if v is None or a is None or (isinstance(v, float) and math.isnan(v)):
            return None
        s = DDSketch(float(a))
        s.add(float(v))
        return s.encode()

    return pd.Series([go(v, a) for v, a in zip(value, alpha)], dtype=object)
