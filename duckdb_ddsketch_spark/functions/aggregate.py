"""Aggregate ddsketch functions — the centerpiece of the reference.

The reference's C-API aggregate lifecycle (state init → per-row ``update`` →
cross-thread ``combine`` → ``finalize``; lib.rs:630-804) maps onto two Spark
homes:

* ``ddsketch_agg`` / ``sketch_values_agg`` — grouped-agg pandas UDFs.
  Simple and SQL-registrable, but Spark's ``AggregateInPandas`` has **no
  partial aggregation**: every row shuffles to its group's reducer. Right
  for the SQL surface and bounded groups (pre-aggregated sketch tables).
* the native Catalyst path — ``merge_sketches_native`` for blob merges at
  scale, and ``operators/native.sketch_struct_agg`` → ``struct_to_wire``
  for raw-value ingest. Partial aggregation applies, so the shuffle carries
  combined (key, sign, bin) counts, never raw rows or whole blobs.

Mapping-mismatch rule. ``ddsketch_agg`` keeps the group's first decodable
mapping and drops later rows whose gamma/index_offset differ (the
reference discards the merge result, lib.rs:730). That rule depends on row
arrival order, which a partially aggregated shuffle does not have, so
``merge_sketches_native`` returns a deterministic NULL sketch for a group
with mixed mappings instead (the SQL layer's merge-mismatch result,
lib.rs:241-243). For same-accuracy inputs — the normal case — both give
byte-identical results.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY
from .scalar import ddsketch_stats_full

__all__ = [
    "ddsketch_agg",
    "ddsketch_stats_agg",
    "sketch_values_agg",
    "merge_sketches_native",
]


def _merge_series(blobs: Iterable) -> Optional[bytes]:
    """update/combine/finalize over a series of wire-format sketches.

    First decodable sketch is adopted (group inherits its gamma), later ones
    merged. NULL, zero-length, and undecodable rows are skipped
    (lib.rs:697-735, NULL-skip via set_special_handling lib.rs:1024), and a
    gamma-mismatched merge is *silently ignored* (the mismatch rule in the
    module docstring). Empty group → None (lib.rs:798-801).
    """
    merged: Optional[DDSketch] = None
    for blob in blobs:
        if blob is None or len(blob) == 0:
            continue
        try:
            s = DDSketch.decode(bytes(blob))
        except Exception:
            continue
        if merged is None:
            merged = s
        else:
            try:
                merged.merge(s)
            except Exception:
                pass  # mismatched mapping: row dropped, like the reference
    return merged.encode() if merged is not None else None


@pandas_udf(BinaryType())
def ddsketch_agg(sketches: pd.Series) -> bytes:
    """``SELECT k, ddsketch_agg(sketch) ... GROUP BY k`` — fold a column of
    serialized sketches into one (lib.rs:630-804)."""
    return _merge_series(sketches)


def ddsketch_stats_agg(sketch_col) -> Column:
    """Aggregate returning STRUCT(sketch, count, sum, avg, min, max, p25, p50,
    p75, p90, p95, p99) in one pass (lib.rs:811-989).

    Spark's grouped-agg pandas UDFs cannot return structs, so this composes
    the binary aggregate with the one-decode finalizer — in SQL use
    ``ddsketch_stats_full(ddsketch_agg(s))``.
    """
    return ddsketch_stats_full(ddsketch_agg(sketch_col))


def sketch_values_agg(value_col, alpha: float = DEFAULT_RELATIVE_ACCURACY) -> Column:
    """Aggregate raw DOUBLE values into one serialized sketch per group.

    The reference ingests via per-row ``ddsketch_add`` loops (its own stated
    anti-pattern, README.md:236-247); this is the vectorized ingest form.
    For full-scale ingest prefer ``native.sketch_struct_agg`` →
    ``native.struct_to_wire``, which has partial aggregation.
    """

    @pandas_udf(BinaryType())
    def _agg(values: pd.Series) -> bytes:
        s = DDSketch(alpha)
        s.extend_array(values.dropna().to_numpy())
        return s.encode() if s.count > 0 else None

    return _agg(value_col)


def merge_sketches_native(
    df: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Wire-blob merge with Catalyst partial aggregation end to end.

    ``ddsketch_agg`` is an ``AggregateInPandas``: Spark gives it no partial
    aggregation, so every input blob shuffles to its group's reducer. This
    form keeps the aggregate in Catalyst: decode blobs to the struct working
    form (a map-only ArrowEvalPython — no shuffle), merge natively
    (bin-exploded hash aggregate with map-side partial aggregation, so the
    shuffle carries combined (key, sign, bin) counts), then re-encode at the
    boundary. This is the closest pure-Python approximation of the
    reference's cross-thread ``combine`` (lib.rs:740-765).

    A group with mixed mappings yields a NULL sketch (the mismatch rule in
    the module docstring); NULL and undecodable blobs are skipped.
    """
    from ..operators import native

    keys = list(keys)
    decoded = df.select(
        *keys, native.wire_to_struct(sketch_col).alias(sketch_col)
    )
    merged = native.merge_struct_sketches(decoded, keys, sketch_col)
    return merged.select(
        *keys, native.struct_to_wire(sketch_col).alias(sketch_col)
    )
