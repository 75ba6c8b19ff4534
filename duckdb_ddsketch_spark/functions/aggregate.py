"""Aggregate ddsketch functions — the centerpiece of the reference.

The reference's C-API aggregate lifecycle (state init → per-row ``update`` →
cross-thread ``combine`` → ``finalize``; lib.rs:630-804) maps onto two Spark
homes:

* ``ddsketch_agg`` / ``ddsketch_stats_agg`` / ``sketch_values_agg`` —
  Arrow grouped-agg UDFs (one ``ArrowAggregatePython`` node). Simple and
  SQL-registrable, but Spark gives a Python UDAF **no partial
  aggregation**: every row shuffles to its group's reducer. Right for the
  SQL surface and bounded groups (pre-aggregated sketch tables). The
  column merge needs ~32 KB of memory per fat blob (~470 B, ~170 bins),
  so a hot group can crash its Python worker: one group of 1.6M such
  blobs (~750 MB) did, on a 4-vCPU box.
* the native Catalyst path — ``merge_sketches_native`` for blob merges,
  and ``operators/native.sketch_struct_agg`` → ``struct_to_wire`` for
  raw-value ingest. Partial aggregation applies, so the shuffle carries
  combined (key, sign, bin) counts, never raw rows or whole blobs.
  ``merge_sketches_native`` finished the 1.6M-blob group above in 500 s,
  but where both finish it is the slower merge: on one group of 100k fat
  blobs it took 19.8 s against ``ddsketch_agg``'s 13.2 s, with the column
  decode at its Arrow hop (67.1 s with the kernel's per-row decode).

Column decode. ``ddsketch_agg`` and ``ddsketch_stats_agg`` hand the group's
whole Arrow column to ``sketch.merge_wire_column``, which reads the array's
offset and data buffers and decodes every store of every blob in one numpy
pass, then merges the bins with ``np.unique`` + ``np.add.at`` in row order.
The kernel decode decides every blob the fast path cannot prove decodable:
such a blob goes through ``DDSketch.decode`` alone, so the skipped rows and
the merged bytes are those of a per-row ``DDSketch.decode`` /
``DDSketch.merge`` fold. The finalize writes the merged bins with the column
encoder (``codec.encode_wire_column``); ``ddsketch_stats_agg`` then reads its
stats off those bytes with ``scalar.stats_full_row``, one kernel decode per
group.

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

from typing import Optional, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import BinaryType

from ..sketch import DDSketch, DEFAULT_RELATIVE_ACCURACY, merge_wire_column
from .scalar import STATS_FULL_SCHEMA, stats_full_row

__all__ = [
    "ddsketch_agg",
    "ddsketch_stats_agg",
    "sketch_values_agg",
    "merge_sketches_native",
]

_STATS_FULL_ARROW = to_arrow_type(STATS_FULL_SCHEMA)


@arrow_udf(BinaryType())
def ddsketch_agg(sketches: pa.Array) -> Optional[bytes]:
    """``SELECT k, ddsketch_agg(sketch) ... GROUP BY k`` — fold a column of
    serialized sketches into one (lib.rs:630-804)."""
    return merge_wire_column(sketches)


@arrow_udf(STATS_FULL_SCHEMA)
def ddsketch_stats_agg(sketches: pa.Array) -> pa.Scalar:
    """Aggregate returning STRUCT(sketch, count, sum, avg, min, max, p25, p50,
    p75, p90, p95, p99) in one pass (lib.rs:811-989).

    The stats are read off the merged sketch's own wire bytes, as any later
    ``ddsketch_stats_full(sketch)`` would read them. A group with no
    decodable row gives a non-NULL struct of 12 NULL fields.
    """
    row = stats_full_row(merge_wire_column(sketches))
    return pa.scalar(dict(zip(STATS_FULL_SCHEMA.names, row)), type=_STATS_FULL_ARROW)


def sketch_values_agg(value_col, alpha: float = DEFAULT_RELATIVE_ACCURACY) -> Column:
    """Aggregate raw DOUBLE values into one serialized sketch per group.

    The reference ingests via per-row ``ddsketch_add`` loops (its own stated
    anti-pattern, README.md:236-247); this is the vectorized ingest form.
    For full-scale ingest prefer ``native.sketch_struct_agg`` →
    ``native.struct_to_wire``, which has partial aggregation. A bad
    ``alpha`` raises here, not in a task.
    """
    DDSketch(alpha)

    @arrow_udf(BinaryType())
    def _agg(values: pa.Array) -> Optional[bytes]:
        # drop_null keeps NaN; extend_array skips every non-finite value
        s = DDSketch(alpha)
        s.extend_array(values.drop_null().to_numpy(zero_copy_only=False))
        return s.encode() if s.count > 0 else None

    return _agg(value_col)


def merge_sketches_native(
    df: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Wire-blob merge with Catalyst partial aggregation end to end.

    ``ddsketch_agg`` is an ``ArrowAggregatePython``: Spark gives it no
    partial aggregation, so every input blob shuffles to its group's
    reducer. This form keeps the aggregate in Catalyst: decode blobs to the
    struct working form (a map-only ArrowEvalPython — no shuffle), merge
    natively (bin-exploded hash aggregate with map-side partial
    aggregation, so the shuffle carries combined (key, sign, bin) counts),
    then re-encode at the boundary. This is the closest pure-Python
    approximation of the reference's cross-thread ``combine``
    (lib.rs:740-765).

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
