"""DDSketch kernel: the quantile sketch carried through SQL as a BLOB.

Semantics mirror the reference extension's sketch
(``/root/reference/src/datadog_encoding.rs:225-766``) which itself matches
``github.com/DataDog/sketches-go`` v1.4.7:

* log mapping with ``gamma = 1 + 2a/(1-a)`` for relative accuracy ``a``
  (datadog_encoding.rs:267), ``index_offset`` always 0 for sketches we create;
* ``value_to_bin(v) = ceil(ln(v)/ln(gamma) + offset)`` (:750-753) and
  ``bin_to_value(i) = gamma^(i-offset) * (1 + (1 - 2/(1+gamma)))`` (:709-715);
* three sign classes: positive bins, negative bins (indexed by ``|v|``), and
  an exact ``zero_count`` (:738-746);
* quantile uses Go's ``rank = q*(count-1)`` with the negative store searched
  first under a reversed rank and a strict ``cumulative > rank`` test
  (:651-703; Issue #1 regression);
* merge requires equal gamma and index_offset within 1e-10 (:598-607);
* the wire encoder never emits sum/count/min/max, so any decode reconstructs
  them from bins — count exactly, sum/min/max to within the relative accuracy
  (:334-338, 429-494).

``decode_wire_column`` / ``merge_wire_column`` decode and merge a whole Arrow
column of wire blobs in numpy; ``DDSketch.decode`` stays the definition of
which blobs are decodable. ``merge_wire_column`` writes its merged bins with
the column encoder (``codec.encode_wire_column``).
"""

from __future__ import annotations

import math
from typing import Iterable, NamedTuple, Optional

import numpy as np
import pyarrow as pa

from . import codec

__all__ = [
    "DDSketch",
    "SketchMergeError",
    "DEFAULT_RELATIVE_ACCURACY",
    "WireRow",
    "decode_or_none",
    "decode_wire_column",
    "merge_wire_column",
]

DEFAULT_RELATIVE_ACCURACY = 0.01
_GAMMA_TOLERANCE = 1e-10
_INDEX_MIN, _INDEX_MAX = -(2**31), 2**31 - 1
_BIGINT_LIMIT = 2**63


class SketchMergeError(ValueError):
    """Raised when two sketches have incompatible mappings."""


class DDSketch:
    __slots__ = (
        "gamma",
        "index_offset",
        "positive_bins",
        "negative_bins",
        "zero_count",
        "sum",
        "count",
        "min",
        "max",
    )

    def __init__(self, relative_accuracy: float = DEFAULT_RELATIVE_ACCURACY):
        # the range sketches-go's log mapping accepts; NaN fails it too
        if not 0.0 < relative_accuracy < 1.0:
            raise ValueError(
                f"relative accuracy must be in (0, 1), got {relative_accuracy!r}"
            )
        self.gamma = 1.0 + 2.0 * relative_accuracy / (1.0 - relative_accuracy)
        self.index_offset = 0.0
        self.positive_bins: dict[int, float] = {}
        self.negative_bins: dict[int, float] = {}
        self.zero_count = 0.0
        self.sum = 0.0
        self.count = 0.0
        self.min = math.inf
        self.max = -math.inf

    # -- mapping ----------------------------------------------------------

    def value_to_bin(self, value: float) -> int:
        return math.ceil(math.log(value) / math.log(self.gamma) + self.index_offset)

    def bin_to_value(self, index: int) -> float:
        lower_bound = self.gamma ** (index - self.index_offset)
        relative_accuracy = 1.0 - 2.0 / (1.0 + self.gamma)
        return lower_bound * (1.0 + relative_accuracy)

    # -- updates ----------------------------------------------------------

    def add(self, value: float) -> None:
        self.add_with_count(value, 1.0)

    def add_with_count(self, value: float, count: float) -> None:
        # DELIBERATE DEVIATION from the reference: non-finite values are
        # skipped as dirty data on every path. The reference's behavior here
        # is accidental (NaN falls into its `else` arm and lands in
        # zero_count, datadog_encoding.rs:738-746; +inf saturates the `as
        # i32` bin cast), the Python/Arrow boundary cannot distinguish NULL
        # from NaN in a float64 batch anyway, and math.ceil(log(inf))
        # raises. One uniform rule — finite or ignored — keeps the kernel,
        # the vectorized path, the native SQL path, and the DuckDB oracles
        # byte-identical in the presence of dirty input.
        if count <= 0.0 or not math.isfinite(value):
            return
        self.count += count
        self.sum += value * count
        if value < self.min:
            self.min = value
        if value > self.max:
            self.max = value
        if value == 0.0:
            self.zero_count += count
        elif value > 0.0:
            idx = self.value_to_bin(value)
            self.positive_bins[idx] = self.positive_bins.get(idx, 0.0) + count
        else:
            idx = self.value_to_bin(-value)
            self.negative_bins[idx] = self.negative_bins.get(idx, 0.0) + count

    def extend(self, values: Iterable[float]) -> "DDSketch":
        for v in values:
            self.add(v)
        return self

    def extend_array(self, arr) -> "DDSketch":
        """Vectorized bulk add of a numpy float array (non-finite skipped).

        Equivalent to sequential :meth:`add` after any wire round-trip
        (bins/zero_count/count/min/max identical; the in-memory ``sum`` may
        differ in summation order by ulps, and is dropped on encode anyway).
        """
        import numpy as np

        arr = np.asarray(arr, dtype=np.float64)
        arr = arr[np.isfinite(arr)]
        if arr.size == 0:
            return self
        self.count += float(arr.size)
        self.sum += float(arr.sum())
        self.min = min(self.min, float(arr.min()))
        self.max = max(self.max, float(arr.max()))
        self.zero_count += float(np.count_nonzero(arr == 0.0))
        log_gamma = math.log(self.gamma)
        for bins, vals in (
            (self.positive_bins, arr[arr > 0.0]),
            (self.negative_bins, -arr[arr < 0.0]),
        ):
            if vals.size == 0:
                continue
            idx = np.ceil(np.log(vals) / log_gamma + self.index_offset).astype(np.int64)
            uniq, counts = np.unique(idx, return_counts=True)
            for i, c in zip(uniq.tolist(), counts.tolist()):
                bins[i] = bins.get(i, 0.0) + float(c)
        return self

    def merge(self, other: "DDSketch") -> None:
        if abs(self.gamma - other.gamma) > _GAMMA_TOLERANCE:
            raise SketchMergeError("cannot merge sketches with different gamma values")
        if abs(self.index_offset - other.index_offset) > _GAMMA_TOLERANCE:
            raise SketchMergeError(
                "cannot merge sketches with different index_offset values"
            )
        for idx, c in other.positive_bins.items():
            self.positive_bins[idx] = self.positive_bins.get(idx, 0.0) + c
        for idx, c in other.negative_bins.items():
            self.negative_bins[idx] = self.negative_bins.get(idx, 0.0) + c
        self.zero_count += other.zero_count
        self.sum += other.sum
        self.count += other.count
        if other.min < self.min:
            self.min = other.min
        if other.max > self.max:
            self.max = other.max

    def downsample(self, alpha: float) -> "DDSketch":
        """Re-bin this sketch into a coarser mapping (BEYOND-REFERENCE).

        The reference rejects any merge across relative accuracies
        (datadog_encoding.rs:598-607); this returns a NEW sketch at
        ``alpha`` whose bins are each source bin's representative value
        (``bin_to_value``, datadog_encoding.rs:709-715) re-mapped through
        the target mapping, enabling merges between stores built at
        different accuracies. Count/zero_count/sum/min/max carry exactly;
        re-binning representatives adds up to the SOURCE accuracy of extra
        relative error, so quantile error is bounded by roughly
        ``alpha_src + alpha_target``. Requires ``alpha`` coarser than (or
        equal to) the source accuracy — refining cannot recover resolution.
        """
        out = DDSketch(alpha)
        if out.gamma < self.gamma - _GAMMA_TOLERANCE:
            raise ValueError(
                "downsample target accuracy must be coarser than the source"
            )
        for src_bins, dst_bins in (
            (self.positive_bins, out.positive_bins),
            (self.negative_bins, out.negative_bins),
        ):
            for idx, c in src_bins.items():
                new_idx = out.value_to_bin(self.bin_to_value(idx))
                dst_bins[new_idx] = dst_bins.get(new_idx, 0.0) + c
        out.zero_count = self.zero_count
        out.count = self.count
        out.sum = self.sum
        out.min = self.min
        out.max = self.max
        return out

    # -- stats ------------------------------------------------------------

    def get_count(self) -> int:
        return int(self.count)

    def get_sum(self) -> Optional[float]:
        return self.sum if self.count > 0.0 else None

    def get_min(self) -> Optional[float]:
        return self.min if self.count > 0.0 and math.isfinite(self.min) else None

    def get_max(self) -> Optional[float]:
        return self.max if self.count > 0.0 and math.isfinite(self.max) else None

    def get_avg(self) -> Optional[float]:
        return self.sum / self.count if self.count > 0.0 else None

    def quantile(self, q: float) -> Optional[float]:
        if self.count == 0.0:
            return None
        if q is None or math.isnan(q) or q < 0.0 or q > 1.0:
            return None
        rank = q * (self.count - 1.0)
        negative_count = sum(self.negative_bins.values())
        if rank < negative_count:
            # negative store searched under a reversed rank
            neg_rank = negative_count - 1.0 - rank
            return -self._key_at_rank(self.negative_bins, neg_rank)
        if rank < negative_count + self.zero_count:
            return 0.0
        pos_rank = rank - self.zero_count - negative_count
        return self._key_at_rank(self.positive_bins, pos_rank)

    def cdf(self, v: float) -> Optional[float]:
        """Fraction of tracked values <= v, at bin granularity.

        Beyond-reference operator (no counterpart in /root/reference): the
        inverse of ``quantile``, defined over the same log-binned state —
        a value x <= v iff x's bin index <= ``value_to_bin(v)`` (positives),
        with negatives compared on reversed bins. Empty sketch -> None.
        """
        if self.count == 0.0:
            return None
        if v is None or math.isnan(v):
            return None
        if math.isinf(v):
            # mathematically exact, and value_to_bin(inf) would raise
            # OverflowError (math.ceil(inf)) — the one probe value that
            # previously crashed a job instead of answering
            return 1.0 if v > 0.0 else 0.0
        negative_count = sum(self.negative_bins.values())
        if v > 0.0:
            b = self.value_to_bin(v)
            le = sum(c for i, c in self.positive_bins.items() if i <= b)
            return (negative_count + self.zero_count + le) / self.count
        if v == 0.0:
            return (negative_count + self.zero_count) / self.count
        b = self.value_to_bin(-v)
        ge = sum(c for i, c in self.negative_bins.items() if i >= b)
        return ge / self.count

    def trimmed_mean(
        self, q_lo: float = 0.25, q_hi: float = 0.75
    ) -> Optional[float]:
        """Mean of the values whose rank mass falls in [q_lo, q_hi) — the
        robust-statistics companion to ``quantile`` (an interquartile mean
        by default). Beyond-reference operator (no counterpart in
        /root/reference): defined over the same log-binned state, each bin
        contributes its representative value (``bin_to_value``) weighted by
        the overlap of its cumulative-count span with the rank window, so
        ``trimmed_mean(0, 1)`` is exactly the bin-math mean. Empty sketch
        or an empty/invalid window -> None.
        """
        if self.count == 0.0:
            return None
        if (
            q_lo is None
            or q_hi is None
            or math.isnan(q_lo)
            or math.isnan(q_hi)
            or q_lo < 0.0
            or q_hi > 1.0
            or q_lo >= q_hi
        ):
            return None
        lo = q_lo * self.count
        hi = q_hi * self.count
        cum = 0.0
        total_w = 0.0
        total_wv = 0.0

        def visit(v: float, c: float) -> None:
            nonlocal cum, total_w, total_wv
            w = min(cum + c, hi) - max(cum, lo)
            if w > 0.0:
                total_w += w
                total_wv += w * v
            cum += c

        for idx in sorted(self.negative_bins, reverse=True):
            visit(-self.bin_to_value(idx), self.negative_bins[idx])
        if self.zero_count > 0.0:
            visit(0.0, self.zero_count)
        for idx in sorted(self.positive_bins):
            visit(self.bin_to_value(idx), self.positive_bins[idx])
        return total_wv / total_w if total_w > 0.0 else None

    def _key_at_rank(self, bins: dict[int, float], rank: float) -> float:
        if rank < 0.0:
            rank = 0.0
        cumulative = 0.0
        last_idx = None
        for idx in sorted(bins):
            cumulative += bins[idx]
            # strict '>' — Go's KeyAtRank (Issue #1 regression)
            if cumulative > rank:
                return self.bin_to_value(idx)
            last_idx = idx
        if last_idx is not None:
            return self.bin_to_value(last_idx)
        return 0.0

    # -- wire format ------------------------------------------------------

    def encode(self) -> bytes:
        buf = bytearray()
        # 1. index mapping: flag + gamma + index_offset as float64LE
        buf.append(codec.make_flag(codec.FLAG_INDEX_MAPPING, codec.SUBFLAG_LOG_MAPPING))
        codec.encode_float64_le(buf, self.gamma)
        codec.encode_float64_le(buf, self.index_offset)
        # 2./3. stores (omitted when empty)
        if self.positive_bins:
            self._encode_store(buf, codec.FLAG_POSITIVE_STORE, self.positive_bins)
        if self.negative_bins:
            self._encode_store(buf, codec.FLAG_NEGATIVE_STORE, self.negative_bins)
        # 4. zero count when present
        if self.zero_count > 0.0:
            buf.append(
                codec.make_flag(codec.FLAG_SKETCH_FEATURES, codec.SUBFLAG_ZERO_COUNT)
            )
            codec.encode_varfloat64(buf, self.zero_count)
        # Sum/Count/Min/Max feature flags are intentionally never written:
        # Go's decoder mishandles FlagCount, and Go itself recomputes stats
        # from bins on decode. We match that for compatibility.
        return bytes(buf)

    @staticmethod
    def _encode_store(buf: bytearray, flag_type: int, bins: dict[int, float]) -> None:
        buf.append(codec.make_flag(flag_type, codec.SUBFLAG_INDEX_DELTAS_AND_COUNTS))
        codec.encode_uvarint64(buf, len(bins))
        prev_index = 0
        for index in sorted(bins):
            codec.encode_varint64(buf, index - prev_index)
            codec.encode_varfloat64(buf, bins[index])
            prev_index = index

    @classmethod
    def decode(cls, data: bytes) -> "DDSketch":
        sketch = cls(DEFAULT_RELATIVE_ACCURACY)
        pos = 0
        n = len(data)
        has_explicit_count = False
        has_explicit_sum = False
        explicit_min = None
        explicit_max = None
        while pos < n:
            flag = data[pos]
            pos += 1
            ftype = codec.flag_type_of(flag)
            sub = codec.subflag_of(flag)
            if ftype == codec.FLAG_INDEX_MAPPING:
                if sub > 4:
                    raise ValueError(f"unknown index mapping subflag: {sub}")
                sketch.gamma, pos = codec.decode_float64_le(data, pos)
                sketch.index_offset, pos = codec.decode_float64_le(data, pos)
            elif ftype == codec.FLAG_POSITIVE_STORE:
                sketch.positive_bins, pos = cls._decode_store(data, pos, sub)
            elif ftype == codec.FLAG_NEGATIVE_STORE:
                sketch.negative_bins, pos = cls._decode_store(data, pos, sub)
            else:  # SketchFeatures
                if sub == codec.SUBFLAG_ZERO_COUNT:
                    sketch.zero_count, pos = codec.decode_varfloat64(data, pos)
                elif sub == codec.SUBFLAG_SUM:
                    sketch.sum, pos = codec.decode_float64_le(data, pos)
                    has_explicit_sum = True
                elif sub == codec.SUBFLAG_MIN:
                    explicit_min, pos = codec.decode_float64_le(data, pos)
                elif sub == codec.SUBFLAG_MAX:
                    explicit_max, pos = codec.decode_float64_le(data, pos)
                elif sub == codec.SUBFLAG_COUNT:
                    sketch.count, pos = codec.decode_varfloat64(data, pos)
                    has_explicit_count = True
                # INTENTIONAL PARITY: unknown feature subflags are skipped
                # WITHOUT consuming their payload, exactly like the
                # reference's decode_feature (datadog_encoding.rs:567-595
                # has no else arm), so any bytes that follow are re-parsed
                # as flags. This is fragile against future DataDog feature
                # flags but is required to stay bug-for-bug compatible:
                # both decoders misparse the same inputs the same way.
        if explicit_min is not None:
            sketch.min = explicit_min
        if explicit_max is not None:
            sketch.max = explicit_max
        # Reconstruct stats from bins when not on the wire (the normal case).
        if not has_explicit_count:
            sketch.count = (
                sum(sketch.positive_bins.values())
                + sum(sketch.negative_bins.values())
                + sketch.zero_count
            )
        # every count path returns a BIGINT: a NaN, infinite or wider count
        # is a malformed blob, like a bin index outside int32
        if not -_BIGINT_LIMIT <= sketch.count < _BIGINT_LIMIT:
            raise ValueError("count outside BIGINT")
        # the stats and quantiles read bin values: a negative gamma to a
        # fractional power has no real value, and an overflowing power
        # raises in _sum_from_bins, so both are malformed blobs even when
        # the sum is on the wire
        if sketch.gamma < 0.0 and not sketch.index_offset.is_integer():
            raise ValueError("negative gamma with a fractional index offset")
        bin_sum = sketch._sum_from_bins()
        if not has_explicit_sum:
            sketch.sum = bin_sum
        if not (math.isfinite(sketch.min) and math.isfinite(sketch.max)):
            sketch._min_max_from_bins()
        return sketch

    def _sum_from_bins(self) -> float:
        total = 0.0
        for idx, c in sorted(self.positive_bins.items()):
            total += self.bin_to_value(idx) * c
        for idx, c in sorted(self.negative_bins.items()):
            total -= self.bin_to_value(idx) * c
        return total

    def _min_max_from_bins(self) -> None:
        mn = math.inf
        mx = -math.inf
        for idx, c in self.negative_bins.items():
            if c > 0.0:
                v = -self.bin_to_value(idx)
                mn = min(mn, v)
                mx = max(mx, v)
        if self.zero_count > 0.0:
            mn = min(mn, 0.0)
            mx = max(mx, 0.0)
        for idx, c in self.positive_bins.items():
            if c > 0.0:
                v = self.bin_to_value(idx)
                mn = min(mn, v)
                mx = max(mx, v)
        if math.isfinite(mn):
            self.min = mn
        if math.isfinite(mx):
            self.max = mx

    @staticmethod
    def _decode_store(data: bytes, pos: int, subflag: int) -> tuple[dict[int, float], int]:
        bins: dict[int, float] = {}
        if subflag == codec.SUBFLAG_INDEX_DELTAS_AND_COUNTS:
            num_bins, pos = codec.decode_uvarint64(data, pos)
            prev = 0
            for _ in range(num_bins):
                delta, pos = codec.decode_varint64(data, pos)
                index = prev + delta
                count, pos = codec.decode_varfloat64(data, pos)
                bins[index] = bins.get(index, 0.0) + count
                prev = index
        elif subflag == codec.SUBFLAG_INDEX_DELTAS:
            num_bins, pos = codec.decode_uvarint64(data, pos)
            prev = 0
            for _ in range(num_bins):
                delta, pos = codec.decode_varint64(data, pos)
                index = prev + delta
                bins[index] = bins.get(index, 0.0) + 1.0
                prev = index
        elif subflag == codec.SUBFLAG_CONTIGUOUS_COUNTS:
            num_bins, pos = codec.decode_uvarint64(data, pos)
            start_index, pos = codec.decode_varint64(data, pos)
            index_delta, pos = codec.decode_varint64(data, pos)
            index = start_index
            for _ in range(num_bins):
                count, pos = codec.decode_varfloat64(data, pos)
                bins[index] = bins.get(index, 0.0) + count
                index += index_delta
        else:
            raise ValueError(f"unknown bin encoding subflag: {subflag}")
        # the reference's stores are Vec<(i32, f64)> and the native struct
        # form is MAP<INT,DOUBLE>: a wider index is a malformed blob
        if bins and (min(bins) < _INDEX_MIN or max(bins) > _INDEX_MAX):
            raise ValueError("bin index outside int32")
        return bins, pos

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"DDSketch(gamma={self.gamma!r}, count={self.count}, sum={self.sum}, "
            f"pos_bins={len(self.positive_bins)}, neg_bins={len(self.negative_bins)}, "
            f"zero={self.zero_count})"
        )


def decode_or_none(blob) -> Optional[DDSketch]:
    """``DDSketch.decode`` of a wire blob, or None for a NULL blob or one
    that does not decode. The decoder parses outside bytes, so any error it
    raises marks the blob undecodable."""
    if blob is None:
        return None
    try:
        return DDSketch.decode(bytes(blob))
    except Exception:
        return None


# ---------------------------------------------------------------------------
# Columns of wire blobs
# ---------------------------------------------------------------------------

_DEFAULT_GAMMA = DDSketch(DEFAULT_RELATIVE_ACCURACY).gamma
# Bounds inside which DDSketch.decode provably does not raise: gamma ** x
# overflows past x * ln(gamma) ~ 709.8, and a count must stay inside BIGINT.
_MAX_BIN_EXPONENT = 700.0
_MAX_TOTAL_COUNT = 2.0**60


class WireRow(NamedTuple):
    """One decoded blob: its mapping, zero count and bins. The index arrays
    (int64) are strictly increasing; counts are float64."""

    gamma: float
    index_offset: float
    zero_count: float
    positive_index: np.ndarray
    positive_count: np.ndarray
    negative_index: np.ndarray
    negative_count: np.ndarray


_NO_BINS = (np.empty(0, np.int64), np.empty(0, np.float64))


def _bin_arrays(bins: dict[int, float]) -> tuple[np.ndarray, np.ndarray]:
    return (
        np.fromiter(bins.keys(), np.int64, len(bins)),
        np.fromiter(bins.values(), np.float64, len(bins)),
    )


def _column_buffers(blobs: pa.Array) -> tuple[np.ndarray, list[int], Optional[np.ndarray]]:
    """The data bytes, row offsets into them and validity of a binary or
    large_binary array, read off its buffers without copying rows."""
    large = pa.types.is_large_binary(blobs.type)
    if not (large or pa.types.is_binary(blobs.type)):
        raise TypeError(f"expected a binary array, got {blobs.type}")
    if len(blobs) == 0:
        return np.empty(0, np.uint8), [0], None
    _, offsets_buf, data_buf = blobs.buffers()
    offsets = np.frombuffer(offsets_buf, np.int64 if large else np.int32)
    offsets = offsets[blobs.offset : blobs.offset + len(blobs) + 1]
    data = np.empty(0, np.uint8) if data_buf is None else np.frombuffer(data_buf, np.uint8)
    data = data[offsets[0] : offsets[-1]]
    valid = None
    if blobs.null_count:
        valid = blobs.is_valid().to_numpy(zero_copy_only=False)
    return data, (offsets - offsets[0]).tolist(), valid


def _scan_blob(buf: bytes, lo: int, hi: int, term: np.ndarray):
    """Walk the sections of ``buf[lo:hi]`` the way ``DDSketch.decode`` does:
    later mapping, zero-count and store sections replace earlier ones.

    Returns ``(gamma, index_offset, zero_count, stores, final)``: ``stores``
    lists every store section as (index into ``term`` of its first token's
    terminator byte, bin count) and ``final`` maps a store's flag type to
    the section that survives. None when the blob is outside the column
    fast path: an unknown or explicit-stats section, a store encoding other
    than IndexDeltasAndCounts, a truncated section, or a mapping not
    ``1 < gamma < 2`` with a finite offset.
    """
    blob = buf[lo:hi]
    gamma, index_offset, zero_count = _DEFAULT_GAMMA, 0.0, 0.0
    stores: list[tuple[int, int]] = []
    final: dict[int, int] = {}
    pos = 0
    try:
        while pos < len(blob):
            flag = blob[pos]
            pos += 1
            ftype, sub = codec.flag_type_of(flag), codec.subflag_of(flag)
            if ftype == codec.FLAG_INDEX_MAPPING:
                if sub > 4:
                    return None
                gamma, pos = codec.decode_float64_le(blob, pos)
                index_offset, pos = codec.decode_float64_le(blob, pos)
            elif ftype == codec.FLAG_SKETCH_FEATURES:
                if sub != codec.SUBFLAG_ZERO_COUNT:
                    return None
                zero_count, pos = codec.decode_varfloat64(blob, pos)
            elif sub != codec.SUBFLAG_INDEX_DELTAS_AND_COUNTS:
                return None
            else:
                bins, pos = codec.decode_uvarint64(blob, pos)
                # the bin count's own last byte is the terminator before
                # the first token, so tokens run from term[first]
                first = int(term.searchsorted(lo + pos))
                if bins:
                    last = first + 2 * bins - 1
                    if last >= len(term) or term[last] >= hi:
                        return None
                    pos = int(term[last]) + 1 - lo
                final[ftype] = len(stores)
                stores.append((first, bins))
    except ValueError:
        return None
    if not (1.0 < gamma < 2.0 and math.isfinite(index_offset)):
        return None
    return gamma, index_offset, zero_count, stores, final


def decode_wire_column(blobs: pa.Array) -> list[Optional[WireRow]]:
    """Decode every blob of a binary Arrow array: one ``WireRow`` per row,
    or None for a NULL, empty or undecodable blob.

    The kernel decides what is decodable: a row is None exactly when
    ``DDSketch.decode`` raises on it, and a decoded row holds the kernel's
    mapping, zero count and bins, counts bit for bit. The fast path reads
    the array's data buffer in one numpy pass: every byte < 0x80 ends a
    varint or varfloat token, a short Python walk over each blob's section
    flags (``_scan_blob``) finds each store's token run, and then every
    index and count token of the batch decodes at once (zig-zag deltas and
    a segmented cumsum for the indexes, ``decode_varfloat64_tokens`` for
    the counts). It takes only blobs it can prove the kernel decodes
    without raising: besides ``_scan_blob``'s conditions, index tokens of
    at most 5 bytes and count tokens of at most 8 (so counts are finite and
    >= 0), strictly increasing int32 indexes, ``|index - offset| *
    ln(gamma) <= 700`` (no overflow in the bin values) and a total count
    below ``2**60`` (no BIGINT overflow). Every other blob goes through
    ``DDSketch.decode`` alone.
    """
    return _decode_rows(blobs)[0]


def _decode_rows(
    blobs: pa.Array,
) -> tuple[list[Optional[WireRow]], dict[int, DDSketch]]:
    """``decode_wire_column``'s rows, and the kernel's sketch of each row
    the fast path left to ``DDSketch.decode``, by row number."""
    data, offsets, valid = _column_buffers(blobs)
    n_rows = len(offsets) - 1
    buf = data.tobytes()
    term = np.flatnonzero(data < 0x80)
    rows: list[Optional[WireRow]] = [None] * n_rows
    layouts = {}  # row -> (_scan_blob layout, global id of its first store)
    slow = []
    store_first, store_bins, store_row = [], [], []
    gamma, index_offset = np.ones(n_rows), np.zeros(n_rows)
    for i in range(n_rows):
        lo, hi = offsets[i], offsets[i + 1]
        if hi == lo or (valid is not None and not valid[i]):
            continue
        layout = _scan_blob(buf, lo, hi, term)
        if layout is None:
            slow.append(i)
            continue
        layouts[i] = layout, len(store_first)
        gamma[i], index_offset[i] = layout[0], layout[1]
        for first, bins in layout[3]:
            store_first.append(first)
            store_bins.append(bins)
            store_row.append(i)

    n_bins = np.array(store_bins, np.int64)
    bin_start = np.cumsum(n_bins) - n_bins
    index, count = _NO_BINS
    bad_rows = np.zeros(n_rows, bool)
    total_count = np.zeros(n_rows)
    if n_bins.sum():
        store_of_bin = np.repeat(np.arange(len(n_bins)), n_bins)
        j = np.arange(len(store_of_bin)) - bin_start[store_of_bin]
        k = np.array(store_first, np.int64)[store_of_bin] + 2 * j
        index_end, count_end = term[k], term[k + 1]
        index_len = index_end - term[k - 1]
        count_len = count_end - index_end
        delta = codec.decode_varint64_tokens(data, index_end - index_len + 1, index_len)
        count = codec.decode_varfloat64_tokens(data, index_end + 1, count_len)
        steps = np.cumsum(delta)
        index = steps - np.concatenate(([0], steps))[bin_start][store_of_bin]

        row_of_bin = np.array(store_row, np.int64)[store_of_bin]
        exponent = np.abs(index - index_offset[row_of_bin]) * np.log(gamma[row_of_bin])
        # a varfloat of at most 8 bytes decodes to a finite count >= 0
        bad = (
            (index_len > codec.MAX_VARINT_TOKEN)
            | (count_len > codec.MAX_VARFLOAT_TOKEN)
            | ((j > 0) & (delta <= 0))
            | (index < _INDEX_MIN)
            | (index > _INDEX_MAX)
            | ~(exponent <= _MAX_BIN_EXPONENT)
        )
        bad_rows[row_of_bin[bad]] = True
        total_count = np.bincount(
            row_of_bin[~bad], weights=count[~bad], minlength=n_rows
        )

    def final_bins(first_store: int, final: dict[int, int], ftype: int):
        if ftype not in final:
            return _NO_BINS
        lo = bin_start[first_store + final[ftype]]
        hi = lo + n_bins[first_store + final[ftype]]
        return index[lo:hi], count[lo:hi]

    for i, ((g, off, zero, _stores, final), first_store) in layouts.items():
        if bad_rows[i] or not total_count[i] + abs(zero) < _MAX_TOTAL_COUNT:
            slow.append(i)
            continue
        rows[i] = WireRow(
            g,
            off,
            zero,
            *final_bins(first_store, final, codec.FLAG_POSITIVE_STORE),
            *final_bins(first_store, final, codec.FLAG_NEGATIVE_STORE),
        )
    kernel = {}
    for i in slow:
        s = decode_or_none(buf[offsets[i] : offsets[i + 1]])
        if s is None:
            continue  # undecodable: the row is skipped, like NULL
        kernel[i] = s
        rows[i] = WireRow(
            s.gamma,
            s.index_offset,
            s.zero_count,
            *_bin_arrays(s.positive_bins),
            *_bin_arrays(s.negative_bins),
        )
    return rows, kernel


def _sum_bins(
    indexes: list[np.ndarray], counts: list[np.ndarray]
) -> tuple[np.ndarray, np.ndarray]:
    """Per-index sums over rows, each index's counts added in row order
    from 0.0, as a dict fold over the rows adds them: the distinct indexes,
    increasing, and their sums."""
    index = np.concatenate(indexes)
    if not len(index):
        return _NO_BINS
    keys, where = np.unique(index, return_inverse=True)
    sums = np.zeros(len(keys))
    np.add.at(sums, where, np.concatenate(counts))
    return keys, sums


def merge_wire_column(blobs: pa.Array) -> Optional[bytes]:
    """Merge a binary Arrow array of wire blobs into one blob, by the
    reference aggregate's rule (lib.rs:697-735): NULL, empty and
    undecodable rows are skipped; the first decodable row is adopted and
    later rows merged into it; a row whose gamma or index_offset differs
    from the adopted one by more than 1e-10 is dropped, as
    ``DDSketch.merge`` would refuse it. No decodable row gives None.

    The bytes equal ``encode()`` of the ``DDSketch.decode`` /
    ``DDSketch.merge`` fold over the rows in order: each bin's counts and
    the zero count are added in row order, and the merged bins are written
    by ``codec.encode_wire_column``.
    """
    kept: list[WireRow] = []
    for row in decode_wire_column(blobs):
        if row is None:
            continue
        if kept and (
            abs(kept[0].gamma - row.gamma) > _GAMMA_TOLERANCE
            or abs(kept[0].index_offset - row.index_offset) > _GAMMA_TOLERANCE
        ):
            continue
        kept.append(row)
    if not kept:
        return None
    zero_count = kept[0].zero_count
    for row in kept[1:]:
        zero_count += row.zero_count
    positive = _sum_bins([r.positive_index for r in kept], [r.positive_count for r in kept])
    negative = _sum_bins([r.negative_index for r in kept], [r.negative_count for r in kept])
    data, _ = codec.encode_wire_column(
        np.array([kept[0].gamma]),
        np.array([kept[0].index_offset]),
        np.array([zero_count]),
        *(([0, len(index)], index, count) for index, count in (positive, negative)),
    )
    return data.tobytes()


def _bin_stats(row: WireRow) -> tuple[float, float, float, float]:
    """``(count, sum, min, max)`` as ``DDSketch.decode`` rebuilds them from
    the bins of a blob without stats sections, for a row the fast path of
    ``decode_wire_column`` decoded (so ``1 < gamma < 2``, a finite offset,
    increasing indexes and no bin value past ``e**700``); min and max stay
    infinite when no bin holds a count.

    The arithmetic is the kernel's (``_sum_from_bins``,
    ``_min_max_from_bins``) on arrays: the count is Python ``sum`` of each
    store's counts plus the zero count, bin values use Python's ``**``
    (``np.power`` can differ in the last bit), and the sum adds ``value *
    count`` in index order, positives then negatives, from 0.0. Against
    the kernel's methods on a sketch built from the row it took
    ``merge_sketches_native`` on 100k fat blobs from 33-36 s to 21 s.
    """
    gamma, index_offset = row.gamma, row.index_offset
    count = sum(row.positive_count.tolist()) + sum(row.negative_count.tolist()) + row.zero_count
    multiplier = 1.0 + (1.0 - 2.0 / (1.0 + gamma))
    positive, negative = (
        np.array([gamma ** (i - index_offset) for i in index.tolist()], np.float64) * multiplier
        for index in (row.positive_index, row.negative_index)
    )
    terms = np.concatenate(
        ([0.0], positive * row.positive_count, -(negative * row.negative_count))
    )
    candidates = np.concatenate(
        (
            -negative[row.negative_count > 0.0],
            [0.0] if row.zero_count > 0.0 else [],
            positive[row.positive_count > 0.0],
        )
    )
    total = float(np.cumsum(terms)[-1])
    if not len(candidates):
        return count, total, math.inf, -math.inf
    return count, total, float(candidates.min()), float(candidates.max())
