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
"""

from __future__ import annotations

import math
from typing import Iterable, Optional

from . import codec

__all__ = ["DDSketch", "SketchMergeError", "DEFAULT_RELATIVE_ACCURACY"]

DEFAULT_RELATIVE_ACCURACY = 0.01
_GAMMA_TOLERANCE = 1e-10
_INDEX_MIN, _INDEX_MAX = -(2**31), 2**31 - 1


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
        if not has_explicit_sum:
            sketch.sum = sketch._sum_from_bins()
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
