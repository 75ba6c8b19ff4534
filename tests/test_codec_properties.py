"""Property-based tests (hypothesis) for the wire codec and kernel —
coverage beyond the reference's fixed vectors.
"""

import math
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from duckdb_ddsketch_spark import codec
from duckdb_ddsketch_spark.functions.aggregate import ddsketch_stats_agg
from duckdb_ddsketch_spark.functions.scalar import STATS_FULL_SCHEMA, stats_full_row
from duckdb_ddsketch_spark.operators import native
from duckdb_ddsketch_spark.sketch import (
    DDSketch,
    SketchMergeError,
    decode_or_none,
    decode_wire_column,
    merge_wire_column,
)

finite_floats = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)
counts = st.floats(min_value=1.0, max_value=1e9)


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_uvarint_roundtrip(v):
    buf = bytearray()
    codec.encode_uvarint64(buf, v)
    decoded, pos = codec.decode_uvarint64(bytes(buf), 0)
    assert decoded == v and pos == len(buf)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_varint_roundtrip(v):
    buf = bytearray()
    codec.encode_varint64(buf, v)
    decoded, pos = codec.decode_varint64(bytes(buf), 0)
    assert decoded == v and pos == len(buf)


@given(finite_floats)
def test_varfloat_roundtrip(v):
    # varfloat64 stores bits(v+1)-bits(1), so magnitudes below ~2^-52 are
    # absorbed into 1.0 and decode as 0 — inherent to the DataDog format
    # (it encodes counts, which are >= 1 in practice)
    buf = bytearray()
    codec.encode_varfloat64(buf, v)
    decoded, pos = codec.decode_varfloat64(bytes(buf), 0)
    assert pos == len(buf) <= 9
    assert decoded == v or abs(decoded - v) <= max(abs(v) * 1e-15, 2.0**-50)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, min_value=-1e9, max_value=1e9),
        min_size=0,
        max_size=200,
    )
)
def test_sketch_wire_roundtrip_properties(values):
    s = DDSketch(0.01).extend(values)
    d = DDSketch.decode(s.encode())
    # count is exact through the wire
    assert d.count == s.count
    # bins and zero counts are exact
    assert d.positive_bins == s.positive_bins
    assert d.negative_bins == s.negative_bins
    assert d.zero_count == s.zero_count
    # second round-trip is a fixed point (canonical form)
    assert d.encode() == DDSketch.decode(d.encode()).encode()


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, min_value=0.001, max_value=1e6),
        min_size=1,
        max_size=300,
    ),
    st.floats(min_value=0.0, max_value=1.0),
)
def test_quantile_error_bound(values, q):
    """Reference-mapping accuracy envelope: with bin = ceil(log_gamma(v))
    and representative gamma^bin * (1+eta), every reported positive value
    sits in [v*(1+eta), v*gamma*(1+eta)] of some sample v at the queried
    rank — i.e. biased 1%..3.06% above for alpha=0.01 (the reference's own
    tests use a 3% tolerance for exactly this reason)."""
    alpha = 0.01
    gamma = 1.0 + 2.0 * alpha / (1.0 - alpha)
    eta = 1.0 - 2.0 / (1.0 + gamma)
    s = DDSketch(alpha).extend(values)
    got = s.quantile(q)
    rank = q * (len(values) - 1)
    srt = sorted(values)
    lo = srt[max(0, min(int(rank), len(values) - 1))]
    hi = srt[max(0, min(int(math.ceil(rank)), len(values) - 1))]
    ok = any(
        t * (1.0 + eta) * (1 - 1e-12) <= got <= t * gamma * (1.0 + eta) * (1 + 1e-12)
        for t in (lo, hi)
    )
    assert ok, (got, lo, hi, q)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(finite_floats, min_size=0, max_size=100),
    st.lists(finite_floats, min_size=0, max_size=100),
)
def test_merge_equals_union(a, b):
    """merge(sketch(A), sketch(B)) has identical bins to sketch(A ∪ B)."""
    s1 = DDSketch(0.01).extend(a)
    s2 = DDSketch(0.01).extend(b)
    s1.merge(s2)
    u = DDSketch(0.01).extend(list(a) + list(b))
    assert s1.count == u.count
    assert s1.positive_bins == u.positive_bins
    assert s1.negative_bins == u.negative_bins
    assert s1.zero_count == u.zero_count
    assert s1.min == u.min and s1.max == u.max


@settings(max_examples=30, deadline=None)
@given(st.lists(st.floats(min_value=0.01, max_value=1e6), min_size=1, max_size=100))
def test_extend_array_equals_sequential(values):
    import numpy as np

    seq = DDSketch(0.01).extend(values)
    vec = DDSketch(0.01).extend_array(np.array(values))
    assert vec.count == seq.count
    assert vec.positive_bins == seq.positive_bins
    assert vec.min == seq.min and vec.max == seq.max


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decode_never_crashes(data):
    """Arbitrary bytes either decode to a sketch or raise ValueError —
    no hangs, no other exception types (the scalar SQL surface relies on
    this to map bad blobs to NULL)."""
    try:
        s = DDSketch.decode(data)
    except ValueError:
        return
    assert s.count >= 0.0


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_decode_prefix_of_valid_sketch(data):
    """Truncations of a valid sketch must also fail cleanly or decode."""
    s = DDSketch(0.01).extend([1.0, 2.5, 1000.0, 0.0, -3.0])
    raw = s.encode()
    for cut in range(0, len(raw)):
        try:
            DDSketch.decode(raw[:cut])
        except ValueError:
            pass


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=60,
    ),
    st.floats(min_value=-1e7, max_value=1e7, allow_nan=False, allow_infinity=False),
)
def test_cdf_bounds_and_edges(values, v):
    """cdf is in [0,1], 1 at/above the max, 0 below the min."""
    s = DDSketch(0.01).extend(values)
    c = s.cdf(v)
    assert 0.0 <= c <= 1.0
    assert s.cdf(max(values) + 1.0) == 1.0
    if min(values) > 0:
        assert s.cdf(min(values) / 2.0) in (0.0, s.zero_count / s.count)
    # empty sketch -> None
    assert DDSketch(0.01).cdf(v) is None


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e5, max_value=1e5, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    ),
    st.floats(min_value=-2e5, max_value=2e5, allow_nan=False, allow_infinity=False),
    st.floats(min_value=-2e5, max_value=2e5, allow_nan=False, allow_infinity=False),
)
def test_cdf_monotone(values, a, b):
    """cdf is non-decreasing in v."""
    s = DDSketch(0.01).extend(values)
    lo, hi = (a, b) if a <= b else (b, a)
    assert s.cdf(lo) <= s.cdf(hi)


@given(
    st.lists(finite_floats, min_size=1, max_size=120),
    st.floats(min_value=0.0, max_value=0.45),
    st.floats(min_value=0.05, max_value=0.5),
)
@settings(max_examples=150, deadline=None)
def test_trimmed_mean_properties(values, q_lo, width):
    """Rank-window mean invariants across sign classes:
    - (0, 1) window == the bin-representative mean;
    - every window mean lies inside [min rep, max rep];
    - negating the inputs mirrors the window: tm_neg(1-hi, 1-lo) == -tm."""
    q_hi = min(q_lo + width, 1.0)
    s = DDSketch(0.01).extend(values)

    reps = (
        [-s.bin_to_value(i) for i in s.negative_bins]
        + ([0.0] if s.zero_count > 0 else [])
        + [s.bin_to_value(i) for i in s.positive_bins]
    )
    rep_mean = (
        sum(-s.bin_to_value(i) * c for i, c in s.negative_bins.items())
        + sum(s.bin_to_value(i) * c for i, c in s.positive_bins.items())
    ) / s.count

    full = s.trimmed_mean(0.0, 1.0)
    # tolerance must scale with the SUMMAND magnitudes, not the result:
    # mixed-sign inputs like [±5.4e11, 1.5, 0.5] cancel to ~0.5, and the
    # two summation orders (trimmed_mean's sign-ordered fold vs this
    # per-store comprehension) legitimately differ by ~ulp(max |term|)
    # (hypothesis-found, 2026-08-14)
    mag = (
        sum(abs(s.bin_to_value(i)) * c for i, c in s.negative_bins.items())
        + sum(abs(s.bin_to_value(i)) * c for i, c in s.positive_bins.items())
    ) / s.count
    assert math.isclose(full, rep_mean, rel_tol=1e-9, abs_tol=1e-12 * max(mag, 1.0))

    tm = s.trimmed_mean(q_lo, q_hi)
    assert tm is not None
    slack = 1e-9 * max(abs(min(reps)), abs(max(reps))) + 1e-9
    assert min(reps) - slack <= tm <= max(reps) + slack

    neg = DDSketch(0.01).extend([-v for v in values])
    mirrored = neg.trimmed_mean(1.0 - q_hi, 1.0 - q_lo)
    # mirroring reverses the fold order — same cancellation exposure
    assert math.isclose(mirrored, -tm, rel_tol=1e-9, abs_tol=1e-12 * max(mag, 1.0))


# ---------------------------------------------------------------------------
# Column decoder vs the kernel: decode_wire_column / merge_wire_column
# ---------------------------------------------------------------------------

_GAMMA = DDSketch(0.01).gamma
_GAMMA_02 = DDSketch(0.02).gamma
_POS, _NEG = codec.FLAG_POSITIVE_STORE, codec.FLAG_NEGATIVE_STORE
# ln(_GAMMA) ~ 0.0200: gamma ** x overflows past index ~35,480; the column
# fast path stops at 700 / ln(gamma) ~ 34,990
_GOOD_STARTS = [0, -50, 1_000, 34_980]
_BAD_STARTS = [35_470, 35_500, -36_000, 2**31 - 2, 2**31 + 1, -(2**31) - 1]
_GOOD_COUNTS = [1.0, 2.0, 7.0, 0.5, 0.0, 2.5, 1e16]
# 1/3, 0.3 and -1.0 are 9-byte varfloats ending in a byte < 0x80, 0.1 one
# ending in a byte >= 0x80; 2**59 and 1e19 probe the total-count bound
_BAD_COUNTS = [1 / 3, 0.3, 0.1, -1.0, 2.0**59, 1e19, math.inf, math.nan]
_GOOD_GAMMAS = [_GAMMA, _GAMMA, _GAMMA_02, _GAMMA + 5e-11, 1.0000001]
_BAD_GAMMAS = [1.0, 0.5, 2.0, 3.0, -1.5, math.nan, math.inf]


def _flag(ftype, sub):
    return bytes([codec.make_flag(ftype, sub)])


def _varfloat(v):
    buf = bytearray()
    codec.encode_varfloat64(buf, v)
    return bytes(buf)


def _mapping(gamma, offset=0.0, sub=0):
    return _flag(codec.FLAG_INDEX_MAPPING, sub) + struct.pack("<dd", gamma, offset)


def _zero(count):
    return _flag(codec.FLAG_SKETCH_FEATURES, codec.SUBFLAG_ZERO_COUNT) + _varfloat(count)


def _store(ftype, deltas, counts, sub=codec.SUBFLAG_INDEX_DELTAS_AND_COUNTS):
    """A store section: IndexDeltasAndCounts, IndexDeltas (counts unused) or
    ContiguousCounts (first delta is the start index, step 1)."""
    buf = bytearray(_flag(ftype, sub))
    codec.encode_uvarint64(buf, len(counts))
    if sub == codec.SUBFLAG_CONTIGUOUS_COUNTS:
        codec.encode_varint64(buf, deltas[0] if deltas else 0)
        codec.encode_varint64(buf, 1)
    for delta, count in zip(deltas, counts):
        if sub != codec.SUBFLAG_CONTIGUOUS_COUNTS:
            codec.encode_varint64(buf, delta)
        if sub != codec.SUBFLAG_INDEX_DELTAS:
            codec.encode_varfloat64(buf, count)
    return bytes(buf)


@st.composite
def _store_section(draw):
    """A store the column fast path takes, or the same with one defect."""
    n = draw(st.integers(0, 12))
    deltas = [draw(st.sampled_from(_GOOD_STARTS))] + draw(
        st.lists(st.integers(1, 40), min_size=n, max_size=n)
    )
    deltas = deltas[:n]
    counts = draw(st.lists(st.sampled_from(_GOOD_COUNTS), min_size=n, max_size=n))
    sub = codec.SUBFLAG_INDEX_DELTAS_AND_COUNTS
    defect = draw(st.sampled_from([None, None, "sub", "start", "delta", "count"]))
    at = draw(st.integers(0, max(n - 1, 0)))
    if defect == "sub":
        sub = draw(st.sampled_from([codec.SUBFLAG_INDEX_DELTAS, codec.SUBFLAG_CONTIGUOUS_COUNTS, 7]))
    elif n and defect == "start":
        deltas[0] = draw(st.sampled_from(_BAD_STARTS))
    elif n > 1 and defect == "delta":  # a repeated or decreasing index
        deltas[max(at, 1)] = draw(st.sampled_from([0, -1, -3]))
    elif n and defect == "count":
        counts[at] = draw(st.sampled_from(_BAD_COUNTS))
    return _store(draw(st.sampled_from([_POS, _NEG])), deltas, counts, sub)


_MAPPING_SECTION = st.one_of(
    st.builds(_mapping, st.sampled_from(_GOOD_GAMMAS)),
    st.builds(
        _mapping,
        st.sampled_from(_GOOD_GAMMAS + _BAD_GAMMAS),
        st.sampled_from([0.0, 0.5, -3.0, 1e9, math.nan, math.inf]),
        st.sampled_from([0, 1, 4, 5]),
    ),
)
_FEATURE_SECTION = st.one_of(
    st.builds(_zero, st.sampled_from(_GOOD_COUNTS + _BAD_COUNTS)),
    st.builds(
        lambda sub, v: _flag(0, sub) + struct.pack("<d", v),
        st.sampled_from([codec.SUBFLAG_SUM, codec.SUBFLAG_MIN, codec.SUBFLAG_MAX]),
        st.floats(-10.0, 10.0),
    ),
    st.builds(lambda c: _flag(0, codec.SUBFLAG_COUNT) + _varfloat(c), st.sampled_from([3.0, 1e19])),
    st.sampled_from([_flag(0, 2), _flag(0, 7)]),  # unknown: no payload read
)
# a later mapping, store or zero-count section replaces an earlier one
_CRAFTED_BLOB = st.tuples(
    st.one_of(_MAPPING_SECTION, st.just(b"")),
    st.lists(
        st.one_of(_store_section(), _store_section(), _MAPPING_SECTION, _FEATURE_SECTION),
        max_size=4,
    ),
).map(lambda t: t[0] + b"".join(t[1]))
_CANONICAL_BLOB = st.builds(
    lambda alpha, values: DDSketch(alpha).extend(values).encode(),
    st.sampled_from([0.01, 0.01, 0.02]),
    st.lists(st.floats(-1e4, 1e4), max_size=60),
)
_WIRE_BLOB = st.one_of(
    _CRAFTED_BLOB,
    _CRAFTED_BLOB,
    _CANONICAL_BLOB,
    st.builds(lambda b, cut: b[:cut], st.one_of(_CRAFTED_BLOB, _CANONICAL_BLOB), st.integers(0, 200)),
    st.binary(max_size=40),
    st.sampled_from([None, b""]),
)


def _kernel_fold(blobs):
    """The per-row rule the column merge must reproduce: decode each row
    with the kernel, skip what raises, adopt the first, merge the rest and
    drop mapping mismatches."""
    merged, skipped = None, []
    for i, blob in enumerate(blobs):
        try:
            s = DDSketch.decode(blob) if blob else None
        except Exception:
            s = None
        if s is None:
            skipped.append(i)
        elif merged is None:
            merged = s
        else:
            try:
                merged.merge(s)
            except SketchMergeError:
                pass
    return (None if merged is None else merged.encode()), skipped


def _bits(bins):
    return sorted((int(i), float(c).hex()) for i, c in bins)


def _assert_column_matches_kernel(blobs, arr):
    want, skipped = _kernel_fold(blobs)
    rows = decode_wire_column(arr)
    assert [i for i, r in enumerate(rows) if r is None] == skipped
    for blob, row in zip(blobs, rows):
        if row is None:
            continue
        s = DDSketch.decode(blob)
        assert (row.gamma.hex(), row.index_offset.hex(), row.zero_count.hex()) == (
            s.gamma.hex(),
            s.index_offset.hex(),
            s.zero_count.hex(),
        )
        assert _bits(zip(row.positive_index, row.positive_count)) == _bits(s.positive_bins.items())
        assert _bits(zip(row.negative_index, row.negative_count)) == _bits(s.negative_bins.items())
    assert merge_wire_column(arr) == want


@settings(max_examples=1000, deadline=None)
@given(
    st.lists(_WIRE_BLOB, min_size=1, max_size=8),
    st.sampled_from([pa.binary(), pa.large_binary()]),
    st.lists(_WIRE_BLOB, max_size=2),
)
def test_column_decode_matches_kernel(blobs, arrow_type, padding):
    """The column decoder skips exactly the rows ``DDSketch.decode`` raises
    on, decodes the others to the kernel's mapping and bins bit for bit,
    and merges to the kernel fold's bytes: over blobs the fast path takes,
    each fast-path exit (other store encodings, explicit stats, repeated or
    decreasing indexes, 9-byte counts, gamma outside (1, 2), indexes at the
    ``gamma ** x`` overflow edge and outside int32, counts past the total
    bound), repeated sections, truncation and random bytes, in an array
    slice whose offset is nonzero."""
    arr = pa.array(padding + blobs + padding, type=arrow_type)
    _assert_column_matches_kernel(blobs, arr.slice(len(padding), len(blobs)))


_GOOD_BLOB = _mapping(_GAMMA) + _store(_POS, [3, 1, 1], [1.0, 2.0, 1.0]) + _zero(1.0)
# one case per fast-path exit, each next to good rows
_EXIT_CASES = {
    "index_deltas_store": _store(_POS, [3, 1], [1.0, 1.0], codec.SUBFLAG_INDEX_DELTAS),
    "contiguous_counts_store": _store(_NEG, [3], [2.0, 1.0], codec.SUBFLAG_CONTIGUOUS_COUNTS),
    "explicit_sum": _GOOD_BLOB + _flag(0, codec.SUBFLAG_SUM) + struct.pack("<d", 5.0),
    "explicit_count": _GOOD_BLOB + _flag(0, codec.SUBFLAG_COUNT) + _varfloat(2.0),
    "unknown_feature": _GOOD_BLOB + _flag(0, 7),
    "repeated_index": _store(_POS, [3, 0], [1.0, 2.0]),
    "decreasing_index": _store(_POS, [3, -1], [1.0, 2.0]),
    "nine_byte_count": _store(_POS, [3, 1], [1 / 3, 0.3]),
    "nine_byte_count_high_last_byte": _store(_POS, [3, 1], [0.1, 1.0]),
    "negative_count": _store(_NEG, [3], [-1.0]),
    "nan_zero_count": _GOOD_BLOB + _zero(math.nan),
    "infinite_zero_count": _GOOD_BLOB + _zero(math.inf),
    "six_byte_index": _store(_POS, [3, 2**35 + 1], [1.0, 1.0]),
    "count_past_bigint": _store(_POS, [3], [1e19]),
    "counts_at_total_bound": _store(_POS, [3, 1], [2.0**59, 2.0**59]),
    "gamma_one": _mapping(1.0) + _store(_POS, [3], [1.0]),
    "gamma_two": _mapping(2.0) + _store(_POS, [3], [1.0]),
    "gamma_below_one_overflows": _mapping(0.5) + _store(_POS, [-1_100], [1.0]),
    "nan_gamma": _mapping(math.nan) + _store(_POS, [3], [1.0]),
    "negative_gamma": _mapping(-1.5) + _store(_POS, [3], [1.0]),
    "negative_gamma_fractional_offset": _mapping(-1.5, 0.5) + _store(_POS, [3], [1.0]),
    "infinite_offset": _mapping(_GAMMA, math.inf) + _store(_POS, [3], [1.0]),
    "below_pow_overflow": _store(_POS, [35_470], [1.0]),
    "pow_overflow": _store(_POS, [35_500], [1.0]),
    "int32_max": _mapping(1.0000001) + _store(_POS, [2**31 - 2, 1], [1.0, 1.0]),
    "past_int32": _mapping(1.0000001) + _store(_POS, [2**31 - 2, 2], [1.0, 1.0]),
    "mapping_subflag_5": _mapping(_GAMMA, 0.0, 5) + _store(_POS, [3], [1.0]),
    "repeated_sections": _GOOD_BLOB
    + _mapping(_GAMMA_02)
    + _store(_POS, [7], [4.0])
    + _zero(2.0)
    + _store(_NEG, [1], [1.0])
    + _zero(3.0),
    "bad_store_replaced": _store(_POS, [2**31 + 1], [1.0]) + _store(_POS, [3], [1.0]),
    "truncated": _GOOD_BLOB[:-4],
}


@pytest.mark.parametrize("arrow_type", [pa.binary(), pa.large_binary()])
@pytest.mark.parametrize("case", sorted(_EXIT_CASES))
def test_column_decode_exit_cases(case, arrow_type):
    blobs = [_GOOD_BLOB, _EXIT_CASES[case], _GOOD_BLOB, _EXIT_CASES[case]]
    _assert_column_matches_kernel(blobs, pa.array(blobs, type=arrow_type))


def test_column_store_cut_short_is_not_read_from_the_next_row():
    """A store whose last tokens are missing must not borrow them from the
    following row's bytes (here a mapping whose first bytes would read as
    one more bin)."""
    cut = _mapping(_GAMMA) + _store(_POS, [3, 1], [1.0, 1.0])[:-2]
    blobs = [cut, _mapping(1.5) + _store(_POS, [1], [1.0])]
    _assert_column_matches_kernel(blobs, pa.array(blobs))


def test_column_merge_adds_counts_in_row_order():
    """Per bin, counts add in row order from 0.0, as the kernel fold adds
    them: (1e16 + 1) + 1 rounds differently from 1e16 + (1 + 1), on the
    fast path and with kernel-decoded rows (2.7 is a 9-byte count)."""
    for counts in ([1e16, 1.0, 1.0], [1e16, 2.7, 2.7]):
        blobs = [_store(_POS, [3], [c]) for c in counts]
        _assert_column_matches_kernel(blobs, pa.array(blobs))
        assert merge_wire_column(pa.array(blobs)) != merge_wire_column(pa.array(blobs[::-1]))


@pytest.mark.parametrize("arrow_type", [pa.binary(), pa.large_binary()])
@pytest.mark.parametrize(
    "blobs", [[None, None], [b"", b""], [None, b""], []], ids=["null", "empty", "mixed", "no_rows"]
)
def test_column_decode_without_bytes(blobs, arrow_type):
    """All-NULL, all-empty and zero-length arrays (also as slices) decode
    to no rows and merge to None."""
    arr = pa.array(blobs, type=arrow_type)
    assert decode_wire_column(arr) == [None] * len(blobs)
    assert merge_wire_column(arr) is None
    sliced = pa.array([_GOOD_BLOB] + blobs, type=arrow_type).slice(1)
    assert merge_wire_column(sliced) is None


# ---------------------------------------------------------------------------
# Column encoders vs the kernel: token encoders, struct_to_wire, the
# ddsketch_stats_agg finalize
# ---------------------------------------------------------------------------

_FLOAT_BITS = st.integers(0, 2**64 - 1).map(lambda b: struct.unpack("<d", struct.pack("<Q", b))[0])
_ANY_FLOAT = st.one_of(
    _FLOAT_BITS,
    st.floats(allow_nan=True, allow_infinity=True),
    st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, 5e-324, -5e-324, 2.2e-308, 1.0, -1.0]),
)


def _scalar_tokens(encode, values):
    data, lengths = bytearray(), []
    for v in values:
        buf = bytearray()
        encode(buf, v)
        data += buf
        lengths.append(len(buf))
    return bytes(data), lengths


def _starts(lengths):
    return np.cumsum(lengths) - lengths


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=40))
def test_varint_token_encoder_matches_scalar(values):
    """``encode_varint64_tokens`` writes ``encode_varint64``'s bytes for
    any int64, and tokens the column decoder takes decode back."""
    data, lengths = codec.encode_varint64_tokens(np.array(values, np.int64))
    assert (data.tobytes(), lengths.tolist()) == _scalar_tokens(codec.encode_varint64, values)
    short = lengths <= codec.MAX_VARINT_TOKEN
    got = codec.decode_varint64_tokens(data, _starts(lengths), lengths)
    assert got[short].tolist() == np.array(values, np.int64)[short].tolist()
    pos = 0
    for v in values:
        decoded, pos = codec.decode_varint64(data.tobytes(), pos)
        assert decoded == v


@settings(max_examples=200, deadline=None)
@given(st.lists(_ANY_FLOAT, max_size=40))
def test_varfloat_token_encoder_matches_scalar(values):
    """``encode_varfloat64_tokens`` writes ``encode_varfloat64``'s bytes for
    any float64 bit pattern (NaN, infinities, -0.0, subnormals), and the
    bytes decode to ``(v + 1.0) - 1.0``, the value the format keeps: on
    the scalar decoder always, on the column decoder for tokens it takes."""
    data, lengths = codec.encode_varfloat64_tokens(np.array(values, np.float64))
    assert (data.tobytes(), lengths.tolist()) == _scalar_tokens(codec.encode_varfloat64, values)
    kept = [((np.float64(v) + 1.0) - 1.0).tobytes() for v in values]
    got = codec.decode_varfloat64_tokens(data, _starts(lengths), lengths)
    for k, g, n in zip(kept, got, lengths):
        if n <= codec.MAX_VARFLOAT_TOKEN:
            assert g.tobytes() == k
    pos = 0
    for k in kept:
        decoded, pos = codec.decode_varfloat64(data.tobytes(), pos)
        assert np.float64(decoded).tobytes() == k


_STRUCT_ARROW = to_arrow_type(native.SKETCH_STRUCT_SCHEMA)
_EDGE_COUNTS = [1.0, 2.0, 0.0, 0.5, 1 / 3, 1e15, 2.0**62, 2.0**62 + 2.0**52, 2.0**63, 6e18, -1.0, -1e19]
_STRUCT_COUNT = st.one_of(
    st.sampled_from([1.0, 2.0, 3.0, 7.0]),
    st.sampled_from(_EDGE_COUNTS + [math.nan, math.inf, -math.inf, None]),
)
_STRUCT_KEY = st.one_of(
    st.integers(-300, 300),
    st.sampled_from([2**31 - 1, -(2**31), 34_990, 35_500, -36_000]),
)
_STRUCT_MAP = st.one_of(
    st.none(),
    st.dictionaries(_STRUCT_KEY, st.sampled_from([1.0, 2.0, 5.0]), max_size=12),
    st.dictionaries(_STRUCT_KEY, _STRUCT_COUNT, max_size=6),
)
_STRUCT = st.one_of(
    st.none(),
    st.fixed_dictionaries(
        {
            "gamma": st.sampled_from(
                [_GAMMA, _GAMMA, _GAMMA_02, 1.5, 1.0000001, 1.0, 0.5, -1.5, -2.0, 2.0, 3.0, math.nan, math.inf, None]
            ),
            "index_offset": st.sampled_from([0.0, 0.0, 0.5, -3.0, 1e9, math.nan, math.inf, None]),
            "pos": _STRUCT_MAP,
            "neg": _STRUCT_MAP,
            "zero_count": st.sampled_from([0.0, 0.0, 1.0, 4.0, -1.0, 2.0**61, 1e19, math.nan, math.inf, None]),
            "count": st.sampled_from([1.0, 10.0, 0.0, math.nan, math.inf, None]),
            "sum": st.just(0.0),
            "min": st.just(1.0),
            "max": st.just(2.0),
        }
    ),
)


def _kernel_struct_to_wire(row):
    """The per-row rule: a NULL struct, gamma or count (or NaN) is NULL, a
    NULL or NaN zero count is 0 and a NULL offset NaN; a NULL, NaN or
    infinite count is NULL; otherwise the kernel encodes, NULLing what
    ``DDSketch.decode`` would reject."""

    def missing(v):
        return v is None or math.isnan(v)

    if row is None or missing(row["gamma"]) or missing(row["count"]):
        return None
    zero = 0.0 if missing(row["zero_count"]) else row["zero_count"]
    pos, neg = (dict(row[k] or {}) for k in ("pos", "neg"))
    if not all(c is not None and math.isfinite(c) for c in (*pos.values(), *neg.values(), zero)):
        return None
    offset = math.nan if row["index_offset"] is None else row["index_offset"]
    return native._encode_struct(row["gamma"], offset, pos, neg, zero)


@settings(max_examples=500, deadline=None)
@given(st.lists(_STRUCT, min_size=1, max_size=10), st.lists(_STRUCT, max_size=2))
def test_struct_to_wire_matches_kernel(structs, padding):
    """``struct_to_wire`` gives the per-row kernel path's bytes and NULLs
    over NULL structs and map values, gamma <= 1 or negative, NaN and
    fractional offsets, counts near 2^62 and 2^63, negative counts and
    int32-edge bins, in an array slice whose offset is nonzero; and every
    blob it writes decodes."""
    arr = pa.array(padding + structs + padding, _STRUCT_ARROW).slice(len(padding), len(structs))
    got = native._struct_to_wire.func(arr).to_pylist()
    want = [_kernel_struct_to_wire(r) for r in structs]
    assert got == want
    for blob in want:
        if blob is not None:
            DDSketch.decode(blob)


_WEIGHTED_BLOB = st.builds(
    lambda alpha, pairs: _weighted(alpha, pairs).encode(),
    st.sampled_from([0.01, 0.01, 0.02]),
    st.lists(
        st.tuples(st.floats(-1e6, 1e6), st.sampled_from([1.0, 2.5, 0.3, 1 / 3, 1e15, 2.0**55])),
        max_size=40,
    ),
)


def _weighted(alpha, pairs):
    s = DDSketch(alpha)
    for v, c in pairs:
        s.add_with_count(v, c)
    return s


def _float_bits(row):
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


@settings(max_examples=500, deadline=None)
@given(st.lists(st.one_of(_WIRE_BLOB, _WEIGHTED_BLOB, _WEIGHTED_BLOB), min_size=1, max_size=8))
def test_stats_agg_finalize_matches_kernel_fold(blobs):
    """``ddsketch_stats_agg``'s 12 fields are bit for bit those
    ``stats_full_row`` reads off ``encode()`` of the kernel's decode/merge
    fold, over groups of damaged, weighted, mixed-mapping blobs."""
    arr = pa.array(blobs, pa.binary())
    got = ddsketch_stats_agg.func(arr).as_py()
    want = stats_full_row(_kernel_fold(blobs)[0])
    assert _float_bits(got[k] for k in STATS_FULL_SCHEMA.names) == _float_bits(want)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_WIRE_BLOB, _WEIGHTED_BLOB), min_size=1, max_size=6))
# an explicit count section lets the kernel decode a NaN bin count
@example(
    [
        b"\x02\xfdJ\x81Z\xbfR\xf0?\x00\x00\x00\x00\x00\x00\x00\x00\xa0\x04\x05\x03"
        b"\x00\x81\x80\x80\x80\x80\x80\x80\x80\x10\x02\x02\x02\x02"
    ]
)
def test_wire_to_struct_matches_kernel_decode(blobs):
    """``wire_to_struct`` holds what ``DDSketch.decode`` returns, bins in
    its order and stats bit for bit; an undecodable blob is a struct of
    NULL fields, and a NaN field or bin count is NULL."""
    got = native._wire_to_struct.func(pa.array(blobs, pa.binary())).to_pylist()
    for blob, row in zip(blobs, got):
        s = None if blob is None else decode_or_none(blob)
        if s is None:
            assert all(v is None for v in row.values())
            continue

        want = {
            "gamma": s.gamma,
            "index_offset": s.index_offset,
            "zero_count": s.zero_count,
            "count": s.count,
            "sum": s.sum,
            "min": s.min if math.isfinite(s.min) else math.nan,
            "max": s.max if math.isfinite(s.max) else math.nan,
        }
        for k, v in want.items():
            assert (None if row[k] is None else row[k].hex()) == (None if math.isnan(v) else v.hex()), k
        for key, bins in (("pos", s.positive_bins), ("neg", s.negative_bins)):
            assert row[key] == [(i, None if math.isnan(c) else c) for i, c in bins.items()]
