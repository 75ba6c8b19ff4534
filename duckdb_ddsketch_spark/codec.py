"""DataDog DDSketch wire-format codec.

Implements the binary encoding used by ``github.com/DataDog/sketches-go``
v1.4.7 so that sketches produced by this engine are byte-compatible with the
reference DuckDB extension (see ``/root/reference/src/datadog_encoding.rs``,
notably lines 103-217 for the varint/varfloat primitives and 306-595 for the
section codec — re-derived here from the wire-format description, not
translated).

Wire layout: a stream of sections, each introduced by a flag byte whose two
least-significant bits select the section type and whose six most-significant
bits are a subflag:

* ``IndexMapping`` (type 0b10): gamma and index_offset as float64
  little-endian (subflag 0 = logarithmic mapping).
* ``PositiveStore`` / ``NegativeStore`` (0b01 / 0b11): bin payload; subflag 1
  = IndexDeltasAndCounts (uvarint bin count then per bin zig-zag-varint delta
  index + varfloat64 count), subflag 2 = IndexDeltas (implicit count 1),
  subflag 3 = ContiguousCounts (start index, index delta, then counts).
* ``SketchFeatures`` (0b00): subflag 1 zero-count (varfloat64); decoders also
  accept sum/min/max (0x21/0x22/0x23, float64LE) and count (0x28, varfloat64)
  but the encoder intentionally never writes them — Go's decoder mishandles
  FlagCount, so stats are recomputed from bins on decode.

The scalar primitives are pure Python. The token codecs work on whole
columns with numpy, using the same integer and IEEE operations bit for bit:
``decode_varint64_tokens`` and ``decode_varfloat64_tokens`` decode
already-delimited tokens, ``encode_varint64_tokens`` and
``encode_varfloat64_tokens`` are their inverses, and ``encode_wire_column``
writes a whole batch of sketches (``DDSketch.encode``'s bytes) in one pass.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "encode_uvarint64",
    "decode_uvarint64",
    "encode_varint64",
    "decode_varint64",
    "encode_varfloat64",
    "decode_varfloat64",
    "encode_float64_le",
    "decode_float64_le",
    "decode_varint64_tokens",
    "decode_varfloat64_tokens",
    "encode_varint64_tokens",
    "encode_varfloat64_tokens",
    "encode_wire_column",
    "MAX_VARINT_TOKEN",
    "MAX_VARFLOAT_TOKEN",
]

_U64 = (1 << 64) - 1
_VARFLOAT_ROTATE = 6
_MAX_VAR_LEN_64 = 9
_FLOAT_BITS_1 = struct.unpack("<Q", struct.pack("<d", 1.0))[0]

# Flag types (2 LSB of the flag byte).
FLAG_SKETCH_FEATURES = 0b00
FLAG_POSITIVE_STORE = 0b01
FLAG_INDEX_MAPPING = 0b10
FLAG_NEGATIVE_STORE = 0b11

# SketchFeatures subflags.
SUBFLAG_ZERO_COUNT = 0x01
SUBFLAG_SUM = 0x21
SUBFLAG_MIN = 0x22
SUBFLAG_MAX = 0x23
SUBFLAG_COUNT = 0x28

# Store bin-encoding subflags.
SUBFLAG_INDEX_DELTAS_AND_COUNTS = 1
SUBFLAG_INDEX_DELTAS = 2
SUBFLAG_CONTIGUOUS_COUNTS = 3

# IndexMapping subflags.
SUBFLAG_LOG_MAPPING = 0


def make_flag(flag_type: int, subflag: int) -> int:
    return ((subflag << 2) | flag_type) & 0xFF


def flag_type_of(flag: int) -> int:
    return flag & 0b11


def subflag_of(flag: int) -> int:
    return flag >> 2


# ---------------------------------------------------------------------------
# Primitive codecs
# ---------------------------------------------------------------------------


def encode_uvarint64(buf: bytearray, value: int) -> None:
    """LEB128-style unsigned varint: 7 bits/byte, MSB = continuation."""
    value &= _U64
    while value >= 0x80:
        buf.append((value & 0x7F) | 0x80)
        value >>= 7
    buf.append(value)


def decode_uvarint64(data: bytes, pos: int) -> tuple[int, int]:
    """Return (value, new_pos). Raises ValueError on overflow/truncation."""
    result = 0
    shift = 0
    n = len(data)
    while True:
        if pos >= n:
            raise ValueError("truncated uvarint")
        byte = data[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if byte < 0x80:
            break
        shift += 7
        if shift >= 64:
            raise ValueError("uvarint overflow")
    return result & _U64, pos


def encode_varint64(buf: bytearray, value: int) -> None:
    """Signed varint via zig-zag: (v << 1) ^ (v >> 63) in 64-bit arithmetic."""
    zigzag = ((value << 1) ^ (value >> 63)) & _U64
    encode_uvarint64(buf, zigzag)


def decode_varint64(data: bytes, pos: int) -> tuple[int, int]:
    zigzag, pos = decode_uvarint64(data, pos)
    return (zigzag >> 1) ^ -(zigzag & 1), pos


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _rotr64(x: int, r: int) -> int:
    return ((x >> r) | (x << (64 - r))) & _U64


def encode_varfloat64(buf: bytearray, v: float) -> None:
    """DataDog varfloat64, optimized for small non-negative integers.

    bits(v + 1) - bits(1.0), rotated left 6, emitted MSB-first 7 bits/byte
    with continuation MSBs; at most 9 bytes (last byte holds 8 bits).
    """
    bits = struct.unpack("<Q", struct.pack("<d", v + 1.0))[0]
    x = _rotl64((bits - _FLOAT_BITS_1) & _U64, _VARFLOAT_ROTATE)
    for _ in range(_MAX_VAR_LEN_64 - 1):
        n = x >> 57  # top 7 bits
        x = (x << 7) & _U64
        if x == 0:
            buf.append(n)
            return
        buf.append(n | 0x80)
    buf.append((x >> 56) & 0xFF)


def decode_varfloat64(data: bytes, pos: int) -> tuple[float, int]:
    x = 0
    s = 64 - 7
    for i in range(_MAX_VAR_LEN_64):
        if pos >= len(data):
            raise ValueError("truncated varfloat64")
        n = data[pos]
        pos += 1
        if i == _MAX_VAR_LEN_64 - 1:
            x |= n
            break
        if n < 0x80:
            x |= n << s
            break
        x |= (n & 0x7F) << s
        s = max(s - 7, 0)
    bits = (_rotr64(x, _VARFLOAT_ROTATE) + _FLOAT_BITS_1) & _U64
    return struct.unpack("<d", struct.pack("<Q", bits))[0] - 1.0, pos


def encode_float64_le(buf: bytearray, value: float) -> None:
    buf += struct.pack("<d", value)


def decode_float64_le(data: bytes, pos: int) -> tuple[float, int]:
    if pos + 8 > len(data):
        raise ValueError("truncated float64")
    return struct.unpack_from("<d", data, pos)[0], pos + 8


# ---------------------------------------------------------------------------
# Token columns (numpy)
# ---------------------------------------------------------------------------

# Longest tokens the column decoders take. Five varint bytes hold any delta
# between two int32 bin indexes; a varfloat of up to eight bytes ends in a
# byte < 0x80 (a ninth byte carries 8 bits and need not).
MAX_VARINT_TOKEN = 5
MAX_VARFLOAT_TOKEN = _MAX_VAR_LEN_64 - 1

_VARINT_SHIFTS = tuple(7 * j for j in range(MAX_VARINT_TOKEN))
_VARFLOAT_SHIFTS = tuple(64 - 7 - 7 * j for j in range(MAX_VARFLOAT_TOKEN))


def _token_bits(data: np.ndarray, starts: np.ndarray, lengths: np.ndarray, shifts) -> np.ndarray:
    """OR of each token's 7-bit groups, byte ``j`` shifted by ``shifts[j]``;
    bytes past a token's length contribute nothing. Byte ``j`` is read only
    for the tokens longer than ``j``, and most tokens are 1-2 bytes, so the
    later passes touch few tokens."""
    out = np.zeros(len(starts), dtype=np.uint64)
    on = np.flatnonzero(lengths > 0)
    for j, shift in enumerate(shifts):
        if not len(on):
            break
        out[on] |= (data[starts[on] + j] & 0x7F).astype(np.uint64) << np.uint64(shift)
        on = on[lengths[on] > j + 1]
    return out


def decode_varint64_tokens(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """``decode_varint64`` of every token ``data[starts[i]:starts[i] +
    lengths[i]]`` of a uint8 array, as int64, for tokens that are one whole
    varint of at most ``MAX_VARINT_TOKEN`` bytes. A longer token decodes to
    a wrong value the caller must discard."""
    zigzag = _token_bits(data, starts, lengths, _VARINT_SHIFTS).astype(np.int64)
    return (zigzag >> 1) ^ -(zigzag & 1)


def decode_varfloat64_tokens(
    data: np.ndarray, starts: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """``decode_varfloat64`` of every token, as float64 with identical bits,
    for tokens that are one whole varfloat of at most ``MAX_VARFLOAT_TOKEN``
    bytes. A longer token decodes to a wrong value the caller must
    discard."""
    x = _token_bits(data, starts, lengths, _VARFLOAT_SHIFTS)
    r = np.uint64(_VARFLOAT_ROTATE)
    bits = ((x >> r) | (x << (np.uint64(64) - r))) + np.uint64(_FLOAT_BITS_1)
    return bits.view(np.float64) - 1.0


# The column encoders first size every token, then lay the tokens out back
# to back and write them one byte position at a time: byte k of every token
# longer than k in one numpy pass. Most tokens of a sketch are one or two
# bytes, so the later passes touch few tokens.

# 2**7, 2**14, ..., 2**63: a uvarint is one byte longer past each
_UVARINT_STEPS = np.array([1 << (7 * k) for k in range(1, 10)], np.uint64)
_LOW7 = np.uint64(0x7F)


def _uvarint_lengths(x: np.ndarray) -> np.ndarray:
    return np.searchsorted(_UVARINT_STEPS, x, side="right") + 1


def _zigzag(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _put_uvarint(data: np.ndarray, starts: np.ndarray, x: np.ndarray, lengths: np.ndarray) -> None:
    """Write ``encode_uvarint64`` of each ``x`` at ``data[starts:]``: 7-bit
    groups, least significant first, the continuation bit on all but the
    last."""
    for k in range(int(lengths.max(initial=0))):
        on = lengths > k
        group = ((x[on] >> np.uint64(7 * k)) & _LOW7).astype(np.uint8)
        group[lengths[on] - 1 > k] |= 0x80
        data[starts[on] + k] = group


def _varfloat_bits(values: np.ndarray) -> np.ndarray:
    """The 64 bits ``encode_varfloat64`` emits: bits(v + 1) - bits(1.0),
    rotated left by 6."""
    bits = (np.asarray(values, np.float64) + 1.0).view(np.uint64) - np.uint64(_FLOAT_BITS_1)
    r = np.uint64(_VARFLOAT_ROTATE)
    return (bits << r) | (bits >> (np.uint64(64) - r))


def _varfloat_lengths(x: np.ndarray) -> np.ndarray:
    """Bytes of each varfloat: its 7-bit groups, MSB first, end at the first
    after which no set bit is left, so at ceil((64 - trailing zeros) / 7),
    at least 1; a token needing more than 8 ends in a 9th, whole byte."""
    lowest = x & (~x + np.uint64(1))
    trailing = np.frexp(lowest.astype(np.float64))[1] - 1
    groups = (64 - np.where(x == 0, 64, trailing) + 6) // 7
    return np.where(groups > _MAX_VAR_LEN_64 - 1, _MAX_VAR_LEN_64, np.maximum(groups, 1))


def _put_varfloat(data: np.ndarray, starts: np.ndarray, x: np.ndarray, lengths: np.ndarray) -> None:
    """Write ``encode_varfloat64``'s bytes for each ``_varfloat_bits`` ``x``
    at ``data[starts:]``."""
    for k in range(int(lengths.max(initial=0))):
        on = lengths > k
        if k == _MAX_VAR_LEN_64 - 1:
            data[starts[on] + k] = (x[on] & np.uint64(0xFF)).astype(np.uint8)
            continue
        group = ((x[on] >> np.uint64(57 - 7 * k)) & _LOW7).astype(np.uint8)
        group[lengths[on] - 1 > k] |= 0x80
        data[starts[on] + k] = group


def _laid_out(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """An output buffer for tokens of ``lengths`` back to back, and each
    token's start in it."""
    ends = np.cumsum(lengths)
    return np.empty(int(ends[-1]) if len(ends) else 0, np.uint8), ends - lengths


def encode_varint64_tokens(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``encode_varint64`` of every int64 value: the tokens' bytes back to
    back (uint8) and each token's length. The inverse of
    ``decode_varint64_tokens`` for tokens of at most ``MAX_VARINT_TOKEN``
    bytes."""
    x = _zigzag(values)
    lengths = _uvarint_lengths(x)
    data, starts = _laid_out(lengths)
    _put_uvarint(data, starts, x, lengths)
    return data, lengths


def encode_varfloat64_tokens(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``encode_varfloat64`` of every float64 value, any bit pattern: the
    tokens' bytes back to back (uint8) and each token's length. The inverse
    of ``decode_varfloat64_tokens`` for tokens of at most
    ``MAX_VARFLOAT_TOKEN`` bytes."""
    x = _varfloat_bits(values)
    lengths = _varfloat_lengths(x)
    data, starts = _laid_out(lengths)
    _put_varfloat(data, starts, x, lengths)
    return data, lengths


def encode_wire_column(
    gamma: np.ndarray,
    index_offset: np.ndarray,
    zero_count: np.ndarray,
    positive: tuple[np.ndarray, np.ndarray, np.ndarray],
    negative: tuple[np.ndarray, np.ndarray, np.ndarray],
) -> tuple[np.ndarray, np.ndarray]:
    """``DDSketch.encode`` of every row of a batch, in one numpy pass.

    Row ``r`` has mapping ``(gamma[r], index_offset[r])`` and zero count
    ``zero_count[r]``; ``positive`` and ``negative`` are ``(offsets, index,
    count)``, the row's bins being ``index[offsets[r]:offsets[r + 1]]``
    (int64, strictly increasing, ``offsets[0] == 0``) with their float64
    counts. Returns the batch's bytes (uint8) and the int64 offsets of each
    row's blob in them.

    Each blob is, as the kernel writes it: the mapping section, then each
    non-empty store as IndexDeltasAndCounts (bin count, then per bin the
    zig-zag delta from the previous index and the varfloat count), then the
    zero count when it is > 0. Every piece (a flag, a float64, a token) is
    sized, the pieces are laid out in blob order, and each kind of piece is
    written at its places.
    """
    gamma = np.asarray(gamma, np.float64)
    zero_count = np.asarray(zero_count, np.float64)
    n = len(gamma)
    stores = []
    for flag_type, (offsets, index, count) in (
        (FLAG_POSITIVE_STORE, positive),
        (FLAG_NEGATIVE_STORE, negative),
    ):
        offsets = np.asarray(offsets, np.int64)
        index = np.asarray(index, np.int64)
        sizes = np.diff(offsets)
        row = np.repeat(np.arange(n), sizes)
        place = np.arange(len(index)) - offsets[:-1][row]
        delta = np.diff(index, prepend=0)
        delta[place == 0] = index[place == 0]
        stores.append((flag_type, sizes, row, place, _zigzag(delta), _varfloat_bits(count)))
    has_zero = zero_count > 0.0
    # pieces per row: flag, gamma, offset; per non-empty store its flag, bin
    # count and two tokens per bin; a zero count's flag and token
    store_pieces = [np.where(sizes > 0, 2 + 2 * sizes, 0) for _, sizes, *_ in stores]
    pieces = 3 + store_pieces[0] + store_pieces[1] + 2 * has_zero
    first = np.cumsum(pieces) - pieces
    flags = [(first, make_flag(FLAG_INDEX_MAPPING, SUBFLAG_LOG_MAPPING))]
    tokens = []  # (pieces, values, writer)
    start = first + 3
    for (flag_type, sizes, row, place, delta, count), n_pieces in zip(stores, store_pieces):
        filled = np.flatnonzero(sizes)
        flags.append((start[filled], make_flag(flag_type, SUBFLAG_INDEX_DELTAS_AND_COUNTS)))
        bin_at = start[row] + 2 + 2 * place
        tokens += [
            (start[filled] + 1, sizes[filled].astype(np.uint64), _put_uvarint),
            (bin_at, delta, _put_uvarint),
            (bin_at + 1, count, _put_varfloat),
        ]
        start = start + n_pieces
    zeros = np.flatnonzero(has_zero)
    flags.append((start[zeros], make_flag(FLAG_SKETCH_FEATURES, SUBFLAG_ZERO_COUNT)))
    tokens.append((start[zeros] + 1, _varfloat_bits(zero_count[zeros]), _put_varfloat))

    lengths = np.ones(int(pieces.sum()), np.int64)  # flags are one byte
    lengths[first + 1] = lengths[first + 2] = 8
    sized = {_put_uvarint: _uvarint_lengths, _put_varfloat: _varfloat_lengths}
    for at, x, put in tokens:
        lengths[at] = sized[put](x)
    data, piece_start = _laid_out(lengths)
    for at, flag in flags:
        data[piece_start[at]] = flag
    for at, x, put in tokens:
        put(data, piece_start[at], x, lengths[at])
    for k, column in ((1, gamma), (2, index_offset)):
        floats = np.asarray(column, "<f8").view(np.uint8).reshape(n, 8)
        data[piece_start[first + k][:, None] + np.arange(8)] = floats
    # each blob starts at its mapping flag and ends where the next starts
    return data, np.append(piece_start[first], len(data))
