"""Codec + kernel golden tests against DataDog/sketches-go wire vectors.

Mirrors the reference's four test layers (SURVEY.md §5): primitive codec
vectors, kernel unit tests, Go-generated golden sketches, and the 6,235-entry
production corpus.
"""

import gzip
import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures"))

from duckdb_ddsketch_spark import codec
from duckdb_ddsketch_spark.sketch import DDSketch, SketchMergeError

import golden_vectors as gv

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def approx_rel(a, b, tol):
    if a == b:
        return True
    m = max(abs(a), abs(b))
    if m == 0.0:
        return abs(a - b) < 1e-10
    return abs(a - b) <= m * tol


# ---------------------------------------------------------------------------
# Layer 1: primitive codecs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("value,expected", gv.UVARINT_VECTORS)
def test_uvarint_vectors(value, expected):
    buf = bytearray()
    codec.encode_uvarint64(buf, value)
    assert bytes(buf) == expected
    decoded, pos = codec.decode_uvarint64(expected, 0)
    assert decoded == value
    assert pos == len(expected)


@pytest.mark.parametrize("value,expected", gv.VARINT_VECTORS)
def test_varint_vectors(value, expected):
    buf = bytearray()
    codec.encode_varint64(buf, value)
    assert bytes(buf) == expected
    decoded, pos = codec.decode_varint64(expected, 0)
    assert decoded == value


def test_uvarint_roundtrip():
    for v in [0, 1, 127, 128, 16383, 16384, 2**64 - 1]:
        buf = bytearray()
        codec.encode_uvarint64(buf, v)
        decoded, _ = codec.decode_uvarint64(bytes(buf), 0)
        assert decoded == v


def test_varint_roundtrip():
    for v in [0, 1, -1, 63, -64, 64, -65, -(2**63), 2**63 - 1]:
        buf = bytearray()
        codec.encode_varint64(buf, v)
        decoded, _ = codec.decode_varint64(bytes(buf), 0)
        assert decoded == v


def test_varfloat_roundtrip():
    import struct as _s

    f64max = _s.unpack("<d", b"\xff\xff\xff\xff\xff\xff\xef\x7f")[0]
    for v in [0.0, 1.0, -1.0, math.pi, -f64max, f64max, 0.5, 123456789.0, 1e-300]:
        buf = bytearray()
        codec.encode_varfloat64(buf, v)
        decoded, pos = codec.decode_varfloat64(bytes(buf), 0)
        assert pos == len(buf)
        assert abs(v - decoded) < 1e-15 or approx_rel(v, decoded, 1e-15)


# ---------------------------------------------------------------------------
# Layer 2: kernel unit tests
# ---------------------------------------------------------------------------


def test_sketch_encode_decode_roundtrip():
    s = DDSketch(0.01)
    for i in range(1, 101):
        s.add(float(i))
    decoded = DDSketch.decode(s.encode())
    assert decoded.count == s.count
    assert approx_rel(decoded.sum, s.sum, 0.03)
    assert len(decoded.positive_bins) == len(s.positive_bins)


def test_sketch_merge_exact_in_memory():
    s1 = DDSketch(0.01).extend([10.0, 20.0])
    s2 = DDSketch(0.01).extend([30.0, 40.0])
    s1.merge(s2)
    assert s1.count == 4.0
    assert s1.sum == 100.0
    assert s1.min == 10.0
    assert s1.max == 40.0


def test_merge_rejects_gamma_mismatch():
    s1 = DDSketch(0.01).extend([10.0])
    s2 = DDSketch(0.02).extend([20.0])
    with pytest.raises(SketchMergeError, match="gamma"):
        s1.merge(s2)


def test_merge_rejects_offset_mismatch():
    s1 = DDSketch(0.01).extend([10.0])
    s2 = DDSketch(0.01).extend([20.0])
    s2.index_offset = 5.0
    with pytest.raises(SketchMergeError, match="index_offset"):
        s1.merge(s2)


@pytest.mark.parametrize("alpha", [0.0, 1.0, -0.5, 2.0, math.nan, math.inf])
def test_relative_accuracy_outside_open_unit_interval_raises(alpha):
    with pytest.raises(ValueError, match="relative accuracy"):
        DDSketch(alpha)


def test_relative_accuracy_inside_open_unit_interval_builds():
    for alpha in (1e-9, 0.01, 0.5, 0.999):
        assert DDSketch(alpha).extend([1.0, -2.0, 0.0]).count == 3.0
    # the bytes of an empty and a small sketch at the common accuracies
    values = [1.0, 2.5, -3.0, 0.0, 1e6]
    for alpha, mapping, stores in (
        (0.01, "02fd4a815abf52f03f0000000000000000", "050300025c028a0a0207016e020402"),
        (0.02, "022a7839052fa7f03f0000000000000000", "050300022e02860502070138020402"),
        (0.05, "02f31aca6b28aff13f0000000000000000", "050300021402820202070116020402"),
    ):
        assert DDSketch(alpha).encode().hex() == mapping
        assert DDSketch(alpha).extend(values).encode().hex() == mapping + stores


def test_decode_rejects_counts_and_bin_values_spark_cannot_hold():
    """A blob whose count is NaN, infinite or past BIGINT, or whose bins
    have no real value, is malformed: decode raises, so every path NULLs
    the row instead of failing the task that converts it."""

    def blob(gamma=None, offset=None, count=None, explicit_sum=False):
        s = DDSketch(0.01).extend([1.0, 5.0])
        if gamma is not None:
            s.gamma = gamma
        if offset is not None:
            s.index_offset = offset
        if count is not None:
            s.positive_bins[min(s.positive_bins)] = count
        out = bytearray(s.encode())
        if explicit_sum:
            out.append(codec.make_flag(codec.FLAG_SKETCH_FEATURES, codec.SUBFLAG_SUM))
            codec.encode_float64_le(out, 6.0)
        return bytes(out)

    for bad in (
        blob(count=math.nan),
        blob(count=math.inf),
        blob(count=1e19),
        blob(gamma=-1.5, offset=0.5),  # (-1.5) ** 0.5 is complex
        blob(gamma=1e300, explicit_sum=True),  # bin value overflows
    ):
        with pytest.raises((ValueError, OverflowError)):
            DDSketch.decode(bad)
    # nonsense but real: a negative gamma under an integral offset decodes
    assert DDSketch.decode(blob(gamma=-1.5)).get_count() == 2


def test_quantiles_1_to_100():
    s = DDSketch(0.01).extend(float(i) for i in range(1, 101))
    p50 = s.quantile(0.50)
    assert 48.0 <= p50 <= 52.0
    p99 = s.quantile(0.99)
    assert 97.0 <= p99 <= 103.0


def test_roundtrip_min_max_tolerance():
    s = DDSketch(0.01).extend([5.5, 100.25, 50.0])
    d = DDSketch.decode(s.encode())
    assert approx_rel(d.min, 5.5, 0.03)
    assert approx_rel(d.max, 100.25, 0.03)
    assert d.count == 3.0
    assert approx_rel(d.sum, 155.75, 0.03)


def test_weighted_add_ignores_nonpositive_count():
    s = DDSketch(0.01)
    s.add_with_count(5.0, 0.0)
    s.add_with_count(5.0, -2.0)
    assert s.count == 0.0
    s.add_with_count(5.0, 3.0)
    assert s.count == 3.0
    assert s.sum == 15.0


def test_zero_and_negative_values():
    s = DDSketch(0.01).extend([-5.0, 0.0, 0.0, 3.0])
    assert s.zero_count == 2.0
    assert len(s.negative_bins) == 1
    assert len(s.positive_bins) == 1
    assert s.count == 4.0
    # quantile sign handling: p0 ≈ -5, p1 ≈ 3, middle hits zero bucket
    assert s.quantile(0.0) < 0
    assert s.quantile(1.0) > 0
    assert s.quantile(0.5) == 0.0
    # roundtrips through the wire with all three stores
    d = DDSketch.decode(s.encode())
    assert d.count == 4.0
    assert d.zero_count == 2.0
    assert approx_rel(d.quantile(0.0), -5.0, 0.03)


def test_issue1_count_1_quantile():
    s = DDSketch(0.01).extend([1.0])
    assert 0.5 < s.quantile(0.50) < 1.5
    s2 = DDSketch(0.01).extend([100.0])
    assert approx_rel(s2.quantile(0.50), 100.0, 0.03)


def test_issue1_strict_gt():
    s = DDSketch(0.01).extend(float(i) for i in range(1, 11))
    p50 = s.quantile(0.50)
    assert 4.5 <= p50 <= 5.5
    assert approx_rel(p50, 5.002829575110703, 0.05)


def test_boundary_quantiles():
    s = DDSketch(0.01).extend(float(i) for i in range(1, 6))
    assert s.quantile(0.0) is not None
    assert s.quantile(1.0) is not None
    assert s.quantile(-0.1) is None
    assert s.quantile(1.1) is None


def test_empty_sketch_stats():
    s = DDSketch(0.01)
    assert s.get_count() == 0
    assert s.get_sum() is None
    assert s.get_min() is None
    assert s.get_max() is None
    assert s.get_avg() is None
    assert s.quantile(0.5) is None
    # empty encodes to just the 17-byte index mapping section
    assert len(s.encode()) == 17


# ---------------------------------------------------------------------------
# Layer 3: Go-generated golden sketches
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,hex_str,count,total,quantiles",
    gv.GO_SKETCHES,
    ids=[v[0] for v in gv.GO_SKETCHES],
)
def test_go_golden_sketches(name, hex_str, count, total, quantiles):
    s = DDSketch.decode(bytes.fromhex(hex_str))
    assert s.get_count() == count
    if count == 0:
        assert s.sum == 0.0
    else:
        assert approx_rel(s.sum, total, 0.01)
    for q, expected in quantiles.items():
        assert approx_rel(s.quantile(q), expected, 0.02), (q, s.quantile(q), expected)


def test_contiguous_counts_decoding():
    raw = bytes.fromhex(gv.CONTIGUOUS_COUNTS_HEX)
    assert len(raw) == 57
    s = DDSketch.decode(raw)
    assert len(s.positive_bins) == 35
    assert int(s.count) == 50
    assert 3700.0 < s.sum < 3800.0
    # p50 for values 51..100 ~ 75
    assert 73.0 <= s.quantile(0.50) <= 77.0


def test_go_roundtrip_reencode():
    raw = bytes.fromhex(gv.CONTIGUOUS_COUNTS_HEX)
    s1 = DDSketch.decode(raw)
    reencoded = s1.encode()
    s2 = DDSketch.decode(reencoded)
    assert int(s2.count) == int(s1.count)
    assert abs(s2.sum - s1.sum) < 0.001
    assert len(s2.positive_bins) == len(s1.positive_bins)


@pytest.mark.parametrize(
    "hex_str,count,quantiles",
    gv.QUANTILE_VECTORS,
    ids=["count1", "count6", "hc_single", "hc_multi"],
)
def test_go_quantile_vectors(hex_str, count, quantiles):
    s = DDSketch.decode(bytes.fromhex(hex_str))
    assert int(s.count) == count
    for q, expected in quantiles.items():
        got = s.quantile(q)
        assert approx_rel(got, expected, 0.02), (q, got, expected)


# ---------------------------------------------------------------------------
# Layer 4: production corpus (6,235 sketches)
# ---------------------------------------------------------------------------


def _load_corpus():
    path = os.path.join(FIXTURES, "production_sketches.jsonl.gz")
    with gzip.open(path, "rt") as f:
        return [json.loads(line) for line in f]


def test_production_corpus_decode_all():
    corpus = _load_corpus()
    assert len(corpus) == 6235
    failures = []
    for i, row in enumerate(corpus):
        try:
            s = DDSketch.decode(bytes.fromhex(row["hex"]))
        except Exception as e:  # pragma: no cover
            failures.append((i, f"decode failed: {e}"))
            continue
        if abs(s.count - row["count"]) > 0.001:
            failures.append((i, f"count {s.count} != {row['count']}"))
        elif row["sum"] != 0.0:
            if abs(s.sum - row["sum"]) / abs(row["sum"]) > 0.05:
                failures.append((i, f"sum {s.sum} != {row['sum']}"))
        elif abs(s.sum) > 0.001:
            failures.append((i, f"sum should be 0, got {s.sum}"))
    assert not failures, failures[:10]


def test_production_corpus_merge_all():
    corpus = _load_corpus()
    merged = None
    for row in corpus:
        s = DDSketch.decode(bytes.fromhex(row["hex"]))
        if merged is None:
            merged = s
        else:
            merged.merge(s)
    assert merged is not None
    assert merged.count == sum(r["count"] for r in corpus)


def test_production_corpus_reencode_roundtrip():
    # decode → re-encode → decode: stats must be preserved (count exactly)
    corpus = _load_corpus()
    for row in corpus[:500]:
        s1 = DDSketch.decode(bytes.fromhex(row["hex"]))
        s2 = DDSketch.decode(s1.encode())
        assert s2.count == s1.count
        assert abs(s2.sum - s1.sum) <= max(abs(s1.sum), 1e-9) * 1e-9


def test_non_finite_values_skipped_everywhere():
    """Engine-wide rule (deliberate deviation from the reference's
    accidental NaN->zero_count / inf-saturating-cast behavior): non-finite
    input is ignored on add, weighted add, and the vectorized bulk path."""
    import numpy as np

    base = [1.0, -2.0, 0.0, 50.0]
    dirty = [float("nan"), float("inf"), float("-inf")]
    s_clean = DDSketch(0.01).extend(base)
    s_dirty = DDSketch(0.01).extend(base + dirty)
    for v in dirty:
        s_dirty.add_with_count(v, 3.0)
    assert s_dirty.count == s_clean.count == 4
    assert s_dirty.encode() == s_clean.encode()

    s_vec = DDSketch(0.01).extend_array(np.array(base + dirty))
    assert s_vec.count == 4
    assert s_vec.encode() == s_clean.encode()


def test_downsample_preserves_count_and_bounds_error():
    import random

    rng = random.Random(7)
    values = [rng.lognormvariate(3, 2) for _ in range(5000)] + [0.0, -4.5, -0.001]
    fine = DDSketch(0.005).extend(values)
    coarse = fine.downsample(0.01)
    assert coarse.gamma == DDSketch(0.01).gamma
    assert coarse.count == fine.count
    assert coarse.zero_count == fine.zero_count
    # mergeable with natively-built 0.01 sketches (the whole point)
    native01 = DDSketch(0.01).extend([1.0])
    native01.merge(coarse)
    assert native01.count == coarse.count + 1
    # quantile error bounded by ~(alpha_src + alpha_dst) against the sample
    pos_sorted = sorted(v for v in values if v > 0)
    for q in (0.1, 0.5, 0.9, 0.99):
        got = coarse.quantile(q)
        true = pos_sorted[round(q * (len(pos_sorted) - 1))]
        # offset rank by the 3 non-positive values for a loose bound check
        assert got is not None
        assert abs(got - true) / true < 0.05, (q, got, true)
    # refining is refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fine.downsample(0.001)
