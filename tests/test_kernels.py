"""Round-trip property tests for the numpy codec kernels.

Mirrors the reference's assertion class (1) in SURVEY.md §5: match/emit
validity asserts (reference src/zopfli/lz77.c:274-287, deflate.c:423-454) —
here as decode(encode(x)) == x over adversarial distributions, plus the
stored-block size guarantee (deflate.c:935-938,1110-1114).
"""

from __future__ import annotations

import numpy as np
import pytest

from zopfli_spark.codecs import bitio
from zopfli_spark.codecs import kernels
from zopfli_spark.codecs.kernels import (
    blob_codec_name,
    decode_blob,
    encode_best,
    encode_simple,
)
from zopfli_spark.codecs.strings import decode_strings, encode_strings

RNG = np.random.Generator(np.random.PCG64(42))

CASES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([7], dtype=np.int64),
    "constant": np.full(1000, 123456, dtype=np.int64),
    "two_values": np.array([0, 2**31 - 1], dtype=np.int64),
    "int32_extremes": np.array([-(2**31), 2**31 - 1, 0, -1, 1], dtype=np.int64),
    "ascending": np.arange(5000, dtype=np.int64) * 3 + 17,
    "descending": np.arange(5000, dtype=np.int64)[::-1].copy(),
    "narrow_range": RNG.integers(1000, 1064, 5000).astype(np.int64),
    "zipfian": np.minimum(RNG.zipf(1.3, 5000), 50000).astype(np.int64),
    "uniform_random": RNG.integers(0, 2**17, 5000).astype(np.int64),
    "run_heavy": np.repeat(RNG.integers(0, 100, 200), RNG.integers(1, 50, 200)).astype(np.int64),
    "negatives": RNG.integers(-(2**16), 2**16, 3000).astype(np.int64),
    "mostly_constant": np.where(RNG.random(4000) < 0.99, 5, RNG.integers(0, 100, 4000)).astype(np.int64),
    "zipf_midcard": (RNG.zipf(1.2, 20000) % 5000).astype(np.int64),
    "zipf_skewed": (RNG.zipf(1.5, 20000) % 300).astype(np.int64),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_encode_best_roundtrip(name):
    v = CASES[name]
    blob = encode_best(v)
    out = decode_blob(blob, len(v))
    assert np.array_equal(out, v), f"{name}: roundtrip mismatch via {blob_codec_name(blob)}"
    # stored-block guarantee: never worse than plain + tag byte
    assert len(blob) <= 1 + 4 * len(v), f"{name}: {len(blob)} > plain"


@pytest.mark.parametrize("name", sorted(CASES))
def test_encode_simple_roundtrip(name):
    v = CASES[name]
    blob = encode_simple(v)
    assert np.array_equal(decode_blob(blob, len(v)), v)


def test_expected_codec_choices():
    assert blob_codec_name(encode_best(CASES["constant"])) == "constant"
    assert blob_codec_name(encode_best(CASES["ascending"])) == "delta_bitpack"
    assert blob_codec_name(encode_best(CASES["narrow_range"])) in ("for_bitpack", "plane_zlib")
    assert blob_codec_name(encode_best(CASES["run_heavy"])) in ("rle", "dict_rle", "plane_zlib")
    big_zipf = np.minimum(RNG.zipf(1.5, 20000), 2**17).astype(np.int64)
    assert blob_codec_name(encode_best(big_zipf)) in ("dict", "dict_rle", "plane_zlib", "huffman")
    # entropy-coded candidates must win the argmin on Zipfian token pages —
    # the order-0 gap dict+bitpack leaves on the table (VERDICT r1 missing
    # #1). Which entropy coder wins (canonical Huffman vs Z_RLE byte-plane
    # DEFLATE) is decided by exact size per page.
    assert blob_codec_name(encode_best(CASES["zipf_midcard"])) in ("huffman", "plane_zlib")
    assert blob_codec_name(encode_best(CASES["zipf_skewed"])) in ("huffman", "plane_zlib")


def test_huffman_beats_bitpack_and_zlib_on_zipf():
    from zopfli_spark.codecs.kernels import encode_forced

    v = CASES["zipf_midcard"]
    huff = len(encode_forced(v, "huffman"))
    assert huff < len(encode_forced(v, "dict"))
    # huffman beats match-search DEFLATE planes; Z_RLE planes are a separate
    # candidate and the argmin picks the true min of the two
    assert huff < len(encode_forced(v, "plane_zlib", plane_strategy="default"))
    best = len(encode_best(v))
    assert best == min(huff, len(encode_forced(v, "plane_zlib")), best)


def test_huffman_forced_roundtrip_many_shapes():
    from zopfli_spark.codecs.kernels import encode_forced

    for seed in range(25):
        rng = np.random.Generator(np.random.PCG64(seed))
        n = int(rng.integers(2, 4000))
        card = int(rng.integers(2, 6000))
        v = (rng.zipf(1.0 + rng.random(), n) % card).astype(np.int64)
        blob = encode_forced(v, "huffman")
        assert np.array_equal(decode_blob(blob, n), v), seed


def test_compression_actually_compresses():
    v = CASES["narrow_range"]
    assert len(encode_best(v)) < 4 * len(v) / 3  # ≥ ~3x on 6-bit range data
    v = CASES["ascending"]
    assert len(encode_best(v)) < 4 * len(v) / 4


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 9, 15, 16, 17, 31, 32, 33, 47, 64])
def test_pack_unpack_bits(width):
    n = 999
    if width == 0:
        vals = np.zeros(n, dtype=np.uint64)
    else:
        hi = np.uint64(2**width - 1)
        vals = RNG.integers(0, int(hi) + 1 if width < 64 else 2**63, n, dtype=np.uint64)
        vals[0] = hi
        vals[-1] = 0
    buf = bitio.pack_bits(vals, width)
    assert len(buf) == (n * width + 7) // 8
    out = bitio.unpack_bits(buf, n, width)
    assert np.array_equal(out, vals)


def test_zigzag():
    v = np.array([0, -1, 1, -2, 2, -(2**62), 2**62], dtype=np.int64)
    assert np.array_equal(bitio.zigzag_decode(bitio.zigzag_encode(v)), v)


STRING_CASES = {
    "empty": np.array([], dtype=object),
    "one": np.array(["doc_000000000001"], dtype=object),
    "doc_ids": np.array([f"doc_{i:012d}" for i in range(500)], dtype=object),
    "low_card": np.array(["web", "code", "books", "wiki"] * 250, dtype=object),
    "unicode": np.array(["héllo", "wörld", "日本語テキスト", ""] * 50, dtype=object),
    "empties": np.array(["", "", "a", ""], dtype=object),
    # regression: numpy "U" dtype drops trailing NULs; 'a' and 'a\x00' must
    # stay distinct dictionary entries (VERDICT r1 bug #1)
    "trailing_nul": np.array(
        (["a", "a\x00", "a\x00\x00", "b\x00", "b"] * 30) + ["000\x80" + "\x00"],
        dtype=object,
    ),
}


@pytest.mark.parametrize("name", sorted(STRING_CASES))
def test_string_roundtrip(name):
    s = STRING_CASES[name]
    blob = encode_strings(s)
    out = decode_strings(blob, len(s))
    assert out.to_pylist() == list(s)


def test_fsst_compresses_doc_ids():
    s = STRING_CASES["doc_ids"]
    blob = encode_strings(s)
    raw = sum(len(x) for x in s)
    assert len(blob) < raw  # shared 'doc_0000000' prefixes must compress


# ---------------------------------------------------------------------------
# hypothesis property tests (FIXTURES.md §6.1 generated-case requirement)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**31), max_value=2**31 - 1),
        min_size=0,
        max_size=400,
    )
)
def test_property_roundtrip_any_int32_list(xs):
    v = np.array(xs, dtype=np.int64)
    blob = encode_best(v)
    assert np.array_equal(decode_blob(blob, len(v)), v)
    assert len(blob) <= 1 + 4 * len(v)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**17),  # base
    st.integers(min_value=1, max_value=64),     # run value count
    st.integers(min_value=1, max_value=50),     # max run length
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_property_structured_runs(base, nvals, maxrun, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    v = np.repeat(
        rng.integers(base, base + nvals, 50), rng.integers(1, maxrun + 1, 50)
    ).astype(np.int64)
    blob = encode_best(v)
    assert np.array_equal(decode_blob(blob, len(v)), v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(max_size=24), min_size=0, max_size=80))
def test_property_string_roundtrip(xs):
    s = np.array(xs, dtype=object)
    blob = encode_strings(s)
    assert decode_strings(blob, len(s)).to_pylist() == xs


def test_dict_shift_wins_on_clustered_noise_page():
    """Coarsened dictionary (OptimizeHuffmanForRle spirit for the dict
    header, SURVEY §4 #14): cluster centers + low-bit noise explode raw
    cardinality, so full DICT drowns in header bytes; dict over v>>s plus
    raw low bits must win the argmin and roundtrip exactly."""
    rng = np.random.default_rng(0)
    centers = rng.integers(0, 1 << 18, 64) * 4096
    v = (centers[rng.integers(0, 64, 20000)] + rng.integers(0, 64, 20000)).astype(np.int32)
    blob = kernels.encode_best(v)
    assert kernels.blob_codec_name(blob) == "dict_shift"
    assert len(blob) < (1 + 4 * len(v)) // 2
    assert np.array_equal(kernels.decode_blob(blob, len(v)), v.astype(np.int64))
    assert kernels.encode_forced(v, "dict_shift") == blob


def test_dict_shift_roundtrips_negative_values():
    rng = np.random.default_rng(1)
    centers = rng.integers(-(1 << 17), 1 << 17, 64) * 4096
    v = (centers[rng.integers(0, 64, 8192)] + rng.integers(0, 64, 8192)).astype(np.int32)
    blob = kernels.encode_forced(v, "dict_shift")
    assert np.array_equal(kernels.decode_blob(blob, len(v)), v.astype(np.int64))


def test_huffman_rle_smoothing_never_worse():
    """_huffman_select_lengths compares exact totals, so the smoothed
    variant is only chosen when strictly smaller; forced re-encode must
    reproduce the same choice byte-for-byte."""
    rng = np.random.default_rng(2)
    # long tail of near-equal small counts → smoothing flattens the length
    # table; a few hot symbols keep the payload term honest
    v = np.concatenate([
        rng.integers(0, 8, 30000),
        np.arange(4000) * 7 % 65536,
    ]).astype(np.int32)
    no_plane_zlib = frozenset(kernels.CODEC_NAMES) - {kernels.PLANE_ZLIB}
    blob = kernels.encode_best(v, allowed=no_plane_zlib)
    out = kernels.decode_blob(blob, len(v))
    assert np.array_equal(out, v.astype(np.int64))
    if kernels.blob_codec_name(blob) == "huffman":
        assert kernels.encode_forced(v, "huffman") == blob


def test_decode_blob_bounded_on_corrupt_input():
    """Decode-path robustness contract: for any truncation, single-byte
    flip, or wrong-n over a valid blob, decode_blob either raises a normal
    Python exception or returns an array of the requested length — never a
    giant allocation (MemoryError alloc bomb via corrupt RLE run lengths /
    dict cardinalities; page CRCs only run AFTER decode) and never a crash."""
    import struct
    import zlib as _zlib

    import numpy as np

    from zopfli_spark.codecs.kernels import decode_blob, encode_best

    rng = np.random.default_rng(0)
    arrays = [
        np.repeat(rng.integers(0, 9, 50), 37).astype(np.int64),
        np.cumsum(rng.integers(1, 9, 1850)).astype(np.int64),
        rng.integers(0, 17, 1850).astype(np.int64) * 12345,
        rng.integers(0, 1 << 30, 1850).astype(np.int64),
        (rng.zipf(1.3, 1850) % 30000).astype(np.int64),
    ]
    ok_exceptions = (ValueError, IndexError, KeyError, struct.error, _zlib.error, OverflowError)
    for v in arrays:
        blob = encode_best(v)
        n = len(v)
        for trial in range(240):
            mode = trial % 3
            b = bytearray(blob)
            nn = n
            if mode == 0 and len(b) > 2:
                b = b[: int(rng.integers(1, len(b)))]
            elif mode == 1:
                b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
            else:
                nn = int(rng.integers(1, 2 * n))
            try:
                out = decode_blob(bytes(b), nn)
            except ok_exceptions:
                continue
            assert isinstance(out, np.ndarray) and len(out) == nn


# --- per-tag crafted-blob guards (VERDICT r4 next #7) ----------------------
#
# The random fuzz above accepts "wrong values, right length" (the page CRC
# catches those later); these DETERMINISTIC crafts must raise a clean
# exception BEFORE any large allocation or silent-garbage return — one case
# per codec tag.


def _u32(x):
    return int(x).to_bytes(4, "little")


def _i64(x):
    return int(x).to_bytes(8, "little", signed=True)


def _craft_plain_truncated():
    v = np.arange(100, dtype=np.int64)
    return kernels.encode_forced(v, "plain")[:-3], 100


def _craft_constant_truncated():
    return bytes([kernels.CONSTANT]) + b"\x01\x02\x03", 10


def _craft_bitpack_width_gt64():
    return bytes([kernels.BITPACK, 200]) + b"\x00" * 64, 10


def _craft_for_bitpack_truncated():
    v = np.arange(500, 600, dtype=np.int64)
    blob = kernels.encode_forced(v, "for_bitpack")
    return blob[: len(blob) - 4], 100


def _craft_delta_width_bad():
    return bytes([kernels.DELTA]) + _i64(7) + bytes([99]) + b"\x00" * 32, 20


def _craft_rle_lengths_short():
    vals = kernels.encode_simple(np.array([1, 2], dtype=np.int64))
    lens = kernels.encode_simple(np.array([3, 4], dtype=np.int64))
    body = _u32(2) + _u32(len(vals)) + vals + lens
    return bytes([kernels.RLE]) + body, 10  # 3+4 != 10


def _craft_dict_negative_index():
    dvals = kernels.encode_simple(np.array([10, 20], dtype=np.int64))
    idx = kernels.encode_simple(np.array([0, -1, 1, 0], dtype=np.int64))
    return bytes([kernels.DICT]) + _u32(2) + _u32(len(dvals)) + dvals + idx, 4


def _craft_zlib_garbage():
    return bytes([kernels.ZLIB]) + b"definitely not a zlib stream", 5


def _craft_for_zlib_truncated():
    import zlib as _z

    v = (np.arange(400, dtype=np.int64) * 7919) % 1000
    width = 10  # bit_width(999)
    packed = bitio.pack_bits(v.astype(np.uint64), width)
    blob = bytes([kernels.FOR_ZLIB]) + _i64(0) + bytes([width]) + _z.compress(packed, 6)
    return blob[: len(blob) - 6], 400


def _craft_plane_zlib_wrong_plane_len():
    import zlib as _z

    # plane decompresses to 3 bytes but n=10 → vectorized OR must raise
    plane = _z.compress(b"\x01\x02\x03")
    body = _i64(0) + bytes([1]) + _u32(len(plane)) + plane
    return bytes([kernels.PLANE_ZLIB]) + body, 10


def _craft_huffman_truncated_offsets():
    rng = np.random.default_rng(4)
    v = (rng.zipf(1.3, 4000) % 3000).astype(np.int64)
    blob = kernels.encode_forced(v, "huffman")
    # walk the layout to the offsets blob and truncate INSIDE it
    body = memoryview(blob)[1:]
    (card,) = np.frombuffer(body[:4], "<u4")
    (db_len,) = np.frombuffer(body[4:8], "<u4")
    off = 8 + int(db_len) + 1
    (lt_len,) = np.frombuffer(body[off : off + 4], "<u4")
    off += 4 + int(lt_len) + 2
    (ob_len,) = np.frombuffer(body[off : off + 4], "<u4")
    assert ob_len > 2
    return blob[: 1 + off + 4 + int(ob_len) // 2], 4000


def _craft_dict_shift_index_oob():
    dvals = kernels.encode_simple(np.array([1, 5], dtype=np.int64))
    idx = kernels.encode_simple(np.array([0, 3, 1, 0], dtype=np.int64))  # 3 >= cardq
    packed = bitio.pack_bits(np.zeros(4, dtype=np.uint64), 2)
    body = (
        bytes([2]) + _u32(2) + _u32(len(dvals)) + dvals + _u32(len(idx)) + idx + packed
    )
    return bytes([kernels.DICT_SHIFT]) + body, 4


def _craft_group_huffman_bare():
    return bytes([kernels.GROUP_HUFFMAN]) + _u32(0) + b"\x00" * 16, 10


def _craft_group_dict_store_bare():
    return bytes([kernels.GROUP_DICT_STORE]) + _u32(2) + b"\x00" * 16, 10


_CRAFTS = {
    "plain_truncated": _craft_plain_truncated,
    "constant_truncated": _craft_constant_truncated,
    "bitpack_width_gt64": _craft_bitpack_width_gt64,
    "for_bitpack_truncated": _craft_for_bitpack_truncated,
    "delta_width_bad": _craft_delta_width_bad,
    "rle_lengths_short": _craft_rle_lengths_short,
    "dict_negative_index": _craft_dict_negative_index,
    "zlib_garbage": _craft_zlib_garbage,
    "for_zlib_truncated": _craft_for_zlib_truncated,
    "plane_zlib_wrong_plane_len": _craft_plane_zlib_wrong_plane_len,
    "huffman_truncated_offsets": _craft_huffman_truncated_offsets,
    "dict_shift_index_oob": _craft_dict_shift_index_oob,
    "group_huffman_bare": _craft_group_huffman_bare,
    "group_dict_store_bare": _craft_group_dict_store_bare,
}


@pytest.mark.parametrize("tag", ["ZLIB", "FOR_ZLIB"])
def test_retired_zlib_tags_raise(tag):
    """No encoder emits ZLIB or FOR_ZLIB and no readable store holds them:
    even a well-formed blob under either tag is refused."""
    import zlib as _z

    v = np.arange(100, dtype="<i4")
    bodies = {
        "ZLIB": _z.compress(v.tobytes()),
        "FOR_ZLIB": _i64(0) + bytes([7]) + _z.compress(bitio.pack_bits(v.astype(np.uint64), 7)),
    }
    with pytest.raises(ValueError, match="unknown codec tag"):
        kernels.decode_blob(bytes([getattr(kernels, tag)]) + bodies[tag], 100)


@pytest.mark.parametrize("name", sorted(_CRAFTS))
def test_crafted_corrupt_blob_raises_cleanly(name):
    import struct as _struct
    import zlib as _z

    blob, n = _CRAFTS[name]()
    with pytest.raises((ValueError, _struct.error, _z.error)):
        kernels.decode_blob(blob, n)
