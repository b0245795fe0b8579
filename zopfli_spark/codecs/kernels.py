"""Numpy codec kernels for integer token pages.

This module is the engine's analog of the reference's per-block encoders and
its encoding-mode auto-selection:

* ``AddNonCompressedBlock`` (stored blocks — the "never worse than raw"
  guarantee, reference: src/zopfli/deflate.c:951-989) → :data:`PLAIN`.
* ``AddLZ77BlockAutoType`` (compute the exact cost of every candidate encoding
  and emit the argmin, reference: src/zopfli/deflate.c:1071-1131, cost-only
  twin at deflate.c:908-947) → :func:`encode_best`.
* ``GetCostModelMinCost`` (lower-bound pruning before the expensive path,
  reference: src/zopfli/squeeze.c:201-236) → the ``*_lower_bound`` gates in
  :func:`encode_best`.
* ``ZopfliCalculateBlockSize`` ("exact, not estimated" size accounting,
  reference: src/zopfli/deflate.c:877-906) → candidates are *materialized* and
  compared by real ``len(blob)``, never by heuristic score alone.

Blob format (self-describing, recursive for composites)::

    [u8 tag][codec body]

    PLAIN       0: raw '<i4' values
    CONSTANT    1: [i64 value]                          (n copies)
    BITPACK     2: [u8 width][packed]                   (values in [0, 2^width))
    FOR_BITPACK 3: [i64 base][u8 width][packed v-base]  (frame of reference)
    DELTA       4: [i64 first][u8 width][packed zigzag diffs]
    RLE         5: [u32 n_runs][u32 len(values_blob)][values_blob][lengths_blob]
    DICT        6: [u32 card][u32 len(dict_blob)][dict_blob][indices_blob]
    ZLIB 7, FOR_ZLIB 8: retired — no reader accepts them (unknown codec
                   tag); the tags and names stay reserved
    PLANE_ZLIB  9: [i64 base][u8 n_planes] n_planes × ([u32 len][zlib of one
                   byte plane of v-base, least significant first])
    HUFFMAN    10: [u32 card][u32 len(dict_blob)][dict_blob]
                   [u8 max_code_len][u32 len(len_tbl)][len_tbl — nested blob]
                   [u16 miniblock K][u32 len(offsets_blob)][offsets_blob]
                   [u32 total_bits][MSB-first canonical-Huffman bitstream]
    DICT_SHIFT 11: [u8 shift][u32 cardq][u32 len(dict_blob)][dict_blob]
                   [u32 len(idx_blob)][idx_blob][packed low bits (n·shift)]
    GROUP_HUFFMAN 12: [u32 dict_crc][u16 miniblock K]
                   [u32 len(offsets_blob)][offsets_blob][u32 total_bits]
                   [u32 n_esc][u32 len(esc_blob)][esc_blob]
                   [MSB-first canonical-Huffman bitstream]
                   — symbols/lengths live in the GROUP dictionary row
                   (GROUP_DICT_STORE) shared by every adopting page of the
                   group; dict_crc pins the right one. Symbol index card =
                   ESCAPE: those tokens take their value from esc_blob in
                   stream order (heavy-tail pages always carry a few
                   out-of-dict singletons). NOT self-describing: decode
                   needs the dict row (decode_page/decode_table thread it;
                   bare decode_blob raises).
    GROUP_DICT_STORE 13: [u32 card][u8 maxbits][u32 len(dict_blob)]
                   [dict_blob — sorted uniq values][len_tbl — nested blob of
                   card+1 code lengths, last = ESCAPE]
                   — the shared dictionary payload, stored once per group in
                   a dedicated page row (page_id -1, empty header), before
                   its pages in (part_id, page_id) order — the
                   dictionary-page-before-data-pages layout of columnar
                   formats.

Decoding only needs the blob plus the value count ``n`` (counts for nested
blobs are derivable: RLE stores n_runs, DICT stores card). All kernels are
fully vectorized — no per-value Python in encode or decode.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .bitio import bit_width, pack_bits, unpack_bits, zigzag_decode, zigzag_encode
from ..model import entropy_bits, optimize_counts_for_rle, package_merge

# Codec tags
PLAIN = 0
CONSTANT = 1
BITPACK = 2
FOR_BITPACK = 3
DELTA = 4
RLE = 5
DICT = 6
ZLIB = 7
FOR_ZLIB = 8
PLANE_ZLIB = 9
HUFFMAN = 10
DICT_SHIFT = 11
GROUP_HUFFMAN = 12
GROUP_DICT_STORE = 13

CODEC_NAMES = {
    PLAIN: "plain",
    CONSTANT: "constant",
    BITPACK: "bitpack",
    FOR_BITPACK: "for_bitpack",
    DELTA: "delta_bitpack",
    RLE: "rle",
    DICT: "dict",
    ZLIB: "zlib",
    FOR_ZLIB: "for_zlib",
    PLANE_ZLIB: "plane_zlib",
    HUFFMAN: "huffman",
    DICT_SHIFT: "dict_shift",
    GROUP_HUFFMAN: "group_huffman",
    GROUP_DICT_STORE: "group_dict_store",
}

_I64 = struct.Struct("<q")
_U32 = struct.Struct("<I")


_I32_MIN, _I32_MAX = -(2**31), 2**31 - 1


def _as_i64(values: np.ndarray) -> np.ndarray:
    """Validate the int32 value contract (tokens are array<int32>) and widen
    to int64 for overflow-safe arithmetic. Fails loudly instead of silently
    truncating — the emitted-size/validity assert discipline of the reference
    (src/zopfli/deflate.c:423-454)."""
    a = np.asarray(values)
    if not np.issubdtype(a.dtype, np.integer):
        raise TypeError(f"codec input must be integer, got {a.dtype}")
    a = a.astype(np.int64, copy=False)
    if len(a) and (int(a.min()) < _I32_MIN or int(a.max()) > _I32_MAX):
        raise ValueError("codec input exceeds int32 range")
    return a


# ---------------------------------------------------------------------------
# Leaf encoders (exact sizes are computable analytically before materializing)
# ---------------------------------------------------------------------------


def _enc_plain(v: np.ndarray) -> bytes:
    return bytes([PLAIN]) + v.astype("<i4").tobytes()


def _enc_constant(value: int) -> bytes:
    return bytes([CONSTANT]) + _I64.pack(int(value))


def _enc_bitpack(v: np.ndarray, width: int) -> bytes:
    return bytes([BITPACK, width]) + pack_bits(v.view(np.uint64) if v.dtype == np.int64 else v.astype(np.uint64), width)


def _enc_for(v: np.ndarray, base: int, width: int) -> bytes:
    resid = (v - base).astype(np.uint64)
    return bytes([FOR_BITPACK]) + _I64.pack(int(base)) + bytes([width]) + pack_bits(resid, width)


def _enc_delta(v: np.ndarray, zz: np.ndarray, width: int) -> bytes:
    return bytes([DELTA]) + _I64.pack(int(v[0])) + bytes([width]) + pack_bits(zz, width)


def _zcomp(data: bytes, level: int, strategy: int) -> bytes:
    c = zlib.compressobj(level, zlib.DEFLATED, 15, 9, strategy)
    return c.compress(data) + c.flush()


def _compress_plane(data: bytes, level: int, strategy: str) -> bytes:
    """One byte plane → DEFLATE stream under the configured strategy.

    ``rle`` (Z_RLE: distance-1 matches + full Huffman literals) measured on
    the synth mixture: 4-7% SMALLER and 5-8× faster than the default
    match-search strategy on every plane where PLANE_ZLIB wins the argmin
    (token byte planes are runs + a zipf head; long-range matches mostly emit
    length/distance codes costlier than literals). ``both`` is the ratio-
    first dial: exact keep-if-smaller between the two streams."""
    if strategy == "default":
        return zlib.compress(data, level)
    r = _zcomp(data, level, zlib.Z_RLE)
    if strategy == "rle":
        return r
    # 'both' keep-if-smaller, with one measured carve-out (r7): planes whose
    # Z_RLE stream lands at 0.25-0.40 of raw are run-free mid-entropy noise
    # where the level-9 match search grinds hardest and essentially never
    # wins — on the bench mixture, 1,300 such planes burned 11.6 s (a third
    # of all match-search CPU) to win 0-1% of the time for 414 bytes of
    # 25.8 MB. Wins cluster below 0.20 (structured planes, 57-89% win rate,
    # 179 KB) and at/above 0.40 — both margins kept with headroom. Pure
    # function of the plane bytes, so determinism and decode (any RFC1950
    # stream) are unaffected.
    q = len(r) / max(len(data), 1)
    if 0.25 <= q < 0.40:
        return r
    d = zlib.compress(data, level)
    return d if len(d) < len(r) else r


def _enc_plane_zlib(
    v: np.ndarray, base: int, width: int, level: int, strategy: str = "rle"
) -> bytes:
    """Frame-of-reference, then split residuals into byte planes and DEFLATE
    each plane. The platform DEFLATE (zlib) is the entropy-coding backend —
    the same format family the reference emits (RFC 1951); our cost model
    decides when it runs, like AddLZ77BlockAutoType decides stored vs huffman
    (reference src/zopfli/deflate.c:1071-1131). Byte-plane splitting keeps
    each plane's symbol distribution tight, which DEFLATE's per-byte Huffman
    exploits far better than 4-byte-wide little-endian words. The decoder is
    strategy-agnostic (any RFC1950 stream), so the strategy dial never
    changes the format."""
    resid = (v - base).astype(np.uint32)
    n_planes = max(1, (width + 7) // 8)
    parts = [bytes([PLANE_ZLIB]) + _I64.pack(int(base)) + bytes([n_planes])]
    for k in range(n_planes):
        plane = ((resid >> np.uint32(8 * k)) & np.uint32(0xFF)).astype(np.uint8)
        z = _compress_plane(plane.tobytes(), level, strategy)
        parts.append(_U32.pack(len(z)) + z)
    return b"".join(parts)


def _size_packed(n: int, width: int) -> int:
    return (n * width + 7) // 8


# ---------------------------------------------------------------------------
# Auto-selecting encoder
# ---------------------------------------------------------------------------


def encode_simple(v: np.ndarray) -> bytes:
    """Best of the analytic leaf codecs (used for nested/metadata arrays).

    Exact sizes are computed first and only the argmin is materialized —
    the lower-bound discipline of reference src/zopfli/squeeze.c:201-236.
    """
    v = _as_i64(v)
    n = len(v)
    if n == 0:
        return bytes([PLAIN])
    vmin = int(v.min())
    vmax = int(v.max())
    if vmin == vmax:
        return _enc_constant(vmin) if n >= 3 else _enc_plain(v)
    w_for = bit_width(vmax - vmin)
    sizes = {
        PLAIN: 1 + 4 * n,
        FOR_BITPACK: 1 + 8 + 1 + _size_packed(n, w_for),
    }
    zz = zigzag_encode(np.diff(v))
    w_d = bit_width(int(zz.max()))
    sizes[DELTA] = 1 + 8 + 1 + _size_packed(n - 1, w_d)
    best = min(sizes, key=lambda k: (sizes[k], k))
    if best == PLAIN:
        return _enc_plain(v)
    if best == FOR_BITPACK:
        return _enc_for(v, vmin, w_for)
    return _enc_delta(v, zz, w_d)


def _run_lengths(v: np.ndarray, dv: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) — vectorized run detection.

    The reference tracks same-byte run length in its rolling hash
    (src/zopfli/hash.c:143-164); here the whole job is one np.diff pass
    (``dv`` lets a caller that already computed np.diff(v) share it).
    """
    n = len(v)
    boundaries = np.flatnonzero(np.diff(v) if dv is None else dv) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [n]))
    return v[starts], (ends - starts).astype(np.int64)


def _build_rle(v: np.ndarray, run_vals: np.ndarray, run_lens: np.ndarray) -> bytes:
    vb = encode_simple(run_vals)
    lenb = encode_simple(run_lens)
    return bytes([RLE]) + _U32.pack(len(run_vals)) + _U32.pack(len(vb)) + vb + lenb


def _build_dict(v: np.ndarray, uniq: np.ndarray, inverse: np.ndarray) -> bytes:
    card = len(uniq)
    w_idx = bit_width(card - 1)
    dict_blob = encode_simple(uniq)
    inv = inverse.astype(np.int64)
    idx_blob = _enc_bitpack(inv.astype(np.uint64), w_idx)
    r_v, r_l = _run_lengths(inv)
    if len(r_v) <= len(inv) // 2:
        r_blob = _build_rle(inv, r_v, r_l)
        if len(r_blob) < len(idx_blob):
            idx_blob = r_blob
    return bytes([DICT]) + _U32.pack(card) + _U32.pack(len(dict_blob)) + dict_blob + idx_blob


# powers of two for the coarse-cardinality sweep (uint64 domain)
_HB_POWS = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _dict_shift_best_s(uniq: np.ndarray, n: int) -> tuple[int | None, float]:
    """Pick the quantization shift by analytic size estimate. The coarse
    cardinality for EVERY shift comes from one pass over the sorted uniq
    array: for sorted a < b, (a >> s) != (b >> s) iff the highest set bit of
    a XOR b is at position ≥ s (two's-complement arithmetic shift included:
    a sign difference sets bit 63, a boundary at every s), so a histogram of
    per-adjacent-pair highest-differing-bit positions yields cardq(s) as a
    suffix sum — replacing the per-s O(card) diff of the 24-step sweep."""
    best_s, best_est = None, np.inf
    vmin, vmax = int(uniq[0]), int(uniq[-1])
    xr = (uniq[1:] ^ uniq[:-1]).view(np.uint64)
    hb = np.searchsorted(_HB_POWS, xr, side="right") - 1  # highest set bit
    cnt = np.bincount(hb, minlength=64)
    # cardq(s) = 1 + #{pairs with hb >= s}
    suffix = np.concatenate((np.cumsum(cnt[::-1])[::-1], [0]))
    for s in range(1, 25):
        # the n·s/8 raw-residual term alone lower-bounds every larger s:
        # once it exceeds the best estimate, no deeper shift can win — skips
        # most of the 24-step sweep
        if 14.0 + n * s / 8.0 >= best_est:
            break
        cardq = 1 + int(suffix[s])
        entry_w = bit_width(max((vmax >> s) - (vmin >> s), 1))
        est = 14.0 + cardq * entry_w / 8.0 + n * (bit_width(max(cardq - 1, 1)) + s) / 8.0
        if est < best_est:
            best_s, best_est = s, est
        if cardq <= 2:
            break
    return best_s, best_est


def _build_dict_shift(v: np.ndarray, uniq: np.ndarray, n: int, budget: int) -> bytes | None:
    """Quantized ("coarsened") dictionary — the dict-header analog of
    OptimizeHuffmanForRle (reference src/zopfli/deflate.c:556-776; SURVEY §4
    #14): when raw cardinality makes the dictionary header dominate, split
    v = (q << s) | r and dictionary-code only the quotients, storing the low
    s bits raw. Lossless by construction; wins on clustered-values-plus-noise
    pages where full-card DICT drowns in header bytes."""
    s, est = _dict_shift_best_s(uniq, n)
    if s is None or est >= budget:
        return None
    q = v >> s
    r = (v - (q << s)).astype(np.uint64)  # in [0, 2^s) (floor-shift residual)
    qu_all = uniq >> s
    qu = qu_all[np.concatenate(([True], np.diff(qu_all) != 0))]
    idx = np.searchsorted(qu, q)
    dict_blob = encode_simple(qu)
    idx_blob = _enc_bitpack(idx.astype(np.uint64), bit_width(max(len(qu) - 1, 1)))
    resid = pack_bits(r, s)
    return (
        bytes([DICT_SHIFT, s])
        + _U32.pack(len(qu))
        + _U32.pack(len(dict_blob))
        + dict_blob
        + _U32.pack(len(idx_blob))
        + idx_blob
        + resid
    )


# ---------------------------------------------------------------------------
# Canonical-Huffman codec (entropy coding over dictionary indices)
# ---------------------------------------------------------------------------

_HUFF_MAXBITS = 15  # LUT is 2^15 entries; package_merge length limit
_HUFF_K = 128  # miniblock size: decode runs K vectorized steps, blocks in parallel
_HUFF_MAX_CARD = 1 << 15


def _canonical_codes(lengths: np.ndarray) -> np.ndarray:
    """Canonical Huffman code assignment — the RFC1951 3-step procedure
    (reference src/zopfli/tree.c:29-64), vectorized: codes within one length
    class are consecutive integers in symbol order."""
    maxlen = int(lengths.max())
    bl_count = np.bincount(lengths, minlength=maxlen + 1)
    bl_count[0] = 0
    next_code = np.zeros(maxlen + 1, dtype=np.int64)
    code = 0
    for l in range(1, maxlen + 1):
        code = (code + int(bl_count[l - 1])) << 1
        next_code[l] = code
    order = np.argsort(lengths, kind="stable")
    sorted_len = lengths[order]
    group_first = np.searchsorted(sorted_len, sorted_len)
    codes = np.empty(len(lengths), dtype=np.int64)
    codes[order] = next_code[sorted_len] + (np.arange(len(lengths)) - group_first)
    return codes


# the nested code-length table is a tiny-alphabet array (values 1..15);
# allowing HUFFMAN inside it would recurse the whole selection (2 package-
# merges per level, branching) for at best marginal bytes — profile showed
# the recursion at 60% of encode CPU. Analytic codecs only.
_LEN_TBL_ALLOWED = frozenset({PLAIN, CONSTANT, BITPACK, FOR_BITPACK, DELTA, RLE, DICT})


def _huffman_select_lengths(
    counts: np.ndarray, l1: np.ndarray | None = None
) -> tuple[np.ndarray, int]:
    """Pick code lengths: optimal package-merge vs the RLE-smoothed histogram
    variant (OptimizeHuffmanForRle analog, reference src/zopfli/deflate.c:
    556-776), compared by EXACT total bits — true-count payload plus the
    encoded code-length table — keep-if-smaller. A pure function of
    ``counts`` (``l1`` may be passed only as the precomputed package-merge
    of counts), so the lineage-forced re-encode reproduces the same bytes.

    Called for serious candidates only (past the exact unsmoothed-payload
    gate): smoothing costs a second package-merge + table encode, so it
    must not run on every page the entropy pre-gate lets through."""
    if l1 is None:
        l1 = package_merge(counts, _HUFF_MAXBITS)
    t1 = encode_best(np.asarray(l1, dtype=np.int64), allowed=_LEN_TBL_ALLOWED)
    b1 = int((counts * l1).sum()) + 8 * len(t1)
    # smoothing moves at most ~table-size bytes: skip when the alphabet is
    # tiny or the unsmoothed table is already a few dozen bytes
    c2 = (
        optimize_counts_for_rle(counts)
        if (len(counts) >= 64 and len(t1) > 64)
        else counts
    )
    if not np.array_equal(c2, counts):
        l2 = package_merge(c2, _HUFF_MAXBITS)
        t2 = encode_best(np.asarray(l2, dtype=np.int64), allowed=_LEN_TBL_ALLOWED)
        b2 = int((counts * l2).sum()) + 8 * len(t2)
        if b2 < b1:
            return l2, b2
    return l1, b1


def _emit_bits(starts: np.ndarray, tok_code: np.ndarray, tok_len: np.ndarray, total_bits: int) -> bytes:
    """MSB-first bitstream emission, fully vectorized (AddHuffmanBits analog,
    reference src/zopfli/deflate.c:49-83).

    Each ≤15-bit code at bit offset ``s`` lives inside a 3-byte window
    starting at byte ``s >> 3`` (7-bit misalignment + 15 bits ≤ 24). Codes
    occupy DISJOINT bit ranges, so contributions to a shared byte are
    disjoint bitmasks — and OR of disjoint masks equals SUM, which one
    ``np.bincount(weights=...)`` computes in C. Replaces the per-bit scatter
    array (O(total_bits) memory + maxlen masked passes): measured ~8× faster
    on 500k-value zipf pages."""
    # the 3-byte window holds a code iff misalignment (≤7) + code length
    # ≤ 24; _GH_MAXBITS=17 saturates it exactly (7+17=24 → shift 0). A
    # longer code would make the shift NEGATIVE and silently corrupt the
    # stream — fail loudly instead (ADVICE r5 low: guards any future
    # _GH_MAXBITS bump past 17 that forgets to widen this window)
    if len(tok_len) and int(tok_len.max()) + 7 > 24:
        raise ValueError(
            f"_emit_bits 24-bit window overflow: max code length "
            f"{int(tok_len.max())} > 17"
        )
    q, r = np.divmod(starts, 8)
    window = tok_code << (24 - r - tok_len)  # 24-bit big-endian window
    nbytes = (total_bits + 7) // 8
    pos = np.concatenate((q, q + 1, q + 2))
    contrib = np.concatenate(
        ((window >> 16) & 0xFF, (window >> 8) & 0xFF, window & 0xFF)
    )
    acc = np.bincount(pos, weights=contrib, minlength=nbytes + 2)
    return acc[:nbytes].astype(np.uint8).tobytes()


def _enc_huffman(
    v: np.ndarray,
    uniq: np.ndarray,
    inverse: np.ndarray,
    lengths: np.ndarray,
    budget: int = 1 << 62,
) -> bytes | None:
    """Emit the canonical-Huffman bitstream over dictionary indices.

    Entropy coding of the symbol stream with length-limited optimal code
    lengths (reference src/zopfli/katajainen.c:191-283 via model.package_merge,
    emission discipline of AddHuffmanBits, src/zopfli/deflate.c:49-83).
    Every component's EXACT size is known before the payload bitstream is
    built (ZopfliCalculateBlockSize discipline, deflate.c:877-906), so a
    candidate that cannot beat ``budget`` returns None without paying for
    emission — the costliest stage."""
    codes = _canonical_codes(lengths)
    tok_len = lengths[inverse]
    tok_code = codes[inverse]
    n = len(inverse)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tok_len, out=offs[1:])
    total_bits = int(offs[-1])
    starts = offs[:-1]
    offsets_blob = encode_simple(starts[::_HUFF_K])
    dict_blob = encode_simple(uniq)
    # the code-length table is itself entropy-coded (DEFLATE transmits its
    # tree huffman-coded too — reference src/zopfli/deflate.c:118-293); the
    # recursion terminates because the inner alphabet is ≤ maxbits symbols
    len_tbl = encode_best(lengths, allowed=_LEN_TBL_ALLOWED)
    exact_size = (
        1 + 4 + 4 + len(dict_blob) + 1 + 4 + len(len_tbl) + 2 + 4
        + len(offsets_blob) + 4 + (total_bits + 7) // 8
    )
    if exact_size >= budget:
        return None
    payload = _emit_bits(starts, tok_code, tok_len, total_bits)
    return (
        bytes([HUFFMAN])
        + _U32.pack(len(uniq))
        + _U32.pack(len(dict_blob))
        + dict_blob
        + bytes([int(lengths.max())])
        + _U32.pack(len(len_tbl))
        + len_tbl
        + struct.pack("<H", _HUFF_K)
        + _U32.pack(len(offsets_blob))
        + offsets_blob
        + _U32.pack(total_bits)
        + payload
    )


def _build_peek_lut(lengths: np.ndarray, maxlen: int) -> np.ndarray:
    """Fused peek-LUT: entry = (symbol << 5) | code_length — one gather
    resolves symbol AND length for any ``maxlen``-bit peek. 5 low bits for
    the length (lengths reach 17 in the group-dict codec; the page codec's
    15 fits too)."""
    codes = _canonical_codes(lengths)
    L = int(maxlen)
    if L < 1 or L > 24 or int(lengths.max()) > L:
        raise ValueError(f"bad huffman maxlen {L} for max length {int(lengths.max())}")
    lut = np.ones(1 << L, dtype=np.int32)  # len=1 avoids inf-loop on junk peeks
    order = np.argsort(lengths, kind="stable")
    sorted_len = lengths[order]
    for l in np.unique(sorted_len).tolist():
        if l == 0:
            continue  # zero-count symbols have no code (group dict histograms)
        syms = order[sorted_len == l]
        span = 1 << (L - l)
        lo = int(codes[syms[0]]) << (L - l)
        lut[lo : lo + len(syms) * span] = np.repeat(
            (syms.astype(np.int32) << 5) | l, span
        )
    return lut


def _huffman_steps(
    payload: memoryview, block_offs: np.ndarray, K: int, n: int, lut: np.ndarray, maxlen: int
) -> np.ndarray:
    """Miniblock-parallel canonical-Huffman stepping → symbol indices.

    32-bit sliding window over the payload: peek(p) needs only two gathers
    (W[p>>3] then shift/mask), so peek cost is O(tokens), not O(total_bits).
    Padding lets exhausted miniblocks keep stepping branchlessly past the
    end (≤ K·maxlen junk bits) — junk rows are sliced off at the end."""
    if len(block_offs) and (int(block_offs.min()) < 0 or int(block_offs.max()) > 8 * len(payload)):
        raise ValueError("huffman miniblock offsets out of payload range")
    buf = np.frombuffer(payload, dtype=np.uint8).astype(np.uint32)
    buf = np.concatenate([buf, np.zeros(K * maxlen // 8 + 8, dtype=np.uint32)])
    W = (buf[:-3] << 24) | (buf[1:-2] << 16) | (buf[2:-1] << 8) | buf[3:]
    L = int(maxlen)
    nb = len(block_offs)
    pos = block_offs.astype(np.int64).copy()
    base_shift = np.uint32(32 - L)
    mask = np.uint32((1 << L) - 1)
    out2d = np.empty((min(K, n), nb), dtype=np.int32)
    for j in range(out2d.shape[0]):
        q, r = np.divmod(pos, 8)
        c = lut[(W[q] >> (base_shift - r.astype(np.uint32))) & mask]
        out2d[j] = c
        pos += c & 31
    return out2d.T.ravel()[:n] >> 5


def _dec_huffman(body: memoryview, n: int) -> np.ndarray:
    """Vectorized canonical-Huffman decode: peek-LUT over every bit position
    (code length + symbol resolved in O(1) per position), then all miniblocks
    step through their tokens in parallel — K vectorized gathers total, no
    per-token Python."""
    (card,) = _U32.unpack(body[:4])
    (db_len,) = _U32.unpack(body[4:8])
    off = 8
    dict_vals = decode_blob(bytes(body[off : off + db_len]), card)
    off += db_len
    maxlen = body[off]
    off += 1
    (lt_len,) = _U32.unpack(body[off : off + 4])
    lengths = decode_blob(bytes(body[off + 4 : off + 4 + lt_len]), card)
    off += 4 + lt_len
    (K,) = struct.unpack("<H", body[off : off + 2])
    off += 2
    (ob_len,) = _U32.unpack(body[off : off + 4])
    off += 4
    n_blocks = max(1, (n + K - 1) // K)
    block_offs = decode_blob(bytes(body[off : off + ob_len]), n_blocks)
    off += ob_len
    off += 4  # total_bits (implicit in the stepping; kept for forward compat)
    lut = _build_peek_lut(lengths, int(maxlen))
    syms = _huffman_steps(body[off:], block_offs, K, n, lut, int(maxlen))
    return dict_vals[syms]


# ---------------------------------------------------------------------------
# Group-level shared Huffman dictionary (header amortization across pages)
# ---------------------------------------------------------------------------
#
# The EncodeTree/AddDynamicTree header-amortization idea one level up
# (reference src/zopfli/deflate.c:118-293,299-363 transmits one tree per
# block; this transmits one (dict values + code lengths) table per GROUP and
# lets every adopting page emit only offsets + bitstream). Entropy-bound
# pages pay ~2-3 bits/value of per-page dict header at fine page granularity
# — measured on the synth mixture, the shared table removes ~5% of total
# payload at the ratio dials.

_GH_MAXBITS = 17  # >15: the shared table's alphabet is a whole group's union
_GH_MAX_CARD = 1 << 17


def encode_group_dict(uniq: np.ndarray, counts: np.ndarray, zlib_level: int = 6) -> bytes:
    """Build the GROUP_DICT_STORE payload: sorted uniq values + canonical
    code lengths trained on ``counts``, plus one ESCAPE symbol (index =
    card) so pages whose values are not fully covered by the dictionary
    can still adopt — out-of-dict tokens emit the escape code and ride a
    per-page literal side stream (heavy-tail content makes full coverage
    essentially impossible: every zipf page carries fresh singletons). The
    escape weight is a fixed pseudo-count (~0.8% of training mass) so the
    table is a pure function of its inputs and lineage replay reproduces
    the same bytes."""
    # the table carries len(uniq)+1 codes (the ESCAPE symbol is appended),
    # and a maxbits-17 canonical code fits at most 2^17 symbols — so the
    # dictionary itself caps at _GH_MAX_CARD - 1 (ADVICE r5 medium: the
    # old `> _GH_MAX_CARD` check admitted exactly 2^17 uniques, and
    # package_merge then raised on 2^17+1 symbols, crashing the encode task)
    if len(uniq) < 2 or len(uniq) > _GH_MAX_CARD - 1:
        raise ValueError(f"group dict cardinality {len(uniq)} out of range")
    esc_w = max(1, int(counts.sum()) // 128)
    hist = np.concatenate([np.asarray(counts, dtype=np.int64), [esc_w]])
    lengths = np.asarray(package_merge(hist, _GH_MAXBITS), dtype=np.int64)
    dict_blob = encode_simple(_as_i64(uniq))
    len_tbl = encode_best(
        lengths, zlib_level=zlib_level, try_huffman=True,
        huffman_headroom=1.0,
    )
    return (
        bytes([GROUP_DICT_STORE])
        + _U32.pack(len(uniq))
        + bytes([int(lengths.max())])
        + _U32.pack(len(dict_blob))
        + dict_blob
        + len_tbl
    )


class GroupDict:
    """Parsed GROUP_DICT_STORE blob + lazily-built decode LUT (built once
    per group, shared by every page decode — the dict row streams ahead of
    its pages, exactly like a columnar format's dictionary page)."""

    __slots__ = ("crc", "vals", "lengths", "maxlen", "_lut", "_codes")

    def __init__(self, blob: bytes):
        if not blob or blob[0] != GROUP_DICT_STORE:
            raise ValueError("not a group dictionary blob")
        body = memoryview(blob)[1:]
        (card,) = _U32.unpack(body[:4])
        if card < 2 or card > _GH_MAX_CARD:
            raise ValueError(f"group dict cardinality {card} out of range")
        self.maxlen = body[4]
        if not (1 <= self.maxlen <= _GH_MAXBITS):
            raise ValueError(f"group dict maxbits {self.maxlen} out of range")
        (db_len,) = _U32.unpack(body[5:9])
        self.vals = decode_blob(bytes(body[9 : 9 + db_len]), card)
        # card + 1 code lengths: the last symbol is the ESCAPE
        self.lengths = decode_blob(bytes(body[9 + db_len :]), card + 1)
        if int(self.lengths.min()) < 1 or int(self.lengths.max()) > self.maxlen:
            raise ValueError("group dict code lengths out of range")
        self.crc = zlib.crc32(blob)
        self._lut = None
        self._codes = None

    @property
    def lut(self) -> np.ndarray:
        if self._lut is None:
            self._lut = _build_peek_lut(self.lengths, int(self.maxlen))
        return self._lut

    @property
    def codes(self) -> np.ndarray:
        if self._codes is None:
            self._codes = _canonical_codes(self.lengths)
        return self._codes


def group_tokens(vals: np.ndarray, gd: GroupDict) -> tuple[np.ndarray, np.ndarray]:
    """→ (symbols, escaped values): dictionary positions for covered
    tokens, the ESCAPE symbol (index = card) for the rest. Shared by the
    exact-size pre-gate and the emitter so the argmin never tokenizes
    twice. Symbols are int32 (card ≤ _GH_MAX_CARD, so ESCAPE fits): half
    the memory of the whole-group stream the engine caches per group."""
    v = _as_i64(vals)
    pos = np.searchsorted(gd.vals, v)
    pos[pos >= len(gd.vals)] = 0
    miss = gd.vals[pos] != v
    sym = pos.astype(np.int32)
    sym[miss] = len(gd.vals)
    return sym, v[miss]


def group_huffman_size(sym: np.ndarray, esc_vals: np.ndarray, gd: GroupDict) -> int:
    """Exact GROUP_HUFFMAN page size for a tokenized page — computable
    before any bit emission (ZopfliCalculateBlockSize discipline)."""
    tok_len = gd.lengths[sym]
    total_bits = int(tok_len.sum())
    starts = np.cumsum(tok_len) - tok_len
    off_blob = encode_simple(starts[::_HUFF_K])
    esc_blob = encode_simple(esc_vals) if len(esc_vals) else b""
    return (
        1 + 4 + 2 + 4 + len(off_blob) + 4 + 4 + 4 + len(esc_blob)
        + (total_bits + 7) // 8
    )


def encode_group_huffman(
    sym: np.ndarray, esc_vals: np.ndarray, gd: GroupDict, dict_crc: int
) -> bytes:
    """Emit one page's GROUP_HUFFMAN payload from :func:`group_tokens`
    output: canonical-Huffman bitstream over the shared table (escapes emit
    the ESC code) + the escaped literals as a nested blob."""
    tok_len = gd.lengths[sym]
    tok_code = gd.codes[sym]
    offs = np.zeros(len(sym) + 1, dtype=np.int64)
    np.cumsum(tok_len, out=offs[1:])
    total_bits = int(offs[-1])
    starts = offs[:-1]
    offsets_blob = encode_simple(starts[::_HUFF_K])
    esc_blob = encode_simple(esc_vals) if len(esc_vals) else b""
    payload = _emit_bits(starts, tok_code, tok_len, total_bits)
    return (
        bytes([GROUP_HUFFMAN])
        + _U32.pack(dict_crc & 0xFFFFFFFF)
        + struct.pack("<H", _HUFF_K)
        + _U32.pack(len(offsets_blob))
        + offsets_blob
        + _U32.pack(total_bits)
        + _U32.pack(len(esc_vals))
        + _U32.pack(len(esc_blob))
        + esc_blob
        + payload
    )


def decode_group_huffman(buf: bytes, n: int, gd: GroupDict) -> np.ndarray:
    """Decode a GROUP_HUFFMAN page payload against its group dictionary."""
    if not buf or buf[0] != GROUP_HUFFMAN:
        raise ValueError("not a group_huffman blob")
    body = memoryview(buf)[1:]
    (crc,) = _U32.unpack(body[:4])
    if crc != (gd.crc & 0xFFFFFFFF):
        raise ValueError(
            f"group dictionary mismatch: page expects crc {crc}, "
            f"supplied dict has {gd.crc & 0xFFFFFFFF}"
        )
    (K,) = struct.unpack("<H", body[4:6])
    if K == 0:
        raise ValueError("group_huffman miniblock size 0")
    (ob_len,) = _U32.unpack(body[6:10])
    n_blocks = max(1, (n + K - 1) // K)
    block_offs = decode_blob(bytes(body[10 : 10 + ob_len]), n_blocks)
    off = 10 + ob_len + 4  # total_bits implicit in the stepping
    (n_esc,) = _U32.unpack(body[off : off + 4])
    (esc_len,) = _U32.unpack(body[off + 4 : off + 8])
    off += 8
    if n_esc > n:
        raise ValueError(f"group_huffman escape count {n_esc} > n {n}")
    esc_vals = (
        decode_blob(bytes(body[off : off + esc_len]), n_esc)
        if n_esc
        else np.empty(0, dtype=np.int64)
    )
    off += esc_len
    syms = _huffman_steps(body[off:], block_offs, K, n, gd.lut, int(gd.maxlen))
    card = len(gd.vals)
    esc_mask = syms >= card
    n_esc_seen = int(esc_mask.sum())
    if n_esc_seen != n_esc:
        raise ValueError(
            f"group_huffman escape mismatch: stream has {n_esc_seen}, "
            f"header says {n_esc}"
        )
    out = np.empty(n, dtype=np.int64)
    out[~esc_mask] = gd.vals[syms[~esc_mask]]
    out[esc_mask] = esc_vals
    return out


def encode_forced(
    v: np.ndarray, codec_name: str, *, zlib_level: int = 6, plane_strategy: str = "rle"
) -> bytes:
    """Re-encode with a previously recorded winning codec — the lineage resume
    fast path (StatsDB hit, reference src/zopfli/deflate.c:1177-1211): skips
    the candidate search entirely and reproduces the original bytes, because
    every builder is deterministic in (values, codec, level)."""
    if "@" in codec_name:  # level-pinned zlib-family winner (recompress pass)
        codec_name, lvl = codec_name.split("@", 1)
        zlib_level = int(lvl)
        if codec_name == "plane_zlib":
            # the recompress pass always searches both plane strategies
            # (keep-if-smaller), so its recorded winners replay the same way
            plane_strategy = "both"
    v = _as_i64(v)
    n = len(v)
    if n == 0 or codec_name == "plain":
        return _enc_plain(v)
    vmin, vmax = int(v.min()), int(v.max())
    if codec_name == "constant":
        return _enc_constant(vmin)
    w_for = bit_width(vmax - vmin)
    if codec_name == "for_bitpack":
        return _enc_for(v, vmin, w_for)
    if codec_name == "delta_bitpack":
        zz = zigzag_encode(np.diff(v))
        return _enc_delta(v, zz, bit_width(int(zz.max())) if n > 1 else 0)
    if codec_name == "rle":
        rv, rl = _run_lengths(v)
        return _build_rle(v, rv, rl)
    if codec_name in ("dict", "dict_rle"):
        uniq, inverse = np.unique(v, return_inverse=True)
        return _build_dict(v, uniq, inverse)
    if codec_name == "huffman":
        uniq, inverse = np.unique(v, return_inverse=True)
        lengths, _ = _huffman_select_lengths(np.bincount(inverse))
        return _enc_huffman(v, uniq, inverse, lengths)
    if codec_name == "dict_shift":
        uniq = np.unique(v)
        blob = _build_dict_shift(v, uniq, n, 1 << 62)
        if blob is None:
            raise ValueError("dict_shift forced on non-viable page")
        return blob
    if codec_name == "plane_zlib":
        return _enc_plane_zlib(v, vmin, w_for, zlib_level, plane_strategy)
    raise ValueError(f"unknown codec name {codec_name!r}")


def encode_best(
    v: np.ndarray,
    *,
    zlib_level: int = 6,
    allowed: frozenset | None = None,
    plane_strategy: str = "rle",
    try_huffman: bool = True,
    huffman_headroom: float = 0.8,
    budget: int | None = None,
) -> bytes | None:
    """Encode with the exact-cost argmin over all viable codecs.

    Mirrors ``AddLZ77BlockAutoType`` (reference src/zopfli/deflate.c:1071-1131):
    every candidate's *real* encoded size decides, and PLAIN is always a
    candidate so the result is never larger than raw + 1 tag byte (stored-block
    guarantee, deflate.c:951-989).

    ``budget``: candidate-encode cap (merge/squeeze proposals, where only a
    result strictly under the caller's current bytes can be adopted) — the
    size gates start from min(plain, budget), so candidates that cannot beat
    the proposal's bar are never materialized, and None is returned when
    nothing comes in under it. The returned blob is always a valid encoding;
    a tighter starting bar only prunes candidates that could not win.
    """
    # keep a narrow view for sort-heavy probes (unique on int32 moves half
    # the bytes of the int64 working copy)
    v_narrow = np.asarray(v)
    v = _as_i64(v)
    n = len(v)
    if n == 0:
        return bytes([PLAIN]) if budget is None or budget > 1 else None
    vmin = int(v.min())
    vmax = int(v.max())
    if vmin == vmax:
        blob = _enc_constant(vmin) if n >= 3 else _enc_plain(v)
        return blob if budget is None or len(blob) < budget else None

    def ok(tag: int) -> bool:
        return allowed is None or tag in allowed

    candidates: list[bytes] = []
    plain_size = 1 + 4 * n
    best_size = plain_size if budget is None else min(plain_size, budget)
    # budget-FREE running best for the two heuristic admission gates below
    # (plane-DEFLATE and Huffman): their entropy comparisons are heuristics,
    # not lower bounds — plane DEFLATE routinely realizes BELOW order-0
    # entropy by exploiting order structure — so capping them at the budget
    # would skip candidates that could still win it (measured on the bench
    # mixture: merge successes dropped and bytes grew 0.3-1.6% when these
    # gates saw the budget-capped bar). ``heur`` tracks what an unbudgeted
    # search's best would be from exact analytic sizes + realized candidates,
    # so the heuristic gates behave identically with or without a budget.
    heur = plain_size
    # invariant: heur >= best_size. heur starts at plain_size >= best_size,
    # and an exact analytic size below best_size is materialized, lowering
    # both, so the lower-bound gates below compare against best_size alone.

    # --- analytic candidates -------------------------------------------------
    w_for = bit_width(vmax - vmin)
    if ok(FOR_BITPACK):
        s = 1 + 8 + 1 + _size_packed(n, w_for)
        heur = min(heur, s)
        if s < best_size:
            candidates.append(_enc_for(v, vmin, w_for))
            best_size = min(best_size, len(candidates[-1]))

    dv = np.diff(v)
    zz = zigzag_encode(dv)
    w_d = bit_width(int(zz.max())) if n > 1 else 0
    if ok(DELTA) and n > 1:
        s = 1 + 8 + 1 + _size_packed(n - 1, w_d)
        heur = min(heur, s)
        if s < best_size:
            candidates.append(_enc_delta(v, zz, w_d))
            best_size = min(best_size, len(candidates[-1]))

    # --- run-length ----------------------------------------------------------
    run_vals, run_lens = _run_lengths(v, dv)
    n_runs = len(run_vals)
    if ok(RLE) and n_runs <= n // 2:
        # lower bound: each run ≥ (w_for + 1 bit) — prune hopeless cases
        lb = 1 + 8 + (n_runs * (w_for + 1) + 7) // 8
        if lb < best_size:
            blob = _build_rle(v, run_vals, run_lens)
            heur = min(heur, len(blob))
            if len(blob) < best_size:
                candidates.append(blob)
                best_size = len(blob)

    # --- dictionary ----------------------------------------------------------
    uniq, inverse = None, None
    if ok(DICT):
        uniq, inverse = np.unique(
            v_narrow if v_narrow.dtype == np.int32 else v, return_inverse=True
        )
        uniq = uniq.astype(np.int64, copy=False)
        card = len(uniq)
        w_idx = bit_width(card - 1)
        lb = 1 + 4 + 4 + (card * 2 + n * w_idx + 7) // 8
        if card >= 2 and w_idx < 32 and lb < best_size:
            blob = _build_dict(v, uniq, inverse)
            heur = min(heur, len(blob))
            if len(blob) < best_size:
                candidates.append(blob)
                best_size = len(blob)

    # --- coarsened (quantized) dictionary -------------------------------------
    if ok(DICT_SHIFT) and uniq is not None and len(uniq) > 256:
        blob = _build_dict_shift(v, uniq, n, best_size)
        if blob is not None:
            heur = min(heur, len(blob))
            if len(blob) < best_size:
                candidates.append(blob)
                best_size = len(blob)

    # --- entropy-coded candidates (gated) --------------------------------------
    # PLANE_ZLIB runs FIRST: under the Z_RLE strategy it is the cheap
    # workhorse (~5× faster than match-search DEFLATE), so its realized size
    # becomes the bar the Huffman gate must clear — pruning the package-merge
    # machinery on pages where plane DEFLATE already sits at/below entropy
    # (mixed-kind pages exploit ORDER structure order-0 Huffman cannot).
    counts = None
    if ok(PLANE_ZLIB) and n >= 64:
        # run DEFLATE only when the bitpack-family best is still far above the
        # order-0 entropy bound — i.e. distributional structure remains that
        # only an entropy coder can exploit. Lower-bound pruning discipline of
        # GetCostModelMinCost (reference src/zopfli/squeeze.c:201-236).
        if uniq is None:
            uniq, inverse = np.unique(v, return_inverse=True)
        counts = np.bincount(inverse)
        h_bytes = entropy_bits(counts) / 8.0
        if heur > h_bytes * 1.1:
            pz = _enc_plane_zlib(v, vmin, w_for, zlib_level, plane_strategy)
            heur = min(heur, len(pz))
            if len(pz) < best_size:
                candidates.append(pz)
                best_size = len(pz)

    if try_huffman and ok(HUFFMAN) and n >= 64:
        # canonical Huffman over dict indices: exact payload bits are known
        # analytically from (counts · code lengths) before any emission —
        # the ZopfliCalculateBlockSize discipline (reference deflate.c:877-906)
        if uniq is None:
            uniq, inverse = np.unique(v, return_inverse=True)
        card = len(uniq)
        if 2 <= card <= _HUFF_MAX_CARD:
            if counts is None:
                counts = np.bincount(inverse)
            # two-stage lower bound (GetCostModelMinCost discipline): Shannon
            # entropy bounds the Huffman payload from below, so a cheap gate
            # runs before the package-merge; exact (counts · lengths) after.
            # The gate also prices the code-length TABLE (~3 bits/symbol
            # packed) — without it, pages whose best already sits near
            # entropy paid a full package-merge just to lose. The headroom
            # factor is the CPU/ratio dial (EngineConfig.huffman_headroom):
            # at 0.8 only pages with a ≥20% entropy gap vs the realized best
            # (now including plane DEFLATE) pay the search.
            lb_dict = 10 + (card - 1 + 7) // 8
            fixed = 1 + 4 + 4 + lb_dict + 1 + 4 + 9 + 2 + 4 + 1 + 4
            lb_table = (card * 3) // 8
            if fixed + lb_table + int(entropy_bits(counts)) // 8 < huffman_headroom * heur:
                # optimal lengths first; the exact unsmoothed payload is a
                # lower bound for both variants, so it gates BEFORE paying
                # for the smoothed-variant comparison
                l1 = package_merge(counts, _HUFF_MAXBITS)
                p1 = int((counts * l1).sum())
                if fixed + (p1 + 7) // 8 < best_size:
                    lengths, _ = _huffman_select_lengths(counts, l1=l1)
                    blob = _enc_huffman(v, uniq, inverse, lengths, budget=best_size)
                    if blob is not None:
                        candidates.append(blob)
                        best_size = len(blob)

    if candidates:
        best = min(candidates, key=len)
        if len(best) < plain_size:
            return best
    if budget is not None and plain_size >= budget:
        return None
    return _enc_plain(v)


# ---------------------------------------------------------------------------
# Decoder (dispatch on tag; fully vectorized)
# ---------------------------------------------------------------------------


def decode_blob(buf: bytes, n: int) -> np.ndarray:
    """Decode a blob produced by any encoder above → int64 array of length n."""
    tag = buf[0]
    body = memoryview(buf)[1:]
    if tag == PLAIN:
        return np.frombuffer(body, dtype="<i4", count=n).astype(np.int64)
    if tag == CONSTANT:
        (value,) = _I64.unpack(body[:8])
        return np.full(n, value, dtype=np.int64)
    if tag == BITPACK:
        width = body[0]
        return unpack_bits(bytes(body[1:]), n, width).astype(np.int64)
    if tag == FOR_BITPACK:
        (base,) = _I64.unpack(body[:8])
        width = body[8]
        return unpack_bits(bytes(body[9:]), n, width).astype(np.int64) + base
    if tag == DELTA:
        (first,) = _I64.unpack(body[:8])
        width = body[8]
        zz = unpack_bits(bytes(body[9:]), n - 1, width)
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        np.cumsum(zigzag_decode(zz), out=out[1:])
        out[1:] += first
        return out
    if tag == RLE:
        (n_runs,) = _U32.unpack(body[:4])
        if n_runs > n:
            raise ValueError(f"RLE n_runs {n_runs} > n {n}")  # alloc bound
        (vb_len,) = _U32.unpack(body[4:8])
        run_vals = decode_blob(bytes(body[8 : 8 + vb_len]), n_runs)
        run_lens = decode_blob(bytes(body[8 + vb_len :]), n_runs)
        # validate BEFORE np.repeat: a corrupt length field must raise, not
        # attempt a multi-GB allocation (a flipped byte in a run length is an
        # allocation bomb otherwise; the page CRC only runs after decode).
        # max<=n is checked FIRST so the int64 sum cannot wrap (crafted
        # run_lens like [2^62]*4 wrapped the sum to exactly n and reached a
        # segfaulting np.repeat); with every length in [0, n] and n_runs<=n,
        # sum <= n^2 < 2^63 for any page the engine can produce
        if n_runs:
            lmin, lmax = int(run_lens.min()), int(run_lens.max())
            if (
                lmin < 0
                or lmax > n
                or n_runs * lmax >= 2**63  # int64 sum provably exact below this
                or int(run_lens.sum()) != n
            ):
                raise ValueError(
                    f"RLE run lengths corrupt: min={lmin} max={lmax} n={n}"
                )
        return np.repeat(run_vals, run_lens)
    if tag == DICT:
        (card,) = _U32.unpack(body[:4])
        if card > n:
            raise ValueError(f"DICT cardinality {card} > n {n}")  # alloc bound
        (db_len,) = _U32.unpack(body[4:8])
        dict_vals = decode_blob(bytes(body[8 : 8 + db_len]), card)
        indices = decode_blob(bytes(body[8 + db_len :]), n)
        # explicit bounds check: a corrupt index blob would otherwise gather
        # silently (negatives wrap from the end) and be caught only by the
        # page CRC — raise here, before returning garbage
        if n and (int(indices.min()) < 0 or int(indices.max()) >= card):
            raise ValueError("DICT indices out of range")
        return dict_vals[indices]
    if tag == PLANE_ZLIB:
        (base,) = _I64.unpack(body[:8])
        n_planes = body[8]
        off = 9
        resid = np.zeros(n, dtype=np.uint32)
        for k in range(n_planes):
            (z_len,) = _U32.unpack(body[off : off + 4])
            plane = np.frombuffer(zlib.decompress(bytes(body[off + 4 : off + 4 + z_len])), dtype=np.uint8)
            resid |= plane.astype(np.uint32) << np.uint32(8 * k)
            off += 4 + z_len
        return resid.astype(np.int64) + base
    if tag == HUFFMAN:
        return _dec_huffman(body, n)
    if tag == DICT_SHIFT:
        shift = body[0]
        (cardq,) = _U32.unpack(body[1:5])
        if cardq > n:
            raise ValueError(f"DICT_SHIFT cardinality {cardq} > n {n}")
        (db_len,) = _U32.unpack(body[5:9])
        qvals = decode_blob(bytes(body[9 : 9 + db_len]), cardq)
        (ib_len,) = _U32.unpack(body[9 + db_len : 13 + db_len])
        idx = decode_blob(bytes(body[13 + db_len : 13 + db_len + ib_len]), n)
        if n and (int(idx.min()) < 0 or int(idx.max()) >= cardq):
            raise ValueError("DICT_SHIFT indices out of range")
        resid = unpack_bits(bytes(body[13 + db_len + ib_len :]), n, shift)
        return (qvals[idx] << shift) + resid.astype(np.int64)
    if tag == GROUP_HUFFMAN:
        raise ValueError(
            "group_huffman blob requires its group dictionary — decode via "
            "decode_page/decode_table (the dict row streams ahead of pages)"
        )
    if tag == GROUP_DICT_STORE:
        raise ValueError("group dictionary store blob — parse with GroupDict(blob)")
    raise ValueError(f"unknown codec tag {tag}")


def blob_codec_name(buf: bytes) -> str:
    """Human-readable codec of a blob, with composite awareness (dict+rle)."""
    tag = buf[0]
    name = CODEC_NAMES.get(tag, f"codec_{tag}")
    if tag == DICT:
        (db_len,) = _U32.unpack(buf[5:9])
        idx_tag = buf[9 + db_len]
        if idx_tag == RLE:
            return "dict_rle"
    return name
