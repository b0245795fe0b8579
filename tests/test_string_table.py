"""Exactness of the per-group cost shortcuts.

* ``StringTable(arr).encode(r0, r1)`` is byte for byte the blob the
  per-span string encoder produced before the table existed. That encoder
  is frozen below as the reference: one Arrow ``dictionary_encode`` /
  ``sort_indices`` / ``take`` per span.
* The dict_shift skip in ``kernels.encode_best`` fires only where
  ``_plan_dict_shift`` returns None.
* ``model.entropy_bits`` gives the same floats as the ``np.where`` /
  ``np.errstate`` formula it replaced, on histograms with zeros.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from hypothesis import given, settings, strategies as st

from zopfli_spark.codecs.bitio import bit_width
from zopfli_spark.codecs.kernels import _plan_dict_shift, encode_simple
from zopfli_spark.codecs.strings import (
    _FSST_MAX_CORPUS,
    S_DICT,
    S_FSST,
    S_PLAIN,
    StringTable,
    _fsst_encode,
    _fsst_train,
    decode_strings,
    encode_strings,
)
from zopfli_spark.model import entropy_bits

_U32 = struct.Struct("<I")


# --- the frozen reference: the per-span string encoder, one Arrow dictionary
# probe per call ---------------------------------------------------------------


def _ref_buffers(arr: pa.Array) -> tuple[bytes, np.ndarray]:
    n = len(arr)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    lengths = np.diff(offs).astype(np.int64)
    data = bufs[2].to_pybytes()[int(offs[0]) : int(offs[-1])] if bufs[2] is not None else b""
    return data, lengths


def _ref_plain(strings: pa.Array) -> bytes:
    data, lengths = _ref_buffers(strings)
    lb = encode_simple(lengths)
    return bytes([S_PLAIN]) + _U32.pack(len(lb)) + lb + data


def _ref_fsst(strings: pa.Array) -> bytes | None:
    data, lengths = _ref_buffers(strings)
    if not (2048 <= len(data) <= _FSST_MAX_CORPUS):
        return None
    table = _fsst_train(data)
    if not table:
        return None
    enc = _fsst_encode(data, table)
    lb = encode_simple(lengths)
    tbl = b"".join(bytes([len(s)]) + s for s in table)
    return bytes([S_FSST, len(table)]) + tbl + _U32.pack(len(lb)) + lb + enc


def _ref_encode_strings(arr: pa.Array) -> bytes:
    n = len(arr)
    best = _ref_plain(arr)
    if n == 0:
        return best
    denc = pc.dictionary_encode(arr)
    dict_arr, idx = denc.dictionary, denc.indices
    card = len(dict_arr)
    if 1 <= card <= n // 2:
        order = pc.sort_indices(dict_arr).to_numpy(zero_copy_only=False)
        rank = np.empty(card, dtype=np.int64)
        rank[order] = np.arange(card)
        inverse = rank[idx.to_numpy(zero_copy_only=False)]
        vals_sorted = pc.take(dict_arr, pa.array(order))
        vb = _ref_plain(vals_sorted)
        ib = encode_simple(inverse)
        cand = bytes([S_DICT]) + _U32.pack(card) + _U32.pack(len(vb)) + vb + ib
        if len(cand) < len(best):
            best = cand
    f = _ref_fsst(arr)
    if f is not None and len(f) < len(best):
        best = f
    return best


# --- generated columns -----------------------------------------------------

# embedded NULs, non-ASCII (2- to 4-byte utf-8), empty strings
_ALPHABET = st.sampled_from(["a", "b", "z", "\x00", "é", "中", "\U0001f600", "/", "0"])
_WORD = st.text(alphabet=_ALPHABET, max_size=12)


@st.composite
def _columns(draw):
    """(arrow column with a non-zero slice offset, its rows). A small pool
    repeats, so span cardinality lands on both sides of n // 2."""
    pool = draw(st.lists(_WORD, min_size=1, max_size=12))
    distinct = draw(st.booleans())
    n = draw(st.integers(0, 60))
    if distinct:
        rows = [f"{draw(_WORD)}#{i}" for i in range(n)]
    else:
        rows = [pool[draw(st.integers(0, len(pool) - 1))] for _ in range(n)]
    pad = draw(st.integers(0, 3))
    arr = pa.array(["pad"] * pad + rows + ["pad"] * pad, pa.utf8()).slice(pad, n)
    return arr, rows


@settings(max_examples=300, deadline=None)
@given(_columns(), st.data())
def test_string_table_spans_match_reference(col, data):
    arr, rows = col
    table = StringTable(arr)
    n = len(rows)
    r0 = data.draw(st.integers(0, n))
    r1 = data.draw(st.integers(r0, n))
    blob = table.encode(r0, r1)
    assert blob == _ref_encode_strings(arr.slice(r0, r1 - r0))
    assert decode_strings(blob, r1 - r0).to_pylist() == rows[r0:r1]
    assert encode_strings(arr) == _ref_encode_strings(arr)


def test_string_table_fsst_and_dict_spans_match_reference():
    """Spans whose bytes cross the 2,048-byte FSST floor, on a distinct
    column (dict skipped) and a repeating one (dict priced)."""
    rng = np.random.default_rng(11)
    ids = [f"https://corpus.example.org/shard-{i % 5}/é\x00/{i:06d}" for i in range(600)]
    reps = [ids[int(k)] for k in rng.integers(0, 40, 600)]
    for rows in (ids, reps):
        arr = pa.array(["x"] + rows, pa.utf8()).slice(1)
        table = StringTable(arr)
        tags = set()
        for r0, r1 in [(0, 600), (0, 0), (600, 600), (3, 40), (3, 60), (10, 300), (250, 599)]:
            blob = table.encode(r0, r1)
            assert blob == _ref_encode_strings(arr.slice(r0, r1 - r0)), (r0, r1)
            tags.add(blob[0])
        assert S_FSST in tags
    assert S_DICT in {StringTable(pa.array(reps)).encode(0, k)[0] for k in (60, 200)}


# --- the dict_shift skip -----------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    st.integers(-(2**31), 2**31 - 1),
    st.integers(257, 3000),
    st.integers(0, 20),
    st.integers(0, 2**32 - 1),
)
def test_dict_shift_skip_is_exact(base, card, spread, seed):
    """Whenever the skip's bound reaches best_size, the plan it skips is
    None. Clustered values (small ``spread``) make the coarse dictionary
    cheap and the bound tight; a large one spreads them over int32."""
    rng = np.random.default_rng(seed)
    hi = min(2**31 - 1, base + (card << spread))
    uniq = np.unique(rng.integers(base, hi, card, endpoint=True))
    if len(uniq) <= 256:
        return
    n = len(uniq) + int(rng.integers(0, 4 * len(uniq)))
    floor = 14.0 + n * bit_width(len(uniq) - 1) / 8.0
    for best_size in (int(floor) - 1, int(floor), int(floor) + 1, int(floor * 0.8)):
        if floor >= best_size:
            assert _plan_dict_shift(uniq, n, best_size) is None


# --- entropy_bits ----------------------------------------------------------------


def _ref_entropy_bits(counts):
    c = np.asarray(counts, dtype=np.float64)
    total = c.sum(axis=-1)
    with np.errstate(divide="ignore", invalid="ignore"):
        clogc = np.where(c > 0, c * np.log2(c), 0.0).sum(axis=-1)
        h = np.where(total > 0, total * np.log2(total), 0.0) - clogc
    return float(h) if h.ndim == 0 else h


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 5), st.integers(0, 200), st.integers(0, 2**32 - 1))
def test_entropy_bits_matches_reference(rows, width, seed):
    """One histogram (``rows`` 0) or a stack of ``rows`` histograms."""
    rng = np.random.default_rng(seed)
    shape = (rows, width) if rows else (width,)
    counts = rng.integers(0, 1000, shape) * (rng.random(shape) < 0.6)
    for c in (counts, counts.astype(np.float64)):
        got, want = entropy_bits(c), _ref_entropy_bits(c)
        assert type(got) is type(want)
        assert np.array_equal(np.asarray(got), np.asarray(want))
