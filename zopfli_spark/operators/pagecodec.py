"""Page serialization: rows ↔ (header, payload) binary pair.

Header layout (the container/envelope analog — gzip/zlib/zip headers,
reference src/zopfli/gzip_container.c:33-83, zip_container.c:33-155 — here a
per-page metadata blob instead of a byte-stream envelope)::

    [u32 n_rows]
    [u32 len(lens_blob)]   [lens_blob    — int codec over per-row n_tok]
    [u32 len(docid_blob)]  [docid_blob   — string codec over doc_id]
    [source_blob           — string codec over source]

Payload = int codec blob over the concatenated token values.
Checksum = crc32 chained over the ORIGINAL page content: raw '<i4' value
bytes, then '<i8' lens, then utf-8 doc_ids (length-prefixed via their '<i8'
length array), then sources likewise (CRC-over-original-bytes discipline,
reference src/zopfli/crc32.c:67-78, gzip_container.c:76). Covering the
header content — not just token values — makes header-codec corruption
(e.g. a dictionary bug collapsing distinct doc_ids) fail loudly at decode
instead of silently returning wrong metadata. Format v2; v1 checksummed
values only and no v1 pages persist.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ..codecs.kernels import (
    blob_codec_name,
    decode_blob,
    encode_best,
    encode_forced,
    encode_simple,
)
from ..codecs.strings import (
    _utf8_buffers,
    as_string_array,
    decode_strings,
    encode_strings,
)

_U32 = struct.Struct("<I")


def crc32_of_values(values: np.ndarray) -> int:
    return zlib.crc32(np.ascontiguousarray(values, dtype="<i4").tobytes())


def _crc_strings(strings, crc: int) -> int:
    """Chain CRC over length-prefixed utf-8 bytes (unambiguous concat) —
    computed directly from the Arrow string buffers, no per-row Python."""
    data, lens = _utf8_buffers(as_string_array(strings))
    crc = zlib.crc32(lens.astype("<i8").tobytes(), crc)
    return zlib.crc32(data, crc)


def page_checksum(doc_ids, sources, lens: np.ndarray, values: np.ndarray) -> int:
    """CRC over all original page content — values AND header fields."""
    crc = crc32_of_values(values)
    crc = zlib.crc32(np.ascontiguousarray(lens, dtype="<i8").tobytes(), crc)
    crc = _crc_strings(doc_ids, crc)
    return _crc_strings(sources, crc)


# provable lower bound on any page header (n_rows + two length prefixes +
# minimal lens/doc_id/source blobs): lets a budgeted encode reject on the
# payload alone, before paying for the header encode
HEADER_FLOOR = 24


def build_header(doc_ids, sources, lens: np.ndarray) -> bytes:
    """Encode the page header (lens + doc_id + source blobs) — split out so
    budgeted candidate encodes (merge/squeeze proposals) can compute the
    payload first and skip the header work entirely when the payload alone
    already exceeds the byte budget."""
    lens_blob = encode_simple(np.asarray(lens, dtype=np.int64))
    docid_blob = encode_strings(doc_ids)
    source_blob = encode_strings(sources)
    return (
        _U32.pack(len(doc_ids))
        + _U32.pack(len(lens_blob))
        + lens_blob
        + _U32.pack(len(docid_blob))
        + docid_blob
        + source_blob
    )


def encode_page(
    doc_ids: np.ndarray,
    sources: np.ndarray,
    lens: np.ndarray,
    values: np.ndarray,
    *,
    zlib_level: int = 6,
    forced_codec: str | None = None,
    level_tag: int | None = None,
    zlib_only: bool = False,
    plane_strategy: str = "rle",
    try_huffman: bool = True,
    huffman_headroom: float = 0.8,
    allowed: frozenset | None = None,
    group_encoder=None,
    budget: int | None = None,
) -> tuple[bytes, bytes, str, int] | None:
    """→ (header, payload, codec_name, checksum). ``doc_ids``/``sources``
    may be pa.StringArray (hot path, buffer-native) or object arrays.
    ``forced_codec`` is the lineage resume fast path (skip the argmin,
    reproduce recorded winner); ``level_tag`` pins non-default zlib levels
    into the codec name so resume reproduces recompressed pages exactly.
    ``group_encoder``: callable(values) → group_huffman payload, supplied by
    the engine when replaying a recorded ``group_huffman`` winner (the
    shared dictionary is group state encode_forced cannot rebuild alone).
    ``budget``: candidate-encode byte cap (merge/squeeze proposals) —
    returns None instead of a page when header+payload cannot come in under
    it, skipping most of the codec search and all of the header/checksum
    work on the (majority) losing proposals."""
    if forced_codec == "group_huffman":
        if group_encoder is None:
            raise ValueError("group_huffman replay needs the engine's group_encoder")
        payload = group_encoder(values)
        name = forced_codec
    elif forced_codec is not None:
        payload = encode_forced(
            values, forced_codec, zlib_level=zlib_level, plane_strategy=plane_strategy
        )
        name = forced_codec
    else:
        if zlib_only:
            # recompress pass: only PLANE_ZLIB (the one zlib-family codec
            # encode_best emits) responds to the level knob; PLAIN stays in
            # as the stored-block guarantee. 'both' strategy = the
            # try-harder analog for the plane codec.
            from ..codecs.kernels import PLAIN, PLANE_ZLIB

            zl = frozenset({PLAIN, PLANE_ZLIB})
            allowed = zl if allowed is None else (allowed & zl) | {PLAIN}
            plane_strategy = "both"
        payload = encode_best(
            values,
            zlib_level=zlib_level,
            allowed=allowed,
            plane_strategy=plane_strategy,
            try_huffman=try_huffman,
            huffman_headroom=huffman_headroom,
            budget=None if budget is None else budget - HEADER_FLOOR,
        )
        if payload is None:
            return None
        name = blob_codec_name(payload)
        if level_tag is not None and name == "plane_zlib":
            name = f"{name}@{level_tag}"
    header = build_header(doc_ids, sources, lens)
    if budget is not None and len(header) + len(payload) >= budget:
        return None
    return header, payload, name, page_checksum(doc_ids, sources, lens, values)


def decode_page(
    header: bytes,
    payload: bytes,
    checksum: int | None = None,
    split_rows: bool = True,
    group_dict=None,
):
    """→ (doc_ids, sources, lens, tokens); verifies checksum if given.

    ``doc_ids``/``sources`` are pa.StringArray (flat utf-8 buffers — no
    per-row boxing anywhere on the decode path). ``tokens`` is a list of
    per-row arrays when ``split_rows`` else the flat value array.
    ``group_dict``: the group's parsed :class:`~..codecs.kernels.GroupDict`,
    required for ``group_huffman`` payloads (decode_table threads it from
    the group's dict row, which streams ahead of its pages)."""
    (n_rows,) = _U32.unpack(header[:4])
    off = 4
    (lb_len,) = _U32.unpack(header[off : off + 4])
    lens = decode_blob(header[off + 4 : off + 4 + lb_len], n_rows)
    off += 4 + lb_len
    (db_len,) = _U32.unpack(header[off : off + 4])
    doc_ids = decode_strings(header[off + 4 : off + 4 + db_len], n_rows)
    off += 4 + db_len
    sources = decode_strings(header[off:], n_rows)
    n_values = int(lens.sum())
    from ..codecs.kernels import GROUP_HUFFMAN, decode_group_huffman

    if payload and payload[0] == GROUP_HUFFMAN:
        if group_dict is None:
            raise ValueError(
                "page payload is group_huffman but no group dictionary was "
                "supplied — decode via decode_table (which streams the "
                "group's dict row) or pass group_dict explicitly"
            )
        values = decode_group_huffman(payload, n_values, group_dict).astype(np.int32)
    else:
        values = decode_blob(payload, n_values).astype(np.int32)
    if checksum is not None:
        actual = page_checksum(doc_ids, sources, lens, values)
        if actual != checksum:
            raise ValueError(f"page checksum mismatch: {actual} != {checksum}")
    if not split_rows:
        return doc_ids, sources, lens, values
    arrays = np.split(values, np.cumsum(lens)[:-1]) if n_rows else []
    return doc_ids, sources, lens, arrays
