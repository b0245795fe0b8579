"""Top-level engine API: encode_table / decode_table / roundtrip_check.

The ``ZopfliCompress`` dispatch analog (reference src/zopfli/zopfli_lib.c:
50-82) — one call that plans partitions, runs the per-group encode search,
and returns the encoded-pages DataFrame plus per-partition metrics, all as a
single declarative Spark pipeline (one shuffle: the group-by; everything else
is narrow).

The UDF boundary is **Arrow-native** (applyInArrow / mapInArrow, Spark 4):
token arrays cross the JVM↔Python boundary as flat Arrow buffers
(values + int32 offsets) with zero per-row conversion — the columnar
struct-of-arrays discipline of the reference's LZ77 store
(src/zopfli/lz77.h:43-61) applied to the UDF transport itself. Measured on
this host, the pandas path (per-row list→ndarray materialization) starved 32
concurrent workers at ~25% CPU; the Arrow path feeds them flat buffers.
"""

from __future__ import annotations

import time
import zlib
from collections.abc import Iterator
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from .codecs import kernels
from .codecs.bitio import bit_width
from .codecs.kernels import _GH_MAX_CARD, GROUP_HUFFMAN
from .config import DEFAULT_CONFIG, MAX_UNSUCCESSFUL, EngineConfig
from .deploy import ensure_shipped, forget_zip_finders
from .lineage import (
    group_content_hash,
    hints_dict,
    struct_plan_to_pages,
)
from .model import entropy_bits
from .operators.pagecodec import (
    HEADER_FLOOR,
    build_header,
    decode_page,
    encode_page,
    page_checksum,
)
from .pages import _RangeCost, split_by_cost, split_simple
from .plans.planner import GROUP_COL, ROW_HASH_COL, plan_groups
from .squeeze import merge_pass, page_sizes, refine_boundaries

PAGES_SCHEMA = (
    "part_id int, page_id int, codec string, n_rows int, n_values long, "
    "first_doc_id string, last_doc_id string, raw_bytes long, enc_bytes long, "
    "checksum long, enc_us long, enc_cpu_us long, content_key long, content_hash_group long, "
    "resumed int, header binary, payload binary"
)

_PAGES_ARROW = pa.schema(
    [
        ("part_id", pa.int32()),
        ("page_id", pa.int32()),
        ("codec", pa.string()),
        ("n_rows", pa.int32()),
        ("n_values", pa.int64()),
        ("first_doc_id", pa.string()),
        ("last_doc_id", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("checksum", pa.int64()),
        ("enc_us", pa.int64()),
        ("enc_cpu_us", pa.int64()),
        ("content_key", pa.int64()),
        ("content_hash_group", pa.int64()),
        ("resumed", pa.int32()),
        ("header", pa.binary()),
        ("payload", pa.binary()),
    ]
)

DECODED_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

_DECODED_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def _allowlist_tags(names: tuple[str, ...] | None) -> frozenset | None:
    """Codec allow-list names → kernel tags (the ZopfliOptions codec dial,
    SURVEY §1.2). PLAIN is always admitted — the stored-block guarantee."""
    if names is None:
        return None
    by_name = {v: k for k, v in kernels.CODEC_NAMES.items()}
    unknown = [n for n in names if n not in by_name]
    if unknown:
        raise ValueError(f"unknown codec names in allow-list: {unknown}")
    return frozenset({kernels.PLAIN} | {by_name[n] for n in names})


def _achievable_bpv(
    values: np.ndarray,
    val_offsets: np.ndarray,
    n_docs_g: int,
    sample_cap: int = 4096,
    max_docs: int = 64,
) -> float | None:
    """Per-doc achievable bits-per-value estimate for the mode-grid gate —
    fully vectorized (VERDICT r3 next #6 replaced the per-doc Python loop).

    Samples up to ``max_docs`` docs (≤ ``sample_cap`` values each) and takes
    each doc's cheapest of {order-0 entropy, delta entropy, RLE estimate},
    with a bitpack-range floor when the sample is ≥90% distinct (small
    samples underestimate wide-domain entropy). One lexsort over all sampled
    (doc, value) pairs computes every per-doc entropy at once; per-doc
    min/max fall out of the sort order for free. Algebraically identical to
    the loop version (entropy as log2(m) − Σc·log2c / m).
    Returns None when no doc has ≥16 sampled values."""
    step = max(1, n_docs_g // max_docs)
    d_idx = np.arange(0, n_docs_g, step)
    starts = val_offsets[d_idx].astype(np.int64)
    ends = np.minimum(starts + sample_cap, val_offsets[d_idx + 1].astype(np.int64))
    m = ends - starts
    keep = m >= 16
    starts, m = starts[keep], m[keep]
    nseg = len(m)
    if nseg == 0:
        return None
    seg = np.repeat(np.arange(nseg), m)
    seg_first = np.cumsum(m) - m  # index of each segment's first element
    pos = np.arange(int(m.sum())) - np.repeat(seg_first, m) + np.repeat(starts, m)
    v = values[pos].astype(np.int64)

    def _seg_entropy(vals: np.ndarray, sid: np.ndarray, mm: np.ndarray) -> np.ndarray:
        order = np.lexsort((vals, sid))
        sv, ss = vals[order], sid[order]
        # boundaries of distinct (seg, value) runs in the sorted stream
        head = np.empty(len(sv), dtype=bool)
        head[0] = True
        np.logical_or(ss[1:] != ss[:-1], sv[1:] != sv[:-1], out=head[1:])
        idx = np.flatnonzero(head)
        c = np.diff(np.append(idx, len(sv))).astype(np.float64)
        seg_u = ss[idx]
        s_clogc = np.bincount(seg_u, weights=c * np.log2(c), minlength=nseg)
        mmf = mm.astype(np.float64)
        ent = np.log2(mmf) - s_clogc / mmf
        # ≥90%-distinct floor at the bitpack range
        u = np.bincount(seg_u, minlength=nseg)
        sf = np.cumsum(mm) - mm
        vmin = sv[sf]  # sorted within segment: first = min, last = max
        vmax = sv[sf + mm - 1]
        floor = np.log2((vmax - vmin).astype(np.float64) + 1.0)
        return np.where(u > 0.9 * mmf, np.maximum(ent, floor), ent)

    ent_v = _seg_entropy(v, seg, m)
    intra = np.ones(len(v), dtype=bool)
    intra[seg_first] = False  # drop each segment's first (cross-doc diff)
    dv = (v - np.concatenate(([0], v[:-1])))[intra]
    seg_dv = seg[intra]
    ent_dv = _seg_entropy(dv, seg_dv, m - 1)
    runs = np.bincount(seg_dv, weights=(dv != 0).astype(np.float64), minlength=nseg) + 1.0
    rle_bits = 64.0 * runs / m.astype(np.float64)
    best = np.minimum(np.minimum(ent_v, ent_dv), rle_bits)
    return float((best * m).sum() / m.sum()) / 8.0


# --- group-level shared Huffman dictionary: training policy ---------------
# (mechanism lives in codecs.kernels; these thresholds are the CONTENT-PURE
# selection rule, chosen so lineage replay re-derives the identical training
# set — and therefore identical dictionary bytes — without re-running any
# size comparison, VERDICT r4 next #2)
_GH_MIN_TRAIN_SPAN = 4096  # spans below this are too noisy to train on
_GH_TRAIN_WINDOW = 1 << 16  # fixed training-window size over the value
#                             stream: training is a pure function of
#                             (content, config) — independent of page
#                             bounds, so the dictionary exists BEFORE the
#                             split search and every stage can price the
#                             group_huffman candidate in its argmin
_GH_MIN_TRAIN_CARD = 257  # dict-header-bound territory starts past one byte
_GH_ENTROPY_MARGIN = 0.92  # H0 must beat the analytic codec floor by ≥8%
_GH_KL_MAX = 0.3  # drop training spans whose cross-entropy under the
#                   EQUAL-WEIGHT pooled code exceeds their own H0 by more
#                   (distribution mismatch pollutes the shared code; same-
#                   family spans measure ce−h0 ≈ 0.0-0.15, a mixed-content
#                   outlier ≥ 1 — see the refinement comment in train_group_dict)
_GH_ROW_OVERHEAD = 48  # approximate per-row cost of the dict row itself


# powers of two for a vectorized int.bit_length: bl(x) = index right of x
# in [2^0 .. 2^62] (bl(0)=0, bl(1)=1, bl(2^k)=k+1) — exact, no float log2
_BL_POWS = (np.int64(1) << np.arange(63, dtype=np.int64))


def _bit_lengths(x: np.ndarray) -> np.ndarray:
    return np.searchsorted(_BL_POWS, x, side="right").astype(np.int64)


def train_group_dict(values: np.ndarray, config) -> dict:
    """Derive the group's shared-Huffman dictionary from (content, config)
    alone — returns ``{"blob": bytes|None, "gd": GroupDict?}``. Module-level
    (r6) so tools/tests can derive the identical dictionary the encode task
    will use; ``GroupCtx.gh_dict`` is a thin per-group memo over this.

    Training-set selection is CONTENT-PURE (no realized-size comparisons):
    fixed windows over the (clustered) value stream where order-0 entropy
    beats every analytic codec floor, refined by equal-weight-KL dropping.
    Independent of page bounds, so lineage replay re-derives identical
    dictionary bytes and the dictionary exists BEFORE the split search
    (every search stage prices the group_huffman candidate in its argmin)."""
    train: list[tuple] = []
    n_total = len(values)
    # window tracks page granularity (adoption is per page) but stays
    # capped: pure function of config, so replay derives the same set
    win = max(_GH_MIN_TRAIN_SPAN, min(config.page_budget_values, _GH_TRAIN_WINDOW))
    starts = list(range(0, n_total, win))
    for k, a in enumerate(starts):
        b = min(a + win, n_total)
        n_sp = b - a
        if n_sp < _GH_MIN_TRAIN_SPAN:
            continue
        sp = values[a:b].astype(np.int64)
        u, cts = np.unique(sp, return_counts=True)
        if len(u) < _GH_MIN_TRAIN_CARD or len(u) > _GH_MAX_CARD - 1:
            continue
        h0 = entropy_bits(cts) / n_sp
        w_for = bit_width(int(sp.max()) - int(sp.min()))
        if n_sp > 1:
            diffs = np.diff(sp)
            w_delta = bit_width(2 * int(np.abs(diffs).max()))
            rle_b = 64.0 * (1 + int(np.count_nonzero(diffs))) / n_sp
        else:
            w_delta, rle_b = 64, 64.0
        if h0 < _GH_ENTROPY_MARGIN * min(w_for, w_delta, rle_b):
            train.append((u, cts, h0, k))
    # greedy cardinality-capped selection, LOW-card spans first (span
    # index as the deterministic tiebreak — content-pure, so replay
    # re-derives the same set): without this, one high-card span (a
    # page mixing a heavy-tail distribution with near-uniform content)
    # inflates the pooled union past _GH_MAX_CARD and the WHOLE group
    # bailed — and the KL refinement below could not save it, because
    # the offending span carries the majority mass, so refinement kept
    # it and dropped the compatible low-card spans instead (measured on
    # the r5 mixture: 0 adoptions at the ratio dials, ~3.5% payload
    # left on the table). Compatible spans overlap heavily, so their
    # running union grows slowly; an incompatible giant fails the cap
    # and is skipped, never poisoning the pool.
    train.sort(key=lambda t: (len(t[0]), t[3]))
    selected: list[tuple] = []
    uni: np.ndarray | None = None
    for t in train:
        merged = t[0] if uni is None else np.union1d(uni, t[0])
        # - 1: the ESCAPE symbol rides along, so the table tops out at
        # 2^17 codes with a 2^17-1 dictionary (ADVICE r5 medium)
        if len(merged) > _GH_MAX_CARD - 1:
            continue
        uni = merged
        selected.append(t)
    train = selected
    # KL refinement: drop distribution-mismatched spans, retrain. The
    # compatibility metric pools spans with EQUAL weight (each span's
    # counts normalized to a probability first): under mass-weighted
    # pooling one giant span dominates q, inflating every OTHER span's
    # cross-entropy — on the r5 mixture a 1.4M-value mixed page made
    # all nine compatible zipf spans read ce−h0 ≈ 0.65 while itself
    # reading 0.33, so refinement either dropped the good spans or gave
    # up, and adoption never fired. Equal-weight q makes the true
    # outlier the one that pays: a span unlike the others sees its
    # values at ~1/K of their own probability (ce−h0 ≈ log2 K) while
    # compatible spans sit near 0. When every span fails the gate the
    # set is heterogeneous — drop only the single worst offender and
    # re-pool, so one bad span can never take the group down with it.
    # round cap bounds refinement CPU on pathological heterogeneous
    # groups (drop-worst removes one span per round); exact byte
    # safety never depends on refinement — adoption is keep-if-smaller
    for _round in range(16):
        if not train:
            break
        allu = np.unique(np.concatenate([t[0] for t in train]))
        q = np.zeros(len(allu), dtype=np.float64)
        for u, cts, _h0, _k in train:
            q[np.searchsorted(allu, u)] += cts / cts.sum()
        q /= len(train)
        offenses = []
        for t in train:
            u, cts, h0, _k = t
            ce = float(-(cts * np.log2(q[np.searchsorted(allu, u)])).sum() / cts.sum())
            offenses.append(ce - h0)
        keep = [t for t, o in zip(train, offenses) if o <= _GH_KL_MAX]
        if len(keep) == len(train):
            break
        if not keep:
            worst = int(np.argmax(offenses))
            keep = [t for j, t in enumerate(train) if j != worst]
        train = keep
    if not train:
        return {"blob": None}
    allu = np.unique(np.concatenate([t[0] for t in train]))
    if len(allu) < 2 or len(allu) > _GH_MAX_CARD - 1:
        return {"blob": None}
    pooled = np.zeros(len(allu), dtype=np.int64)
    for u, cts, _h0, _k in train:
        pooled[np.searchsorted(allu, u)] += cts
    blob = kernels.encode_group_dict(allu, pooled, zlib_level=config.zlib_level)
    return {"blob": blob, "gd": kernels.GroupDict(blob)}


def _doc_signature_keys(values: np.ndarray, val_offsets: np.ndarray) -> np.ndarray:
    """Per-doc content-signature sort keys for cluster_docs: (range bits,
    run-ratio bucket, sampled-distinct bucket, mean-|delta| bits) packed
    into one int64. Pure function of content → identical at any parallelism.

    Fully vectorized (VERDICT r5 wrong #5 replaced the per-doc Python
    loop): segment min/max via ``reduceat`` over non-empty doc starts,
    run/|delta| stats via masked ``bincount`` over the global diff array,
    and the sampled-distinct bucket via one lexsort over (doc, sampled
    value) — the same technique ``_achievable_bpv`` uses. Bit-for-bit
    identical to the loop form (asserted in tests/test_engine.py): integer
    sums stay exact in float64 (< 2^53), so every float division and
    truncation reproduces the per-doc scalar math."""
    n_docs = len(val_offsets) - 1
    keys = np.zeros(n_docs, dtype=np.int64)
    lens = np.diff(val_offsets).astype(np.int64)
    nz = lens > 0
    if not nz.any():
        return keys
    v = values.astype(np.int64)
    starts = val_offsets[:-1].astype(np.int64)

    # range bits: per-doc max-min via reduceat (consecutive non-empty doc
    # starts tile the value array exactly; empty docs contribute nothing)
    idx = starts[nz]
    mx = np.maximum.reduceat(v, idx)
    mn = np.minimum.reduceat(v, idx)
    rng_b = np.zeros(n_docs, dtype=np.int64)
    rng_b[nz] = _bit_lengths(mx - mn)

    # run / mean-|delta| stats from ONE global diff pass, doc-masked
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    dv = np.diff(v) if len(v) > 1 else np.empty(0, dtype=np.int64)
    same = doc_of[1:] == doc_of[:-1] if len(v) > 1 else np.empty(0, dtype=bool)
    d_doc = doc_of[:-1][same] if len(v) > 1 else np.empty(0, dtype=np.int64)
    d_val = dv[same] if len(v) > 1 else dv
    nz_runs = np.bincount(d_doc[d_val != 0], minlength=n_docs)
    runs = 1 + nz_runs  # meaningful only where lens > 0
    abs_sums = np.bincount(d_doc, weights=np.abs(d_val).astype(np.float64), minlength=n_docs)
    run_b = np.zeros(n_docs, dtype=np.int64)
    run_b[nz] = (8.0 * runs[nz] / lens[nz]).astype(np.int64)
    mad_b = np.zeros(n_docs, dtype=np.int64)
    multi = lens > 1
    mean_plus1 = np.zeros(n_docs)
    mean_plus1[multi] = abs_sums[multi] / (lens[multi] - 1) + 1.0
    mad_b[multi] = _bit_lengths(np.trunc(mean_plus1[multi]).astype(np.int64))

    # sampled-distinct bucket: per-doc strided sample (step = max(1,
    # n//256)), distinct count via one lexsort over (doc, value)
    step = np.maximum(1, lens // 256)
    ns = np.zeros(n_docs, dtype=np.int64)
    ns[nz] = -(-lens[nz] // step[nz])  # ceil — len(d[::step])
    cs = np.concatenate(([0], np.cumsum(ns)))
    within = np.arange(int(cs[-1]), dtype=np.int64) - np.repeat(cs[:-1], ns)
    pos = np.repeat(starts, ns) + within * np.repeat(step, ns)
    sv = v[pos]
    sdoc = np.repeat(np.arange(n_docs, dtype=np.int64), ns)
    order = np.lexsort((sv, sdoc))
    sv_s, sdoc_s = sv[order], sdoc[order]
    dup = np.zeros(len(sv_s), dtype=bool)
    if len(sv_s) > 1:
        dup[1:] = (sdoc_s[1:] == sdoc_s[:-1]) & (sv_s[1:] == sv_s[:-1])
    uniqs = ns - np.bincount(sdoc_s[dup], minlength=n_docs)
    dist_b = np.zeros(n_docs, dtype=np.int64)
    dist_b[nz] = (8.0 * uniqs[nz] / ns[nz]).astype(np.int64)

    keys[nz] = (
        (rng_b[nz] << 24) | (run_b[nz] << 16) | (dist_b[nz] << 8) | mad_b[nz]
    )
    return keys


def _string_col(tbl: pa.Table, name: str) -> pa.Array:
    """One contiguous StringArray for a column (no per-row conversion)."""
    col = tbl.column(name).combine_chunks()
    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks else pa.array([], pa.utf8())
    return col


def _tokens_flat(tbl: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(values int32, lens int64) from the Arrow list column — zero-copy."""
    col = tbl.column("tokens").combine_chunks()
    if col.null_count:
        raise ValueError("tokens column contains nulls (contract: array<int32>)")
    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks else pa.array([], pa.list_(pa.int32()))
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = col.values.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    # list array may be a slice: honor its offset window
    lens = np.diff(offsets)
    values = values[offsets[0] : offsets[-1]]
    return values, lens


# per-group byte caps on the span memo and the group-dictionary alternates
_MEMO_CAP = 256 << 20
_GH_ALTS_CAP = 128 << 20


def _row_bounds(cuts, n_rows: int) -> np.ndarray:
    """Sorted, deduplicated page row bounds from interior cut points."""
    return np.unique(np.concatenate(([0], cuts, [n_rows]))).astype(np.int64)


class GroupCtx:
    """One group's inputs, and the state derived from them, shared by the
    search stages of :func:`_encode_group`.

    Construction sorts the group by doc_id, hashes it and, under
    ``config.cluster_docs``, reorders its docs. Derived state (the trained
    group dictionary, the group symbol stream, the split bit costs, the
    split estimator's range cost) is computed lazily, once per group. The
    span memo and the group-dictionary alternates are plain attributes."""

    def __init__(self, tbl: pa.Table, config: EngineConfig):
        self.config = config
        tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("doc_id", "ascending")]))
        self.part_id = int(tbl.column(GROUP_COL)[0].as_py())
        # strings stay Arrow arrays end-to-end (flat utf-8 buffer + offsets) —
        # page slices are zero-copy; no to_pylist/per-row boxing (VERDICT r2 #3)
        doc_ids = _string_col(tbl, "doc_id")
        sources = _string_col(tbl, "source")
        values, lens = _tokens_flat(tbl)
        # order-insensitive content key: XOR of the JVM-computed per-row
        # hashes — the key of split hints and of the store's per-key lineage
        # dedup; the BLAKE2b content_hash guards the weaker XOR against
        # multiset cancellation before any hint or plan is trusted
        row_h = tbl.column(ROW_HASH_COL).to_numpy(zero_copy_only=False).astype(np.uint64)
        self.content_key = (
            int(np.bitwise_xor.reduce(row_h).view(np.int64)) if len(row_h) else 0
        )
        self.content_hash = group_content_hash(values, doc_ids)
        self.seed_hash = self.content_hash & 0x7FFFFFFFFFFFFFFF  # squeeze seed
        # content-clustered doc ordering (config.cluster_docs): reorder docs by
        # signature so pages become codec-homogeneous. Runs AFTER the content
        # hash (keys stay order-canonical: hash is over doc_id order) and
        # BEFORE any plan/hint application (recorded boundaries refer to the
        # clustered order — replay under the same config reorders identically,
        # and cluster_docs is a mode bit so cross-config plans never match).
        if config.cluster_docs and len(lens) > 2:
            offsets = np.concatenate(([0], np.cumsum(lens)))
            perm = np.argsort(_doc_signature_keys(values, offsets), kind="stable")
            if not np.array_equal(perm, np.arange(len(perm))):
                doc_ids = doc_ids.take(pa.array(perm))
                sources = sources.take(pa.array(perm))
                lens_p = lens[perm]
                new_off = np.concatenate(([0], np.cumsum(lens_p)))[:-1]
                values = values[
                    np.repeat(offsets[:-1][perm] - new_off, lens_p) + np.arange(len(values))
                ]
                lens = lens_p
        self.doc_ids, self.sources, self.values, self.lens = doc_ids, sources, values, lens
        self.val_offsets = np.concatenate(([0], np.cumsum(lens)))
        self.allowed_tags = _allowlist_tags(config.codec_allowlist)
        # the group_huffman candidate honors the codec allow-list like every
        # other tag (ADVICE r5 low)
        self.gh_allowed = config.group_dict and (
            self.allowed_tags is None or GROUP_HUFFMAN in self.allowed_tags
        )
        # span-keyed encode memo — the longest-match-cache analog (reference
        # src/zopfli/cache.c:29-133): squeeze proposals, the merge pass, and
        # mode-grid strategies repeatedly request identical (r0, r1) spans;
        # within one group the content behind a span never changes, so the
        # (header, payload, codec, checksum) tuple is cacheable. Byte-capped so
        # a pathological proposal stream cannot blow task memory.
        self.memo: dict = {}
        self.memo_bytes = 0
        # (r0, r1) → (losing payload, codec) for spans that adopted the group
        # dictionary in the argmin — the exact-revert set for the final
        # dict-row accounting (see encode_span). Byte-capped like the memo; a
        # missing stash at revert time falls back to a default-flags re-encode
        # (decodes identically, possibly a few bytes above the true runner-up)
        self.alts: dict = {}
        self.alts_bytes = 0

    # --- group-level shared Huffman dictionary (lazy) ----------------------
    # Training (train_group_dict) is content-pure and independent of page
    # bounds, so (a) replay re-derives the identical dictionary bytes from
    # (content, config) alone, and (b) the dictionary exists before the split
    # search — every search stage prices the group_huffman candidate in its
    # argmin (see encode_span), so a merge that would destroy an
    # adoption-eligible span correctly loses. WHICH pages adopted is recorded
    # per page in the plan's codec names, so no adoption decision ever needs
    # replaying.
    @cached_property
    def gh_dict(self) -> dict:
        return train_group_dict(self.values, self.config)

    @cached_property
    def gh_syms(self) -> np.ndarray:
        """Group-wide symbol stream under the shared dictionary, computed
        ONCE and sliced per span: group_tokens is a pure per-value map, so a
        slice of the whole-group tokenization equals tokenizing the slice."""
        return kernels.group_tokens(self.values, self.gh_dict["gd"])[0]

    @cached_property
    def gh_split_bits(self) -> np.ndarray | None:
        """Per-value bit cost of the WHOLE group under the shared code — the
        split estimator's group_huffman cost column (VERDICT r5 missing #1:
        the entropy-only estimate was blind to the dictionary; pricing the
        candidate DURING the split beat four post-hoc recovery policies —
        BENCH.md r5). One computation feeds every split-search site: the
        initial split, the mode-grid geometries and the recompress re-split
        (sliced); every adoption downstream stays exact keep-if-smaller, so
        the estimate can only steer, never cost bytes. Escaped tokens pay
        their ESC code plus an estimated side-channel literal."""
        if not self.gh_allowed or self.gh_dict["blob"] is None:
            return None
        gd = self.gh_dict["gd"]
        bits = gd.lengths[self.gh_syms].astype(np.float64)
        # escapes additionally ship a literal in the per-page side blob;
        # encode_simple typically lands 16-40 bits per int64 literal — 32
        # is the estimate (split-time only; codec choice stays exact-bytes)
        bits[self.gh_syms == len(gd.vals)] += 32.0
        return bits

    @cached_property
    def range_cost(self) -> _RangeCost:
        """One _RangeCost per group (VERDICT r6 wrong #3): its cumulative
        structures depend only on (values, lens, gh bits, card_term), not on
        the budget, so the initial split and the mode-grid geometries share
        it. Recompress re-splits slice the value stream and build their own."""
        return _RangeCost(
            self.values, self.lens, self.gh_split_bits, card_term=self.config.split_card_term
        )

    def encode_group_values(self, vals: np.ndarray) -> bytes:
        """group_encoder for forced 'group_huffman' replay (pagecodec)."""
        if self.gh_dict["blob"] is None:
            raise ValueError(
                "lineage records group_huffman but the group dictionary "
                "cannot be re-derived (content/config drift)"
            )
        gd = self.gh_dict["gd"]
        sym, esc_vals = kernels.group_tokens(vals, gd)
        return kernels.encode_group_huffman(sym, esc_vals, gd, gd.crc)

    # --- span encoding -----------------------------------------------------
    def encode(
        self,
        r0: int,
        r1: int,
        forced: str | None = None,
        level: int | None = None,
        zlib_only: bool = False,
        dial: bool = False,
        budget: int | None = None,
    ):
        """Memoized :meth:`encode_span` — the ``encode_fn`` of the squeeze
        and merge passes. A budgeted call returns None when nothing beats
        the budget; a memo hit is the best-known page for the span, and a
        budgeted caller compares sizes."""
        key = (r0, r1, forced, level, zlib_only, dial)
        page = self.memo.get(key)
        if page is not None:
            return page
        page = self.encode_span(r0, r1, forced, level, zlib_only, dial, budget=budget)
        # budgeted winners are not memoized: their tighter gates may have
        # pruned a candidate an unbudgeted search would pick
        if page is not None and budget is None:
            cost = len(page[0]) + len(page[1])
            if self.memo_bytes + cost <= _MEMO_CAP:
                self.memo[key] = page
                self.memo_bytes += cost
        return page

    def encode_span(
        self,
        r0: int,
        r1: int,
        forced: str | None = None,
        level: int | None = None,
        zlib_only: bool = False,
        dial: bool = False,
        group_ok: bool = True,
        budget: int | None = None,
    ):
        # ``dial``: mode-grid codec-dial axis — widen the Huffman admission
        # to its entropy bound and keep-if-smaller both plane strategies.
        # Zlib-family winners get level-pinned "@lvl" names (level_tag), and
        # encode_forced replays "plane_zlib@lvl" with strategy 'both', so a
        # dial winner reproduces byte-identically on lineage resume.
        c = self.config
        v0, v1 = int(self.val_offsets[r0]), int(self.val_offsets[r1])
        page = encode_page(
            self.doc_ids[r0:r1],
            self.sources[r0:r1],
            self.lens[r0:r1],
            self.values[v0:v1],
            zlib_level=c.zlib_level if level is None else level,
            forced_codec=forced,
            level_tag=(c.zlib_level if (dial and level is None) else level),
            zlib_only=zlib_only,
            plane_strategy="both" if dial else c.plane_strategy,
            try_huffman=c.try_huffman,
            huffman_headroom=1.0 if dial else c.huffman_headroom,
            allowed=self.allowed_tags,
            group_encoder=self.encode_group_values,
            budget=budget,
        )
        # group_huffman candidate IN the argmin (config.group_dict): the
        # shared dictionary is fixed per group, so every span encode — first
        # pass, squeeze proposals, merge, mode grid, recompress — prices
        # adoption on exact bytes. The losing per-page payload is stashed
        # (smallest seen per span) so the final accounting can revert every
        # adoption if the dict row itself does not pay for the group. The
        # group payload for a span is flag-independent (same values → same
        # bytes), so stashing min-over-flags alts keeps the revert exact.
        if not (self.gh_allowed and group_ok and forced is None and v1 > v0):
            return page
        if self.gh_dict["blob"] is None:
            return page
        gd = self.gh_dict["gd"]
        sym = self.gh_syms[v0:v1]
        esc_vals = self.values[v0:v1][sym == len(gd.vals)]
        # escape-heavy spans never win (each escape pays the ESC code plus a
        # literal) — skip the exact sizing for them
        if len(esc_vals) * 4 >= v1 - v0:
            return page
        # a budgeted base argmin may have lost (None); the group candidate
        # can still win the proposal on its own
        bar = len(page[1]) if page is not None else budget - HEADER_FLOOR
        cand_sz = kernels.group_huffman_size(sym, esc_vals, gd)
        if cand_sz >= bar:
            return page
        if page is None:
            rows = slice(r0, r1)
            header = build_header(self.doc_ids[rows], self.sources[rows], self.lens[rows])
            if cand_sz + len(header) >= budget:
                return None
            checksum = page_checksum(
                self.doc_ids[rows], self.sources[rows], self.lens[rows], self.values[v0:v1]
            )
        else:
            header, checksum = page[0], page[3]
            prev = self.alts.get((r0, r1))
            if prev is None or len(page[1]) < len(prev[0]):
                grow = len(page[1]) - (len(prev[0]) if prev else 0)
                if self.alts_bytes + grow <= _GH_ALTS_CAP:
                    self.alts[(r0, r1)] = (page[1], page[2])
                    self.alts_bytes += grow
        return (
            header,
            kernels.encode_group_huffman(sym, esc_vals, gd, gd.crc),
            "group_huffman",
            checksum,
        )

    def encode_pages(self, bounds, forced: list[str] | None = None) -> list:
        """One page per consecutive pair of row bounds (memoized)."""
        return [
            self.encode(int(bounds[k]), int(bounds[k + 1]), forced[k] if forced else None)
            for k in range(len(bounds) - 1)
        ]

    def split_bounds(self, mode: str, budget: int, max_pages: int) -> np.ndarray:
        """Row bounds of one whole-group split: ``mode`` 'simple' for fixed
        budgets, else split_by_cost's 'greedy' or 'dp'."""
        if mode == "simple":
            return _row_bounds(split_simple(self.lens, budget), len(self.lens))
        cuts = split_by_cost(
            self.values,
            self.lens,
            budget,
            max_pages,
            mode=mode,
            gh_bits_per_value=self.gh_split_bits,
            card_term=self.config.split_card_term,
            rc=self.range_cost,
        )
        return _row_bounds(cuts, len(self.lens))


# --- the per-group search stages, in the order _encode_group runs them ----


def _resolve_plan(
    g: GroupCtx, plan_tbl: pa.Table | None, hints: dict | None
) -> tuple[np.ndarray | None, list[str] | None, bool]:
    """(row_bounds, forced codecs, hinted) from a split hint or a lineage
    plan; row_bounds None means search.

    Predefined split points (--cbs/--cbsfile analog, reference
    src/zopfli/zopfli.h:161-178, deflate.c:1672-1715) pin the page ROW
    boundaries exactly and skip the split search and the boundary-moving
    passes; the codec argmin still runs per page. They OUTRANK recorded
    lineage: the caller asks for a specific geometry (the reference's sp
    argument wins over its StatsDB too). Only a hint whose STRONG hash
    matches may outrank — a stale hint must not silently disable lineage
    resume (ADVICE r2) — and it disables lineage even when its bounds are
    rejected.

    A lineage plan (StatsDB fast path, reference src/zopfli/deflate.c:
    1177-1211) arrives through the cogroup: every plan recorded under this
    group id, of which the first whose strong hash matches the group's
    content is trusted (portability-check discipline, deflate.c:1195-1199).
    It fixes page boundaries and codecs, skipping split search and codec
    argmin; byte-identical because the encoder is deterministic."""
    n_rows = len(g.lens)
    rec = hints.get(g.content_key) if hints else None
    if rec is not None and rec[0] == g.content_hash:
        hb = np.asarray(rec[1], dtype=np.int64)
        if not (len(hb) == 0 or (hb.min() > 0 and hb.max() < n_rows)):
            return None, None, False
        row_bounds = _row_bounds(hb, n_rows)
        if g.config.hints_additional_split:
            # --aas analog (deflate.c:1860-1884): also cost-split WITHIN each
            # hinted segment; hinted points survive.
            extra: list[int] = []
            for s, e in zip(row_bounds[:-1].tolist(), row_bounds[1:].tolist()):
                if e - s > 1:
                    v0, v1 = int(g.val_offsets[s]), int(g.val_offsets[e])
                    sub = split_by_cost(
                        g.values[v0:v1],
                        g.lens[s:e],
                        g.config.page_budget_values,
                        g.config.max_pages_per_group,
                    )
                    extra.extend(int(x) + s for x in sub)
            if extra:
                row_bounds = _row_bounds(np.concatenate((row_bounds, extra)), n_rows)
        return row_bounds, None, True
    if plan_tbl is not None and plan_tbl.num_rows:
        hit = pc.index(plan_tbl.column("content_hash"), g.content_hash).as_py()
        plan = plan_tbl.column("plan")[hit].as_py() if hit >= 0 else None
        if plan is not None:
            page_plan = struct_plan_to_pages(plan)
            row_bounds = np.concatenate(([0], np.cumsum([p[0] for p in page_plan]))).astype(
                np.int64
            )
            # a stale plan (hash collision or schema drift) falls through
            if row_bounds[-1] == n_rows:
                return row_bounds, [p[1] for p in page_plan], False
    return None, None, False


def _split(g: GroupCtx) -> np.ndarray:
    """The first split: cost-driven (greedy or dp) or fixed-budget."""
    c = g.config
    mode = {"cost": "greedy", "dp": "dp"}.get(c.split_mode, "simple")
    return g.split_bounds(
        mode if len(g.lens) > 1 else "simple", c.page_budget_values, c.max_pages_per_group
    )


def _refine(g: GroupCtx, row_bounds: np.ndarray, pages: list) -> tuple[np.ndarray, list]:
    """Squeeze loop, then merge: seeded perturb-and-keep-best boundary
    refinement and the keep-if-smaller merge pass (reference
    src/zopfli/squeeze.c:511-655, deflate.c:1728-1836). The squeeze runs only
    where the first pass left an outlier page — the cost-gated deep search of
    the reference (deflate.c:917-934 re-parses only small or ambiguous
    blocks)."""
    c = g.config
    if len(pages) >= 3:
        bpv = page_sizes(pages) / np.maximum(np.diff(g.val_offsets[row_bounds]), 1)
        if float(np.max(bpv)) > 1.2 * float(np.median(bpv)):
            row_bounds, pages, _ = refine_boundaries(
                row_bounds,
                pages,
                g.val_offsets,
                g.encode,
                iterations=c.iterations,
                max_unsuccessful=MAX_UNSUCCESSFUL,
                seed_key=(c.seed, g.seed_hash),
            )
    row_bounds, pages, _ = merge_pass(
        row_bounds, pages, g.val_offsets, g.encode, page_budget_values=c.page_budget_values
    )
    return row_bounds, pages


def _mode_grid(g: GroupCtx, row_bounds: np.ndarray, pages: list) -> tuple[np.ndarray, list]:
    """Mode grid (--all analog, reference src/zopfli/deflate.c:1326-1342: try
    every search-mode combination per block, keep the best) on groups the
    main pass left AMBIGUOUS: alternate split geometries, one deeper squeeze
    round and the ratio-end codec dials, each keep-if-smaller on exact bytes.
    Content-pure, so deterministic at any parallelism.

    "Ambiguous" = the realized cost sits well above what a PER-DOC
    achievable estimate (:func:`_achievable_bpv`) says the content supports.
    A poor ratio alone is not enough (near-random data is poor AND
    unimprovable), and a whole-group entropy sample is blind to the order
    structure per-doc pages exploit; the gate fires only when the
    order-blind split estimator plausibly mis-split."""
    c = g.config
    if not c.mode_grid or len(pages) < 2:
        return row_bounds, pages
    total = float(page_sizes(pages).sum())
    n_values = max(float(g.val_offsets[-1]), 1.0)
    realized_bpv = total / n_values
    if realized_bpv <= 0.4:
        return row_bounds, pages
    est = _achievable_bpv(g.values, g.val_offsets, len(g.lens))
    # + per-doc metadata overhead (doc_id/lens bytes) so tiny-doc groups,
    # whose realized cost is header-dominated by construction, don't fire
    if est is None or not est + 6.0 * len(g.lens) / n_values < 0.9 * realized_bpv:
        return row_bounds, pages
    for spec in (
        ("dp", c.page_budget_values, c.max_pages_per_group),  # optimal under the estimate
        ("simple", c.page_budget_values, c.max_pages_per_group),  # fixed budgets
        # finer cost splits: half budget → more header, better locality
        ("greedy", max(c.page_budget_values // 2, 1), 2 * c.max_pages_per_group),
    ):
        alt_bounds = g.split_bounds(*spec)
        if np.array_equal(alt_bounds, row_bounds):
            continue
        alt_bounds, alt_pages, _ = merge_pass(
            alt_bounds,
            g.encode_pages(alt_bounds),
            g.val_offsets,
            g.encode,
            page_budget_values=c.page_budget_values,
        )
        alt_total = float(page_sizes(alt_pages).sum())
        if alt_total < total:
            row_bounds, pages, total = alt_bounds, alt_pages, alt_total
    # search-depth axis: one deeper squeeze round over the winning geometry —
    # doubled iterations, shifted seed stream — on a copy, adopted only if it
    # improved; the span memo makes revisited spans free
    if len(pages) >= 3:
        deep_bounds, deep_pages, n_improved = refine_boundaries(
            row_bounds.copy(),
            list(pages),
            g.val_offsets,
            g.encode,
            iterations=2 * c.iterations,
            max_unsuccessful=MAX_UNSUCCESSFUL + 1,
            seed_key=(c.seed ^ 0xA11, g.seed_hash),
        )
        if n_improved:
            row_bounds, pages = deep_bounds, deep_pages
    # codec-dial axes (VERDICT r3 next #7): retry each page of the winning
    # geometry with huffman_headroom=1.0 and plane_strategy='both', per-page
    # keep-if-smaller; skipped when the config already runs at the ratio end
    if c.huffman_headroom < 1.0 or c.plane_strategy != "both":
        sizes = page_sizes(pages)
        for k in range(len(pages)):
            cur = int(sizes[k])
            cand = g.encode(int(row_bounds[k]), int(row_bounds[k + 1]), dial=True, budget=cur)
            if cand is not None and len(cand[0]) + len(cand[1]) < cur:
                pages[k] = cand
    return row_bounds, pages


def _recompress(g: GroupCtx, row_bounds: np.ndarray, pages: list) -> tuple[np.ndarray, list]:
    """Recompression passes (--pass analog, reference src/zopfli/deflate.c:
    1728-1836): on the worst-compressing pages, try (b) the full-effort zlib
    family (level 9, both plane strategies) and (a) a RE-SPLIT on realized
    byte costs — the reference re-splits the encoded stream, not the raw
    estimate; keep each only if strictly smaller. Level-pinned winners are
    recorded as "codec@9" so lineage resume reproduces them exactly."""
    c = g.config
    for _ in range(c.recompress_passes):
        sizes = page_sizes(pages)
        nv = np.maximum(np.diff(g.val_offsets[row_bounds]), 1)
        bpv = sizes / nv
        med = float(np.median(bpv))
        improved_any = False
        new_bounds: list[int] = [int(row_bounds[0])]
        new_pages: list = []
        for k, page in enumerate(pages):
            r0, r1 = int(row_bounds[k]), int(row_bounds[k + 1])
            size_k = int(sizes[k])
            if bpv[k] > 1.15 * med and nv[k] >= 4096:
                cand = g.encode(r0, r1, level=9, zlib_only=True, budget=size_k)
                if cand is not None and len(cand[0]) + len(cand[1]) < size_k:
                    page, size_k = cand, len(cand[0]) + len(cand[1])
                    improved_any = True
                # within a realized-bad page a finer cut often separates the
                # mixture the whole-group estimate was blind to
                if r1 - r0 > 1:
                    v0, v1 = int(g.val_offsets[r0]), int(g.val_offsets[r1])
                    gb = g.gh_split_bits
                    sub = split_by_cost(
                        g.values[v0:v1],
                        g.lens[r0:r1],
                        max(c.page_budget_values // 2, 1),
                        4,
                        gh_bits_per_value=gb[v0:v1] if gb is not None else None,
                        card_term=c.split_card_term,
                    )
                    cuts = [r0, *(r0 + int(x) for x in sub if 0 < int(x) < r1 - r0), r1]
                    if len(cuts) > 2:
                        sub_pages = g.encode_pages(cuts)
                        if int(page_sizes(sub_pages).sum()) < size_k:
                            new_pages.extend(sub_pages)
                            new_bounds.extend(cuts[1:])
                            improved_any = True
                            continue
            new_pages.append(page)
            new_bounds.append(r1)
        row_bounds = np.asarray(new_bounds, dtype=np.int64)
        pages = new_pages
        if not improved_any:
            break
    return row_bounds, pages


def _settle_group_dict(
    g: GroupCtx, row_bounds: np.ndarray, pages: list, forced: list[str] | None
) -> bytes | None:
    """The group-dictionary row payload, or None.

    Adoption happened inside the argmin (encode_span), page by page on exact
    bytes — the EncodeTree header-amortization idea across pages (reference
    src/zopfli/deflate.c:118-293,299-363). Here only the group-level charge
    is settled: the dict row ships iff the adopted pages' total savings (vs
    their stashed runner-up payloads) beat the dict row itself; otherwise
    every adoption reverts, in place, to its runner-up. A span with no stash
    is re-encoded at default flags without the group candidate (decodes
    identically; at worst a few bytes over the true runner-up). On replay,
    forced 'group_huffman' codecs re-derive the dictionary."""
    if not g.config.group_dict:
        return None
    if forced is not None:
        return g.gh_dict["blob"] if "group_huffman" in forced else None
    adopted = [k for k, pg in enumerate(pages) if pg[2] == "group_huffman"]
    if not adopted:
        return None
    spans = [(int(row_bounds[k]), int(row_bounds[k + 1])) for k in adopted]
    alts = [g.alts.get(sp) or g.encode_span(*sp, group_ok=False)[1:3] for sp in spans]
    save = sum(len(alt[0]) - len(pages[k][1]) for k, alt in zip(adopted, alts))
    blob = g.gh_dict["blob"]
    if blob is not None and save > len(blob) + _GH_ROW_OVERHEAD:
        return blob
    for k, (payload, codec) in zip(adopted, alts):
        pages[k] = (pages[k][0], payload, codec, pages[k][3])
    return None


def _emit(
    g: GroupCtx,
    row_bounds: np.ndarray,
    pages: list,
    gd_row: bytes | None,
    resumed: int,
    enc_us: int,
    enc_cpu_us: int,
) -> pa.Table:
    """Page rows in PAGES_SCHEMA; the group timers are attributed to pages
    by value share (search cost is group-level).

    The shared-dictionary row leads: page_id -1 sorts FIRST under the stable
    (part_id, page_id) ordering the store writes, so it streams ahead of its
    pages at decode — the dictionary-page-before-data-pages layout of
    columnar formats. An empty header marks it; n_rows/n_values/raw_bytes 0
    keep every inventory aggregate unchanged while enc_bytes charges the
    dictionary exactly once per group."""
    # one row per tuple, in _PAGES_ARROW's column order
    ids = (g.content_key, g.content_hash, resumed)
    rows = []
    if gd_row is not None:
        rows.append(
            (g.part_id, -1, "group_dict_store", 0, 0, "", "", 0, len(gd_row),
             zlib.crc32(gd_row), 0, 0, *ids, b"", gd_row)
        )
    total = max(int(g.val_offsets[-1]), 1)
    for page_id, (header, payload, codec, checksum) in enumerate(pages):
        r0, r1 = int(row_bounds[page_id]), int(row_bounds[page_id + 1])
        nv = int(g.val_offsets[r1]) - int(g.val_offsets[r0])
        first, last = (g.doc_ids[r0].as_py(), g.doc_ids[r1 - 1].as_py()) if r1 > r0 else ("", "")
        rows.append(
            (g.part_id, page_id, codec, r1 - r0, nv, first, last, 4 * nv,
             len(header) + len(payload), checksum, int(enc_us * nv / total),
             int(enc_cpu_us * nv / total), *ids, header, payload)
        )
    cols = zip(*rows) if rows else [()] * len(_PAGES_ARROW)
    return pa.table(
        [pa.array(list(col), type=f.type) for col, f in zip(cols, _PAGES_ARROW)],
        schema=_PAGES_ARROW,
    )


def _encode_group(
    tbl: pa.Table,
    config: EngineConfig,
    plan_tbl: pa.Table | None = None,
    hints: dict | None = None,
) -> pa.Table:
    """Encode one group → page rows. Pure function of group content (sorted
    by doc_id), so output is identical at any parallelism — the seeded
    determinism discipline of reference src/zopfli/squeeze.c:79-146.

    _resolve_plan → _split → first encode → _refine → _mode_grid →
    _recompress → _settle_group_dict → _emit, over one :class:`GroupCtx`. A hint or a
    lineage plan skips the split; a plan (``resumed`` 1) or a hint
    (``resumed`` 2) also skips the boundary-moving stages."""
    # timers start HERE: enc_us/enc_cpu_us cover the whole per-group job —
    # sort, content hash, SPLIT SEARCH, codec search, dict settlement — so
    # the bench's tokens_per_cpu_sec is the true per-worker rate (r3: the
    # splitter was outside the timer, understating kernel share by ~25%)
    t_enc0 = time.perf_counter()
    t_cpu0 = time.process_time()
    g = GroupCtx(tbl, config)
    row_bounds, forced, hinted = _resolve_plan(g, plan_tbl, hints)
    if row_bounds is None:
        row_bounds = _split(g)
    pages = g.encode_pages(row_bounds, forced)
    if forced is None and not hinted:
        row_bounds, pages = _refine(g, row_bounds, pages)
        row_bounds, pages = _mode_grid(g, row_bounds, pages)
        row_bounds, pages = _recompress(g, row_bounds, pages)
    gd_row = _settle_group_dict(g, row_bounds, pages, forced)
    enc_us = int((time.perf_counter() - t_enc0) * 1e6)
    # process_time: actual CPU consumed by this worker — immune to
    # descheduling, so (enc_us - enc_cpu_us) isolates scheduler/host
    # contention from genuine per-token work in the scaling artifact
    enc_cpu_us = int((time.process_time() - t_cpu0) * 1e6)
    resumed = 1 if forced else (2 if hinted else 0)
    return _emit(g, row_bounds, pages, gd_row, resumed, enc_us, enc_cpu_us)




def encode_table(
    df: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    lineage=None,
    split_hints=None,
    total_values: int | None = None,
) -> DataFrame:
    """Encode a tokens table → encoded-pages DataFrame (lazy).

    Input schema: doc_id string, tokens array<int>, n_tok int, source string.
    One wide exchange (the group-by); the per-group search runs inside an
    Arrow-vectorized applyInArrow — Spark tasks play the role of the
    reference's block threads (src/zopfli/deflate.c:1414-1614) with stable
    (part_id, page_id) ordering instead of the in-order merge.

    ``split_hints`` (the ZopfliPredefinedSplits in-side, reference
    src/zopfli/zopfli.h:161-178): DataFrame or dict of content-addressed
    row-boundary hints (see lineage.split_hints_from_pages for the out-side).
    A hint whose strong hash matches the group's content pins the page
    boundaries exactly (codec argmin still runs); stale hints are ignored.
    Hints are boundary lists, ~bytes per group — broadcast-sized at any data
    scale (unlike lineage plans, which ride the cogroup).

    ``lineage`` (the StatsDB in-side): None, or a lineage DataFrame
    (store.read_lineage / lineage.lineage_from_pages), whose plans have one
    delivery, the cogroup below: routed by group id, verified by content
    hash. A content match recorded under a different group id (num_groups
    changed while a group's whole doc set recurred) is not delivered, and
    that group is searched again, to the same bytes. Anything else raises
    TypeError."""
    if lineage is not None and not isinstance(lineage, DataFrame):
        raise TypeError(
            "lineage must be None or a DataFrame of LINEAGE_SCHEMA rows, "
            f"not {type(lineage).__name__}"
        )
    ensure_shipped(df.sparkSession)
    grouped, num_groups = plan_groups(df, config, total_values=total_values)
    hints = hints_dict(split_hints)
    # task count must track GROUP count, not spark.sql.shuffle.partitions: a
    # fixed conf serializes the encode stage once num_groups outgrows it
    # (10^12 sequences → millions of groups) and pays empty python-UDF tasks
    # when far below it. Placement is exact, not hashed: repartitionById
    # (Spark >= 4.1) sends regular group g to partition g, and long-tail id
    # num_groups + h wraps (id mod n_parts) to partition h, beside regular
    # group h. So no two regular groups share a task, and the encode output
    # has num_groups partitions, empty only where a group id drew no doc:
    # the downstream mapInArrow (decode_table) starts a Python task per
    # partition, empty or not. The id placement satisfies the grouped-map
    # clustering requirement, so the plan keeps exactly ONE exchange
    # (asserted in tests/test_plan_shape.py).
    n_parts = max(1, num_groups)
    grouped = grouped.repartitionById(n_parts, F.col(GROUP_COL))
    # the UDFs below forget the worker's zip finders when they finish
    # (deploy.forget_zip_finders); _encode_group itself stays pure, because
    # the driver-side replay and the tests call it directly
    if lineage is None:

        def enc(tbl: pa.Table) -> pa.Table:
            try:
                return _encode_group(tbl, config, hints=hints)
            finally:
                forget_zip_finders()

        return grouped.groupBy(GROUP_COL).applyInArrow(enc, schema=PAGES_SCHEMA)
    # resume without a driver collect: routed by group id, verified by
    # content hash. Plan rows at this run's ids (regular [0, G), long-tail
    # [G, 2G); a legacy null part_id fails the range) go to the group id they
    # were recorded under, placed like the input side, so the cogroup needs
    # no re-shuffle; the UDF trusts only a plan whose strong hash matches.
    plans = (
        lineage.filter(
            (F.col("mode") == F.lit(config.mode))
            & F.col("part_id").between(0, 2 * n_parts - 1)
        )
        .select(F.col("part_id").alias(GROUP_COL), "content_hash", "plan")
        .repartitionById(n_parts, F.col(GROUP_COL))
    )

    def enc_resume(left: pa.Table, right: pa.Table) -> pa.Table:
        try:
            if not left.num_rows:  # plans at an id that drew no doc
                return _PAGES_ARROW.empty_table()
            return _encode_group(left, config, plan_tbl=right, hints=hints)
        finally:
            forget_zip_finders()

    return (
        grouped.groupBy(GROUP_COL)
        .cogroup(plans.groupBy(GROUP_COL))
        .applyInArrow(enc_resume, schema=PAGES_SCHEMA)
    )


def decode_table(
    pages: DataFrame,
    config: EngineConfig = DEFAULT_CONFIG,
    input_partitions: int | None = None,
) -> DataFrame:
    """Decode encoded pages back to the original tokens table (lazy).

    Pages are independent → mapInArrow (narrow, no shuffle); decoded token
    arrays are emitted as flat Arrow list buffers (no per-row boxing).
    encode_table's output holds one group per partition (regular group g on
    partition g, long-tail groups beside a regular one), and mapInArrow
    starts one Python task per partition, so a fused or cached
    encode→decode runs exactly num_groups decode tasks.

    ``input_partitions``: partition count of a STORE-BACKED pages input
    (e.g. ``store.store_partition_count``). When supplied and clearly
    over-partitioned, the scan is coalesced to cluster parallelism. Never
    probed from the plan itself: ``.rdd.getNumPartitions()`` on a fused
    encode→decode pipeline materializes upstream shuffle stages at
    plan-construction time under AQE AND would coalesce away the
    one-group-per-task balance encode_table arranges (ADVICE r2 medium).

    Every page and dictionary row is checked against its stored CRC32.
    ``config`` sets nothing here (pages are self-describing); it is kept so
    callers pass the same config to both directions."""
    ensure_shipped(pages.sparkSession)

    # list<int32> offsets are 32-bit: cap accumulated values per OUTPUT batch
    # well below 2^31 (a few hundred MB of tokens) — one Arrow input batch of
    # big pages can otherwise overflow the cumsum into garbage offsets
    _FLUSH_VALUES = 1 << 27

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # batch OUTPUT across pages, not per page: thousands of tiny
        # per-page RecordBatches cost more in Arrow IPC framing + JVM-side
        # batch handling than the decode kernels themselves

        def flush(docs_l, srcs_l, lens_l, vals_l):
            lens_cat = np.concatenate(lens_l)
            offsets = np.zeros(len(lens_cat) + 1, dtype=np.int64)
            np.cumsum(lens_cat, out=offsets[1:])
            if offsets[-1] > np.iinfo(np.int32).max:
                raise ValueError("decode batch exceeds int32 list offsets")
            tokens = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)),
                pa.array(np.concatenate(vals_l), type=pa.int32()),
            )
            return pa.RecordBatch.from_arrays(
                [
                    pa.concat_arrays(docs_l),  # StringArrays: one buffer copy
                    tokens,
                    pa.array(lens_cat.astype(np.int32)),
                    pa.concat_arrays(srcs_l),
                ],
                schema=_DECODED_ARROW,
            )

        # group-dictionary streaming state: a dict row (empty header, page_id
        # -1) precedes its group's pages within every partition — emission
        # order from encode_table, (part_id, page_id) sortWithinPartitions in
        # the store, and parquet's in-file row order all preserve this, and
        # coalesce() concatenates source partitions without reordering.
        # Store files are written as ONE parquet row group (store.write_pages)
        # and row groups are Spark's scan-split atom, so a scan can never
        # split a group away from its dictionary at any file size. A
        # group_huffman page whose dictionary is absent or crc-mismatched
        # raises loudly (decode_page) — e.g. after an arbitrary repartition;
        # keep pages grouped by part_id with page_id order intact.
        cur_gd = None
        try:
            for b in batches:
                headers = b.column(b.schema.get_field_index("header"))
                payloads = b.column(b.schema.get_field_index("payload"))
                checksums = b.column(b.schema.get_field_index("checksum"))
                docs_l, srcs_l, lens_l, vals_l = [], [], [], []
                acc_values = 0
                for header, payload, checksum in zip(headers, payloads, checksums):
                    hdr = header.as_py()
                    if len(hdr) == 0:
                        blob = payload.as_py()
                        if zlib.crc32(blob) != int(checksum.as_py()):
                            raise ValueError("group dictionary row checksum mismatch")
                        cur_gd = kernels.GroupDict(blob)
                        continue
                    doc_ids, sources, lens, values = decode_page(
                        hdr,
                        payload.as_py(),
                        int(checksum.as_py()),
                        split_rows=False,
                        group_dict=cur_gd,
                    )
                    docs_l.append(doc_ids)
                    srcs_l.append(sources)
                    lens_l.append(lens)
                    vals_l.append(values)
                    acc_values += len(values)
                    if acc_values >= _FLUSH_VALUES:
                        yield flush(docs_l, srcs_l, lens_l, vals_l)
                        docs_l, srcs_l, lens_l, vals_l = [], [], [], []
                        acc_values = 0
                if docs_l:
                    yield flush(docs_l, srcs_l, lens_l, vals_l)
        finally:
            forget_zip_finders()

    cols = ["header", "payload", "checksum"]
    selected = pages.select(*cols)
    # a store-backed pages scan often has far more file-partitions than pages
    # worth decoding. Every python-UDF task costs ~10-20 ms even when empty;
    # at 256 partitions that overhead was 4x the decode kernels themselves.
    # Coalesce (narrow, no shuffle) to cluster parallelism — but ONLY when
    # the caller says the input is store-backed and clearly over-partitioned
    # (> 4x cores). Measured: 3.4 s -> 0.8 s for a 30.7M-token decode of
    # stored pages on local[32].
    par = pages.sparkSession.sparkContext.defaultParallelism
    if input_partitions is not None and par > 0 and input_partitions > 4 * par:
        selected = selected.coalesce(par)
    return selected.mapInArrow(dec, schema=DECODED_SCHEMA)


def roundtrip_check(df: DataFrame, decoded: DataFrame) -> DataFrame:
    """Rows that fail bit-identical round-trip (empty DataFrame = pass).

    Equi-join on doc_id + element-wise array compare, all JVM-side
    (the ZopfliVerifyLenDist analog, reference src/zopfli/lz77.c:274-287)."""
    a = df.select(
        F.col("doc_id"),
        F.col("tokens").alias("tokens_in"),
        F.col("n_tok").alias("n_in"),
        F.col("source").alias("source_in"),
    )
    b = decoded.select(
        F.col("doc_id"),
        F.col("tokens").alias("tokens_out"),
        F.col("n_tok").alias("n_out"),
        F.col("source").alias("source_out"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    bad = joined.filter(
        F.col("tokens_out").isNull()
        | F.col("tokens_in").isNull()
        | (F.col("n_in") != F.col("n_out"))
        | (F.col("source_in") != F.col("source_out"))
        | (
            F.coalesce(F.col("tokens_in"), F.array())
            != F.coalesce(F.col("tokens_out"), F.array())
        )
    )
    return bad


METRICS_SCHEMA = (
    "part_id int, codec string, pages long, raw_bytes long, enc_bytes long, "
    "n_values long, enc_us long, run_id string, ratio double, tokens_per_sec double"
)

#: the page-metadata columns :func:`metrics_rows` reads
METRICS_INPUT = ("part_id", "codec", "raw_bytes", "enc_bytes", "n_values", "enc_us")

_METRICS_SUMS = ("raw_bytes", "enc_bytes", "n_values", "enc_us")

_METRICS_ARROW = pa.schema(
    [
        ("part_id", pa.int32()),
        ("codec", pa.string()),
        ("pages", pa.int64()),
        *((c, pa.int64()) for c in _METRICS_SUMS),
        ("run_id", pa.string()),
        ("ratio", pa.float64()),
        ("tokens_per_sec", pa.float64()),
    ]
)


def metrics_rows(meta: pa.Table, run_id: str = "run") -> pa.Table:
    """Per-(part_id, codec) codec-choice / ratio / throughput metrics
    (FIXTURES.md §4) of page-metadata rows (the :data:`METRICS_INPUT`
    columns of encoded pages), sorted by (part_id, codec). The store
    derives its metrics from the committed files with this on the driver;
    :func:`metrics_table` runs it per part_id in Spark."""
    g = meta.group_by(["part_id", "codec"], use_threads=False).aggregate(
        [([], "count_all"), *((c, "sum") for c in _METRICS_SUMS)]
    ).sort_by([("part_id", "ascending"), ("codec", "ascending")])

    def f64(a):
        return pc.cast(a, pa.float64())

    # a sub-µs page floors enc_us to 0 (observed with tiny allow-listed
    # pages); the rate clamps it to 1µs so it stays finite
    secs = pc.divide(f64(pc.max_element_wise(g["enc_us_sum"], 1)), 1_000_000.0)
    return pa.table(
        [
            g["part_id"],
            g["codec"],
            g["count_all"],
            *(g[f"{c}_sum"] for c in _METRICS_SUMS),
            pa.array([run_id] * g.num_rows, pa.string()),
            pc.divide(f64(g["raw_bytes_sum"]), f64(g["enc_bytes_sum"])),
            pc.divide(f64(g["n_values_sum"]), secs),
        ],
        schema=_METRICS_ARROW,
    )


def metrics_table(pages: DataFrame, run_id: str = "run") -> DataFrame:
    """:func:`metrics_rows` of an encoded-pages DataFrame, per part_id."""
    ensure_shipped(pages.sparkSession)

    def rows(tbl: pa.Table) -> pa.Table:
        try:
            return metrics_rows(tbl, run_id)
        finally:
            forget_zip_finders()

    return pages.select(*METRICS_INPUT).groupBy("part_id").applyInArrow(rows, schema=METRICS_SCHEMA)
