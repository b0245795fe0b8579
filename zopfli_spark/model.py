"""Cost-model utilities: Shannon entropy and length-limited Huffman lengths.

* :func:`entropy_bits` — the one histogram bit-cost model of the engine
  (``ZopfliCalculateEntropy``, reference src/zopfli/tree.c:66-88): per-symbol
  cost ``log2(total) - log2(count)``, summed over the histogram's last axis.
  It prices every split candidate (``pages._RangeCost.cost``, the
  EstimateCost/SplitCost analog, blocksplitter.c:129-144) and gates the
  entropy-coded codec candidates (``kernels.encode_best``) and the group
  dictionary's training spans (``engine.train_group_dict``) — the
  GetCostStat role (squeeze.c:184-195).
* :func:`package_merge` — optimal length-limited prefix-code lengths by the
  boundary package-merge algorithm (Katajainen/Moffat/Turpin '95 — the same
  published algorithm behind ``ZopfliLengthLimitedCodeLengths``, reference
  src/zopfli/katajainen.c:191-283). Used as the achievable-Huffman cost model
  (what an entropy coder can really reach with integer code lengths, vs the
  fractional Shannon bound) for codec gating and metrics.

Pure numpy/Python over per-page histograms — page-local work, never wide.
"""

from __future__ import annotations

import numpy as np


def entropy_bits(counts: np.ndarray) -> float | np.ndarray:
    """Shannon bits to code a histogram (fractional lower bound), over the
    last axis: one histogram gives a float, a stack of histograms an array
    with one cost per histogram. Zero counts cost nothing; an empty
    histogram costs 0."""
    c = np.asarray(counts, dtype=np.float64)
    total = np.asarray(c.sum(axis=-1))
    # log2 only where the count is positive: a zero term is 0·0, the same
    # float as the 0 it stands for, with no -inf to mask
    clogc = (c * np.log2(c, out=np.zeros_like(c), where=c > 0)).sum(axis=-1)
    h = total * np.log2(total, out=np.zeros_like(total), where=total > 0) - clogc
    return float(h) if h.ndim == 0 else h


def package_merge(counts: np.ndarray, maxbits: int = 15) -> np.ndarray:
    """Optimal code lengths (≤ maxbits) for positive-frequency symbols.

    Boundary package-merge: run maxbits rounds from the deepest level up;
    each round pairs adjacent items into packages and merges them with the
    leaves. A leaf selected at a level costs one bit of depth — the classic
    coin-collector formulation. Zero-count symbols get length 0.

    Returns int array of code lengths, same shape as ``counts``. Raises if
    the alphabet cannot fit in ``maxbits`` (2^maxbits < n_nonzero), matching
    the reference's error return (src/zopfli/katajainen.c:218-237).
    """
    counts = np.asarray(counts, dtype=np.int64)
    nz_idx = np.flatnonzero(counts > 0)
    n = len(nz_idx)
    lengths = np.zeros(len(counts), dtype=np.int64)
    if n == 0:
        return lengths
    if n == 1:
        lengths[nz_idx] = 1
        return lengths
    if (1 << maxbits) < n:
        raise ValueError(f"maxbits={maxbits} too small for {n} symbols")
    order = nz_idx[np.argsort(counts[nz_idx], kind="stable")]
    w = counts[order].astype(np.int64)  # ascending leaf weights

    # Forward: round 1 items are the leaves; each later round packages the
    # previous round's items pairwise and merges them with the leaves
    # (stable by weight, leaves first on ties — reference comparator
    # katajainen.c:168-189). Only the per-round cumulative leaf counts are
    # kept: in a weight-sorted merge any prefix contains exactly the k
    # smallest leaves, so a prefix's leaf *count* identifies its leaf *set*.
    items_w = w
    leaf_prefix: list[np.ndarray] = []
    for _ in range(maxbits - 1):
        m = len(items_w) // 2
        pack_w = items_w[: 2 * m].reshape(-1, 2).sum(axis=1)
        pos_leaf = np.searchsorted(pack_w, w, side="left") + np.arange(n)
        total = n + m
        is_leaf = np.zeros(total, dtype=bool)
        is_leaf[pos_leaf] = True
        new_w = np.empty(total, dtype=np.int64)
        new_w[pos_leaf] = w
        new_w[~is_leaf] = pack_w
        leaf_prefix.append(np.cumsum(is_leaf))
        items_w = new_w

    # Backward: select the cheapest 2n-2 items of the final round; each
    # selected leaf gains one bit of depth, each selected package demands
    # two items from the round below.
    depth = np.zeros(n, dtype=np.int64)
    sel = 2 * n - 2
    for lp in reversed(leaf_prefix):
        c = int(lp[sel - 1]) if sel > 0 else 0
        depth[:c] += 1
        sel = 2 * (sel - c)
    depth[:sel] += 1  # round 1 is leaves only
    lengths[order] = depth
    return lengths


def huffman_cost_bits(counts: np.ndarray, maxbits: int = 15) -> float:
    """Total bits under optimal length-limited Huffman coding — the
    achievable integer-length counterpart of :func:`entropy_bits`."""
    counts = np.asarray(counts, dtype=np.int64)
    lengths = package_merge(counts, maxbits)
    return float((counts * lengths).sum())


def optimize_counts_for_rle(counts: np.ndarray) -> np.ndarray:
    """Histogram smoothing so the code-length table compresses better — the
    ``OptimizeHuffmanForRle`` analog (reference src/zopfli/deflate.c:556-776):
    stretches of similar small counts are replaced by their average, trading
    a few payload bits for a run-compressible length table. The caller prices
    BOTH variants exactly (payload bits from the true counts × the smoothed
    lengths, plus the encoded table) and keeps the smaller — the
    keep-if-smaller discipline, never a blind substitution.

    Counts here are all ≥ 1 (our dictionary covers only present symbols), so
    smoothing preserves positivity and every symbol keeps a code."""
    c = np.asarray(counts, dtype=np.int64)
    n = len(c)
    out = c.copy()
    if n == 0:
        return out
    # stretches of ≥ 5 identical counts already RLE well — keep them exact
    chg = np.flatnonzero(np.diff(c)) + 1
    runlen = np.diff(np.concatenate(([0], chg, [n])))
    keep = np.repeat(runlen >= 5, runlen)
    # large counts carry real payload weight — keep them exact too
    keep |= c >= max(8, int(c.sum()) // max(n * 4, 1))
    m = ~keep
    if m.any():
        # replace each maximal non-kept stretch with its rounded average
        idxs = np.flatnonzero(m)
        gid = np.cumsum(np.concatenate(([True], np.diff(idxs) != 1))) - 1
        sums = np.bincount(gid, weights=c[idxs]).astype(np.int64)
        lens = np.bincount(gid).astype(np.int64)
        avg = np.maximum(1, (sums + lens // 2) // lens)
        out[idxs] = avg[gid]
    return out
