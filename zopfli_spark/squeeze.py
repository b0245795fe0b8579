"""Squeeze-loop analog: iterative boundary refinement with exact re-costing.

The reference's core optimization loop (``ZopfliLZ77Optimal``, reference
src/zopfli/squeeze.c:511-655) iterates parse → measure true cost → keep best,
perturbing the cost statistics with a *seeded* RNG after stabilization
(squeeze.c:579-628) and stopping after ``--mui`` non-improving iterations
(squeeze.c:609). Here the search space is page boundaries instead of LZ77
parses:

* each iteration proposes moving ONE boundary — the one adjacent to the
  worst-compressing page (FindLargestSplittableBlock targeting, reference
  src/zopfli/blocksplitter.c:222-240),
* the proposal's two affected pages are re-encoded EXACTLY (measure, don't
  guess — ZopfliCalculateBlockSize discipline, deflate.c:877-906),
* kept only if total bytes shrink (keep-if-smaller recompression-pass
  discipline, deflate.c:1728-1836),
* proposals are drawn from ``PCG64([seed, content_hash])`` so re-runs and
  runs at any parallelism produce identical streams (the MWC/CMWC seeded-RNG
  determinism of squeeze.c:79-146),
* a final pass merges adjacent pages when the merged encoding is smaller
  (header-cost amortization — the reason EncodeTree exists, deflate.c:118-293).

All candidate encodes are page-local numpy; cost is exact encoded bytes.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

# encode_fn(r0, r1, *, budget=None) -> (header, payload, codec, checksum),
# or None when a byte budget is given and nothing beats it
EncodeFn = Callable[..., "tuple[bytes, bytes, str, int] | None"]


def page_sizes(pages: list[tuple[bytes, bytes, str, int]]) -> np.ndarray:
    return np.array([len(h) + len(p) for h, p, _, _ in pages], dtype=np.int64)


def refine_boundaries(
    row_bounds: np.ndarray,
    pages: list[tuple[bytes, bytes, str, int]],
    val_offsets: np.ndarray,
    encode_fn: EncodeFn,
    *,
    iterations: int,
    max_unsuccessful: int,
    seed_key: tuple[int, ...],
    min_page_rows: int = 1,
) -> tuple[np.ndarray, list[tuple[bytes, bytes, str, int]], int]:
    """Refine page boundaries in place; returns (bounds, pages, n_improved)."""
    if iterations <= 0 or len(row_bounds) < 3:
        return row_bounds, pages, 0
    rng = np.random.Generator(np.random.PCG64(list(seed_key)))
    bounds = row_bounds.copy()
    sizes = page_sizes(pages)
    # blended per-page cost statistic — the AddWeighedStatFreqs analog
    # (reference src/zopfli/squeeze.c:64-77,619-625): each iteration the
    # proposal model is a 1:1 blend of the previous model and the freshly
    # measured bytes/value, so the search direction carries momentum from
    # earlier measurements instead of reacting to one noisy encode
    bpv_blend = sizes / np.maximum(np.diff(val_offsets[bounds]), 1)
    unsuccessful = 0
    improved = 0
    for _ in range(iterations):
        if unsuccessful >= max_unsuccessful:
            break
        nv = np.maximum(np.diff(val_offsets[bounds]), 1)
        bpv = sizes / nv
        bpv_blend = 0.5 * bpv_blend + 0.5 * bpv
        # target: boundary adjacent to the worst page under the BLENDED stats
        worst = int(np.argmax(bpv_blend))
        # choose the boundary between worst and a neighbor (seeded choice)
        if worst == 0:
            b_idx = 1
        elif worst == len(sizes) - 1:
            b_idx = len(sizes) - 1
        else:
            b_idx = worst + int(rng.integers(0, 2))
        lo, hi = int(bounds[b_idx - 1]), int(bounds[b_idx + 1])
        cur = int(bounds[b_idx])
        if hi - lo <= 2 * min_page_rows:
            unsuccessful += 1
            continue
        # directed proposal: shrink whichever side the blended stats say is
        # costlier (boundary moves INTO the expensive page), magnitude from
        # the cost imbalance, plus seeded jitter to escape plateaus (the
        # RanState perturbation, squeeze.c:579-628)
        span = hi - lo
        cl, cr = float(bpv_blend[b_idx - 1]), float(bpv_blend[b_idx])
        imbalance = (cr - cl) / max(cr + cl, 1e-12)
        base_delta = int(abs(imbalance) * span / 2)
        jitter = int(rng.integers(1, max(2, span // 4)))
        delta = max(1, base_delta + jitter // 2)
        if abs(imbalance) > 1e-9:
            direction = 1 if imbalance > 0 else -1
        else:
            direction = 1 if rng.integers(0, 2) else -1
        cand = cur + direction * delta
        cand = int(np.clip(cand, lo + min_page_rows, hi - min_page_rows))
        if cand == cur:
            unsuccessful += 1
            continue
        # budgeted proposal encodes: only a strictly-smaller total can be
        # adopted, so each side carries the remaining byte budget and a
        # losing proposal exits the codec search early (None) instead of
        # paying for a full materialization it cannot use
        old_total = int(sizes[b_idx - 1] + sizes[b_idx])
        left = encode_fn(lo, cand, budget=old_total)
        if left is None:
            unsuccessful += 1
            continue
        left_size = len(left[0]) + len(left[1])
        right = encode_fn(cand, hi, budget=old_total - left_size)
        if right is None:
            unsuccessful += 1
            continue
        new_total = left_size + len(right[0]) + len(right[1])
        if new_total < old_total:
            bounds[b_idx] = cand
            pages[b_idx - 1] = left
            pages[b_idx] = right
            sizes[b_idx - 1] = len(left[0]) + len(left[1])
            sizes[b_idx] = len(right[0]) + len(right[1])
            unsuccessful = 0
            improved += 1
        else:
            unsuccessful += 1
    return bounds, pages, improved


def merge_pass(
    row_bounds: np.ndarray,
    pages: list[tuple[bytes, bytes, str, int]],
    val_offsets: np.ndarray,
    encode_fn: EncodeFn,
    *,
    page_budget_values: int,
) -> tuple[np.ndarray, list[tuple[bytes, bytes, str, int]], int]:
    """Merge adjacent pages when the merged encoding is strictly smaller.

    Only pairs whose combined value count stays within the page budget are
    tried (memory bound), and only when both are small enough that header
    amortization can plausibly win — lower-bound gating in the
    GetCostModelMinCost spirit (reference src/zopfli/squeeze.c:201-236)."""
    if len(pages) < 2:
        return row_bounds, pages, 0
    bounds = list(int(b) for b in row_bounds)
    merged = 0
    sizes = [len(h) + len(p) for h, p, _, _ in pages]
    # Accumulate-with-exponential-absorption, replacing the r6 one-page-at-a-
    # time accumulate walk. The old walk re-encoded the whole growing span
    # after EVERY single-page absorption, so a run of k merge-friendly pages
    # cost O(k²) span values (measured on the bench mixture at the ratio
    # dials: chains up to 181 merges, 150 M values re-encoded for a
    # 30.7 M-value input — 33 s of the 92 s kernel CPU). Here the absorbed
    # chunk doubles after every success (1, 2, 4, …) and falls back to 1 on
    # failure, so a long chain costs O(k log k) values and reaches the same
    # merged span; every step stays exact keep-if-smaller on real bytes, and
    # the byte budget lets losing candidates exit the codec search early.
    i = 0
    n_p = len(pages)
    while i + 1 < n_p:
        chunk = 1
        while i + chunk < n_p:
            lo = bounds[i]
            hi = bounds[i + chunk + 1]
            nv = int(val_offsets[hi] - val_offsets[lo])
            size_a = sizes[i]
            chunk_sz = sum(sizes[i + 1 : i + chunk + 1])
            # same entry gate as the r6 walk, applied to the next single
            # page: merges are header-amortization-driven, so at least one
            # side must be small
            if not (
                nv <= page_budget_values and min(size_a, sizes[i + 1]) < 4096
            ):
                break
            cand = encode_fn(lo, hi, budget=size_a + chunk_sz)
            if cand is not None and len(cand[0]) + len(cand[1]) < size_a + chunk_sz:
                pages[i] = cand
                del pages[i + 1 : i + chunk + 1]
                del bounds[i + 1 : i + chunk + 1]
                del sizes[i + 1 : i + chunk + 1]
                sizes[i] = len(cand[0]) + len(cand[1])
                n_p = len(pages)
                merged += chunk
                chunk = min(2 * chunk, n_p - i - 1) or 1
                continue
            if chunk == 1:
                break  # even the single-page absorption lost — move on
            chunk = 1  # a doubled jump lost; retry one page at a time
        i += 1
    return np.array(bounds, dtype=np.int64), pages, merged
