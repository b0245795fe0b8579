"""Page-boundary selection within a group — the block-splitting layer.

Mirrors the reference's split-point search (SURVEY.md §2.4):

* ``ZopfliBlockSplitSimple`` (fixed-size splits, reference:
  src/zopfli/blocksplitter.c:354-363) → :func:`split_simple`.
* ``FindMinimum`` (recursive 9-point minimum search over split position,
  exhaustive below a threshold, reference: src/zopfli/blocksplitter.c:57-117)
  → :func:`_find_minimum`.
* ``ZopfliBlockSplitLZ77`` (greedily split the largest remaining block while
  cost decreases, bounded by blocksplittingmax, reference:
  src/zopfli/blocksplitter.c:222-306) → :func:`split_by_cost`.
* Cost estimation uses Shannon entropy (``model.entropy_bits``) over
  **cumulative histograms** for O(1) range-histogram queries — the
  chunked-cumulative-histogram idea of the LZ77 store (reference:
  src/zopfli/lz77.c:99-150,169-214).
* Two-phase discipline: splits are chosen on the cheap entropy estimate, the
  final encoding picks codecs by exact size ("simple LZ77 gives better
  blocks", reference: src/zopfli/blocksplitter.c:328-330).

All functions take ``lens`` (values per row) and the flat value array; split
points are ROW indices (a row — one doc's token array — is atomic within a
page).
"""

from __future__ import annotations

import numpy as np

from .model import entropy_bits

_N_BUCKETS = 256
_NOVELTY_WINDOW = 1 << 16  # windowed first-occurrence horizon for the
#                            range-distinct approximation (split_card_term)
_PAGE_HEADER_BYTES = 192  # amortized per-page header estimate (measured best on the mixture: 4.1930x vs 4.1875x at 96, equal CPU)
_EXHAUSTIVE_BELOW = 128
_FIND_MINIMUM_PROBES = 9  # reference default bsr=9 (src/zopfli/util.c:33)
_BUCKET_LUT_SPAN = 1 << 20  # values covered by the bucket lookup table


def split_simple(lens: np.ndarray, page_budget: int) -> np.ndarray:
    """Greedy fixed-budget boundaries (row indices, excludes 0 and n).

    Vectorized: each pass places every boundary whose cumulative mass since
    the PREVIOUS pass's boundary crosses the budget (searchsorted over the
    prefix sums), iterating until fixed point. Equivalent to the row-at-a-
    time greedy scan (each pass is exact for boundaries whose predecessor
    was already final, and the first k boundaries are final after pass k),
    but runs O(passes · log n) numpy work instead of an O(rows) Python loop
    — the last interpreted per-row loop in the encode path (VERDICT r1 #4)."""
    n = len(lens)
    if page_budget <= 0:
        # searchsorted would return b == pos forever (ADVICE r2: the CLI
        # accepts --page-budget 0, which must fail loudly, not hang a task)
        raise ValueError(f"page_budget must be positive, got {page_budget}")
    if n <= 1:
        return np.empty(0, dtype=np.int64)
    cum = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))
    bounds: list[int] = []
    pos = 0
    while True:
        # smallest i with cum[i] - cum[pos] >= budget — identical to the
        # row-at-a-time greedy scan, one searchsorted per PAGE
        b = int(np.searchsorted(cum, cum[pos] + page_budget, side="left"))
        if b >= n:
            return np.array(bounds, dtype=np.int64)
        bounds.append(b)
        pos = b


def _bucket_of(edges: np.ndarray, v: np.ndarray) -> np.ndarray:
    """``np.searchsorted(edges, v, side="right")`` for sorted, distinct
    int64 ``edges``, by a cumulative lookup table over
    [edges[0], edges[0] + span): one gather per value instead of a binary
    search. ``span`` reaches past the last edge when it can (every value at
    or above it is then the top bucket) and is capped at
    ``_BUCKET_LUT_SPAN``; only values above a capped table fall back to
    ``searchsorted``."""
    e0 = int(edges[0])
    full = int(edges[-1]) - e0 + 1
    span = min(full, _BUCKET_LUT_SPAN)
    offs = edges[edges - e0 < span] - e0
    # lut[o + 1] = #edges <= e0 + o; lut[0] is every value below e0
    dt = np.min_scalar_type(len(edges))  # uint8 for the 255 quantile edges
    lut = np.empty(span + 2, dtype=dt)
    lut[0] = 0
    lut[1 : span + 1] = np.repeat(
        np.arange(1, len(offs) + 1, dtype=dt), np.diff(np.append(offs, span))
    )
    lut[span + 1] = len(edges)
    out = lut[np.clip(v - (e0 - 1), 0, span + 1)]
    if span < full:
        far = v >= e0 + span
        out[far] = np.searchsorted(edges, v[far], side="right")
    return out


class _RangeCost:
    """O(1) entropy cost of any row-range via cumulative bucket histograms.

    :meth:`cost` is the one range price every split site uses (the greedy
    FindMinimum probes and its last interval, the accept check in
    :func:`split_by_cost`, the :func:`split_dp` sweep): the
    ``model.entropy_bits`` of the range's bucket histogram, plus the
    optional conditional card term, capped by the optional group-code bits,
    plus the page header. Row indices broadcast, so one call prices one
    range or a whole vector of candidates.

    ``gh_bits_per_value`` (optional): per-value bit cost under the GROUP
    shared Huffman code (escapes priced with their side-channel literal).
    When given, every range estimate is min(own-entropy, group-code bits) —
    the split search then sees that a heavy-tail range is cheap UNDER THE
    DICTIONARY even when mixed content makes its own entropy look expensive,
    so it isolates it instead of leaving it inside a mixed page (VERDICT r5
    missing #1: the blind estimator left ~2% of payload at 9.4 b/v realized
    vs 7.4 achievable on the known mixture). Mirrors how the reference
    splits on LZ77-aware stats, not raw bytes (src/zopfli/
    blocksplitter.c:308-352)."""

    def __init__(
        self,
        values: np.ndarray,
        lens: np.ndarray,
        gh_bits_per_value: np.ndarray | None = None,
        card_term: bool = False,
    ):
        n_rows = len(lens)
        v64 = values.astype(np.int64)
        # EQUAL-MASS (quantile) buckets, r6. The pre-r6 linear bucketing
        # ((v - vmin) >> shift over the group's full span) collapses on
        # mixed-scale groups: zipf content (< 2^16) sharing a group with
        # wide values (~2^30) all landed in one bucket, the entropy
        # estimate of every zipf range read ~0 bits, and the split search
        # spent its page cap where the broken model pointed — leaving a
        # 1.46M-value mixed page at 9.4 b/v realized that the estimator
        # priced at the bare header (the real mechanism behind VERDICT r5
        # missing #1). Quantile edges from a deterministic strided sample
        # (content-pure: same content → same edges at any parallelism)
        # make bucket occupancy data-adaptive; when group cardinality
        # ≤ _N_BUCKETS the edges degenerate to the exact distinct values
        # and the estimate becomes exact order-0 entropy.
        if len(v64):
            samp = np.sort(v64[:: max(1, len(v64) // 65536)])
            qpos = (np.arange(1, _N_BUCKETS) * (len(samp) / _N_BUCKETS)).astype(
                np.int64
            )
            edges = np.unique(samp[qpos])
            bucket = _bucket_of(edges, v64)
        else:
            bucket = v64
        row_of_value = np.repeat(np.arange(n_rows), lens)
        # bincount over a fused key beats np.add.at by ~10× at page scale
        hist = np.bincount(
            row_of_value * _N_BUCKETS + bucket, minlength=n_rows * _N_BUCKETS
        ).reshape(n_rows, _N_BUCKETS)
        self.cum = np.zeros((n_rows + 1, _N_BUCKETS), dtype=np.int64)
        np.cumsum(hist, axis=0, out=self.cum[1:])
        self.cum_n = np.concatenate(([0], np.cumsum(lens)))
        # CONDITIONAL-ENTROPY (distinctness) term, r6 (config.
        # split_card_term). Bucket entropy saturates at log2(_N_BUCKETS)
        # = 8 bits, so ranges whose true order-0 entropy exceeds 8 are
        # indistinguishable: a card-9.6k family (H≈12.7, Huffman-codeable
        # at ~13 b/v) and a card-68k family (H≈15.9) read identically and
        # get mixed into flat 17-bit bitpack pages. The chain rule fixes
        # the cap: H(V) = H(bucket) + H(V | bucket), and H(V|bucket=b) is
        # estimated as log2(distinct_b) per range. Range-distinct counts
        # are approximated by WINDOWED-NOVELTY flags (a value is novel if
        # its previous occurrence is > 2^16 positions back — one stable
        # argsort per group), which are prefix-summable per (row, bucket)
        # exactly like the mass histogram. Estimates on the mixture:
        # zipf ≈ its sub-8 bucket entropy (head buckets hold 1-2 distinct
        # values, so the conditional term ≈ 0 where the mass is), 9.6k-
        # card wide ≈ 13.2 (true 12.7), 68k-card wide ≈ 16.1 (true 15.9).
        # Overestimates only make the splitter isolate more — codec choice
        # stays exact keep-if-smaller and merge_pass re-merges on bytes.
        self.cum_nov: np.ndarray | None = None
        if card_term and len(v64):
            order = np.argsort(v64, kind="stable")
            v_s = v64[order]
            nov_sorted = np.empty(len(v64), dtype=bool)
            nov_sorted[0] = True
            nov_sorted[1:] = (v_s[1:] != v_s[:-1]) | (
                (order[1:] - order[:-1]) > _NOVELTY_WINDOW
            )
            nov = np.empty(len(v64), dtype=bool)
            nov[order] = nov_sorted
            hist_nov = np.bincount(
                (row_of_value * _N_BUCKETS + bucket)[nov],
                minlength=n_rows * _N_BUCKETS,
            ).reshape(n_rows, _N_BUCKETS)
            self.cum_nov = np.zeros((n_rows + 1, _N_BUCKETS), dtype=np.int64)
            np.cumsum(hist_nov, axis=0, out=self.cum_nov[1:])
            # per-bucket ceiling on the conditional term: H(V|bucket=b)
            # can never exceed log2(bucket value-span) — without it the
            # log2(novelty) bound overprices skewed buckets (windowed
            # novelty re-flags recurring values) and measured +27 KB on
            # the mixture's zipf-heavy group
            lo = np.concatenate(([int(samp[0])], edges))
            hi = np.concatenate((edges, [int(samp[-1])]))
            cap = np.log2(np.maximum((hi - lo).astype(np.float64), 1.0))
            self.bucket_cap = np.pad(cap, (0, _N_BUCKETS - len(cap)))
        if gh_bits_per_value is not None and len(gh_bits_per_value) == int(
            self.cum_n[-1]
        ):
            cum_val = np.concatenate(
                ([0.0], np.cumsum(gh_bits_per_value, dtype=np.float64))
            )
            self.cum_gh: np.ndarray | None = cum_val[self.cum_n]
        else:
            self.cum_gh = None

    def cost(self, lo, hi):
        """Estimated bits of rows [lo, hi) plus the page header — the
        EstimateCost analog (reference src/zopfli/blocksplitter.c:129-133).
        ``lo`` and ``hi`` are row indices or broadcastable arrays of them;
        the result has their broadcast shape."""
        counts = (self.cum[hi] - self.cum[lo]).astype(np.float64)
        h = entropy_bits(counts)
        if self.cum_nov is not None:
            novc = self.cum_nov[hi] - self.cum_nov[lo]
            cond = np.minimum(np.log2(np.maximum(novc, 1.0)), self.bucket_cap)
            h = h + (counts * cond).sum(axis=-1)
        if self.cum_gh is not None:
            h = np.minimum(h, self.cum_gh[hi] - self.cum_gh[lo])
        return h + _PAGE_HEADER_BYTES * 8.0

    def split_costs(self, start: int, end: int, mids: np.ndarray) -> np.ndarray:
        """SplitCost (reference src/zopfli/blocksplitter.c:140-144) of
        [start, end) at every candidate mid at once."""
        return self.cost(start, mids) + self.cost(mids, end)


def _find_minimum(rc: _RangeCost, start: int, end: int) -> tuple[int, float]:
    """Recursive 9-point minimum search (reference blocksplitter.c:57-117)."""
    lo, hi = start + 1, end  # candidate mids in [lo, hi)
    best_m, best_c = -1, np.inf
    if hi - lo > _EXHAUSTIVE_BELOW:
        while hi - lo > _FIND_MINIMUM_PROBES:
            probes = np.unique(
                np.linspace(lo, hi - 1, _FIND_MINIMUM_PROBES).astype(np.int64)
            )
            costs = rc.split_costs(start, end, probes)
            k = int(np.argmin(costs))
            if costs[k] < best_c:
                best_c, best_m = costs[k], int(probes[k])
            # narrow to the interval around the best probe
            lo = int(probes[k - 1]) + 1 if k > 0 else lo
            hi = int(probes[k + 1]) if k + 1 < len(probes) else hi
    # exhaustive below the threshold, and over the probes' last interval
    costs = rc.split_costs(start, end, np.arange(lo, hi))
    k = int(np.argmin(costs))
    if costs[k] < best_c:
        best_c, best_m = costs[k], lo + k
    return best_m, float(best_c)


_DP_MAX_ROWS = 768  # forward DP is O(rows · window · buckets); exact below this


def split_dp(rc: _RangeCost, lens: np.ndarray, page_budget: int) -> np.ndarray:
    """Globally optimal boundaries under the estimate — the forward-DP +
    traceback shape of the reference (``GetBestLengths`` cost sweep +
    ``TraceBackwards``, reference src/zopfli/squeeze.c:255-393,395-412),
    over candidate ROW boundaries instead of LZ77 symbol positions:

        best[j] = min over i of best[i] + cost(i, j)
        subject to the memory bound mass(i, j) ≤ 2 · page_budget

    The inner minimization is one vectorized `_RangeCost` pass per j (cost
    of [i, j) for EVERY candidate i at once), and the traceback walks parent
    pointers — no per-candidate Python. The greedy FindMinimum driver stays
    in place for groups too large for the O(rows·window) sweep."""
    n = len(lens)
    cum_n = rc.cum_n
    best = np.full(n + 1, np.inf)
    parent = np.full(n + 1, -1, dtype=np.int64)
    best[0] = 0.0
    cap = 2 * page_budget
    for j in range(1, n + 1):
        # candidate starts: mass within the memory bound
        lo = int(np.searchsorted(cum_n, cum_n[j] - cap, side="left"))
        if lo >= j:  # single row heavier than the cap — rows are atomic
            lo = j - 1
        cand = np.arange(lo, j)
        costs = best[cand] + rc.cost(cand, j)
        k = int(np.argmin(costs))
        best[j] = float(costs[k])
        parent[j] = int(cand[k])
    # TraceBackwards analog: parent-pointer walk from the end
    bounds = []
    j = n
    while parent[j] > 0:
        bounds.append(int(parent[j]))
        j = int(parent[j])
    return np.array(sorted(bounds), dtype=np.int64)


def split_by_cost(
    values: np.ndarray,
    lens: np.ndarray,
    page_budget: int,
    max_pages: int,
    mode: str = "greedy",
    gh_bits_per_value: np.ndarray | None = None,
    card_term: bool = False,
    rc: "_RangeCost | None" = None,
) -> np.ndarray:
    """Entropy-cost-driven boundaries: split the largest remaining block while
    it pays, then enforce the page-size memory bound.

    The greedy largest-block driver is FindLargestSplittableBlock + the
    accept-only-if-cheaper loop (reference src/zopfli/blocksplitter.c:222-306).

    ``rc``: a prebuilt :class:`_RangeCost` over exactly (values, lens,
    gh_bits_per_value, card_term) — the cumulative structures depend only on
    those, not on the budgets, so the engine builds ONE per group and shares
    it across the initial split and the mode-grid alternate geometries.
    """
    n_rows = len(lens)
    if n_rows <= 1:
        return np.empty(0, dtype=np.int64)
    if rc is None:
        rc = _RangeCost(values, lens, gh_bits_per_value, card_term=card_term)
    if mode == "dp" and n_rows <= _DP_MAX_ROWS:
        dp_bounds = split_dp(rc, lens, page_budget)
        # honor the blocksplittingmax contract: the DP has no native page-
        # count bound, so a result past the cap (plus the budget-forced
        # minimum) falls back to the capped greedy driver
        total_values_dp = int(rc.cum_n[-1])
        min_pages_dp = max(1, -(-total_values_dp // max(page_budget, 1)))
        if len(dp_bounds) + 1 <= max(max_pages, min_pages_dp):
            return dp_bounds
    total_values = int(rc.cum_n[-1])
    min_pages = max(1, -(-total_values // max(page_budget, 1)))
    # FindLargestSplittableBlock via a max-heap keyed by value mass: blocks
    # are only ever SPLIT during this loop (never merged), so a popped span
    # is always current and each span is examined exactly once — the r2
    # list-rebuild scan was O(pages²) and dominated fine-grained splitting
    # (max_pages in the hundreds). Tie-break on start for determinism.
    import heapq

    def mass(s: int, e: int) -> int:
        return int(rc.cum_n[e] - rc.cum_n[s])

    heap: list[tuple[int, int, int]] = [(-mass(0, n_rows), 0, n_rows)]
    n_pages = 1
    bounds_set: list[int] = []
    limit = max(max_pages, min_pages)
    while heap and n_pages < limit:
        neg_m, start, end = heapq.heappop(heap)
        if end - start <= 1:
            continue
        mid, split_c = _find_minimum(rc, start, end)
        orig_c = rc.cost(start, end)
        if split_c < orig_c or -neg_m > page_budget:
            bounds_set.append(mid)
            n_pages += 1
            heapq.heappush(heap, (-mass(start, mid), start, mid))
            heapq.heappush(heap, (-mass(mid, end), mid, end))
        # else: splitting this block doesn't pay — it stays whole
    inner = np.array(sorted(bounds_set), dtype=np.int64)
    # memory bound: no page may exceed 2× budget (chunk leftovers greedily)
    out: list[int] = []
    prev = 0
    for b in list(inner) + [n_rows]:
        seg_vals = int(rc.cum_n[b] - rc.cum_n[prev])
        if seg_vals > 2 * page_budget:
            sub = split_simple(lens[prev:b], page_budget) + prev
            out.extend(int(x) for x in sub)
        if b != n_rows:
            out.append(int(b))
        prev = b
    return np.unique(np.array(out, dtype=np.int64))
