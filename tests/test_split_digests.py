"""Golden split boundaries: the SHA-256 of ``split_by_cost`` and ``split_dp``
row boundaries on a seeded mixture of zipf, wide, run and ramp docs, over
every combination of split mode, page cap, conditional card term and
group-code pricing. The bit-cost model decides every boundary, so an
estimator edit that moves one split fails here before it can move a page
byte. Spark-free and a few seconds.

The digests were recorded once and are never edited: a change that moves
boundaries on purpose belongs in its own change, with new cases beside
these."""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pytest

from zopfli_spark.pages import _RangeCost, split_by_cost, split_dp

BUDGET = 16384


@functools.lru_cache(maxsize=None)
def _mixture(seed: int = 7, n_docs: int = 600) -> tuple[np.ndarray, np.ndarray]:
    """(values, lens): blocks of 2-6 same-family docs, the families being
    heavy-tail zipf, two wide uniform ones (card ~9.6k and ~68k, at large
    offsets), runs and ramps. ~133k values, past the card term's novelty
    window, and 600 rows, under the dp row limit."""
    rng = np.random.default_rng(seed)
    docs = []
    kind, left = 0, 0
    for _ in range(n_docs):
        if left == 0:
            kind, left = int(rng.integers(0, 5)), int(rng.integers(2, 7))
        left -= 1
        n = int(rng.integers(40, 400))
        if kind == 0:
            d = np.minimum(rng.zipf(1.3, n), 50_000) - 1
        elif kind == 1:
            d = rng.integers(0, 9_600, n) + (1 << 30)
        elif kind == 2:
            d = rng.integers(0, 68_000, n) + (1 << 29)
        elif kind == 3:
            d = np.repeat(rng.integers(0, 5_000, n // 16 + 1), 16)[:n]
        else:
            d = np.arange(n) * int(rng.integers(1, 9)) + int(rng.integers(0, 1 << 20))
        docs.append(d.astype(np.int32))
    return np.concatenate(docs), np.array([len(d) for d in docs], dtype=np.int64)


@functools.lru_cache(maxsize=None)
def _gh_bits() -> np.ndarray:
    """Per-value bits under a group code over the values below 50,000;
    every other value is an escape at a flat 6 bits, so the group-code
    ``min`` wins on the wide families and moves boundaries."""
    values, _ = _mixture()
    u, inv, cts = np.unique(values, return_inverse=True, return_counts=True)
    in_dict = u < 50_000
    p = np.where(in_dict, cts / cts[in_dict].sum(), 1.0)
    return np.where(in_dict, np.ceil(-np.log2(p)), 6.0)[inv]


def _digest(bounds: np.ndarray) -> str:
    return hashlib.sha256(np.asarray(bounds, dtype=np.int64).tobytes()).hexdigest()[:16]


GOLDEN = {
    "greedy-64-plain": "df477b8b859d0fc0",
    "greedy-64-card": "83e60b59ca8c7a5c",
    "greedy-64-gh": "2c79959ea457947a",
    "greedy-64-card-gh": "cd245fe31db776c0",
    "greedy-512-plain": "13e199ba9a90d673",
    "greedy-512-card": "436e4d00a1e5c0a8",
    "greedy-512-gh": "f7bb6c0ac0845ae0",
    "greedy-512-card-gh": "65da3cbe8e73f65d",
    "dp-64-plain": "df477b8b859d0fc0",
    "dp-64-card": "83e60b59ca8c7a5c",
    "dp-64-gh": "2c79959ea457947a",
    "dp-64-card-gh": "5264744b2a184b36",
    "dp-512-plain": "251dd15deffdde6b",
    "dp-512-card": "1681a94e2f42e15d",
    "dp-512-gh": "4e191cf3bc73c881",
    "dp-512-card-gh": "5264744b2a184b36",
}

GOLDEN_DP = {
    "plain": "251dd15deffdde6b",
    "card": "1681a94e2f42e15d",
    "gh": "4e191cf3bc73c881",
    "card-gh": "5264744b2a184b36",
}


def _flags(tag: str) -> tuple[bool, np.ndarray | None]:
    return "card" in tag, _gh_bits() if "gh" in tag else None


@pytest.mark.parametrize("case", sorted(GOLDEN))
def test_split_by_cost_boundaries_pinned(case):
    mode, max_pages, tag = case.split("-", 2)
    card, gh = _flags(tag)
    values, lens = _mixture()
    bounds = split_by_cost(
        values, lens, BUDGET, int(max_pages), mode=mode, gh_bits_per_value=gh, card_term=card
    )
    assert len(bounds) > 1
    assert _digest(bounds) == GOLDEN[case]


@pytest.mark.parametrize("tag", sorted(GOLDEN_DP))
def test_split_dp_boundaries_pinned(tag):
    card, gh = _flags(tag)
    values, lens = _mixture()
    rc = _RangeCost(values, lens, gh, card_term=card)
    assert _digest(split_dp(rc, lens, BUDGET)) == GOLDEN_DP[tag]
