"""Cost-model tests: package-merge optimality vs exact Huffman and the
entropy bound (reference parity: src/zopfli/katajainen.c, tree.c:66-88)."""

from __future__ import annotations

import heapq

import numpy as np
import pytest

from zopfli_spark.model import entropy_bits, huffman_cost_bits, package_merge

RNG = np.random.Generator(np.random.PCG64(11))


def _exact_huffman_cost(counts: np.ndarray) -> int:
    """Unrestricted Huffman total bits via the standard heap construction."""
    h = [int(c) for c in counts if c > 0]
    if len(h) <= 1:
        return int(sum(h))
    heapq.heapify(h)
    total = 0
    while len(h) > 1:
        a, b = heapq.heappop(h), heapq.heappop(h)
        total += a + b
        heapq.heappush(h, a + b)
    return total


CASES = {
    "uniform": np.full(16, 10, dtype=np.int64),
    "skewed": np.array([1000, 500, 250, 125, 60, 30, 15, 8, 4, 2, 1, 1]),
    "two": np.array([3, 7]),
    "one": np.array([0, 5, 0]),
    "zipf": np.bincount(np.minimum(RNG.zipf(1.3, 5000), 200)),
    "with_zeros": np.array([0, 10, 0, 3, 0, 1, 0]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_kraft_and_coverage(name):
    counts = CASES[name]
    lengths = package_merge(counts, maxbits=15)
    nz = counts > 0
    assert (lengths[~nz] == 0).all()
    assert (lengths[nz] >= 1).all() and (lengths[nz] <= 15).all()
    kraft = (2.0 ** -lengths[nz]).sum()
    assert kraft <= 1.0 + 1e-12, f"invalid prefix code (kraft {kraft})"


@pytest.mark.parametrize("name", sorted(CASES))
def test_matches_unrestricted_huffman_when_depth_allows(name):
    counts = CASES[name]
    got = huffman_cost_bits(counts, maxbits=32)
    want = _exact_huffman_cost(counts)
    assert got == want, f"{name}: package-merge {got} != huffman {want}"


def test_entropy_is_a_lower_bound():
    for name, counts in CASES.items():
        h = entropy_bits(counts)
        pm = huffman_cost_bits(counts, maxbits=15)
        assert pm >= h - 1e-9, name


def test_entropy_over_a_stack_matches_each_histogram():
    """One call over a stack of histograms (the split search prices every
    candidate range this way) gives each row's own cost, bit for bit;
    an empty histogram costs 0 and a one-symbol one costs 0."""
    stack = np.array([[3, 0, 5, 1], [0, 0, 0, 0], [7, 0, 0, 0], [1, 1, 1, 1]])
    got = entropy_bits(stack)
    assert got.shape == (4,)
    assert got.tolist() == [entropy_bits(row) for row in stack]
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 8.0
    assert isinstance(entropy_bits(stack[0]), float)


def test_length_limit_binds():
    # severely skewed: unrestricted depth would exceed 3 bits
    counts = np.array([64, 32, 16, 8, 4, 2, 1, 1])
    lengths = package_merge(counts, maxbits=3)
    assert lengths.max() == 3
    assert (2.0 ** -lengths[counts > 0]).sum() <= 1.0 + 1e-12
    # limited cost ≥ unrestricted cost
    assert (counts * lengths).sum() >= _exact_huffman_cost(counts)


def test_too_many_symbols_raises():
    with pytest.raises(ValueError):
        package_merge(np.ones(10, dtype=np.int64), maxbits=3)


def test_monotone_lengths():
    counts = np.array([100, 50, 20, 10, 5, 2, 1])
    lengths = package_merge(counts, maxbits=15)
    assert (np.diff(lengths) >= 0).all()  # rarer symbols never get shorter codes
