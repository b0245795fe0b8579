"""Golden ``encode_best`` outputs: the SHA-256 of every blob (or ``None``)
that ``encode_best`` returns on seeded pages of nine shapes, both input
dtypes and n in {1, 2, 3, 63, 64, 65, 1000, 40000}, each under seeded
allow-lists, zlib levels, plane strategies, Huffman switches and headrooms,
unbudgeted and with budgets around the unbudgeted size (0.8-1.3x, plus the
exact size and one byte above it). The codec argmin decides every page
byte, so an edit to the candidate search that moves one output, or turns a
budgeted ``None`` into a blob or back, fails here. Spark-free, a few
seconds.

The digests were recorded once and are never edited: a change that moves
outputs on purpose belongs in its own change, with new cases beside these."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from zopfli_spark.codecs import kernels
from zopfli_spark.codecs.kernels import encode_best

NS = (1, 2, 3, 63, 64, 65, 1000, 40000)
LEVELS = (1, 6, 9)
STRATEGIES = ("rle", "default", "both")
ALL_TAGS = (
    kernels.FOR_BITPACK, kernels.DELTA, kernels.RLE, kernels.DICT,
    kernels.DICT_SHIFT, kernels.PLANE_ZLIB, kernels.HUFFMAN,
)


def _shape(name: str, n: int, rng: np.random.Generator) -> np.ndarray:
    if name == "zipf":
        v = np.minimum(rng.zipf(1.3, n), 50_000)
    elif name == "zipf_skewed":
        v = rng.zipf(1.6, n) % 300
    elif name == "wide_uniform":
        v = rng.integers(0, 68_000, n) + (1 << 29)
    elif name == "runs":
        vocab = rng.integers(0, 1 << 30, 24)
        m = n // 4 + 1
        v = np.repeat(vocab[rng.integers(0, 24, m)], rng.integers(4, 12, m))[:n]
    elif name == "ramp":
        v = np.arange(n) * int(rng.integers(1, 9)) + int(rng.integers(0, 1 << 20))
    elif name == "clustered_noise":
        centers = rng.integers(-(1 << 17), 1 << 17, 64) * 4096
        v = centers[rng.integers(0, 64, n)] + rng.integers(0, 64, n)
    elif name == "mostly_constant":
        v = np.where(rng.random(n) < 0.97, 5, rng.integers(0, 100, n))
    elif name == "negatives":
        v = rng.integers(-(1 << 16), 1 << 16, n)
    elif name == "int32_extremes":
        v = rng.choice(np.array([-(2**31), 2**31 - 1, 0, -1, 1]), n)
    else:
        raise ValueError(name)
    return np.asarray(v, dtype=np.int64)


SHAPES = (
    "zipf", "zipf_skewed", "wide_uniform", "runs", "ramp", "clustered_noise",
    "mostly_constant", "negatives", "int32_extremes",
)


def _options(rng: np.random.Generator) -> dict:
    allowed = None
    if rng.random() < 0.6:
        allowed = frozenset(t for t in ALL_TAGS if rng.random() < 0.7)
    return {
        "allowed": allowed,
        "zlib_level": int(rng.choice(LEVELS)),
        "plane_strategy": str(rng.choice(STRATEGIES)),
        "try_huffman": bool(rng.random() < 0.7),
        "huffman_headroom": float(rng.choice((0.8, 1.0))),
    }


def _outputs(shape: str, dtype: str):
    """Every (label, output) of one shape and dtype, in a fixed order."""
    seed = SHAPES.index(shape) * 2 + (dtype == "int32")
    rng = np.random.default_rng(1000 + seed)
    for n in NS:
        v = _shape(shape, n, rng).astype(dtype)
        for k in range(3):
            opts = _options(rng)
            full = encode_best(v, **opts)
            yield (n, k, None), full
            budgets = [int(len(full) * f) for f in rng.uniform(0.8, 1.3, 3)]
            for b in budgets + [len(full), len(full) + 1]:
                yield (n, k, b), encode_best(v, budget=b, **opts)


def _digest(shape: str, dtype: str) -> str:
    h = hashlib.sha256()
    for label, blob in _outputs(shape, dtype):
        h.update(repr(label).encode())
        h.update(b"N" if blob is None else b"B%d:" % len(blob) + blob)
    return h.hexdigest()[:16]


GOLDEN = {
    "clustered_noise-int32": "37acb838359945b3",
    "clustered_noise-int64": "10e99bc554e7022f",
    "int32_extremes-int32": "c7f28c3352a78b5b",
    "int32_extremes-int64": "153d45b09b6f12b3",
    "mostly_constant-int32": "ffa054001d5d2488",
    "mostly_constant-int64": "2d3b0d22575cf878",
    "negatives-int32": "5eb792ff2c952692",
    "negatives-int64": "6f55b80b9727db75",
    "ramp-int32": "881fe0035dd433d4",
    "ramp-int64": "f4fec620b31301de",
    "runs-int32": "49470dc884f4da01",
    "runs-int64": "e5ef92e80a91ecc8",
    "wide_uniform-int32": "796763208404a658",
    "wide_uniform-int64": "e3ed00507cffae95",
    "zipf-int32": "61f8dab603742139",
    "zipf-int64": "a0ef7e67fec7a7c4",
    "zipf_skewed-int32": "507e976d80e552b3",
    "zipf_skewed-int64": "70a52b405a8584f5",
}


@pytest.mark.parametrize("case", sorted(GOLDEN))
def test_encode_best_outputs_pinned(case):
    shape, dtype = case.rsplit("-", 1)
    assert _digest(shape, dtype) == GOLDEN[case]


def test_every_case_is_pinned():
    assert sorted(GOLDEN) == sorted(f"{s}-{d}" for s in SHAPES for d in ("int32", "int64"))
