"""Deterministic synthetic tokens table (FIXTURES.md §1).

Schema: ``doc_id string, tokens array<int>, n_tok int, source string`` —
exactly the BASELINE.json input_hint shape. Generation is distributed
(mapInPandas over spark.range) and **content-addressed**: every doc is
generated from PCG64(seed ^ doc index), so the table is identical at any
parallelism — the same determinism discipline the engine itself follows
(reference src/zopfli/squeeze.c:79-146 seeded RNG)."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"

VOCAB = 1 << 17
_SOURCES = np.array(["web", "code", "books", "wiki"])
# mixture from FIXTURES.md: (kind, share)
_KINDS = ["zipfian", "run_heavy", "narrow", "ascending", "uniform", "constant"]
_SHARES = np.array([0.40, 0.20, 0.15, 0.10, 0.10, 0.05])


def _gen_doc(rng: np.random.Generator, kind: str, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int32)
    if kind == "zipfian":
        return (np.minimum(rng.zipf(1.2, n), 50_000) - 1).astype(np.int32)
    if kind == "run_heavy":
        n_runs = max(1, int(n * 0.1))
        lens = rng.geometric(0.1, n_runs)
        vals = rng.integers(0, VOCAB, n_runs)
        out = np.repeat(vals, lens)
        return out[:n].astype(np.int32) if len(out) >= n else np.pad(out, (0, n - len(out)), mode="edge").astype(np.int32)
    if kind == "narrow":
        base = int(rng.integers(0, VOCAB - 64))
        return rng.integers(base, base + 64, n).astype(np.int32)
    if kind == "ascending":
        return np.cumsum(rng.integers(1, 4, n)).astype(np.int32)
    if kind == "uniform":
        return rng.integers(0, VOCAB, n).astype(np.int32)
    return np.full(n, int(rng.integers(0, VOCAB)), dtype=np.int32)  # constant


_EDGE_DOCS: dict[int, np.ndarray] = {
    0: np.empty(0, dtype=np.int32),                              # empty array
    1: np.array([7], dtype=np.int32),                            # single token
    2: np.full(257, VOCAB - 1, dtype=np.int32),                  # repeated max-vocab id
    3: np.array([0, 2**31 - 1, 0, 2**31 - 1], dtype=np.int32),   # int32 extremes
}


def gen_docs(indices: np.ndarray, seed: int) -> pd.DataFrame:
    """Generate the rows for absolute doc indices (vectorized batch prep,
    per-doc numpy fill)."""
    n_docs = len(indices)
    meta_rng = np.random.Generator(np.random.PCG64(seed))
    # per-doc params must be content-addressed → derive from per-doc streams
    docs = []
    for i in indices.tolist():
        rng = np.random.Generator(np.random.PCG64([seed, i]))
        if i in _EDGE_DOCS:
            toks = _EDGE_DOCS[i]
            kind = "edge"
        else:
            u = rng.random()
            kind = _KINDS[int(np.searchsorted(np.cumsum(_SHARES), u))]
            if rng.random() < 0.001:  # long tail: 100k–1M tokens (skew)
                n = int(rng.integers(100_000, 1_000_001))
            else:
                n = int(np.clip(rng.lognormal(np.log(512), 1.0), 0, 16_384))
            toks = _gen_doc(rng, kind, n)
        src = _SOURCES[int(rng.integers(0, len(_SOURCES)))]
        docs.append((f"doc_{i:012d}", toks, len(toks), src))
    return pd.DataFrame(docs, columns=["doc_id", "tokens", "n_tok", "source"])


def synth_tokens_df(spark: SparkSession, n_docs: int, seed: int = 42, parallelism: int | None = None) -> DataFrame:
    """Distributed deterministic tokens table."""
    from .deploy import ensure_shipped, forget_zip_finders

    ensure_shipped(spark)
    parallelism = parallelism or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            for b in batches:
                if len(b):
                    yield gen_docs(b["id"].to_numpy(), seed)
        finally:
            forget_zip_finders()

    return (
        spark.range(n_docs, numPartitions=parallelism)
        .mapInPandas(gen, schema=TOKENS_SCHEMA)
    )
