"""Simulates the driver's correctness gate: every queries() result must match
its oracle_sql() DuckDB result (row count + sorted-column value equality)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    got = _normalize(q(spark, SF_DIR).toPandas())
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(got) >= 0  # rows-only check (driver's weaker gate)
        return
    want = _normalize(duck.execute(sql).fetchdf())
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            pd.testing.assert_series_equal(a.astype(float), b.astype(float), check_names=False, rtol=1e-9)
        else:
            assert a.astype(str).equals(b.astype(str)), f"{name}.{c} mismatch"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) >= {"part_id", "codec", "ratio", "tokens_per_sec"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ordered_sorts_an_oversized_result_by_range(spark, tmp_path, monkeypatch):
    """``_ordered`` sorts in one task only while the rows it reads stay
    within its bound; a result read from more rows takes the range sort,
    with the same rows in the same order."""
    n = 4000
    path = str(tmp_path / "keys.parquet")
    pq.write_table(pa.table({"k": np.random.default_rng(0).permutation(n)}), path)
    df = spark.read.parquet(path)
    assert entry_mod._input_rows(df) == n
    small = entry_mod._ordered(df, "k")
    assert "SinglePartition" in _plan(small) and "rangepartitioning" not in _plan(small)
    monkeypatch.setattr(entry_mod, "_SINGLE_SORT_MAX_ROWS", n - 1)
    big = entry_mod._ordered(df, "k")
    assert "rangepartitioning" in _plan(big) and "SinglePartition" not in _plan(big)
    assert [r.k for r in big.collect()] == [r.k for r in small.collect()] == list(range(n))
