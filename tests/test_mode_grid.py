"""Mode-grid search (--all analog, reference src/zopfli/deflate.c:1326-1342)
and squeeze-loop stats blending (AddWeighedStatFreqs, squeeze.c:64-77):
alternate split strategies on groups the gate calls ambiguous, keep-if-
smaller; the gate must not fire on incompressible content."""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow as pa
import pytest

from zopfli_spark.config import EngineConfig
from zopfli_spark.engine import _encode_group
from zopfli_spark.plans.planner import GROUP_COL, ROW_HASH_COL

BUDGET = 32768
CFG = EngineConfig(
    page_budget_values=BUDGET,
    group_budget_values=BUDGET * 8,
    giant_doc_values=BUDGET * 4,
    mode_grid=True,
)


def _tbl(docs):
    n = len(docs)
    return pa.table(
        {
            "doc_id": pa.array([f"doc_{i:04d}" for i in range(n)]),
            "tokens": pa.array([d.tolist() for d in docs], pa.list_(pa.int32())),
            "n_tok": pa.array([len(d) for d in docs], pa.int32()),
            "source": pa.array(["t"] * n),
            GROUP_COL: pa.array([0] * n, pa.int32()),
            ROW_HASH_COL: pa.array(list(range(n)), pa.int64()),
        }
    )


def _total(out):
    return sum(out.column("enc_bytes").to_pylist())


@pytest.fixture(scope="module")
def order_blind_group():
    """6 ascending + 2 shuffled docs over the SAME value range: the bucketed
    split estimator is order-blind, so the first pass mixes them; per-doc
    pages (which the grid's finer alternative finds) compress far better."""
    rng = np.random.default_rng(5)
    half = BUDGET // 2
    docs = []
    for i in range(8):
        if i in (3, 6):
            docs.append(rng.integers(0, 1 << 24, half, dtype=np.int64).astype(np.int32))
        else:
            docs.append(np.cumsum(rng.integers(1, 2049, half)).astype(np.int32))
    return docs


def test_grid_wins_on_order_blind_group(order_blind_group):
    on = _encode_group(_tbl(order_blind_group), CFG)
    off = _encode_group(
        _tbl(order_blind_group), dataclasses.replace(CFG, mode_grid=False)
    )
    assert _total(on) < _total(off), "grid must beat the order-blind first pass"
    assert "delta_bitpack" in set(on.column("codec").to_pylist())


def test_grid_identical_when_it_cannot_help():
    """Pure near-random content: the per-doc achievable gate must not fire
    (and even if an alternative ran, keep-if-smaller keeps the original)."""
    rng = np.random.default_rng(9)
    docs = [
        rng.integers(0, 1 << 24, BUDGET // 2, dtype=np.int64).astype(np.int32)
        for _ in range(8)
    ]
    on = _encode_group(_tbl(docs), CFG)
    off = _encode_group(_tbl(docs), dataclasses.replace(CFG, mode_grid=False))
    assert _total(on) == _total(off)


def test_grid_result_is_deterministic(order_blind_group):
    a = _encode_group(_tbl(order_blind_group), CFG)
    b = _encode_group(_tbl(order_blind_group), CFG)
    assert a.column("checksum").to_pylist() == b.column("checksum").to_pylist()
    assert _total(a) == _total(b)


def test_split_mode_dp_roundtrips_and_dominates_estimate():
    """split_mode='dp' (GetBestLengths forward DP + TraceBackwards analog):
    the DP segmentation never exceeds the greedy driver's total ESTIMATED
    cost, honors the 2x-budget memory bound, and the full encode→page
    decode stays bit-identical."""
    import numpy as np
    from zopfli_spark.pages import _RangeCost, split_by_cost, split_dp

    rng = np.random.default_rng(11)
    n_docs = 120
    lens = rng.integers(50, 2000, n_docs).astype(np.int64)
    vals = []
    for i in range(n_docs):
        k = i % 3
        n = int(lens[i])
        if k == 0:
            v = rng.zipf(1.3, n).astype(np.int64) % 50000
        elif k == 1:
            v = np.arange(n) + int(rng.integers(0, 1000))
        else:
            v = rng.integers(0, 1 << 30, n)
        lens[i] = len(v)
        vals.append(v.astype(np.int32))
    values = np.concatenate(vals)
    budget = 32768
    rc = _RangeCost(values, lens)
    dp = split_dp(rc, lens, budget)
    greedy = split_by_cost(values, lens, budget, 64)

    def est(bounds):
        bs = [0, *bounds.tolist(), n_docs]
        return float(rc.cost(bs[:-1], bs[1:]).sum())

    assert est(dp) <= est(greedy) + 1e-6
    cum = np.concatenate(([0], np.cumsum(lens)))
    bs = [0, *dp.tolist(), n_docs]
    for k in range(len(bs) - 1):
        if bs[k + 1] - bs[k] > 1:
            assert cum[bs[k + 1]] - cum[bs[k]] <= 2 * budget

    cfg_dp = dataclasses.replace(CFG, split_mode="dp", mode_grid=False)
    docs = [values[cum[i]:cum[i + 1]] for i in range(n_docs)]
    out = _encode_group(_tbl(docs), cfg_dp)
    from zopfli_spark.operators.pagecodec import decode_page
    decoded = []
    for r in sorted(
        (dict(zip(out.schema.names, row)) for row in zip(*(c.to_pylist() for c in out.columns))),
        key=lambda d: d["page_id"],
    ):
        _, _, _, vv = decode_page(r["header"], r["payload"], r["checksum"], split_rows=False)
        decoded.append(vv)
    flat = np.concatenate(decoded)
    assert np.array_equal(flat, values.astype(flat.dtype))


def test_achievable_bpv_matches_loop_reference():
    """The vectorized ambiguity estimator (VERDICT r3 next #6) must produce
    the same estimate as the r3 per-doc loop (entropy via log2(m) − Σc·log2c/m
    is algebraically identical; this pins the gate decisions)."""
    import numpy as np
    from zopfli_spark.engine import _achievable_bpv

    def loop_reference(values, val_offsets, n_docs_g):
        step = max(1, n_docs_g // 64)
        est_bits = est_vals = 0.0
        for d in range(0, n_docs_g, step):
            v0d, v1d = int(val_offsets[d]), int(val_offsets[d + 1])
            v = values[v0d : min(v0d + 4096, v1d)].astype(np.int64)
            if len(v) < 16:
                continue

            def _ent(a):
                _, cnt = np.unique(a, return_counts=True)
                p = cnt / len(a)
                e = float(-(p * np.log2(p)).sum())
                if len(cnt) > 0.9 * len(a):
                    e = max(e, float(np.log2(float(a.max() - a.min()) + 1.0)))
                return e

            dv = np.diff(v)
            runs = float(np.count_nonzero(dv) + 1)
            rle_bits = 64.0 * runs / len(v)
            best = min(_ent(v), _ent(dv) if len(dv) else 64.0, rle_bits)
            est_bits += best * len(v)
            est_vals += len(v)
        return (est_bits / est_vals / 8.0) if est_vals else None

    rng = np.random.default_rng(17)
    for trial in range(6):
        n_docs = int(rng.integers(3, 200))
        lens, chunks = [], []
        for i in range(n_docs):
            n = int(rng.integers(4, 6000))
            kind = i % 4
            if kind == 0:
                v = rng.integers(0, 1 << 24, n)
            elif kind == 1:
                v = np.cumsum(rng.integers(1, 64, n))
            elif kind == 2:
                v = np.repeat(rng.integers(0, 50, max(1, n // 8)), 8)[:n]
            else:
                v = rng.zipf(1.4, n) % 30000
            chunks.append(v.astype(np.int32))
            lens.append(len(v))
        values = np.concatenate(chunks)
        val_offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
        got = _achievable_bpv(values, val_offsets, n_docs)
        want = loop_reference(values, val_offsets, n_docs)
        if want is None:
            assert got is None
        else:
            assert got == pytest.approx(want, rel=1e-9), f"trial {trial}"


def test_grid_codec_dial_axis_wins_in_headroom_window(order_blind_group):
    """Codec-dial grid axes (VERDICT r3 next #7): a distribution whose
    entropy sits INSIDE the (huffman_headroom, 1.0) admission window — the
    0.8 gate blocks Huffman, dict wins the base argmin at ~6 bits/val, but
    true entropy is ~5 bits. The ambiguity gate fires (realized >> per-doc
    achievable) and the dial retry (headroom=1.0, plane='both') must
    capture the win, keep-if-smaller."""
    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 30, 64)
    p = np.exp(-0.08 * np.arange(64))
    p /= p.sum()
    docs = [
        vals[rng.choice(64, BUDGET // 2, p=p)].astype(np.int32) for _ in range(8)
    ]
    on = _encode_group(_tbl(docs), CFG)
    off = _encode_group(_tbl(docs), dataclasses.replace(CFG, mode_grid=False))
    assert _total(on) < _total(off), "dial axis must capture the entropy gap"
    assert "huffman" in set(on.column("codec").to_pylist())
    assert "huffman" not in set(off.column("codec").to_pylist())


def test_grid_dial_winner_resumes_byte_identical(order_blind_group):
    """A dial-axis winner must replay byte-identically through the lineage
    forced-codec path (level-pinned names -> encode_forced)."""
    import pyarrow as _pa

    rng = np.random.default_rng(3)
    vals = rng.integers(0, 1 << 30, 64)
    p = np.exp(-0.08 * np.arange(64))
    p /= p.sum()
    docs = [
        vals[rng.choice(64, BUDGET // 2, p=p)].astype(np.int32) for _ in range(8)
    ]
    first = _encode_group(_tbl(docs), CFG)
    # deliver the plan the way encode_table's lineage cogroup does: a
    # one-row (content_hash, plan) table in the struct form the engine parses
    import json as _json

    plan = _json.dumps(
        [
            {"page_id": i, "n_rows": int(r), "codec": str(c)}
            for i, (r, c) in enumerate(
                zip(
                    first.column("n_rows").to_pylist(),
                    first.column("codec").to_pylist(),
                )
            )
        ]
    )
    plan_tbl = _pa.table(
        {
            "content_hash": _pa.array(
                [first.column("content_hash_group")[0].as_py()], _pa.int64()
            ),
            "plan": [plan],
        }
    )
    second = _encode_group(_tbl(docs), CFG, plan_tbl=plan_tbl)
    assert set(second.column("resumed").to_pylist()) == {1}
    assert first.column("checksum").to_pylist() == second.column("checksum").to_pylist()
    assert first.column("enc_bytes").to_pylist() == second.column("enc_bytes").to_pylist()
    assert (
        _pa.compute.equal(first.column("payload"), second.column("payload"))
        .to_pylist()
        .count(False)
        == 0
    )


def test_rangecost_card_term_distinguishes_saturated_families():
    """Two content families with IDENTICAL equal-mass bucket histograms but
    different cardinality (512 vs 65,536 distinct values spread over the
    same range): bucket entropy saturates at 8 bits so the plain estimator
    sees no reason to split, while the conditional-entropy (windowed-
    novelty) term prices them ~9 vs ~16 b/v and isolates the transition —
    the r6 'flat 17-bit bitpack over 13-bit content' failure mode."""
    import numpy as np
    from zopfli_spark.pages import split_by_cost

    rng = np.random.default_rng(21)
    n_docs, doc_len = 64, 4096
    half = n_docs // 2
    span = 1 << 20
    alpha_a = np.arange(512, dtype=np.int64) * (span // 512)
    alpha_b = np.arange(65536, dtype=np.int64) * (span // 65536)
    docs = [alpha_a[rng.integers(0, 512, doc_len)] for _ in range(half)]
    docs += [alpha_b[rng.integers(0, 65536, doc_len)] for _ in range(half)]
    values = np.concatenate(docs)
    lens = np.full(n_docs, doc_len, dtype=np.int64)
    kw = dict(page_budget=1 << 22, max_pages=64)
    blind = split_by_cost(values, lens, **kw)
    carded = split_by_cost(values, lens, card_term=True, **kw)
    assert half not in blind.tolist(), blind
    assert half in carded.tolist(), carded
