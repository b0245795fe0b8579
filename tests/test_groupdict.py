"""Group-level shared Huffman dictionary (r5) — the EncodeTree/
AddDynamicTree header-amortization idea one level up (reference
src/zopfli/deflate.c:118-293,299-363 transmits one tree per block; this
transmits one (dict values + code lengths) table per GROUP and lets every
adopting page emit only offsets + bitstream). Covers: kernel roundtrip and
exact size accounting, crafted-blob guards, Spark end-to-end roundtrip with
adoption, keep-if-smaller vs the per-page baseline, lineage replay
byte-identity, store roundtrip (dict row streams ahead of its pages), and
cross-parallelism determinism with content-clustered doc order."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from zopfli_spark import EngineConfig, decode_table, encode_table, roundtrip_check
from zopfli_spark.codecs.kernels import (
    GROUP_DICT_STORE,
    GROUP_HUFFMAN,
    GroupDict,
    decode_blob,
    decode_group_huffman,
    encode_group_dict,
    encode_group_huffman,
    group_huffman_size,
    group_tokens,
)
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.lineage import lineage_from_pages, split_hints_from_pages

GD_CFG = EngineConfig(
    page_budget_values=20_000,
    group_budget_values=120_000,
    giant_doc_values=60_000,
    max_pages_per_group=32,
    group_dict=True,
    cluster_docs=True,
)
BASE_CFG = EngineConfig(
    page_budget_values=20_000,
    group_budget_values=120_000,
    giant_doc_values=60_000,
    max_pages_per_group=32,
)


# --- kernel layer ----------------------------------------------------------


def _zipf_corpus(n=150_000, seed=3):
    rng = np.random.default_rng(seed)
    vals = (np.minimum(rng.zipf(1.2, n), 50_000) - 1).astype(np.int64)
    u, cts = np.unique(vals, return_counts=True)
    return vals, u, cts


def test_group_dict_kernel_roundtrip_and_exact_size():
    vals, u, cts = _zipf_corpus()
    blob = encode_group_dict(u, cts)
    gd = GroupDict(blob)
    sym, esc = group_tokens(vals, gd)
    assert len(esc) == 0  # dict trained on this exact corpus → full cover
    page = encode_group_huffman(sym, esc, gd, gd.crc)
    # ZopfliCalculateBlockSize discipline: size computable before emission
    assert len(page) == group_huffman_size(sym, esc, gd)
    out = decode_group_huffman(page, len(vals), gd)
    assert np.array_equal(out, vals)
    # entropy coding must actually beat 8-bit-ish plain storage on zipf
    assert len(page) < 4 * len(vals)


def test_group_huffman_escape_roundtrip():
    """Out-of-dict values ride the ESCAPE code + literal side stream — the
    heavy-tail coverage mechanism (every zipf page carries fresh
    singletons a subset-trained dictionary has never seen)."""
    vals, u, cts = _zipf_corpus(60_000, seed=11)
    gd = GroupDict(encode_group_dict(u, cts))
    # inject values guaranteed out of dictionary
    novel = vals.copy()
    novel[::97] = 10_000_000 + np.arange(len(novel[::97]))
    sym, esc = group_tokens(novel, gd)
    assert len(esc) == len(novel[::97])
    assert int(sym.max()) == len(gd.vals)  # ESC symbol used
    page = encode_group_huffman(sym, esc, gd, gd.crc)
    assert len(page) == group_huffman_size(sym, esc, gd)
    out = decode_group_huffman(page, len(novel), gd)
    assert np.array_equal(out, novel)


def test_group_huffman_wrong_dict_raises():
    vals, u, cts = _zipf_corpus(20_000, seed=5)
    gd = GroupDict(encode_group_dict(u, cts))
    page = encode_group_huffman(*group_tokens(vals, gd), gd, gd.crc)
    other = GroupDict(encode_group_dict(u, cts + 1))  # different lengths → crc
    assert other.crc != gd.crc
    with pytest.raises(ValueError, match="dictionary mismatch"):
        decode_group_huffman(page, len(vals), other)


def test_decode_blob_refuses_group_tags():
    vals, u, cts = _zipf_corpus(10_000, seed=7)
    blob = encode_group_dict(u, cts)
    with pytest.raises(ValueError, match="group dictionary store"):
        decode_blob(blob, len(u))
    gd = GroupDict(blob)
    page = encode_group_huffman(*group_tokens(vals, gd), gd, gd.crc)
    with pytest.raises(ValueError, match="requires its group dictionary"):
        decode_blob(page, len(vals))


def test_group_dict_crafted_blob_guards():
    vals, u, cts = _zipf_corpus(10_000, seed=9)
    blob = bytearray(encode_group_dict(u, cts))
    with pytest.raises(ValueError, match="not a group dictionary"):
        GroupDict(bytes([GROUP_HUFFMAN]) + bytes(blob[1:]))
    bad_card = bytes(blob[:1]) + (1).to_bytes(4, "little") + bytes(blob[5:])
    with pytest.raises(ValueError, match="cardinality"):
        GroupDict(bad_card)
    bad_maxbits = bytes(blob[:5]) + bytes([40]) + bytes(blob[6:])
    with pytest.raises(ValueError, match="maxbits|lengths"):
        GroupDict(bad_maxbits)
    with pytest.raises(ValueError):
        GroupDict(b"")


def test_group_dict_cardinality_bounds():
    with pytest.raises(ValueError, match="cardinality"):
        encode_group_dict(np.array([5], dtype=np.int64), np.array([3], dtype=np.int64))


def test_group_dict_cardinality_cap_boundary():
    """Exactly 2^17 uniques must be REJECTED up front (ADVICE r5 medium:
    the ESCAPE symbol is appended, so 2^17 uniques means 2^17+1 codes and
    package_merge crashed with 'maxbits=17 too small'); 2^17 - 1 uniques —
    the true cap — must encode and roundtrip."""
    from zopfli_spark.codecs.kernels import _GH_MAX_CARD

    at_cap = np.arange(_GH_MAX_CARD, dtype=np.int64)
    with pytest.raises(ValueError, match="cardinality"):
        encode_group_dict(at_cap, np.ones(_GH_MAX_CARD, dtype=np.int64))
    u = np.arange(_GH_MAX_CARD - 1, dtype=np.int64)
    cts = np.ones(_GH_MAX_CARD - 1, dtype=np.int64)
    cts[:64] = 1000  # non-degenerate code
    gd = GroupDict(encode_group_dict(u, cts))
    assert len(gd.vals) == _GH_MAX_CARD - 1
    vals = np.array([0, 5, 17, _GH_MAX_CARD + 9], dtype=np.int64)  # last escapes
    sym, esc = group_tokens(vals, gd)
    blob = encode_group_huffman(sym, esc, gd, gd.crc)
    assert len(blob) == group_huffman_size(sym, esc, gd)
    out = decode_group_huffman(blob, len(vals), gd)
    assert np.array_equal(out, vals)


def test_emit_bits_window_overflow_fails_loudly():
    """_emit_bits' 3-byte window is exactly saturated by 17-bit codes at
    7-bit misalignment; an 18-bit code must raise, never silently corrupt
    the stream (ADVICE r5 low — guards a future _GH_MAXBITS bump)."""
    from zopfli_spark.codecs.kernels import _emit_bits

    starts = np.array([0, 18], dtype=np.int64)
    codes = np.array([1, 1], dtype=np.int64)
    lens = np.array([18, 18], dtype=np.int64)
    with pytest.raises(ValueError, match="window overflow"):
        _emit_bits(starts, codes, lens, 36)


def test_group_dict_survives_giant_mixed_span():
    """Regression (r5): one giant page mixing a heavy-tail distribution with
    near-uniform content used to poison the mass-weighted pooled code — KL
    refinement then dropped the COMPATIBLE zipf spans (or gave up) and
    adoption never fired at the ratio dials. With equal-weight pooling +
    drop-worst fallback + the greedy cardinality cap, the compatible spans
    must still train and adopt."""
    import pyarrow as pa

    from zopfli_spark.engine import _encode_group
    from zopfli_spark.plans.planner import GROUP_COL, ROW_HASH_COL

    rng = np.random.default_rng(17)
    docs = []
    for i in range(10):  # compatible zipf docs → pure training spans
        docs.append((np.minimum(rng.zipf(1.2, 30_000), 50_000) - 1).astype(np.int32))
    # the poisoning doc: zipf + near-uniform concatenated (high card, high h0)
    mixed = np.concatenate([
        (np.minimum(rng.zipf(1.2, 150_000), 50_000) - 1),
        rng.integers(0, 1 << 17, 150_000),
    ]).astype(np.int32)
    docs.append(mixed)
    tbl = pa.Table.from_arrays(
        [
            pa.array([f"doc_{i:04d}" for i in range(len(docs))]),
            pa.array([d.tolist() for d in docs], type=pa.list_(pa.int32())),
            pa.array([len(d) for d in docs], type=pa.int32()),
            pa.array(["synth"] * len(docs)),
            pa.array(np.zeros(len(docs), dtype=np.int32)),
            pa.array(np.arange(len(docs), dtype=np.int64)),
        ],
        names=["doc_id", "tokens", "n_tok", "source", GROUP_COL, ROW_HASH_COL],
    )
    import dataclasses

    cfg = dataclasses.replace(
        GD_CFG,
        page_budget_values=30_000,
        group_budget_values=1 << 22,
        giant_doc_values=1 << 22,
        max_pages_per_group=64,
    )
    out = _encode_group(tbl, cfg)
    codecs = out.column("codec").to_pylist()
    assert "group_dict_store" in codecs, codecs
    assert any(c == "group_huffman" for c in codecs)


# --- Spark end-to-end ------------------------------------------------------


@pytest.fixture(scope="module")
def tokens_df(spark):
    return synth_tokens_df(spark, n_docs=600, seed=42).cache()


@pytest.fixture(scope="module")
def gd_pages(spark, tokens_df):
    return encode_table(tokens_df, GD_CFG).cache()


def test_groupdict_adopts_on_mixture(spark, gd_pages):
    """The synthetic mixture is 40% zipfian — entropy-bound pages must exist
    and adopt the shared dictionary, with exactly one dict row (page_id -1,
    empty header) per adopting group, streaming AHEAD of its pages."""
    p = gd_pages.select("part_id", "page_id", "codec").toPandas()
    n_gh = int((p["codec"] == "group_huffman").sum())
    n_gd = int((p["codec"] == "group_dict_store").sum())
    assert n_gh > 0, "no page adopted the shared dictionary on the mixture"
    assert n_gd > 0
    assert (p.loc[p["codec"] == "group_dict_store", "page_id"] == -1).all()
    # every adopting partition carries its dict row
    gh_parts = set(p.loc[p["codec"] == "group_huffman", "part_id"])
    gd_parts = set(p.loc[p["codec"] == "group_dict_store", "part_id"])
    assert gh_parts <= gd_parts


def test_groupdict_roundtrip_bit_identical(spark, tokens_df, gd_pages):
    decoded = decode_table(gd_pages, GD_CFG)
    bad = roundtrip_check(tokens_df, decoded)
    assert bad.count() == 0, bad.limit(5).toPandas().to_string()


def test_groupdict_keep_if_smaller(spark, tokens_df):
    """With cluster_docs OFF the page set is identical to baseline, so the
    adoption rule (exact bytes, dict row charged) can only shrink totals."""
    import dataclasses

    cfg = dataclasses.replace(BASE_CFG, group_dict=True)
    base = encode_table(tokens_df, BASE_CFG).agg(F.sum("enc_bytes")).collect()[0][0]
    gd = encode_table(tokens_df, cfg).agg(F.sum("enc_bytes")).collect()[0][0]
    assert gd <= base, f"group_dict grew the table: {gd} > {base}"


def test_groupdict_dial_mode_bits():
    """group_dict / cluster_docs are mode bits (cross-config lineage must
    never match), and the allow-listed fingerprint still fits int64."""
    import dataclasses

    modes = {
        c.mode
        for c in (
            BASE_CFG,
            dataclasses.replace(BASE_CFG, group_dict=True),
            dataclasses.replace(BASE_CFG, cluster_docs=True),
            GD_CFG,
        )
    }
    assert len(modes) == 4
    allow = dataclasses.replace(GD_CFG, codec_allowlist=("plain", "rle", "huffman"))
    assert 0 < allow.mode < 2**63
    assert allow.mode != GD_CFG.mode


def test_groupdict_adoption_honors_codec_allowlist(spark, tokens_df, gd_pages):
    """group_dict=True + an allow-list WITHOUT group_huffman must emit zero
    group pages (ADVICE r5 low: adoption bypassed allowed_tags, silently
    violating a decode-compat pin); the same allow-list WITH it adopts."""
    import dataclasses

    deny = dataclasses.replace(
        GD_CFG, codec_allowlist=("huffman", "dict", "rle", "zlib")
    )
    p = encode_table(tokens_df, deny).select("codec").toPandas()
    assert not p["codec"].isin(["group_huffman", "group_dict_store"]).any()

    allow = dataclasses.replace(
        GD_CFG, codec_allowlist=("huffman", "dict", "rle", "zlib", "group_huffman")
    )
    p2 = encode_table(tokens_df, allow).select("codec").toPandas()
    assert (p2["codec"] == "group_huffman").any()


def test_groupdict_lineage_replay_byte_identical(spark, tokens_df, gd_pages):
    """Forced 'group_huffman' replay re-derives the dictionary from the
    content-pure training rule — bytes must match the first run exactly."""
    cols = ["part_id", "page_id", "codec", "checksum", "enc_bytes", "payload_crc"]

    def sig(pages):
        return (
            pages.orderBy("part_id", "page_id")
            .select(
                "part_id", "page_id", "codec", "checksum", "enc_bytes",
                F.crc32(F.col("payload")).alias("payload_crc"), "resumed",
            )
            .toPandas()
        )

    s1 = sig(gd_pages)
    lineage = lineage_from_pages(gd_pages, GD_CFG.mode)
    assert lineage.filter(F.col("plan").contains("group_dict_store")).count() == 0
    second = encode_table(tokens_df, GD_CFG, lineage=lineage)
    s2 = sig(second)
    assert (s2.loc[s2["page_id"] >= 0, "resumed"] == 1).all()
    assert s1[cols].equals(s2[cols]), "group_dict replay must be byte-identical"


def test_groupdict_split_hints_exclude_dict_row(spark, gd_pages):
    hints = split_hints_from_pages(gd_pages).toPandas()
    for b in hints["boundaries"]:
        assert "-" not in b and not b.startswith("[0,"), b


def test_groupdict_store_roundtrip(spark, tokens_df, gd_pages, tmp_path):
    """Dict-row-before-data-pages survives the store: write partitioned,
    read back, decode — the (part_id, page_id) sortWithinPartitions keeps
    the dictionary streaming ahead of its group's pages."""
    from zopfli_spark.sources.store import commit_snapshot, read_pages

    root = str(tmp_path / "store")
    commit_snapshot(gd_pages, root)
    back = read_pages(spark, root)
    bad = roundtrip_check(tokens_df, decode_table(back, GD_CFG))
    assert bad.count() == 0


def test_groupdict_store_survives_scan_splitting(spark, tokens_df, gd_pages, tmp_path):
    """At 100 TB, files larger than maxPartitionBytes get split across scan
    partitions — but only at parquet ROW GROUP boundaries, and write_pages
    emits each file as a single row group, so a group's dictionary can never
    be separated from its pages. Force maximum split pressure (1 MB
    maxPartitionBytes — far below the store's file sizes) and decode must
    still be exact."""
    from zopfli_spark.sources.store import commit_snapshot, read_pages

    root = str(tmp_path / "store")
    commit_snapshot(gd_pages, root)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    try:
        back = read_pages(spark, root)
        bad = roundtrip_check(tokens_df, decode_table(back, GD_CFG))
        assert bad.count() == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # the written files really are single-row-group
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(root + "/pages/part_id=*/*.parquet")
    assert files and all(pq.ParquetFile(f).num_row_groups == 1 for f in files)


def test_groupdict_pairing_invariant_marginal_sizes(spark):
    """The dict-row accounting (ship iff adopted savings beat the row,
    else revert every adoption) must leave a consistent table at ANY
    content size: group_huffman pages exist iff their group_dict_store row
    does, and decode is exact either way. Small sizes sit near the
    revert/adopt boundary on purpose."""
    for n_docs in (30, 120, 600):
        df = synth_tokens_df(spark, n_docs, seed=n_docs)
        pages = encode_table(df, GD_CFG).cache()
        p = pages.select("part_id", "codec").toPandas()
        gh_parts = set(p.loc[p["codec"] == "group_huffman", "part_id"])
        gd_parts = set(p.loc[p["codec"] == "group_dict_store", "part_id"])
        assert gh_parts == gd_parts, (n_docs, gh_parts, gd_parts)
        bad = roundtrip_check(df, decode_table(pages, GD_CFG))
        assert bad.count() == 0, n_docs
        pages.unpersist()


def test_groupdict_snapshot_roundtrip(spark, tokens_df, gd_pages, tmp_path):
    """The snapshot layer (commit → read_pages of the files a manifest
    lists) preserves the dict-row-before-pages stream too: every file keeps
    the part_id layout and one row group."""
    from zopfli_spark.sources.store import commit_snapshot, read_pages

    root = str(tmp_path / "snapstore")
    commit_snapshot(gd_pages, root)
    back = read_pages(spark, root)
    assert back.filter(back.codec == "group_dict_store").count() > 0
    bad = roundtrip_check(tokens_df, decode_table(back, GD_CFG))
    assert bad.count() == 0


def test_groupdict_determinism_across_parallelism(spark):
    df = synth_tokens_df(spark, n_docs=300, seed=11)
    sigs = []
    for parts in (2, 7):
        pages = encode_table(df.repartition(parts), GD_CFG)
        sigs.append(
            pages.orderBy("part_id", "page_id")
            .select("part_id", "page_id", "codec", "checksum", "enc_bytes")
            .toPandas()
        )
    assert sigs[0].equals(sigs[1])


# --- split-time pricing of the group_huffman candidate (r6) ----------------


def test_rangecost_group_bits_column_changes_split():
    """Two segments with IDENTICAL bucket histograms (the entropy estimator
    cannot tell them apart, so splitting buys it nothing but a header) but
    different cost under the group code: without the gh column the splitter
    keeps one mixed page; with it, the transition row becomes a boundary —
    the exact blindness of VERDICT r5 missing #1."""
    from zopfli_spark.pages import split_by_cost

    rng = np.random.default_rng(7)
    n_docs, doc_len = 48, 64
    half = n_docs // 2
    # bucket k = v >> 8 for span 2^16: A uses 256k, B uses 256k+128 — same
    # bucket sequence, disjoint alphabets
    ks = rng.integers(0, 255, (n_docs, doc_len))
    vals = (ks * 256).astype(np.int64)
    vals[half:] += 128
    vals[0, 0], vals[-1, -1] = 0, (1 << 16) - 1  # pin span
    values = vals.reshape(-1)
    lens = np.full(n_docs, doc_len, dtype=np.int64)
    gh_bits = np.full(len(values), 30.0)
    gh_bits[: half * doc_len] = 4.0  # A-half is cheap under the shared code
    kw = dict(page_budget=1 << 20, max_pages=64)
    for mode in ("greedy", "dp"):
        blind = split_by_cost(values, lens, mode=mode, **kw)
        priced = split_by_cost(
            values, lens, mode=mode, gh_bits_per_value=gh_bits, **kw
        )
        assert half not in blind.tolist(), (mode, blind)
        assert half in priced.tolist(), (mode, priced)


def test_group_code_split_pricing_end_to_end_bytes_and_roundtrip(spark):
    """Split-time group-code pricing end to end on a crafted mixture
    (dict-coverable zipf content adjacent to near-uniform wide content in
    ONE group): adoption must fire, the bytes must match the pinned total,
    and the stream must roundtrip bit-identically."""
    import dataclasses

    rng = np.random.default_rng(99)
    rows = []
    for i in range(30):  # heavy-tail, shared-dictionary-friendly
        t = (np.minimum(rng.zipf(1.2, 2000), 30_000) - 1).astype(np.int64)
        rows.append((f"zipf_{i:03d}", [int(x) for x in t], len(t), "z"))
    for i in range(30):  # near-uniform wide content — never adopts
        t = rng.integers(0, 1 << 30, 2000).astype(np.int64)
        rows.append((f"unif_{i:03d}", [int(x) for x in t], len(t), "u"))
    df = spark.createDataFrame(
        rows, "doc_id string, tokens array<long>, n_tok int, source string"
    ).cache()
    cfg_on = dataclasses.replace(
        GD_CFG, page_budget_values=30_000, group_budget_values=150_000
    )
    pages_on = encode_table(df, cfg_on).cache()
    b_on = pages_on.agg(F.sum("enc_bytes")).collect()[0][0]
    # exact total: split-time pricing is on whenever group_dict is, so any
    # byte it moves on the group-dict path shows here
    assert b_on == 287_834, b_on
    assert (pages_on.toPandas()["codec"] == "group_huffman").any()
    bad = roundtrip_check(df, decode_table(pages_on, cfg_on))
    assert bad.count() == 0
