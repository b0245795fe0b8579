"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over the
driver's testdata. The round-trip queries are the strongest correctness gates:
they push real tables through the full encode → decode pipeline and return
aggregates computed FROM THE DECODED ARRAYS, so the DuckDB oracle (which never
sees the codecs) only matches if decoding is bit-identical.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from zopfli_spark import EngineConfig, decode_table, encode_table, metrics_table
from zopfli_spark.datagen import synth_tokens_df

# Geometry scales with the input's scale factor (VERDICT r1 #3: a fixed
# sf0.01 geometry forced sf0.1 through ~40 tiny groups with a full codec
# search each, making a correctness gate the slowest bench query). The
# smallest sf keeps tiny pages so even 60-row tables exercise multi-page,
# multi-group plans; larger sfs grow budgets proportionally so per-group
# fixed overhead amortizes — the same reasoning a 100 TB run applies when
# sizing groups off `sum(n_tok)` (plans/planner.py).
_SF_CFG = (
    # (max_sf, page_budget, group_budget, giant_doc)
    (0.005, 4_000, 16_000, 8_000),
    (0.05, 8_000, 32_000, 16_000),
    (float("inf"), 32_000, 131_072, 65_536),
)


def _cfg_for(sf_dir: str) -> EngineConfig:
    try:
        sf = float(str(sf_dir).rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    for max_sf, page, group, giant in _SF_CFG:
        if sf < max_sf:
            return EngineConfig(
                page_budget_values=page,
                group_budget_values=group,
                giant_doc_values=giant,
                max_pages_per_group=16,
            )
    raise AssertionError("unreachable")


# legacy name used by the smallest-sf entry(); kept for tests
_CFG = _cfg_for("/root/testdata/sf0.001")


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _lineitem_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens table derived deterministically from lineitem: one doc per
    order, tokens = sorted l_partkey list (fits int32 at every sf)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.col("l_partkey").cast("int"))).alias("tokens"))
        .select(
            F.format_string("doc_%09d", F.col("l_orderkey")).alias("doc_id"),
            "tokens",
            F.size("tokens").cast("int").alias("n_tok"),
            F.lit("lineitem").alias("source"),
        )
    )


#: results whose input holds more rows than this sort by range partitioning
#: instead of in one task (see :func:`_ordered`)
_SINGLE_SORT_MAX_ROWS = 1_000_000


def _input_rows(df: DataFrame) -> int | None:
    """Σ rows of the parquet files ``df`` reads, from their footers (no
    Spark job), or None when a footer cannot be read: Spark lists files by
    URIs such as ``s3a://`` that pyarrow cannot open."""
    try:
        return sum(pq.read_metadata(f).num_rows for f in df.inputFiles())
    except Exception:
        return None


def _ordered(df: DataFrame, *cols) -> DataFrame:
    """Total order for a final result, without a range exchange when the
    result is small (r7).

    A plain ``orderBy`` compiles to a range-partitioned sort whose sampling
    pass EXECUTES THE WHOLE CHILD PLAN a second time just to pick partition
    bounds — for the round-trip queries that child is the full
    encode→decode pipeline (measured on sf0.1: 4.7 s → 2.5 s for
    roundtrip_lineitem with identical rows AND identical order). One
    round-robin exchange into a single partition plus an in-partition sort
    executes the child once, but funnels the whole result through one task.

    The per-doc and per-group queries return at most one row per input
    row, so the rows of the tables ``df`` reads bound that task (the pair
    queries return the near-duplicate pairs their filters keep, which this
    bound does not cover). Up to ``_SINGLE_SORT_MAX_ROWS`` input rows
    (sf0.1's largest table, lineitem, holds 600 K) the result sorts in one
    task; above it, or when the input cannot be counted, it takes the range
    sort, whose tasks stay bounded as the documents grow. Both give the
    same rows in the same order."""
    rows = _input_rows(df)
    if rows is None or rows > _SINGLE_SORT_MAX_ROWS:
        return df.orderBy(*cols)
    return df.repartition(1).sortWithinPartitions(*cols)


def _roundtrip_agg(
    docs: DataFrame, cfg: EngineConfig = _CFG, total_values: int | None = None
) -> DataFrame:
    """encode → decode → per-doc aggregates over the DECODED arrays.

    ``total_values``: caller-supplied Σ n_tok (exact). Without it,
    encode_table's planner runs a serialized pre-encode aggregation pass
    over ``docs`` — for these queries that recomputes the whole
    groupBy+collect_list derivation once more just to size the groups.
    Each query below derives the same total from a cheap base-table
    aggregate instead (r7; group geometry is unchanged because the totals
    are exact)."""
    pages = encode_table(docs, cfg, total_values=total_values)
    decoded = decode_table(pages, cfg)
    out = decoded.select(
        "doc_id",
        F.size("tokens").cast("bigint").alias("n_dec"),
        F.aggregate("tokens", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("tok_sum"),
    )
    return _ordered(out, "doc_id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _lineitem_total_tokens(spark: SparkSession, sf_dir: str) -> int:
    """Σ n_tok of the lineitem-derived docs = one row per lineitem line —
    a metadata-cheap count instead of re-running the collect_list pipeline."""
    return _read(spark, sf_dir, "lineitem").count()


def q_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip_agg(
        _lineitem_docs(spark, sf_dir),
        _cfg_for(sf_dir),
        total_values=_lineitem_total_tokens(spark, sf_dir),
    )


def q_roundtrip_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-heavy docs (array_repeat) — exercises the RLE/constant codecs."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    docs = li.select(
        F.format_string("rle_%09d", F.col("l_orderkey")).alias("doc_id"),
        F.array_repeat(F.col("l_partkey").cast("int"), 64).alias("tokens"),
        F.lit(64).cast("int").alias("n_tok"),
        F.lit("rle").alias("source"),
    )
    total = 64 * li.count()
    return _roundtrip_agg(docs, _cfg_for(sf_dir), total_values=total)


def q_roundtrip_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ascending docs (sequence) — exercises delta+bitpack."""
    ords = _read(spark, sf_dir, "orders")
    docs = ords.select(
        F.format_string("asc_%09d", F.col("o_orderkey")).alias("doc_id"),
        F.sequence(F.lit(1), (F.pmod(F.col("o_orderkey"), F.lit(500)) + F.lit(3)).cast("int")).alias("tokens"),
    ).select(
        "doc_id",
        F.col("tokens").cast("array<int>").alias("tokens"),
        F.size("tokens").cast("int").alias("n_tok"),
        F.lit("asc").alias("source"),
    )
    total = int(
        ords.agg(
            F.sum((F.pmod(F.col("o_orderkey"), F.lit(500)) + F.lit(3)).cast("bigint"))
        ).collect()[0][0]
        or 0
    )
    return _roundtrip_agg(docs, _cfg_for(sf_dir), total_values=total)


def q_roundtrip_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Low-cardinality docs from events per user — exercises dict codecs."""
    ev = _read(spark, sf_dir, "events")
    docs = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.pmod(F.col("event_id"), F.lit(97)).cast("int"))
            ).alias("tokens")
        )
        .select(
            F.format_string("usr_%09d", F.col("user_id")).alias("doc_id"),
            "tokens",
            F.size("tokens").cast("int").alias("n_tok"),
            F.lit("events").alias("source"),
        )
    )
    return _roundtrip_agg(docs, _cfg_for(sf_dir), total_values=ev.count())


def q_roundtrip_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-search modes through the full correctness gate: forward-DP page
    segmentation (GetBestLengths/TraceBackwards analog) + the --all mode
    grid, over the low-cardinality events docs (row counts within the DP
    sweep bound at every sf). Same oracle as roundtrip_dict — the point is
    that the deep search changes page geometry, never decoded bytes."""
    import dataclasses

    cfg = dataclasses.replace(_cfg_for(sf_dir), split_mode="dp", mode_grid=True)
    ev = _read(spark, sf_dir, "events")
    docs = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.pmod(F.col("event_id"), F.lit(97)).cast("int"))
            ).alias("tokens")
        )
        .select(
            F.format_string("usr_%09d", F.col("user_id")).alias("doc_id"),
            "tokens",
            F.size("tokens").cast("int").alias("n_tok"),
            F.lit("events").alias("source"),
        )
    )
    return _roundtrip_agg(docs, cfg, total_values=ev.count())


def q_roundtrip_groupdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level shared Huffman dictionary + content-clustered doc order
    through the full correctness gate (r5: the EncodeTree header-
    amortization idea across pages, reference src/zopfli/deflate.c:118-293).

    Tokens are a harmonic transform of lineitem partkeys
    (``65536 div (1 + pk % 512)`` — integer-exact in both engines): the
    resulting ~1/v² frequency histogram is entropy-bound with cardinality
    in shared-dictionary territory, so at sf0.01 every regular group
    actually adopts (group_dict_store + group_huffman pages on disk), and
    the decoded aggregates must still match DuckDB exactly. The shared
    dictionary changes page payloads and row order, never decoded bytes."""
    import dataclasses

    li = _read(spark, sf_dir, "lineitem")
    docs = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.col("l_partkey").cast("int"))).alias("t0"))
        .select(
            F.format_string("doc_%09d", F.col("l_orderkey")).alias("doc_id"),
            F.expr("transform(t0, x -> CAST(65536 div (1 + x % 512) AS INT))").alias(
                "tokens"
            ),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .withColumn("source", F.lit("lineitem"))
    )
    cfg = dataclasses.replace(_cfg_for(sf_dir), group_dict=True, cluster_docs=True)
    return _roundtrip_agg(
        docs, cfg, total_values=_lineitem_total_tokens(spark, sf_dir)
    )


def q_roundtrip_mixedscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-scale content through the full r6 estimator stack: each doc
    holds a heavy-tail half (harmonic transform, card ≤ 512 — shared-
    dictionary territory) AND a wide pseudo-uniform half (multiplicative
    hash into 2^30 — bitpack territory), so every group is exactly the
    zipf+wide mixture the quantile buckets + conditional-entropy card term
    + group-code pricing were built for (the pre-r6 linear estimator read
    such groups as ~0 bits and mis-split them — BENCH.md round-6). Both
    derivations are integer-exact in Spark and DuckDB; the estimator
    changes page geometry only, never decoded bytes."""
    import dataclasses

    li = _read(spark, sf_dir, "lineitem")
    docs = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.col("l_partkey").cast("bigint"))).alias("t0"))
        .select(
            F.format_string("mix_%09d", F.col("l_orderkey")).alias("doc_id"),
            F.expr(
                "concat("
                " transform(t0, x -> CAST(65536 div (1 + x % 512) AS INT)),"
                " transform(t0, x -> CAST((x * 2654435761) % 1073741824 AS INT)))"
            ).alias("tokens"),
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .withColumn("source", F.lit("mix"))
    )
    cfg = dataclasses.replace(
        _cfg_for(sf_dir),
        group_dict=True,
        cluster_docs=True,
        split_card_term=True,
    )
    return _roundtrip_agg(
        docs, cfg, total_values=2 * _lineitem_total_tokens(spark, sf_dir)
    )


def q_pages_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row/value conservation through the page pipeline."""
    pages = encode_table(
        _lineitem_docs(spark, sf_dir),
        _cfg_for(sf_dir),
        total_values=_lineitem_total_tokens(spark, sf_dir),
    )
    return pages.agg(
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.sum("n_values").cast("bigint").alias("total_values"),
        F.sum("raw_bytes").cast("bigint").alias("total_raw_bytes"),
    )


def q_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced partition planning aggregation (master-block sizing
    analog) with an oracle-expressible grouping key."""
    docs = _lineitem_docs(spark, sf_dir)
    grp = F.pmod(F.substring("doc_id", -3, 3).cast("bigint"), F.lit(8))
    out = (
        docs.withColumn("grp", grp)
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tok"),
            F.max("n_tok").cast("bigint").alias("max_tok"),
        )
    )
    return _ordered(out, "grp")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis surface: per-source doc stats over `documents`."""
    d = _read(spark, sf_dir, "documents")
    out = (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))).cast("bigint").alias("n_spaces"),
        )
    )
    return _ordered(out, "source")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash over `documents` (training-data op)."""
    d = _read(spark, sf_dir, "documents")
    out = (
        d.groupBy(F.md5(F.col("text")).alias("content_md5"))
        .agg(
            F.count("*").cast("bigint").alias("dup_count"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .filter(F.col("dup_count") >= 1)
    )
    return _ordered(out, "content_md5")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zopfli_spark.functions.text import token_stats

    out = token_stats(_read(spark, sf_dir, "documents"))
    return _ordered(out, "doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zopfli_spark.functions.text import quality_score

    out = quality_score(_read(spark, sf_dir, "documents")).select(
        "doc_id", "quality_x1000"
    )
    return _ordered(out, "doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zopfli_spark.functions.text import lang_id

    out = lang_id(_read(spark, sf_dir, "documents"))
    return _ordered(out, "doc_id")


def q_ngram_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zopfli_spark.functions.text import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    out = (
        ngram_jaccard_pairs(
            docs, k=8, threshold=0.15, bucket_cols=("lang",), max_shingle_df=250
        )
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.col("common").cast("bigint").alias("common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
    )
    return _ordered(out, "id_a", "id_b")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zopfli_spark.functions.similarity import brute_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    out = brute_topk(queries_df, emb, k=3).select(
        F.col("query_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("neighbor_id").cast("bigint"),
        F.col("qdot").cast("bigint"),
    )
    return _ordered(out, "query_id", "rank")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with estimated Jaccard. Portable hash
    mode (md5-prefix base hash + affine permutations mod 2^31-1) so the
    DuckDB oracle replays signatures, banding, and the estimate exactly."""
    from zopfli_spark.functions.text import (
        lsh_candidate_pairs,
        minhash_jaccard_estimate,
        minhash_signatures,
    )

    docs = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, k=8, n_hashes=32, hash_mode="portable").cache()
    pairs = lsh_candidate_pairs(sigs, n_hashes=32, bands=8, hash_mode="portable")
    out = (
        minhash_jaccard_estimate(sigs, pairs, n_hashes=32)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "jaccard_est",
        )
    )
    return _ordered(out, "id_a", "id_b")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per doc (portable 60-bit md5-prefix hash — oracle-replayable)."""
    from zopfli_spark.functions.text import simhash64

    out = (
        simhash64(_read(spark, sf_dir, "documents"), k=4, hash_mode="portable")
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), "simhash")
    )
    return _ordered(out, "doc_id")


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (scale path). Portable integer
    hyperplanes over quantized vectors so the oracle replays bucketing,
    multi-probe, and re-rank bit-identically."""
    from zopfli_spark.functions.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    out = (
        lsh_topk(
            emb.filter(F.col("vec_id") < 20), emb, k=3, dim=64, plane_mode="portable"
        )
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            F.col("qdot").cast("bigint").alias("qdot"),
        )
    )
    return _ordered(out, "query_id", "rank")


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brief: dedup family): LSH-bucketed
    candidates + integer-exact cosine threshold over quantized vectors —
    portable planes, so the oracle replays buckets AND threshold exactly."""
    from zopfli_spark.functions.similarity import lsh_near_dup

    emb = _read(spark, sf_dir, "embeddings")
    out = (
        lsh_near_dup(emb, threshold_pct=40, dim=64, plane_mode="portable")
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.col("qdot").cast("bigint").alias("qdot"),
        )
    )
    return _ordered(out, "id_a", "id_b")


def q_setops_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op verification surface: exceptAll between input and decoded rows
    must be empty in BOTH directions (SURVEY §2.7) — pushed through the full
    encode→decode pipeline, per source."""
    docs = _lineitem_docs(spark, sf_dir)
    cfg = _cfg_for(sf_dir)
    total = _lineitem_total_tokens(spark, sf_dir)
    decoded = decode_table(encode_table(docs, cfg, total_values=total), cfg)
    a = docs.select("doc_id", F.col("tokens").cast("string").alias("t"))
    b = decoded.select("doc_id", F.col("tokens").cast("string").alias("t"))
    return spark.createDataFrame(
        [(a.exceptAll(b).count(), b.exceptAll(a).count())],
        "missing_after_decode bigint, extra_after_decode bigint",
    )


def q_metrics_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics reporting surface: top-k by token mass over the engine's
    DECODED output (sort/limit through a full encode→decode). The reported
    values are pure functions of the input — so the top-k is exactly
    oracle-checkable (r2's page-ratio view was engine-internal and rows-only
    checkable; VERDICT r2 next #8). Total ordering (n_tok desc, doc_id)
    makes the limit cutoff deterministic on both sides."""
    cfg = _cfg_for(sf_dir)
    dec = decode_table(
        encode_table(
            _lineitem_docs(spark, sf_dir),
            cfg,
            total_values=_lineitem_total_tokens(spark, sf_dir),
        ),
        cfg,
    )
    return (
        dec.select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            F.aggregate("tokens", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("tok_sum"),
        )
        .orderBy(F.col("n_tok").desc(), "doc_id")
        .limit(10)
    )


def q_distinct_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-viability prescreen (SURVEY §2.7): exact distinct counts per
    source as the oracle-checkable form of the approx_count_distinct gate."""
    li = _read(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").cast("bigint").alias("n_distinct_parts"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )
    return _ordered(out, "l_returnflag")


def q_window_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable in-partition row/page-id assignment via window functions — the
    in-order-merge analog (reference src/zopfli/deflate.c:1574-1595), with an
    engine-portable grouping key so DuckDB can replay it exactly."""
    from pyspark.sql import Window

    docs = _lineitem_docs(spark, sf_dir)
    grp = F.pmod(F.substring("doc_id", -3, 3).cast("bigint"), F.lit(8))
    w = Window.partitionBy("grp").orderBy("doc_id")
    out = (
        docs.withColumn("grp", grp)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "cum_tok",
            F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
        )
        .select("doc_id", F.col("grp").cast("bigint"), "rn", "cum_tok")
    )
    return _ordered(out, "doc_id")


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zopfli_spark.functions.text import winnow_fingerprints

    out = (
        winnow_fingerprints(_read(spark, sf_dir, "documents"), k=8, window=4)
        .select(F.col("doc_id").cast("bigint"), F.col("fingerprint").cast("bigint"))
    )
    return _ordered(out, "doc_id", "fingerprint")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over binary payloads derived from documents
    (decode step is a deterministic stub; shape contract oracle-checked)."""
    from zopfli_spark.functions.multimodal import extract_features

    media = _read(spark, sf_dir, "documents").select(
        F.format_string("m_%09d", F.col("doc_id")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        (F.pmod(F.col("n_chars"), F.lit(48)) + F.lit(16)).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(48)) + F.lit(16)).cast("int").alias("height"),
        F.lit(1).cast("int").alias("n_frames"),
        F.lit(0).cast("int").alias("sample_rate"),
    )
    out = (
        extract_features(media, out_w=16, out_h=16, max_frames=2)
        .select(
            "media_id",
            F.col("out_width").cast("bigint"),
            F.col("out_height").cast("bigint"),
            F.col("n_frames_sampled").cast("bigint"),
        )
    )
    return _ordered(out, "media_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "roundtrip_lineitem": q_roundtrip_lineitem,
        "roundtrip_rle": q_roundtrip_rle,
        "roundtrip_delta": q_roundtrip_delta,
        "roundtrip_dict": q_roundtrip_dict,
        "roundtrip_deep": q_roundtrip_deep,
        "roundtrip_groupdict": q_roundtrip_groupdict,
        "roundtrip_mixedscale": q_roundtrip_mixedscale,
        "pages_inventory": q_pages_inventory,
        "partition_plan": q_partition_plan,
        "doc_stats": q_doc_stats,
        "exact_dedup": q_exact_dedup,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "ngram_near_dup": q_ngram_near_dup,
        "ann_topk": q_ann_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "lsh_ann_topk": q_lsh_ann_topk,
        "embed_near_dup": q_embed_near_dup,
        "setops_verify": q_setops_verify,
        "metrics_topk": q_metrics_topk,
        "distinct_prescreen": q_distinct_prescreen,
        "window_layout": q_window_layout,
        "winnow_fingerprints": q_winnow_fingerprints,
        "media_features": q_media_features,
    }


# --- oracle SQL generators for the portable-hash queries -------------------
# (the SQL mirrors zopfli_spark/functions/text.py + similarity.py portable
# modes term for term; constants must stay in sync with _permute_coeffs /
# portable_planes)

_M31 = 2147483647


def _sql_simhash(n_bits: int = 60, k: int = 4) -> str:
    votes = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    sim = "\n                 + ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(n_bits)
    )
    return f"""
        WITH sh AS (
          SELECT DISTINCT d.doc_id, substring(d.text, gs.i, {k}) AS shingle
          FROM documents d,
               LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - {k - 1}, 0)))) AS gs(i)
        ),
        h AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
        v AS (SELECT doc_id, {votes}
              FROM h GROUP BY doc_id)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {sim} AS simhash
        FROM v ORDER BY doc_id
    """


def _sql_minhash_lsh(n_hashes: int = 32, bands: int = 8, k: int = 8) -> str:
    rows_per_band = n_hashes // bands
    mins = []
    for i in range(n_hashes):
        a = (2654435761 * i + 1000003) % _M31
        b = (40503 * i + 17) % _M31
        mins.append(f"min(({a} * h0 + {b}) % {_M31}) AS h{i}")
    mins_sql = ",\n               ".join(mins)
    band_selects = []
    for bnd in range(bands):
        idx = range(bnd * rows_per_band, (bnd + 1) * rows_per_band)
        joined = " || '-' || ".join(f"CAST(h{i} AS VARCHAR)" for i in idx)
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band, "
            f"CAST(('0x' || substr(md5({joined}), 1, 15)) AS BIGINT) AS bucket FROM sig"
        )
    bands_sql = "\n              UNION ALL ".join(band_selects)
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return f"""
        WITH sh AS (
          SELECT DISTINCT d.doc_id, substring(d.text, gs.i, {k}) AS shingle
          FROM documents d,
               LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - {k - 1}, 0)))) AS gs(i)
        ),
        hh AS (SELECT doc_id,
                      CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {_M31} AS h0
               FROM sh),
        sig AS (SELECT doc_id, {mins_sql}
                FROM hh GROUP BY doc_id),
        bk AS ({bands_sql}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id)
        SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
               ({agree}) / {float(n_hashes)} AS jaccard_est
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b
        ORDER BY id_a, id_b
    """


def _sql_embed_near_dup(n_planes: int = 6, n_tables: int = 8, num: int = 4, den: int = 25) -> str:
    """Mirror of lsh_near_dup(threshold_pct=40) — (40/100)² = 4/25."""
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qv
          FROM embeddings),
        n AS (
          SELECT vec_id, qv,
                 CAST(list_sum(list_transform(range(len(qv)), d -> qv[d + 1] * qv[d + 1])) AS BIGINT) AS n2
          FROM v),
        bk AS (
          SELECT vec_id, ts.t AS tbl,
                 list_sum(list_transform(range({n_planes}), i ->
                   CASE WHEN list_sum(list_transform(range(len(qv)), d ->
                          qv[d + 1] * (((1315423911 * ts.t + 2654435761 * i + 97 * d) % 7) - 3))) > 0
                        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS bucket
          FROM v, (SELECT unnest(generate_series(0, {n_tables - 1})) AS t) ts),
        cands AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
          WHERE a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b,
               CAST(list_sum(list_transform(range(len(na.qv)), d ->
                    na.qv[d + 1] * nb.qv[d + 1])) AS BIGINT) AS qdot
        FROM cands c
        JOIN n na ON na.vec_id = c.id_a
        JOIN n nb ON nb.vec_id = c.id_b
        WHERE CAST(list_sum(list_transform(range(len(na.qv)), d ->
                   na.qv[d + 1] * nb.qv[d + 1])) AS BIGINT) > 0
          AND CAST(list_sum(list_transform(range(len(na.qv)), d ->
                   na.qv[d + 1] * nb.qv[d + 1])) AS BIGINT)
              * CAST(list_sum(list_transform(range(len(na.qv)), d ->
                   na.qv[d + 1] * nb.qv[d + 1])) AS BIGINT) * {den}
              >= {num} * na.n2 * nb.n2
        ORDER BY id_a, id_b
    """


def _sql_lsh_ann_topk(n_planes: int = 6, n_tables: int = 8, kk: int = 3) -> str:
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS qv
          FROM embeddings),
        bk AS (
          SELECT vec_id, ts.t AS tbl,
                 list_sum(list_transform(range({n_planes}), i ->
                   CASE WHEN list_sum(list_transform(range(len(qv)), d ->
                          qv[d + 1] * (((1315423911 * ts.t + 2654435761 * i + 97 * d) % 7) - 3))) > 0
                        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS bucket
          FROM v, (SELECT unnest(generate_series(0, {n_tables - 1})) AS t) ts),
        qp AS (
          SELECT vec_id AS query_id, tbl,
                 unnest(list_prepend(bucket,
                   list_transform(range({n_planes}), i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS bucket
          FROM bk WHERE vec_id < 20),
        cands AS (
          SELECT DISTINCT qp.query_id, bk.vec_id AS neighbor_id
          FROM qp JOIN bk ON qp.tbl = bk.tbl AND qp.bucket = bk.bucket
          WHERE qp.query_id != bk.vec_id),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 CAST(list_sum(list_transform(range(len(qa.qv)), d ->
                      qa.qv[d + 1] * qb.qv[d + 1])) AS BIGINT) AS qdot
          FROM cands c
          JOIN v qa ON qa.vec_id = c.query_id
          JOIN v qb ON qb.vec_id = c.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, qdot,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY qdot DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
               CAST(neighbor_id AS BIGINT) AS neighbor_id, qdot
        FROM ranked WHERE rank <= {kk} ORDER BY query_id, rank
    """


def oracle_sql() -> dict[str, str]:
    return {
        "roundtrip_lineitem": """
            SELECT printf('doc_%09d', l_orderkey) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_dec,
                   CAST(sum(l_partkey) AS BIGINT) AS tok_sum
            FROM lineitem GROUP BY l_orderkey ORDER BY doc_id
        """,
        "roundtrip_rle": """
            SELECT printf('rle_%09d', l_orderkey) AS doc_id,
                   CAST(64 AS BIGINT) AS n_dec,
                   CAST(64 * l_partkey AS BIGINT) AS tok_sum
            FROM lineitem WHERE l_linenumber = 1 ORDER BY doc_id
        """,
        "roundtrip_delta": """
            SELECT printf('asc_%09d', o_orderkey) AS doc_id,
                   CAST((o_orderkey % 500) + 3 AS BIGINT) AS n_dec,
                   CAST(((o_orderkey % 500) + 3) * ((o_orderkey % 500) + 4) / 2 AS BIGINT) AS tok_sum
            FROM orders ORDER BY doc_id
        """,
        "roundtrip_dict": """
            SELECT printf('usr_%09d', user_id) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_dec,
                   CAST(sum(event_id % 97) AS BIGINT) AS tok_sum
            FROM events GROUP BY user_id ORDER BY doc_id
        """,
        "roundtrip_deep": """
            SELECT printf('usr_%09d', user_id) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_dec,
                   CAST(sum(event_id % 97) AS BIGINT) AS tok_sum
            FROM events GROUP BY user_id ORDER BY doc_id
        """,
        "roundtrip_groupdict": """
            SELECT printf('doc_%09d', l_orderkey) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_dec,
                   CAST(sum(65536 // (1 + l_partkey % 512)) AS BIGINT) AS tok_sum
            FROM lineitem GROUP BY l_orderkey ORDER BY doc_id
        """,
        "roundtrip_mixedscale": """
            SELECT printf('mix_%09d', l_orderkey) AS doc_id,
                   CAST(2 * count(*) AS BIGINT) AS n_dec,
                   CAST(sum(65536 // (1 + l_partkey % 512))
                        + sum((l_partkey * 2654435761) % 1073741824) AS BIGINT)
                       AS tok_sum
            FROM lineitem GROUP BY l_orderkey ORDER BY doc_id
        """,
        "metrics_topk": """
            SELECT printf('doc_%09d', l_orderkey) AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_tok,
                   CAST(sum(l_partkey) AS BIGINT) AS tok_sum
            FROM lineitem GROUP BY l_orderkey
            ORDER BY n_tok DESC, doc_id LIMIT 10
        """,
        "pages_inventory": """
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS total_rows,
                   CAST(count(*) AS BIGINT) AS total_values,
                   CAST(4 * count(*) AS BIGINT) AS total_raw_bytes
            FROM lineitem
        """,
        "partition_plan": """
            WITH d AS (
              SELECT printf('doc_%09d', l_orderkey) AS doc_id,
                     CAST(count(*) AS BIGINT) AS n_tok
              FROM lineitem GROUP BY l_orderkey)
            SELECT CAST(substring(doc_id, length(doc_id) - 2, 3) AS BIGINT) % 8 AS grp,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS sum_tok,
                   CAST(max(n_tok) AS BIGINT) AS max_tok
            FROM d GROUP BY 1 ORDER BY grp
        """,
        "doc_stats": """
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(length(text) - length(replace(text, ' ', ''))) AS BIGINT) AS n_spaces
            FROM documents GROUP BY source ORDER BY source
        """,
        "exact_dedup": """
            SELECT md5(text) AS content_md5,
                   CAST(count(*) AS BIGINT) AS dup_count,
                   CAST(min(doc_id) AS BIGINT) AS keep_doc_id
            FROM documents GROUP BY md5(text)
            HAVING count(*) >= 1 ORDER BY content_md5
        """,
        "token_stats": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars2,
                   CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_ws_tokens,
                   CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
                   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
                   CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
            FROM documents ORDER BY doc_id
        """,
        "quality_score": """
            WITH s AS (
              SELECT doc_id,
                     length(text) AS n_chars2,
                     length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits
              FROM documents)
            SELECT doc_id,
                   CAST(floor(1000
                     - least(400, n_punct * 2000 / greatest(n_chars2, 1))
                     - least(300, n_digits * 1500 / greatest(n_chars2, 1))
                     - CASE WHEN n_chars2 < 64 THEN 300 ELSE 0 END) AS BIGINT) AS quality_x1000
            FROM s ORDER BY doc_id
        """,
        "lang_id": """
            WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS tx FROM documents),
            f AS (
              SELECT doc_id,
                CAST(floor((length(tx) - length(replace(tx, ' the ', ''))) / 5.0
                         + (length(tx) - length(replace(tx, ' and ', ''))) / 5.0) AS BIGINT) AS n_en,
                CAST(floor((length(tx) - length(replace(tx, ' der ', ''))) / 5.0
                         + (length(tx) - length(replace(tx, ' und ', ''))) / 5.0) AS BIGINT) AS n_de,
                CAST(floor((length(tx) - length(replace(tx, ' le ', ''))) / 4.0
                         + (length(tx) - length(replace(tx, ' et ', ''))) / 4.0) AS BIGINT) AS n_fr,
                CAST(floor((length(tx) - length(replace(tx, ' el ', ''))) / 4.0
                         + (length(tx) - length(replace(tx, ' que ', ''))) / 5.0) AS BIGINT) AS n_es
              FROM t)
            SELECT doc_id, n_en, n_de, n_fr, n_es,
                   CASE WHEN greatest(n_en, n_de, n_fr, n_es) <= 0 THEN 'unknown'
                        WHEN n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en'
                        WHEN n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de'
                        WHEN n_fr = greatest(n_en, n_de, n_fr, n_es) THEN 'fr'
                        ELSE 'es' END AS pred_lang
            FROM f ORDER BY doc_id
        """,
        "ngram_near_dup": """
            WITH sh0 AS (
              SELECT DISTINCT d.doc_id, d.lang, substring(d.text, gs.i, 8) AS shingle
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 7, 0)))) AS gs(i)
            ),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 250),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT CAST(c.id_a AS BIGINT) AS id_a, CAST(c.id_b AS BIGINT) AS id_b,
                   CAST(c.common AS BIGINT) AS common,
                   CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
            FROM common c
            JOIN sizes sa ON sa.doc_id = c.id_a
            JOIN sizes sb ON sb.doc_id = c.id_b
            WHERE c.common * 1.0 / (sa.n_sh + sb.n_sh - c.common) >= 0.15
            ORDER BY id_a, id_b
        """,
        "setops_verify": """
            SELECT CAST(0 AS BIGINT) AS missing_after_decode,
                   CAST(0 AS BIGINT) AS extra_after_decode
        """,
        "distinct_prescreen": """
            SELECT l_returnflag,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "window_layout": """
            WITH d AS (
              SELECT printf('doc_%09d', l_orderkey) AS doc_id,
                     CAST(count(*) AS BIGINT) AS n_tok
              FROM lineitem GROUP BY l_orderkey),
            g AS (
              SELECT doc_id, n_tok,
                     CAST(substring(doc_id, length(doc_id) - 2, 3) AS BIGINT) % 8 AS grp
              FROM d)
            SELECT doc_id, grp,
                   CAST(row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS BIGINT) AS rn,
                   CAST(sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
            FROM g ORDER BY doc_id
        """,
        "winnow_fingerprints": """
            WITH g AS (
              SELECT d.doc_id, gs.i,
                     CAST(('0x' || substr(md5(substring(d.text, gs.i, 8)), 1, 15)) AS BIGINT) AS h
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 7, 0)))) AS gs(i)
            ),
            w AS (
              SELECT doc_id, i,
                     min(h) OVER (PARTITION BY doc_id ORDER BY i
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                     count(*) OVER (PARTITION BY doc_id) AS nh
              FROM g)
            SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, fp AS fingerprint
            FROM w WHERE i <= nh - 3 ORDER BY doc_id, fingerprint
        """,
        "media_features": """
            SELECT printf('m_%09d', doc_id) AS media_id,
                   CAST(16 AS BIGINT) AS out_width,
                   CAST(16 AS BIGINT) AS out_height,
                   CAST(1 AS BIGINT) AS n_frames_sampled
            FROM documents ORDER BY media_id
        """,
        "simhash": _sql_simhash(),
        "minhash_lsh_pairs": _sql_minhash_lsh(),
        "lsh_ann_topk": _sql_lsh_ann_topk(),
        "embed_near_dup": _sql_embed_near_dup(),
        "ann_topk": """
            WITH q AS (
              SELECT vec_id AS query_id,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS INT)) AS qv
              FROM embeddings WHERE vec_id < 20),
            c AS (
              SELECT vec_id AS neighbor_id,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS INT)) AS cv
              FROM embeddings),
            scored AS (
              SELECT q.query_id, c.neighbor_id,
                     CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                          i -> CAST(q.qv[i] AS BIGINT) * cv[i])) AS BIGINT) AS qdot
              FROM q, c WHERE q.query_id != c.neighbor_id),
            ranked AS (
              SELECT query_id, neighbor_id, qdot,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qdot DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS BIGINT) AS rank,
                   CAST(neighbor_id AS BIGINT) AS neighbor_id, qdot
            FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode the sf0.001 lineitem-derived tokens table and return
    per-partition codec/ratio/throughput metrics (north-rule required output)."""
    docs = _lineitem_docs(spark, "/root/testdata/sf0.001")
    pages = encode_table(docs, _CFG)
    return metrics_table(pages, run_id="entry_sf0.001")
