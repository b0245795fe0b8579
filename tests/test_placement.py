"""Encode placement: one group per partition, with unchanged bytes.

encode_table places group g on partition g (repartitionById), so the encode
output has exactly num_groups partitions; a long-tail group num_groups + h
shares partition h with regular group h. Placement must never move a byte."""

from __future__ import annotations

from pyspark.sql import functions as F

from zopfli_spark import EngineConfig, decode_table, encode_table, roundtrip_check
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.plans.planner import plan_groups


def test_one_group_per_encode_partition(spark):
    cfg = EngineConfig(
        page_budget_values=20_000, group_budget_values=80_000, giant_doc_values=1 << 30
    )
    df = synth_tokens_df(spark, 200, seed=1).cache()
    _, num_groups = plan_groups(df, cfg)
    assert num_groups > 1
    pages = encode_table(df, cfg).cache()
    assert pages.rdd.getNumPartitions() == num_groups
    per_part = (
        pages.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.collect_set("part_id").alias("ids"))
        .collect()
    )
    assert len(per_part) == num_groups  # no empty partition
    assert all(r["ids"] == [r["p"]] for r in per_part), per_part


def test_giant_groups_roundtrip_with_pinned_bytes(spark):
    cfg = EngineConfig(
        page_budget_values=20_000, group_budget_values=80_000, giant_doc_values=40_000
    )
    df = synth_tokens_df(spark, 300, seed=5).cache()
    _, num_groups = plan_groups(df, cfg)
    pages = encode_table(df, cfg).cache()
    assert pages.filter(F.col("part_id") >= num_groups).count() > 0, "no long-tail group"
    bad = roundtrip_check(df, decode_table(pages, cfg))
    assert bad.count() == 0, bad.limit(5).toPandas().to_string()
    got = pages.agg(
        F.sum("enc_bytes").alias("bytes"),
        F.sum(F.crc32("payload")).alias("crc_sum"),
        F.count("*").alias("rows"),
    ).collect()[0]
    # values from the hash placement this replaced: placement moves no byte
    assert (got["bytes"], got["crc_sum"], got["rows"]) == (785_425, 183_266_779_215, 86)
