"""Inputs, timed steps and output checks of the workloads.

Every workload encodes the FIXTURES §1 mixture from
``datagen.synth_tokens_df`` at the r7 bench geometry (2M-value groups, 1M
page budget, 1M giant-doc threshold), as ``bench.py`` does. Each workload
has three kinds of timed step, which ``DialSteps`` / ``StoreSteps`` run:

* ``tput`` / ``ratio``: encode (``encode_table`` at the ``throughput()`` /
  ``ratio()`` dial, pages cached and aggregated), decode (``decode_table``
  of those pages, aggregated) and resume (re-encode with the warm-up's
  lineage: in-memory replay, no store). ``ratio`` runs on request only: it
  is not steady enough at a size that fits the benchmark's time budget to
  be in BENCHMARK.json.
* ``store-resume``: default dial; encode (cold ``encode_to_store`` into a
  fresh root), resume (a further ``encode_to_store`` into that root, which
  replays every group's plan) and decode (``read_pages`` + ``decode_table``
  from disk).

Each step checks its own outputs; a failed check raises, and the caller
counts the step as failed without retrying it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from zopfli_spark import EngineConfig, decode_table, encode_table, roundtrip_check
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.lineage import lineage_from_pages
from zopfli_spark.sources import store

from session import steal_jiffies

WORKLOADS = ("tput", "ratio", "store-resume")

#: docs per input, long tail dropped: ~5.3M tokens, three groups, which the
#: encode's hash repartition places on three distinct tasks. Sized so every
#: run, set-up included, fits the benchmark's time budget on a 4-CPU host.
N_DOCS = 6200
#: docs at or above this length are the mixture's 0.1% long tail. Dropped
#: from the benchmark input: a handful of them carry ~40% of the tokens, so
#: their kinds alone moved compression ratio and throughput by 13-15%
#: (IQR/median) from seed to seed.
LONG_TAIL_TOKENS = 100_000
#: the r7 bench input (``--r7``): 22,000 docs with the long tail, 30,656,063
#: tokens at seed 42
R7_DOCS = 22000
SMOKE_DOCS = 120

GEOMETRY = dict(group_budget_values=1 << 21, giant_doc_values=1 << 20, page_budget_values=1 << 20)
SMOKE_GEOMETRY = dict(group_budget_values=1 << 14, giant_doc_values=1 << 13, page_budget_values=1 << 12)

_DIAL = {"tput": "tput", "ratio": "ratio", "store-resume": "default"}

#: Σ enc_bytes of the pages, per (seed, docs generated, long tail kept) and
#: dial: the r7 record, the development seed and a held-out seed. A run of a
#: listed input must reproduce these bytes exactly.
GOLDEN = {
    (42, R7_DOCS, True): {"default": 28_670_358, "tput": 30_194_354},
    (42, N_DOCS, False): {"default": 5_503_128, "tput": 5_796_942},
    (4242, N_DOCS, False): {"default": 5_473_562, "tput": 5_831_353},
}


def dial(workload: str) -> str:
    return _DIAL[workload]


def golden_bytes(workload: str, seed: int, inp: "Input") -> int | None:
    return GOLDEN.get((seed, inp.n_docs, inp.keep_tail), {}).get(dial(workload))


def engine_config(workload: str, smoke: bool) -> EngineConfig:
    geo = SMOKE_GEOMETRY if smoke else GEOMETRY
    return {
        "tput": EngineConfig.throughput,
        "ratio": EngineConfig.ratio,
        "default": EngineConfig,
    }[dial(workload)](**geo)


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Input:
    df: DataFrame
    n_docs: int  # docs generated; ``docs`` counts those kept
    keep_tail: bool
    docs: int
    tokens: int


def make_input(spark, path: str, seed: int, n_docs: int, keep_tail: bool = False) -> Input:
    """Generate the seeded mixture, write it to parquet and scan it once
    (``size(tokens)`` reads the token column chunks, not just metadata)."""
    df = synth_tokens_df(spark, n_docs, seed=seed)
    if not keep_tail:
        df = df.filter(F.col("n_tok") < F.lit(LONG_TAIL_TOKENS))
    df.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    row = df.agg(
        F.count("*").alias("docs"),
        F.sum("n_tok").alias("tokens"),
        F.sum(F.size("tokens")).alias("sized"),
    ).collect()[0]
    check(int(row["tokens"]) == int(row["sized"]), "n_tok disagrees with size(tokens)")
    return Input(df, n_docs, keep_tail, int(row["docs"]), int(row["tokens"]))


def _page_totals(pages: DataFrame) -> dict:
    row = pages.agg(
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.count("*").alias("rows"),
        F.min("resumed").alias("resumed_min"),
        F.max("resumed").alias("resumed_max"),
    ).collect()[0]
    return {k: int(row[k]) for k in ("enc_bytes", "raw_bytes", "rows", "resumed_min", "resumed_max")}


def _decoded_totals(decoded: DataFrame) -> dict:
    row = decoded.agg(F.count("*").alias("docs"), F.sum("n_tok").alias("tokens")).collect()[0]
    return {"docs": int(row["docs"]), "tokens": int(row["tokens"] or 0)}


def corrupt_one_page(pages: DataFrame) -> DataFrame:
    """Flip the middle payload byte of the page holding the most values."""
    top = pages.filter(F.col("page_id") >= 0).orderBy(
        F.desc("n_values"), "part_id", "page_id"
    ).select("part_id", "page_id").first()
    mid = (F.length("payload") / 2).cast("int") + 1
    byte = F.substring("payload", mid, 1)
    flipped = F.concat(
        F.substring("payload", 1, mid - 1),
        F.when(byte == F.unhex(F.lit("FF")), F.unhex(F.lit("00"))).otherwise(F.unhex(F.lit("FF"))),
        F.expr("substring(payload, cast(length(payload) / 2 as int) + 2)"),
    )
    hit = (F.col("part_id") == top["part_id"]) & (F.col("page_id") == top["page_id"])
    return pages.withColumn("payload", F.when(hit, flipped).otherwise(F.col("payload")))


class Timer:
    """Wall seconds and /proc/stat steal jiffies of one timed step."""

    def __enter__(self):
        self.steal0 = steal_jiffies()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        self.steal = steal_jiffies() - self.steal0
        return False


def _check_decoded(dec: dict, inp: Input) -> None:
    check(dec["tokens"] == inp.tokens, f"decoded {dec['tokens']} tokens, input has {inp.tokens}")
    check(dec["docs"] == inp.docs, f"decoded {dec['docs']} docs, input has {inp.docs}")


def _check_expected(tot: dict, expect: dict) -> None:
    for k, v in expect.items():
        check(tot[k] == v, f"{k} is {tot[k]}, expected {v}")


def expected_bytes(tot: dict) -> dict:
    return {"enc_bytes": tot["enc_bytes"], "rows": tot["rows"]}


class DialSteps:
    """``tput`` / ``ratio`` steps. The pages of an encode stay cached in
    memory (the caller releases them); the replay runs in memory, with the
    lineage of the first pages it is given (lineage is content-addressed,
    and every encode is checked to give the same bytes)."""

    def __init__(self, inp: Input, cfg: EngineConfig):
        self.inp, self.cfg, self.lineage = inp, cfg, None

    def encode(self, expect: dict):
        """Timed ``encode_table``, pages cached and aggregated. Returns the
        pages, the Timer and the page totals."""
        inp = self.inp
        pages = encode_table(inp.df, self.cfg, total_values=inp.tokens).cache()
        try:
            with Timer() as t:
                tot = _page_totals(pages)
            _check_expected(tot, expect)
            check(tot["resumed_max"] == 0, "a cold encode reported resumed groups")
        except BaseException:
            pages.unpersist()
            raise
        return pages, t, tot

    def decode(self, pages: DataFrame, corrupt: bool = False) -> Timer:
        """Timed ``decode_table`` of the cached pages, aggregated and checked."""
        to_decode = corrupt_one_page(pages) if corrupt else pages
        with Timer() as t:
            dec = _decoded_totals(decode_table(to_decode, self.cfg))
        _check_decoded(dec, self.inp)
        return t

    def resume(self, pages: DataFrame, expect: dict) -> Timer:
        """Timed re-encode of the input with lineage: every group must
        replay its recorded plan to the expected bytes."""
        if self.lineage is None:
            self.lineage = lineage_from_pages(pages, self.cfg.mode).cache()
            self.lineage.count()
        inp = self.inp
        with Timer() as t:
            replay = _page_totals(encode_table(inp.df, self.cfg, lineage=self.lineage, total_values=inp.tokens))
        check(replay["resumed_min"] == 1, "a replayed group was searched again")
        _check_expected(replay, expect)
        return t

    def decoded(self, pages: DataFrame) -> DataFrame:
        return decode_table(pages, self.cfg)

    def release(self, pages: DataFrame | None) -> None:
        # the next encode must not find these pages: Spark would serve an
        # identical cached plan to it from memory
        if pages is not None:
            pages.unpersist()


class StoreSteps:
    """``store-resume`` steps, on a page store under the run's work
    directory: (1) a cold ``encode_to_store`` into a fresh root, (2) a
    further ``encode_to_store`` into that root, in which every group replays
    the plan the store's lineage records, (3) ``read_pages`` +
    ``decode_table`` from disk."""

    def __init__(self, spark, inp: Input, cfg: EngineConfig, work: str):
        self.spark, self.inp, self.cfg, self.work = spark, inp, cfg, work
        self.roots = self.resumes = 0

    def _totals(self, root: str) -> dict:
        return _page_totals(store.read_pages(self.spark, root))

    def encode(self, expect: dict):
        """Timed cold ``encode_to_store``, writes included. Returns the root,
        the Timer and the page totals read back from disk."""
        root = os.path.join(self.work, f"store-{self.roots}")
        self.roots += 1
        with Timer() as t:
            store.encode_to_store(self.inp.df, root, self.cfg, run_id="cold")
        try:
            tot = self._totals(root)
            _check_expected(tot, expect)
            check(tot["resumed_max"] == 0, "a cold store encode reported resumed groups")
        except BaseException:
            self.release(root)
            raise
        return root, t, tot

    def decode(self, root: str, corrupt: bool = False) -> Timer:
        """Timed read of the pages from disk + ``decode_table``, checked."""
        with Timer() as t:
            pages = store.read_pages(self.spark, root)
            if corrupt:
                pages = corrupt_one_page(pages)
            dec = _decoded_totals(
                decode_table(pages, self.cfg, input_partitions=store.store_partition_count(root))
            )
        _check_decoded(dec, self.inp)
        return t

    def resume(self, root: str, expect: dict) -> Timer:
        """Timed ``encode_to_store`` into a root that holds the input's
        lineage: every group must replay to the expected bytes."""
        self.resumes += 1
        with Timer() as t:
            store.encode_to_store(self.inp.df, root, self.cfg, run_id=f"resume-{self.resumes}")
        tot = self._totals(root)
        check(tot["resumed_min"] == 1, "a resumed group was searched again")
        _check_expected(tot, expect)
        return t

    def decoded(self, root: str) -> DataFrame:
        return decode_table(
            store.read_pages(self.spark, root), self.cfg,
            input_partitions=store.store_partition_count(root),
        )

    def release(self, root: str | None) -> None:
        if root is not None:
            shutil.rmtree(root, ignore_errors=True)


def steps_for(spark, workload: str, inp: Input, cfg: EngineConfig, work: str):
    if workload == "store-resume":
        return StoreSteps(spark, inp, cfg, work)
    return DialSteps(inp, cfg)


def warm_up(steps):
    """Run the encode and the replay once, untimed: it starts the Python
    workers, imports the engine in each, and runs every Spark and store path
    the timed steps take (the round-trip check on the pages it returns then
    runs the decode path)."""
    pages, _, tot = steps.encode({})
    steps.resume(pages, expected_bytes(tot))
    return pages


def roundtrip_rows(steps, inp: Input, pages) -> int:
    """Rows of the input that do not round-trip bit-identically through
    ``pages`` (cached pages, or a store root)."""
    return roundtrip_check(inp.df, steps.decoded(pages)).count()
