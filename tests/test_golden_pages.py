"""Golden page hashes: the exact output of ``engine._encode_group`` on small
deterministic groups, one case per search path (dial profiles, group-dict
adoption and revert, mode grid, split modes, codec allow-list, split hints,
lineage replays). Every output column except the two timers is pinned by
its SHA-256 in row order, so a refactor that moves a single byte, page
boundary, codec name or flag fails here. Spark-free: each case calls
``_encode_group`` directly on an Arrow table shaped like the planner's
output.

The digests were recorded once and are never edited: a change that moves
bytes on purpose belongs in its own change, with new cases beside these."""

from __future__ import annotations

import functools
import hashlib
import json

import numpy as np
import pyarrow as pa
import pytest

from zopfli_spark.config import EngineConfig
from zopfli_spark.engine import _encode_group
from zopfli_spark.plans.planner import GROUP_COL, ROW_HASH_COL

GEO = dict(page_budget_values=8192, group_budget_values=1 << 19, giant_doc_values=1 << 17)
GEO_SMALL = dict(page_budget_values=4096, group_budget_values=1 << 20, giant_doc_values=1 << 18)
TIMERS = ("enc_us", "enc_cpu_us")


def _tbl(docs: list[np.ndarray]) -> pa.Table:
    n = len(docs)
    return pa.table(
        {
            "doc_id": pa.array([f"doc_{i:04d}" for i in range(n)]),
            "tokens": pa.array([d.tolist() for d in docs], pa.list_(pa.int32())),
            "n_tok": pa.array([len(d) for d in docs], pa.int32()),
            "source": pa.array([("web", "code", "math")[i % 3] for i in range(n)]),
            GROUP_COL: pa.array([0] * n, pa.int32()),
            ROW_HASH_COL: pa.array(
                [(i * 0x9E3779B97F4A7C15) % (1 << 63) for i in range(n)], pa.int64()
            ),
        }
    )


def _mixture(seed: int, n_docs: int, scale: int) -> list[np.ndarray]:
    """Docs cycling through eight content families, one per codec niche."""
    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n_docs):
        n = int(rng.integers(scale // 2, scale * 2))
        kind = i % 8
        if kind == 0:  # ascending
            d = np.cumsum(rng.integers(1, 40, n))
        elif kind == 1:  # runs
            d = np.repeat(rng.integers(0, 50_000, n // 40 + 1), 40)[:n]
        elif kind == 2:  # heavy tail
            d = np.minimum(rng.zipf(1.2, n), 50_000) - 1
        elif kind == 3:  # narrow range at a large offset
            d = rng.integers(0, 200, n) + 1_000_000
        elif kind == 4:
            d = np.full(n, 7)
        elif kind == 5:  # near-random
            d = rng.integers(0, 1 << 24, n)
        elif kind == 6:  # a repeating phrase
            d = np.tile(rng.integers(0, 5000, 37), n // 37 + 1)[:n]
        else:  # four wide distinct values
            d = rng.choice(np.array([3, 99_999, 123_456_789, 5]), n)
        docs.append(d.astype(np.int32))
    return docs


def _blocks(seed: int) -> list[np.ndarray]:
    """Runs of small same-family docs: the first split misplaces block
    edges, so the mode grid's deeper squeeze round finds better bounds."""
    rng = np.random.default_rng(seed)
    docs = []
    for _blk in range(int(rng.integers(4, 9))):
        k = int(rng.integers(0, 4))
        for _ in range(int(rng.integers(3, 25))):
            n = int(rng.integers(50, 700))
            if k == 0:
                d = np.cumsum(rng.integers(1, 2049, n))
            elif k == 1:
                d = rng.integers(0, 1 << 20, n)
            elif k == 2:
                d = np.minimum(rng.zipf(1.2, n), 20_000) - 1
            else:
                d = np.repeat(rng.integers(0, 1 << 20, n // 25 + 1), 25)[:n]
            docs.append(d.astype(np.int32))
    return docs


def _order_blind() -> list[np.ndarray]:
    """Ascending and shuffled docs over one value range (the bucketed split
    estimator is order-blind): an alternate grid geometry wins."""
    rng = np.random.default_rng(5)
    docs = []
    for i in range(8):
        if i in (3, 6):
            docs.append(rng.integers(0, 1 << 24, 16384, dtype=np.int64).astype(np.int32))
        else:
            docs.append(np.cumsum(rng.integers(1, 2049, 16384)).astype(np.int32))
    return docs


def _zipf_heavy() -> list[np.ndarray]:
    rng = np.random.default_rng(3)
    docs = [
        (np.minimum(rng.zipf(1.2, int(rng.integers(3000, 9000))), 20_000) - 1).astype(np.int32)
        for _ in range(16)
    ]
    return docs + _mixture(2, 16, 3000)


@functools.lru_cache(maxsize=None)
def _input(name: str) -> pa.Table:
    if name == "mix":
        return _tbl(_mixture(1, 160, 1000))
    if name == "blocks":
        return _tbl(_blocks(104))
    if name == "order_blind":
        return _tbl(_order_blind())
    if name == "zipf":
        return _tbl(_zipf_heavy())
    if name == "low_card":  # no window qualifies to train a group dictionary
        rng = np.random.default_rng(8)
        return _tbl([rng.integers(0, 200, int(rng.integers(200, 900))).astype(np.int32) for _ in range(20)])
    raise KeyError(name)


def _plan_tbl(out: pa.Table) -> pa.Table:
    """The lineage plan of an encode output, as the resume cogroup delivers
    it (lineage.lineage_from_pages, without Spark)."""
    pages = [
        {"page_id": p, "n_rows": n, "codec": c}
        for p, n, c in zip(
            out.column("page_id").to_pylist(),
            out.column("n_rows").to_pylist(),
            out.column("codec").to_pylist(),
        )
        if p >= 0
    ]
    h = out.column("content_hash_group")[0].as_py()
    return pa.table({"content_hash": pa.array([h], pa.int64()), "plan": [json.dumps(pages)]})


def _hints(out: pa.Table, bounds, hash_delta: int = 0) -> dict:
    key = out.column("content_key")[0].as_py()
    h = out.column("content_hash_group")[0].as_py()
    return {key: (h + hash_delta, list(bounds))}


CFG = {
    "throughput": EngineConfig.throughput(**GEO),
    "default": EngineConfig(**GEO),
    "ratio": EngineConfig.ratio(**GEO),
    "group_dict_reverts": EngineConfig(group_dict=True, **GEO),
    "group_dict_untrained": EngineConfig(group_dict=True, **GEO),
    "group_dict_mode_grid": EngineConfig(group_dict=True, mode_grid=True, **GEO),
    "mode_grid": EngineConfig(mode_grid=True, **GEO_SMALL),
    "mode_grid_mix": EngineConfig(mode_grid=True, **GEO),
    "mode_grid_order_blind": EngineConfig(
        mode_grid=True, page_budget_values=32768, group_budget_values=1 << 18, giant_doc_values=1 << 17
    ),
    # doc-sized pages: two alternate geometries equal the first split
    "mode_grid_same_geometry": EngineConfig(
        mode_grid=True, page_budget_values=16384, group_budget_values=1 << 18, giant_doc_values=1 << 17
    ),
    "split_dp": EngineConfig(split_mode="dp", **GEO),
    "split_simple": EngineConfig(split_mode="simple", **GEO),
    "allowlist": EngineConfig(
        group_dict=True, codec_allowlist=("bitpack", "for_bitpack", "zlib", "rle"), **GEO
    ),
    "recompress": EngineConfig(recompress_passes=2, group_dict=True, cluster_docs=True, **GEO),
}

_HINT_BOUNDS = list(range(10, 160, 10))


def _case(name: str) -> pa.Table:
    """Run one case; replays and hinted runs derive their plan or hint from
    the unhinted output of the case they name."""
    if name == "hints":
        return _encode_group(_input("mix"), CFG["default"], hints=_hints(_run("default"), _HINT_BOUNDS))
    if name == "hints_additional_split":
        cfg = EngineConfig(hints_additional_split=True, **GEO)
        return _encode_group(_input("mix"), cfg, hints=_hints(_run("default"), _HINT_BOUNDS))
    if name == "hint_stale_hash_keeps_lineage":
        # a hint whose strong hash does not match is ignored: the lineage
        # plan still replays
        base = _run("default")
        return _encode_group(
            _input("mix"), CFG["default"], plan_tbl=_plan_tbl(base),
            hints=_hints(base, _HINT_BOUNDS, hash_delta=1),
        )
    if name == "hint_rejected_bounds_disables_lineage":
        # a matching hint outranks lineage even when its bounds are rejected
        base = _run("default")
        return _encode_group(
            _input("mix"), CFG["default"], plan_tbl=_plan_tbl(base),
            hints=_hints(base, [0, *_HINT_BOUNDS]),
        )
    if name.startswith("replay_"):
        base = name[len("replay_"):]
        inp = "blocks" if base == "mode_grid" else "mix"
        return _encode_group(_input(inp), CFG[base], plan_tbl=_plan_tbl(_run(base)))
    if name == "stale_plan_searches":
        plan = _plan_tbl(_run("default"))
        short = json.loads(plan.column("plan")[0].as_py())[:-1]
        plan = plan.set_column(1, "plan", pa.array([json.dumps(short)]))
        return _encode_group(_input("mix"), CFG["default"], plan_tbl=plan)
    inp = {
        "mode_grid": "blocks",
        "mode_grid_order_blind": "order_blind",
        "mode_grid_same_geometry": "order_blind",
        "group_dict_mode_grid": "zipf",
        "group_dict_untrained": "low_card",
    }.get(name, "mix")
    return _encode_group(_input(inp), CFG[name])


@functools.lru_cache(maxsize=None)
def _run(name: str) -> pa.Table:
    return _case(name)


def _digests(out: pa.Table) -> dict[str, str]:
    return {
        c: hashlib.sha256(repr(out.column(c).to_pylist()).encode()).hexdigest()
        for c in out.column_names
        if c not in TIMERS
    }


GOLDEN: dict[str, dict[str, str]] = {
    "allowlist": {
        "checksum": "cb48b531cc305008e86c3a70ed439fe6fdfbbe3cef148ab314907d9bda97a425",
        "codec": "2bdd27712f35f33342bdf05704cfcea0bb0c596f014d7c2b356b5794e03420c8",
        "content_hash_group": "c0b3a951c868ed75902ad5d397f9313a41b72993fecb329ad0b86fea00d1424c",
        "content_key": "8cda8a24c35fce3d62b1c3bc0e95d61495694dbb3f6f677ba13e1a96a00dc2ad",
        "enc_bytes": "196c1089ca5b425f2eb19714040b017a17524c2a18aa49fcceddad5b714ff0db",
        "first_doc_id": "6543d2fb682f580c508694b75b5993a265ced077ec6d37353b21dc2bf993cff2",
        "header": "d6c6d8dbf28f966b1421ab8a9e435b649302fbf4fa197b9aeade5eb0897ee5fa",
        "last_doc_id": "95f3d09da12152e63cd1fcb393ae9146884ca971a0f825bf3c12751b0a4f9a88",
        "n_rows": "ea91b17667f779d98f3928feb1a9c608d9acacda491f23d92d26941fc0cd9b8b",
        "n_values": "55b85c3307f08f0210fc5de3092945232b9ff5073064fde0facad6d16160c60d",
        "page_id": "abdfcb7abe94a81ead293803a772bbac3ead0661bc0095866e7069537aa831d6",
        "part_id": "9a9d35c9214da0c188c0c4ff3f7858123a6fb6ce7524f2b91a56bc4a85fa3b04",
        "payload": "58fcfd50fd970b7a6ba911534b53eaeb9053703ace37b150882dc4fc0e56f7d1",
        "raw_bytes": "8d82ced9399d011b52bdc425221dac604bdddd0e5a991996122872532b623fc5",
        "resumed": "9a9d35c9214da0c188c0c4ff3f7858123a6fb6ce7524f2b91a56bc4a85fa3b04",
    },
    "default": {
        "checksum": "fcd1b4e8a3fd2b68ef9d550c70d9b281b215a51f7435624c92d128047b60fe5e",
        "codec": "0e17c429de1a8d2749f2025274eeec98063d0642555e903b913086b6f77c3a08",
        "content_hash_group": "f3a376d4c070a340cc54fcdc76d0104c36ad5dfdd4a59a5a931847e6510e96c0",
        "content_key": "7e7dd9d7429f3b6338835585285a569d07eb9e3f3522130085e403d1b030e0a9",
        "enc_bytes": "b98098bc67bb74709c5d4a56dc5e724ce8ee5c5cd8e32e271264ec52572f5381",
        "first_doc_id": "868f6af12d3171677b82d7a49eb016f7540ead170255949e42f8fdde43dbfffd",
        "header": "13bfb1dff8c12b228b63950cba327db047edaa2eb0f4772cc772fe3be452773f",
        "last_doc_id": "29706034360e0a1cc76aa1cc9897480eb523fed54f9b8bfe09104d067fb2ccba",
        "n_rows": "6f56b720558ff6e007e75d0286f3143adb89930f8b52131060e42b13d7461d12",
        "n_values": "00ae0e172b6a5bba01b335a5c30c842dd30806da6f224ccadaf3476f418bbdf0",
        "page_id": "245cd4048a92cf05d5d5cf3ee4f502b435f355c8103578afbd43f196e9ac19f6",
        "part_id": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
        "payload": "c1149b6a58184fd396f9cb80eb5582d8b56a061e9ee8ebec8b4b7a3d727b61f3",
        "raw_bytes": "9a3804a195053f0e289b2e57d67fb8cd161a3cca2394d6e5525dc7ff473a1fc0",
        "resumed": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
    },
    "group_dict_mode_grid": {
        "checksum": "25dfe3a750703d4f4f31c8b8ddaf8a94246b64692b6ce3be20515c2c01f956f1",
        "codec": "6aa926bda312a16d1597091df6e9d18d2b542c511b83b3e3b841d377cfbcddbd",
        "content_hash_group": "9579880d0c15c276b03fe35f655effbd289cd523ce976cf2596f8904b2e3b61f",
        "content_key": "5ea1037cf62c70039a980e6624977920828b209d21a0637479489646b0d7d588",
        "enc_bytes": "a2742533948e489d6df261ef2cbc87265ebe5d8016879d5d487dd96bbfaa86de",
        "first_doc_id": "8a49ec5937f3fef4fe4448cff5be0521107cbcbc71ca9a624312193b6ca9346a",
        "header": "9b5da9eadc12177e439a5ecf17f0db83aeecdabf3ac40783f6d0e4c236ea5b27",
        "last_doc_id": "a3aca37b666428582dda87146dfae78ca7c171b94d0bde908be52a5ca82cf9f9",
        "n_rows": "bccbeb3a9eb79186d70ae3c6704d99d07c47597c12cdaa67873b64e70aac5b90",
        "n_values": "1c85a85fc031993007f90a5fede47584fcd909e7738cb94848e052fc8f73a488",
        "page_id": "cf7e55af31ddf6909c332a9f30f0443a9d3bf8ac94a9526517e0ad5305fe5af3",
        "part_id": "a5fc6a72f7d697747beb245571735f653a49bc9ac2e95591b07489fe1c810d50",
        "payload": "288b344afb6f831acbdabbafb9696438ded914900ccf8bacb61f416a94405ddf",
        "raw_bytes": "5a119c80ef3d755600f0acc31560ab383e46d29ccaa4cc3f9fa9c933cd49cd2a",
        "resumed": "a5fc6a72f7d697747beb245571735f653a49bc9ac2e95591b07489fe1c810d50",
    },
    "group_dict_reverts": {
        "checksum": "fcd1b4e8a3fd2b68ef9d550c70d9b281b215a51f7435624c92d128047b60fe5e",
        "codec": "0e17c429de1a8d2749f2025274eeec98063d0642555e903b913086b6f77c3a08",
        "content_hash_group": "f3a376d4c070a340cc54fcdc76d0104c36ad5dfdd4a59a5a931847e6510e96c0",
        "content_key": "7e7dd9d7429f3b6338835585285a569d07eb9e3f3522130085e403d1b030e0a9",
        "enc_bytes": "b98098bc67bb74709c5d4a56dc5e724ce8ee5c5cd8e32e271264ec52572f5381",
        "first_doc_id": "868f6af12d3171677b82d7a49eb016f7540ead170255949e42f8fdde43dbfffd",
        "header": "13bfb1dff8c12b228b63950cba327db047edaa2eb0f4772cc772fe3be452773f",
        "last_doc_id": "29706034360e0a1cc76aa1cc9897480eb523fed54f9b8bfe09104d067fb2ccba",
        "n_rows": "6f56b720558ff6e007e75d0286f3143adb89930f8b52131060e42b13d7461d12",
        "n_values": "00ae0e172b6a5bba01b335a5c30c842dd30806da6f224ccadaf3476f418bbdf0",
        "page_id": "245cd4048a92cf05d5d5cf3ee4f502b435f355c8103578afbd43f196e9ac19f6",
        "part_id": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
        "payload": "c1149b6a58184fd396f9cb80eb5582d8b56a061e9ee8ebec8b4b7a3d727b61f3",
        "raw_bytes": "9a3804a195053f0e289b2e57d67fb8cd161a3cca2394d6e5525dc7ff473a1fc0",
        "resumed": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
    },
    "group_dict_untrained": {
        "checksum": "a5670d82e2124a9a03000277ae4ca93fec88924ff66b23748bec98bc167c7ff0",
        "codec": "7848b98691a325943236ba6acebe03ba6806071597a4ccfd823054f1570cd4ca",
        "content_hash_group": "cab564147a1c1e0c246293f188b7d0f930315d8aa0e0a366e3f35e8628ee00de",
        "content_key": "bfbf4e0231d057659229e7be9eff4c6bbc1254b53127d307d85f8b74d2b9b3f5",
        "enc_bytes": "c8ae74c226a1f83ec0b5f3e862766375a5ff33ade6d1885c2b7b0cea4c1fd163",
        "first_doc_id": "b49e64dbb45663603bdf0d9f3aa71a913f524ba97e9b594c7702ff4f8161af4e",
        "header": "a2ac299741920945bb143022eb0bfcf230f976d839eb498a7bc98343039f3726",
        "last_doc_id": "9921828082f0edb587ef259f9a567ba79ba42b3bb93cd937fcebe2ffba6f1960",
        "n_rows": "7a9e25714e27a470f164d90db6ed7b6215ae6de981c77ff567ac3a217365483b",
        "n_values": "5f1875589a1605cdfa7eb3bb1954323e40645b4248701859ea31314fca364881",
        "page_id": "923682bea6d517dc178d480c88e129e485ed902f4fa024866666658cd4ea6836",
        "part_id": "ab395cb4c41927dc03d8d0b9e1de32ba2761d97d7d85b9c89fc54ae3591dc0e1",
        "payload": "eb3f6807f4cd641d997cddb4921af1374d8722947da3f6bb6c6536bb6e4a306f",
        "raw_bytes": "329339dd52a69740f18fc0aab3641dae47576d46094be801ca01f7a74754065a",
        "resumed": "ab395cb4c41927dc03d8d0b9e1de32ba2761d97d7d85b9c89fc54ae3591dc0e1",
    },
    "hint_rejected_bounds_disables_lineage": {
        "checksum": "fcd1b4e8a3fd2b68ef9d550c70d9b281b215a51f7435624c92d128047b60fe5e",
        "codec": "0e17c429de1a8d2749f2025274eeec98063d0642555e903b913086b6f77c3a08",
        "content_hash_group": "f3a376d4c070a340cc54fcdc76d0104c36ad5dfdd4a59a5a931847e6510e96c0",
        "content_key": "7e7dd9d7429f3b6338835585285a569d07eb9e3f3522130085e403d1b030e0a9",
        "enc_bytes": "b98098bc67bb74709c5d4a56dc5e724ce8ee5c5cd8e32e271264ec52572f5381",
        "first_doc_id": "868f6af12d3171677b82d7a49eb016f7540ead170255949e42f8fdde43dbfffd",
        "header": "13bfb1dff8c12b228b63950cba327db047edaa2eb0f4772cc772fe3be452773f",
        "last_doc_id": "29706034360e0a1cc76aa1cc9897480eb523fed54f9b8bfe09104d067fb2ccba",
        "n_rows": "6f56b720558ff6e007e75d0286f3143adb89930f8b52131060e42b13d7461d12",
        "n_values": "00ae0e172b6a5bba01b335a5c30c842dd30806da6f224ccadaf3476f418bbdf0",
        "page_id": "245cd4048a92cf05d5d5cf3ee4f502b435f355c8103578afbd43f196e9ac19f6",
        "part_id": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
        "payload": "c1149b6a58184fd396f9cb80eb5582d8b56a061e9ee8ebec8b4b7a3d727b61f3",
        "raw_bytes": "9a3804a195053f0e289b2e57d67fb8cd161a3cca2394d6e5525dc7ff473a1fc0",
        "resumed": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
    },
    "hint_stale_hash_keeps_lineage": {
        "checksum": "fcd1b4e8a3fd2b68ef9d550c70d9b281b215a51f7435624c92d128047b60fe5e",
        "codec": "0e17c429de1a8d2749f2025274eeec98063d0642555e903b913086b6f77c3a08",
        "content_hash_group": "f3a376d4c070a340cc54fcdc76d0104c36ad5dfdd4a59a5a931847e6510e96c0",
        "content_key": "7e7dd9d7429f3b6338835585285a569d07eb9e3f3522130085e403d1b030e0a9",
        "enc_bytes": "b98098bc67bb74709c5d4a56dc5e724ce8ee5c5cd8e32e271264ec52572f5381",
        "first_doc_id": "868f6af12d3171677b82d7a49eb016f7540ead170255949e42f8fdde43dbfffd",
        "header": "13bfb1dff8c12b228b63950cba327db047edaa2eb0f4772cc772fe3be452773f",
        "last_doc_id": "29706034360e0a1cc76aa1cc9897480eb523fed54f9b8bfe09104d067fb2ccba",
        "n_rows": "6f56b720558ff6e007e75d0286f3143adb89930f8b52131060e42b13d7461d12",
        "n_values": "00ae0e172b6a5bba01b335a5c30c842dd30806da6f224ccadaf3476f418bbdf0",
        "page_id": "245cd4048a92cf05d5d5cf3ee4f502b435f355c8103578afbd43f196e9ac19f6",
        "part_id": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
        "payload": "c1149b6a58184fd396f9cb80eb5582d8b56a061e9ee8ebec8b4b7a3d727b61f3",
        "raw_bytes": "9a3804a195053f0e289b2e57d67fb8cd161a3cca2394d6e5525dc7ff473a1fc0",
        "resumed": "ab808b98b54dd54a9d12d161e3e90ea3b596726a07a5edd70b55125dd127f49d",
    },
    "hints": {
        "checksum": "38b21c1df29c16a5f1bbc5ce37c0f81828385f01c3491a298dce8a4cc5836780",
        "codec": "631e58a585e1baceab9e33fa1f9f650aaaa31d81915ffc053b0977c0d136a3e3",
        "content_hash_group": "1f003cc8d55862bd64143fb725b777392af14f94f2b28e6d2f5707cfb7962df3",
        "content_key": "792dc18c034a9f17657472dd2533db14991e1cd2d86a38b0da5167194a4b18d1",
        "enc_bytes": "37e51036048138dd186d9b9c692918ab2c1fb7c9c99f654c25134bdc1dc26e20",
        "first_doc_id": "5419670bf56c797b037cc0197ad4686a604646615b8126feb410582d95204448",
        "header": "09ec96bbbed0866ebbc5f006d5fc0acd8b2aa9b636798b324365e9bb6d3bbd2b",
        "last_doc_id": "45ccf01c8fefcb7c5e831f62f79c3579367f8e950b28a75d8b77a9df1f0509ae",
        "n_rows": "55f5bcc27773de709858288ba64e5f922e3dcbc9f6a682524c2f1e50315fffc0",
        "n_values": "308505c9f77126675e1385bd74e939b6ab239512423cc2451fd8116d94181178",
        "page_id": "be2af200787b297ae18de0235bf1aa1e93bc1a2a398a7a6ab592f8dd6fdf67a9",
        "part_id": "90b44c0fdcab6576b5416c15221b023b5e8676bb04e237325e2cb1ef179e9dda",
        "payload": "ef94b7b59c797d8ada7ab4ff303c5108c0e846e2ce81351ee0a91ff653cd8b35",
        "raw_bytes": "b1dec32e8f2f6d4c0e3b48aa28b7da6f2a9d308c9b775d209426bfc8398f8353",
        "resumed": "e52f753387a6f7a9c6dde0d40c40e52cbf8e59b1341f78be069b3e69a55a02d9",
    },
    "hints_additional_split": {
        "checksum": "7ad2b0dfc9a7fa525818661ddca6b4c68204d6da9a7e3687643e7a273680514f",
        "codec": "6601a40a19fbab37fe1c59f9a7f8155e9cf2fe654fa5c96d139ecadfe758f0e2",
        "content_hash_group": "b6e759e4c1d18dace5802fceac2c75551af7fb2f709faa3572be23c4cd0d1548",
        "content_key": "5b4d5ef251ab081db3971cf4b53a3fe5094b50c2172304f97c516dad4475ac87",
        "enc_bytes": "db04cf8a46c0c1168a9d5b900b6e833a70029f981ce24b42bed570045c373531",
        "first_doc_id": "e209171a369f8292c3dc0da8410ee6cc6e75f28516e4168080e2f7e957c0058e",
        "header": "29f62a052137c3fef0cba7dfe2d49e6ead3e319438188a45feefd13887bef38f",
        "last_doc_id": "abdf621d093f5c0bfa2fcd78d544b8d9a937393c82f190955282412158dba567",
        "n_rows": "5a63c4d0a1e0cdd1edd13c661328e792bdd82ffda64285be5528e1ea7ad2254a",
        "n_values": "89c70570094622d9876ca0daf3ee42b8f8f7c563c90fb71346326982c71fbc26",
        "page_id": "656a51d208fd0aa180130e292af871958e87ee093305c2f970d5ffc0c3beaaa2",
        "part_id": "d6d3bea84e543fc6877b236ab70a94d65cb8aad8cc44b8cf0440b7e9ac7f3322",
        "payload": "251db66dcd4a7ee6c9a916bfa7bb96dcf2a79dd26767fbb0702055e08aef8415",
        "raw_bytes": "02a1f22e770408016753f1f695b93abf1f5cf105ce2817283169bcf360cfbac7",
        "resumed": "cf6ed71415dc5353c781210aca866b263cb911ce76c7ca893e664b4bb1052ef7",
    },
    "mode_grid": {
        "checksum": "24370b511430ddee9f4be8a5312206a2ea6f49c19c38f2149ba77a21e90bbbbf",
        "codec": "872017bf8d1ce71d045e47ce3bea39a7bccc6acf1735922197a360df7e99c5f1",
        "content_hash_group": "76495860678613166f24d4467ccaca9c7f0312073caa0573ef3d8b42777642ab",
        "content_key": "2ee6bf8fef7c573d81b6801545d22664d4ca2726617a52c7a1112d9a0ba21424",
        "enc_bytes": "e765403bc114547c76c443bcad0def5539024a01bd9bbe15047afdc4b2a49025",
        "first_doc_id": "1954e84031f0585a81234750dc909df298deeb8737c86730a1a96a4d29b1f4a8",
        "header": "98d73b61f3d25367cc398e3c797937402f96e3a70015f65f747d70378f54a57c",
        "last_doc_id": "9cb65fb0aecb8efc7aa841e7471874ec9262f3b85a4158c2f3ce034f297047b8",
        "n_rows": "1bd18c07edd179102a08d1301889dc1b1180e824e5031524a0563022ae0751df",
        "n_values": "d47d3f31d2f8787efdf05169ce59021306bfb8bebbd3465b1f2b29ef304f06ca",
        "page_id": "068ff0cf40cd49ec76ac5101505e9ea3875525b709a9db927049e4812f3bd59f",
        "part_id": "700cdc6f64c942740484e314a97178ca99d55338d97330ef8a646014b3a6f362",
        "payload": "5f60a744bcc1940f9470aa3ce1a6e22e581ea117a2df48ac7c49b9552547d615",
        "raw_bytes": "f8b8de3b2bf0e4d67304655528cc804a19791331b27797899883583e65875ae5",
        "resumed": "700cdc6f64c942740484e314a97178ca99d55338d97330ef8a646014b3a6f362",
    },
    "mode_grid_mix": {
        "checksum": "fcd1b4e8a3fd2b68ef9d550c70d9b281b215a51f7435624c92d128047b60fe5e",
        "codec": "0743bad4dbf61f872004b2a8907943630e4686844ce9d8ec380bd168cde9c1ce",
        "content_hash_group": "f3a376d4c070a340cc54fcdc76d0104c36ad5dfdd4a59a5a931847e6510e96c0",
        "content_key": "7e7dd9d7429f3b6338835585285a569d07eb9e3f3522130085e403d1b030e0a9",
        "enc_bytes": "ef710d5becf663d3ff768ebdc7bb9ee447d10eae408d6b26cb2556588bb13500",
        "first_doc_id": "868f6af12d3171677b82d7a49eb016f7540ead170255949e42f8fdde43dbfffd",
        "header": "13bfb1dff8c12b228b63950cba327db047edaa2eb0f4772cc772fe3be452773f",
        "last_doc_id": "29706034360e0a1cc76aa1cc9897480eb523fed54f9b8bfe09104d067fb2ccba",
        "n_rows": "6f56b720558ff6e007e75d0286f3143adb89930f8b52131060e42b13d7461d12",
        "n_values": "00ae0e172b6a5bba01b335a5c30c842dd30806da6f224ccadaf3476f418bbdf0",
        "page_id": "245cd4048a92cf05d5d5cf3ee4f502b435f355c8103578afbd43f196e9ac19f6",
        "part_id": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
        "payload": "8a880f79532d051007969fd3421e3bbf4ab790662957d17eab608817255287a8",
        "raw_bytes": "9a3804a195053f0e289b2e57d67fb8cd161a3cca2394d6e5525dc7ff473a1fc0",
        "resumed": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
    },
    "mode_grid_same_geometry": {
        "checksum": "73eba00e42025334db0efdbd6bea643099892b24a311163c8fca91c9ed70931c",
        "codec": "ab870f067d60528fd3555ac2d761a9b9ac99354cc0eb54151e2bacfe72c7f75d",
        "content_hash_group": "e6226b04012513b42d9c016b4f14bb9c5a0a870ebb8b6954e4b4c042a7e5549d",
        "content_key": "311406bfdfd13ed89fd99e6639c1eb146ae7a3435a248ca6650d42690fd377de",
        "enc_bytes": "1e9aa268730df7dcc02f2f0598e37790f7953b98bb1976d4d452cae6a20efbd3",
        "first_doc_id": "e777f37d8903fa3b937490317d56a66859192cfa2ed2dccb68864f744c6d8994",
        "header": "49ed79f5e9e4d2a2488610fc95ee18b6bfe3b8a0068bd6d39dac9141deb180bb",
        "last_doc_id": "e777f37d8903fa3b937490317d56a66859192cfa2ed2dccb68864f744c6d8994",
        "n_rows": "fc67e5cbb4b98b43e009205e284ce0d8454a29a4f6a663c6fcc9724efa926904",
        "n_values": "3b8c231e6b0efe18858cf89f5d8444162d4a8f06632b2663d616a6d9c8d4b710",
        "page_id": "809d533fc370950a0e8c21b32c9e303611bc2ea742fe8532180a1ce64075835f",
        "part_id": "c14bc7d02c76f1aeaef4499b60987f4ef3b4e23b000ea9940627b633166707f6",
        "payload": "2e3bb80cec864c8ac7838b62c55c8c29238dbd09bd7cb388b5f440d8e264538c",
        "raw_bytes": "d6b0a7ffcb5a269421ca44beb5393744074555efdc08a05d9197b47432e2f071",
        "resumed": "c14bc7d02c76f1aeaef4499b60987f4ef3b4e23b000ea9940627b633166707f6",
    },
    "mode_grid_order_blind": {
        "checksum": "73eba00e42025334db0efdbd6bea643099892b24a311163c8fca91c9ed70931c",
        "codec": "ab870f067d60528fd3555ac2d761a9b9ac99354cc0eb54151e2bacfe72c7f75d",
        "content_hash_group": "e6226b04012513b42d9c016b4f14bb9c5a0a870ebb8b6954e4b4c042a7e5549d",
        "content_key": "311406bfdfd13ed89fd99e6639c1eb146ae7a3435a248ca6650d42690fd377de",
        "enc_bytes": "1e9aa268730df7dcc02f2f0598e37790f7953b98bb1976d4d452cae6a20efbd3",
        "first_doc_id": "e777f37d8903fa3b937490317d56a66859192cfa2ed2dccb68864f744c6d8994",
        "header": "49ed79f5e9e4d2a2488610fc95ee18b6bfe3b8a0068bd6d39dac9141deb180bb",
        "last_doc_id": "e777f37d8903fa3b937490317d56a66859192cfa2ed2dccb68864f744c6d8994",
        "n_rows": "fc67e5cbb4b98b43e009205e284ce0d8454a29a4f6a663c6fcc9724efa926904",
        "n_values": "3b8c231e6b0efe18858cf89f5d8444162d4a8f06632b2663d616a6d9c8d4b710",
        "page_id": "809d533fc370950a0e8c21b32c9e303611bc2ea742fe8532180a1ce64075835f",
        "part_id": "c14bc7d02c76f1aeaef4499b60987f4ef3b4e23b000ea9940627b633166707f6",
        "payload": "2e3bb80cec864c8ac7838b62c55c8c29238dbd09bd7cb388b5f440d8e264538c",
        "raw_bytes": "d6b0a7ffcb5a269421ca44beb5393744074555efdc08a05d9197b47432e2f071",
        "resumed": "c14bc7d02c76f1aeaef4499b60987f4ef3b4e23b000ea9940627b633166707f6",
    },
    "ratio": {
        "checksum": "d6ae1f76ddf0be5a10e756746f8d5525232283d464289fa700bc139460850378",
        "codec": "749f0d756cdc2d3dd816e5e509723be720aca62d6d008d35f5b7bca9a72153ac",
        "content_hash_group": "a224c02ccc8778418db62f7f1047723c7ff8545033e7244d76f3c649aef543f0",
        "content_key": "ccf08f47e4e514f68ed2654691be57bbdfad867f812a0c2bdb496f4cfe425fbf",
        "enc_bytes": "826b18c61885d4fb5f50afafd98e861d03e0e563b20c759f6874e2ee3fc35367",
        "first_doc_id": "599708f42962a0d1191e52006f5b64c0284519f36b8472d7d005de6d60492df4",
        "header": "d9ff2c64721f35fa93d234e28872bd4b351f885a40a3e55fc37257d739adec86",
        "last_doc_id": "b80618acb73b7cfaa6ec60e050d3ae71b5372f88e1ebb928536912c142636cd8",
        "n_rows": "4878d7e03a92d54a343fbdace9cddf2dea0bef12eb3690fe731adb14985bb319",
        "n_values": "47ded870da427af664273860866f321f42e4368d459faee891fa0ffd9f571b6c",
        "page_id": "8a382c5617c4ab8e97fa5962ee5717c74e4078736bc78428a167e2b63282c11f",
        "part_id": "5fdafdc06f5b745bf32c68f430be140a79c39abfb281b46372d4d96e59aa0ba0",
        "payload": "1a899e9ed00722d7c68ac849c631569172c7398e29182cc970137eaf293654ee",
        "raw_bytes": "12225592ff2e33106bdf64a6511d5ccb05863f669447bc8e26a567eeec1d9dca",
        "resumed": "5fdafdc06f5b745bf32c68f430be140a79c39abfb281b46372d4d96e59aa0ba0",
    },
    "recompress": {
        "checksum": "93358f9ae93a2104f6db16830348dfdf7f59ad913c6fafd09ce6b1b607cee126",
        "codec": "fb933db93216d0d5600d62b2b46cc5b59ed6cd1a4679029dbcb76e667cbb19b4",
        "content_hash_group": "03af400bba93f1ca619aa8e854c5b3ad2e4048e2a8a3f3b81f4747481280573a",
        "content_key": "ced3abf30bc4f13db3da71138ef032687606167d75eb8ba1a8fe00ee412468d9",
        "enc_bytes": "f793c492da50f51b7691efb7dca75748834a66c63b1b258968c9a685fca9c441",
        "first_doc_id": "29c852906349f77621bae290864cf7b01e6ce03d89a0801219b2e7831a7dfdcb",
        "header": "66c1ebcf66f8e01c53b2fe8d57eed4784a6a69513113b5cb1edadea818219600",
        "last_doc_id": "6aaec52577d9e39a40bc4be8258c7e05ef59e90705bcaf90a13a9fb9ea1c0e0c",
        "n_rows": "77dd8836dbe83477280b5dbe7514a20c0f146f6f6d27856a77e7e0d98b7a5152",
        "n_values": "9b5896376d4ed618cb4f93f982d5d442d3cda6069fbef9e00ce2238d788cd1e5",
        "page_id": "7c325fc893aa9462b4ffbc4e675df6a3ebc8a47119f4c0adea24863d705a8a33",
        "part_id": "af096a52f326899a15e5a08e2b83cd8afe55355d9db17892fe90746d5ca63149",
        "payload": "12cf788b938d1b033d28c32b3b587ed17156e8afe5f6dff6470f8cf273608e75",
        "raw_bytes": "1536cbb5c969f47684a44bafe86b482228cd818648277c10b7bc803c742ac025",
        "resumed": "af096a52f326899a15e5a08e2b83cd8afe55355d9db17892fe90746d5ca63149",
    },
    "replay_mode_grid": {
        "checksum": "24370b511430ddee9f4be8a5312206a2ea6f49c19c38f2149ba77a21e90bbbbf",
        "codec": "872017bf8d1ce71d045e47ce3bea39a7bccc6acf1735922197a360df7e99c5f1",
        "content_hash_group": "76495860678613166f24d4467ccaca9c7f0312073caa0573ef3d8b42777642ab",
        "content_key": "2ee6bf8fef7c573d81b6801545d22664d4ca2726617a52c7a1112d9a0ba21424",
        "enc_bytes": "e765403bc114547c76c443bcad0def5539024a01bd9bbe15047afdc4b2a49025",
        "first_doc_id": "1954e84031f0585a81234750dc909df298deeb8737c86730a1a96a4d29b1f4a8",
        "header": "98d73b61f3d25367cc398e3c797937402f96e3a70015f65f747d70378f54a57c",
        "last_doc_id": "9cb65fb0aecb8efc7aa841e7471874ec9262f3b85a4158c2f3ce034f297047b8",
        "n_rows": "1bd18c07edd179102a08d1301889dc1b1180e824e5031524a0563022ae0751df",
        "n_values": "d47d3f31d2f8787efdf05169ce59021306bfb8bebbd3465b1f2b29ef304f06ca",
        "page_id": "068ff0cf40cd49ec76ac5101505e9ea3875525b709a9db927049e4812f3bd59f",
        "part_id": "700cdc6f64c942740484e314a97178ca99d55338d97330ef8a646014b3a6f362",
        "payload": "5f60a744bcc1940f9470aa3ce1a6e22e581ea117a2df48ac7c49b9552547d615",
        "raw_bytes": "f8b8de3b2bf0e4d67304655528cc804a19791331b27797899883583e65875ae5",
        "resumed": "006f7ef5e274e100ed6291c9ffe9c1d484b6041daa559c90cb1ba0d1804c6682",
    },
    "replay_ratio": {
        "checksum": "d6ae1f76ddf0be5a10e756746f8d5525232283d464289fa700bc139460850378",
        "codec": "749f0d756cdc2d3dd816e5e509723be720aca62d6d008d35f5b7bca9a72153ac",
        "content_hash_group": "a224c02ccc8778418db62f7f1047723c7ff8545033e7244d76f3c649aef543f0",
        "content_key": "ccf08f47e4e514f68ed2654691be57bbdfad867f812a0c2bdb496f4cfe425fbf",
        "enc_bytes": "826b18c61885d4fb5f50afafd98e861d03e0e563b20c759f6874e2ee3fc35367",
        "first_doc_id": "599708f42962a0d1191e52006f5b64c0284519f36b8472d7d005de6d60492df4",
        "header": "d9ff2c64721f35fa93d234e28872bd4b351f885a40a3e55fc37257d739adec86",
        "last_doc_id": "b80618acb73b7cfaa6ec60e050d3ae71b5372f88e1ebb928536912c142636cd8",
        "n_rows": "4878d7e03a92d54a343fbdace9cddf2dea0bef12eb3690fe731adb14985bb319",
        "n_values": "47ded870da427af664273860866f321f42e4368d459faee891fa0ffd9f571b6c",
        "page_id": "8a382c5617c4ab8e97fa5962ee5717c74e4078736bc78428a167e2b63282c11f",
        "part_id": "5fdafdc06f5b745bf32c68f430be140a79c39abfb281b46372d4d96e59aa0ba0",
        "payload": "1a899e9ed00722d7c68ac849c631569172c7398e29182cc970137eaf293654ee",
        "raw_bytes": "12225592ff2e33106bdf64a6511d5ccb05863f669447bc8e26a567eeec1d9dca",
        "resumed": "da4cb5749a0924ef7a6609770b8281f017daa04005f11add6433bbfae7d90b7e",
    },
    "split_dp": {
        "checksum": "06e28a20e9d79f0725644734ba58a536af655f016665dabbefab1589f130c116",
        "codec": "664c4d08c2458a0ed276ac8b210e0550b6dfc4f08828951fe73eec86c7868013",
        "content_hash_group": "c0b3a951c868ed75902ad5d397f9313a41b72993fecb329ad0b86fea00d1424c",
        "content_key": "8cda8a24c35fce3d62b1c3bc0e95d61495694dbb3f6f677ba13e1a96a00dc2ad",
        "enc_bytes": "365be1681c9a5647dc3a3687824508c9078fabba8cce014dd7ea2d8dec4ae77d",
        "first_doc_id": "b30c0e806e0e879e1145af2e28c45c95bc90836934413b3d5499ec52592f2a5c",
        "header": "2c1937c5c384e9c1bb0da73f26ca154adf0c4ccca5fcc7498e08d2ae3f2d938e",
        "last_doc_id": "2365d64a7f61379e5531b3aea0364a168034d8f75cc82a5c0c30f7bfd403a13b",
        "n_rows": "bbe2e1ff713129d8ad5fbb9d8cffe4d4c839c128d4c7be39aad7dc9ddb2d54df",
        "n_values": "cefa1e28f4825c2488d509698488d8072c97c6b24d1d2f77612dc204fe50c64c",
        "page_id": "abdfcb7abe94a81ead293803a772bbac3ead0661bc0095866e7069537aa831d6",
        "part_id": "9a9d35c9214da0c188c0c4ff3f7858123a6fb6ce7524f2b91a56bc4a85fa3b04",
        "payload": "0cd576819a5392db3aa8d21df3bc1f6b79daa6c004c10a1fbeaa533c8072853e",
        "raw_bytes": "6d0f68fe2f8a5debf01b669e6b39238c24c542e043ef02fe3afc90587abca692",
        "resumed": "9a9d35c9214da0c188c0c4ff3f7858123a6fb6ce7524f2b91a56bc4a85fa3b04",
    },
    "split_simple": {
        "checksum": "c01e9a95b25c066abd254ac12074ed54ed4260e0983fa7ae80c72d440c47b06c",
        "codec": "6e7195b329873b697e3d2214dcdb4bbb3cfd01952a2cacea0c8ae3ed1ed129c2",
        "content_hash_group": "3594d15aa88b838d9b0bcfbaae93db5cbd224be89b83e23975c646f7b4f8dc04",
        "content_key": "30781b6e35cdaa17daf5e7c6ea759d0884a0044ecddc5e66ccd40e5aea6a638d",
        "enc_bytes": "c1809f634b933e4d6d22c0c896c77b3fd122b74eda4b08914e016d41c4ce9dc3",
        "first_doc_id": "75cb211dda3d46e2385e3dbaebe625925246ad8badaaf6027eb08a4d11c389e1",
        "header": "edf52dfc9c22f1e5a2a97483454e9081446f50c56631e3e6825157c26eb9213a",
        "last_doc_id": "672118d2cc5f08b9924fbfee3397e542d591456b378317198b97457a105bdb9b",
        "n_rows": "1b7d07bd7b8f230b920fd0c55d3fa98fb218f6c1e7eaa706b9b0a00908a374c3",
        "n_values": "10b8cf835fbc9c9706e6cb0c2c52f775f7af905b2efacac75379ef8703307a28",
        "page_id": "33d8962ae0756da1185681776194bd6e5ed7f4f5e821c6d39f04c11a8ff895d5",
        "part_id": "2fc1d7e09200ebbaf653336f409b1e7f235a46521d11ebbe29f7de09db999f17",
        "payload": "292dc5028331de66352d4bdcfe20d4fe64018780874e8738507f58202844da14",
        "raw_bytes": "d6805736bfb9df0c2eb9135f80a7a5b278d6df46ef7157ace5bf097e5720244f",
        "resumed": "2fc1d7e09200ebbaf653336f409b1e7f235a46521d11ebbe29f7de09db999f17",
    },
    "stale_plan_searches": {
        "checksum": "fcd1b4e8a3fd2b68ef9d550c70d9b281b215a51f7435624c92d128047b60fe5e",
        "codec": "0e17c429de1a8d2749f2025274eeec98063d0642555e903b913086b6f77c3a08",
        "content_hash_group": "f3a376d4c070a340cc54fcdc76d0104c36ad5dfdd4a59a5a931847e6510e96c0",
        "content_key": "7e7dd9d7429f3b6338835585285a569d07eb9e3f3522130085e403d1b030e0a9",
        "enc_bytes": "b98098bc67bb74709c5d4a56dc5e724ce8ee5c5cd8e32e271264ec52572f5381",
        "first_doc_id": "868f6af12d3171677b82d7a49eb016f7540ead170255949e42f8fdde43dbfffd",
        "header": "13bfb1dff8c12b228b63950cba327db047edaa2eb0f4772cc772fe3be452773f",
        "last_doc_id": "29706034360e0a1cc76aa1cc9897480eb523fed54f9b8bfe09104d067fb2ccba",
        "n_rows": "6f56b720558ff6e007e75d0286f3143adb89930f8b52131060e42b13d7461d12",
        "n_values": "00ae0e172b6a5bba01b335a5c30c842dd30806da6f224ccadaf3476f418bbdf0",
        "page_id": "245cd4048a92cf05d5d5cf3ee4f502b435f355c8103578afbd43f196e9ac19f6",
        "part_id": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
        "payload": "c1149b6a58184fd396f9cb80eb5582d8b56a061e9ee8ebec8b4b7a3d727b61f3",
        "raw_bytes": "9a3804a195053f0e289b2e57d67fb8cd161a3cca2394d6e5525dc7ff473a1fc0",
        "resumed": "cb25ca7a712f6f369ac664c94d76d4538d02d9affe91197f7a63276ca620d668",
    },
    "throughput": {
        "checksum": "10335a36a162693075278441ca3665e60529fb48c5066f107f194ed33be3547a",
        "codec": "25579626d43cbbf81819d14a088ca8d7e7e29a49de2e97dec981c37de7c1b3af",
        "content_hash_group": "d63cf87c34cee2df138a9ca616fed296f41642cf1417a2cfc2775806659370c1",
        "content_key": "096c622181f5a425601b5d460feae3321fcdcc3ff9113dfdac645fda3de7c80b",
        "enc_bytes": "52fd36c1c89e711a0490702d0613596516fa04251a33e9ac5299dbdb83eeb0a9",
        "first_doc_id": "c84ed1da873e0339c169df7ed64c7aa503e7d964ba2c9eeb54e70d544a90b115",
        "header": "8865a0d98982171055e34affeefa9c2d3154f29a9d38496f3005003dabb249f1",
        "last_doc_id": "4be239d9d921a814fa42e356d2c628d63c0477f975459d68d71c2432a659831c",
        "n_rows": "3eeb30d1ad73d570705ff488d387f3d57d22e029ac38f14c8134ef31ccf66dab",
        "n_values": "f6e1a79ede6e310ea765c62210791ab4568f54306f9ba92cf704e8359caa8a44",
        "page_id": "996a0684febaad02eb267430a78aeaf857c4512ddf01a07ff9fc26e72946aabd",
        "part_id": "f2ea0360d14027b22c95dee18dc618057e6200161ac044075b75d4d8ef4bc394",
        "payload": "c29d92273b72a7516159b795deb5a21a321653318a2b9dc320f851b25fef9b3a",
        "raw_bytes": "98a6128a917ff616c8e63ff30b6b631bdef267095cdfabe6fe034517b9c06c6c",
        "resumed": "f2ea0360d14027b22c95dee18dc618057e6200161ac044075b75d4d8ef4bc394",
    },
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_pages(name):
    assert _digests(_run(name)) == GOLDEN[name]


@pytest.mark.parametrize("base", ["ratio", "mode_grid"])
def test_replay_reproduces_search_bytes(base):
    """A lineage replay forces the recorded codecs (group_huffman, "@lvl"
    names) and must emit the searched output byte for byte."""
    searched, replayed = _run(base), _run(f"replay_{base}")
    assert set(replayed.column("resumed").to_pylist()) == {1}
    for c in ("page_id", "codec", "n_rows", "enc_bytes", "checksum", "header", "payload"):
        assert replayed.column(c).equals(searched.column(c)), c


def test_group_huffman_replay_without_dictionary_raises():
    plan = pa.table(
        {
            "content_hash": pa.array([_run("group_dict_untrained").column("content_hash_group")[0].as_py()], pa.int64()),
            "plan": [json.dumps([{"page_id": 0, "n_rows": 20, "codec": "group_huffman"}])],
        }
    )
    with pytest.raises(ValueError, match="cannot be re-derived"):
        _encode_group(_input("low_card"), CFG["group_dict_untrained"], plan_tbl=plan)
