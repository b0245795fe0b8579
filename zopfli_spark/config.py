"""Engine configuration — the analog of ``ZopfliOptions`` (reference:
src/zopfli/zopfli.h:33-134). A plain dataclass so it broadcasts cheaply to
executors inside pandas-UDF closures."""

from __future__ import annotations

from dataclasses import dataclass

#: stop refine_boundaries after this many non-improving iterations
#: (maxunsuccessful/--mui analog, reference src/zopfli/squeeze.c:609); the
#: deep pass allows one more. Fixed, but still packed into ``mode``
MAX_UNSUCCESSFUL = 3


@dataclass(frozen=True)
class EngineConfig:
    # --- page / partition geometry -------------------------------------
    #: target token values per page — unit of codec choice (deflate-block
    #: analog; reference src/zopfli/blocksplitter.c:354-363 simple splitting)
    page_budget_values: int = 1 << 20
    #: target token values per shuffle group — unit of independent work
    #: (master-block analog, reference src/zopfli/util.h:52-61: bounded
    #: memory per task regardless of total input size)
    group_budget_values: int = 1 << 22
    #: docs with n_tok ≥ this get routed to dedicated long-tail groups
    #: (explicit skew handling: one 10M-token doc must not serialize a task)
    giant_doc_values: int = 1 << 21

    # --- codec search ----------------------------------------------------
    #: zlib candidate level for the entropy-coded fallback codecs
    zlib_level: int = 6
    #: canonical-Huffman candidate on/off — the throughput dial the r2
    #: verdict asked for: Huffman trades encode CPU for ratio exactly like
    #: the reference's slow-but-smaller search modes (ZopfliOptions
    #: numiterations/--all, reference src/zopfli/zopfli.h:100-134)
    try_huffman: bool = True
    #: Huffman admission gate: the entropy lower bound must sit below
    #: ``huffman_headroom × realized_best`` before the package-merge runs.
    #: 0.8 = demand a ≥20% entropy gap (measured sweet spot on the mixture);
    #: lower = fewer Huffman evaluations (throughput-first), 1.0 = try
    #: whenever entropy alone could win (ratio-first)
    huffman_headroom: float = 0.8
    #: PLANE_ZLIB per-plane DEFLATE strategy: 'rle' (Z_RLE: distance-1 runs +
    #: Huffman literals — measured 4-7% smaller AND 5-8× faster than full
    #: match search on token byte planes), 'default' (full match search),
    #: 'both' (exact keep-if-smaller of the two streams — ratio-first).
    #: The decoder is strategy-agnostic; this never changes the format.
    plane_strategy: str = "rle"
    #: explicit codec allow-list (names from kernels.CODEC_NAMES); None =
    #: all codecs. PLAIN always stays in (the stored-block guarantee,
    #: reference src/zopfli/deflate.c:951-989) and CONSTANT always stays in
    #: for single-valued pages (same degenerate-page guarantee)
    codec_allowlist: tuple[str, ...] | None = None
    #: 'simple' = fixed-budget page boundaries; 'cost' = entropy-cost-driven
    #: greedy split search (FindMinimum analog, reference
    #: src/zopfli/blocksplitter.c:57-117); 'dp' = globally optimal under the
    #: estimate via forward DP + traceback (GetBestLengths/TraceBackwards
    #: analog, squeeze.c:255-412) — ~+1.9% ratio at ~2.4x encode CPU
    split_mode: str = "cost"
    #: max pages per group for the cost-based splitter (blocksplittingmax
    #: analog, reference src/zopfli/zopfli.h:55-60, default 15 per ~MB
    #: master block). Page granularity is a first-order ratio/CPU dial:
    #: finer pages fit codecs to the content mixture (measured on the synth
    #: mixture at 2M-value groups: 64 → 3.91x @ 3.9 Mtok/cpu_s, 256 → 3.97x
    #: @ 2.0, 512 → 4.08x @ 1.1, 1024 → 4.10x @ 1.0); per-page fixed costs
    #: set the slope. The default sits at the ratio knee — slow-but-smaller
    #: is the product (the reference ships numiterations=15 for the same
    #: reason); throughput() pins 64 for the speed end
    max_pages_per_group: int = 512
    #: squeeze-loop iterations: perturb-and-keep-best rounds per group
    #: (reference src/zopfli/squeeze.c:511-655, numiterations default 15)
    iterations: int = 5
    #: recompression passes (--pass analog, reference src/zopfli/deflate.c:
    #: 1728-1836): re-encode worst-ratio pages with the full-effort zlib
    #: family (level 9, both plane strategies), keep if smaller. Measured on
    #: the mixture: +0.26% ratio for ~2.4× encode CPU — the classic Zopfli
    #: slow-but-smaller trade, so it defaults OFF like the reference's extra
    #: passes and lives in the ratio() profile
    recompress_passes: int = 0
    #: mode-grid search (--all analog, reference src/zopfli/deflate.c:
    #: 1326-1342, opt-in there too): on groups whose realized cost exceeds a
    #: per-doc achievable estimate, retry alternate split strategies and
    #: keep the strictly smallest result. Measured on the synth mixture:
    #: +2.8%% ratio for ~2.4x encode CPU — the classic Zopfli trade, so the
    #: default mirrors the reference's opt-in
    mode_grid: bool = False
    #: with split hints supplied to encode_table: also run the cost splitter
    #: WITHIN each hinted segment (--aas "additional auto splitting" analog,
    #: reference src/zopfli/deflate.c:1860-1884); hinted points always survive
    hints_additional_split: bool = False
    #: content-clustered doc ordering within each group: docs are reordered
    #: by a cheap content signature (range/run/distinct/delta buckets) before
    #: page splitting, so pages become codec-homogeneous — the row-order
    #: degree of freedom a columnar store owns (parquet writers sort for RLE
    #: the same way; table semantics are order-free and every consumer joins
    #: on doc_id). Measured on the r5 mixture (4000 docs, 6.28M tokens) at
    #: the ratio() dials: −6.0% payload (4.020→4.278), ~6× kernel CPU (the
    #: deep search re-encodes the giant codec-pure spans clustering creates;
    #: zlib-over-planes dominates the profile). OFF by default — at the
    #: DEFAULT dials it measured −6% ratio (budget splitting doesn't exploit
    #: homogeneous runs), and page doc_id ranges stop being contiguous,
    #: which a doc_id-range point-lookup could otherwise prune on
    cluster_docs: bool = False
    #: group-level shared Huffman dictionary (the EncodeTree/AddDynamicTree
    #: header-amortization idea one level up — reference src/zopfli/
    #: deflate.c:118-293,299-363 amortizes the tree over a block; this
    #: amortizes (dict values + code lengths) over all pages of a group).
    #: Entropy-bound pages (zipf token mixes) pay ~2-3 bits/value of per-page
    #: dict header at fine page granularity; a shared table paid once per
    #: group removes it. Training set is content-pure (entropy-vs-floor rule
    #: + equal-weight KL refinement + greedy cardinality cap, see
    #: engine.train_group_dict and GroupCtx.gh_dict) so lineage replay
    #: reproduces the dictionary byte-identically without re-running the adoption
    #: comparison; out-of-dict values ride an ESCAPE code + literal side
    #: stream so heavy-tail pages can adopt without full coverage. Measured
    #: on the r5 mixture at the ratio() dials (with cluster_docs): a
    #: further −2.5% payload on top of clustering (4.278→4.387; adopting
    #: pages held 1.82 MB vs a 29 KB dict row). OFF by default (needs
    #: clustering's codec-pure pages to find training windows); ratio()
    #: turns both on — combined +9.1% ratio over the r4 ratio() notch on
    #: the same workload. With it on, the split estimator also prices every
    #: range as min(own entropy, bits under the shared group code) whenever
    #: the allow-list admits group_huffman (engine.GroupCtx.gh_split_bits);
    #: that is estimator-only, so it adds nothing to the mode fingerprint
    group_dict: bool = False
    #: conditional-entropy (distinctness) term in the split estimator (r6):
    #: bucket entropy saturates at log2(256) = 8 bits, so content families
    #: above 8 bits/value (e.g. card-9.6k vs card-68k near-uniform token
    #: streams) are indistinguishable to the splitter and end up mixed into
    #: flat bitpack pages. The chain rule H(V) = H(bucket) + H(V|bucket)
    #: un-caps the estimate, with per-bucket range-distinct counts
    #: approximated by windowed first-occurrence flags (one stable argsort
    #: per group, ~0.2 s CPU per Mvalue — why it is a dial and not
    #: unconditional: the default/throughput notches are kernel-CPU-bound).
    #: Estimator-only (codec choice stays exact keep-if-smaller), so like
    #: the split-time group-code pricing that group_dict turns on it is
    #: deliberately NOT in the mode fingerprint. ratio() turns it on
    split_card_term: bool = False
    #: deterministic seed; combined with content hashes so re-runs (and runs
    #: at different parallelism) produce byte-identical streams
    seed: int = 42

    @property
    def mode(self) -> int:
        """Codec-search config fingerprint for lineage keys — the mode
        dip-switch analog (reference src/zopfli/zopfli.h:100-112)."""
        # bit 0 stays set: every recorded lineage key was made with it on
        bits = 1
        bits |= (self.zlib_level & 0xF) << 1
        bits |= (1 if self.split_mode == "cost" else 0) << 5
        bits |= (self.iterations & 0xFF) << 6
        bits |= (MAX_UNSUCCESSFUL & 0xF) << 14
        bits |= (self.recompress_passes & 0x3) << 18
        bits |= (1 if self.mode_grid else 0) << 20
        bits |= (1 if self.split_mode == "dp" else 0) << 21
        bits |= (1 if self.try_huffman else 0) << 22
        bits |= {"rle": 0, "default": 1, "both": 2}.get(self.plane_strategy, 3) << 23
        # headroom is dialled in [0, 1] → ×16 fits 5 bits (the r4 layout
        # reserved 6; bit 30 was never set in practice, so narrowing the
        # mask preserves every historical fingerprint)
        bits |= (int(self.huffman_headroom * 16) & 0x1F) << 25
        bits |= (1 if self.group_dict else 0) << 30
        bits |= (1 if self.cluster_docs else 0) << 31
        if self.codec_allowlist is not None:
            # order-insensitive, process-stable fingerprint of the allow-list
            # (NOT builtins.hash — string hashing is randomized per process,
            # which would break cross-process lineage keys). CRC32 over the
            # SORTED, LENGTH-PREFIXED concatenation: sorting gives order
            # insensitivity without XOR (whose cancellation let {a,b} collide
            # with {c} and duplicates cancel to 0 — ADVICE r3), and the
            # length prefix disambiguates concatenation boundaries. Masked to
            # 31 bits so the packed fingerprint tops out at bit 62 — inside
            # int64, so lineage's `mode long` column holds it exactly.
            import zlib as _zlib

            payload = b"".join(
                len(n := name.encode()).to_bytes(2, "little") + n
                for name in sorted(self.codec_allowlist)
            )
            # 30-bit mask (was 31 pre-r5; bits 30/31 now carry the
            # group_dict/cluster_docs dials): fingerprint tops out at bit
            # 61 — still inside int64, lineage `mode long` holds it exactly.
            # Allow-listed configs re-key their lineage across this version
            # (a mode change re-encodes, never corrupts)
            h = _zlib.crc32(payload) & 0x3FFFFFFF
            bits |= (h | 1) << 32
        return bits

    # --- profiles ---------------------------------------------------------
    @classmethod
    def throughput(cls, **overrides) -> "EngineConfig":
        """Throughput-first profile: skip the Huffman search entirely and
        keep the fast Z_RLE plane strategy — the encode-speed end of the
        reference's speed/size dial (plain gzip end)."""
        kw = dict(
            try_huffman=False, plane_strategy="rle", iterations=3,
            max_pages_per_group=64,
        )
        kw.update(overrides)
        return cls(**kw)

    @classmethod
    def ratio(cls, **overrides) -> "EngineConfig":
        """Ratio-first profile: every entropy candidate, keep-if-smaller
        plane strategy, level-9 DEFLATE, wider Huffman admission — the
        zopfli end of the dial (slow-but-smaller is the product)."""
        kw = dict(
            plane_strategy="both",
            zlib_level=9,
            huffman_headroom=1.0,
            iterations=15,
            recompress_passes=2,
            max_pages_per_group=1024,
            cluster_docs=True,
            group_dict=True,
            split_card_term=True,
        )
        kw.update(overrides)
        return cls(**kw)


DEFAULT_CONFIG = EngineConfig()
