"""Pipeline configuration.

The reference drives its cluster stage from a TOML config
(/root/reference/resources/pipelines/wikitables.toml:160-196: matchers, agg
function string, agg_threshold, LSH num_perm/threshold, max_cluster_size).
This dataclass is the Spark-native equivalent: plain values, no reflection.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class PipelineConfig:
    # --- blocking -----------------------------------------------------------
    #: which blockers to run: any subset of {"token", "minhash", "embedding",
    #: "media"}.
    blockers: tuple[str, ...] = ("token", "minhash")
    #: minimum token length considered a blocking key (reference skips short /
    #: numeric cells for lookup, takco/link/base.py:200-201).
    min_token_len: int = 2
    #: represent block keys as xxhash64 longs instead of prefixed strings
    #: inside the pipeline (identity-only keys; 8 bytes vs 12-20-byte strings
    #: across the two biggest shuffles). 64-bit collisions only ADD candidate
    #: pairs (scored away downstream) — see operators.blocking.token_blocks.
    hashed_keys: bool = True
    #: blocks larger than this are dropped entirely (stop-word-like keys whose
    #: pair blowup is quadratic); the drop is COUNTED and logged, never silent.
    max_block_size: int = 200
    #: blocks larger than this but <= max_block_size are salted: split into
    #: ceil(size/salt_threshold) buckets by hash(doc_id); pairs form only
    #: within a bucket. Bounds the per-key pair count at scale (north rule).
    salt_threshold: int = 64
    # --- MinHash-LSH (reference params: lsh.py:36-38, num_perm=128, thr 0.5)
    num_perm: int = 128
    lsh_bands: int = 32  # 32 bands × 4 rows → s-curve threshold ≈ 0.42
    minhash_seed: int = 42
    # --- scoring ------------------------------------------------------------
    #: similarity aggregation expression over the per-matcher score columns;
    #: same surface as takco's numexpr agg strings
    #: (takco/cluster/cluster.py:214-243), e.g.
    #: "@mean(@max(jaccard, jw), @max(lev_sim, tfidf_cos))".
    #: default gates on the token-level signal: string sims (jw/lev) alone are
    #: too generous on same-length word-soup, so they only LIFT a pair that
    #: already shares tokens — mirrors the reference's practice of combining a
    #: set matcher with softer matchers under one agg (wikitables.toml:162).
    agg_expr: str = "@mean(jaccard, @max(jw, lev_sim))"
    #: edges with agg score >= threshold enter the clustering graph
    #: (reference agg_threshold, wikitables.toml:166).
    agg_threshold: float = 0.60
    #: compute the TF-IDF cosine matcher (extra token join) — costs one more
    #: shuffle; off by default in the flagship config.
    use_tfidf: bool = False
    #: Levenshtein early-exit: distances above MAX_NAME_LEN·frac floor the
    #: similarity to 0 (JVM early-abandon — the lev DP is the scoring
    #: hotspot). None = exact.
    lev_max_dist_frac: float | None = 0.7
    #: score candidate pairs at SEGMENT level (header-delimited span groups —
    #: the column analog) and aggregate sub-similarities per pair by 1:1
    #: alignment, the reference's column-wise scheme (cluster.py:246-345).
    #: False = whole-document matchers (score_pairs).
    aligned: bool = False
    #: 'greedy' = soft-jaccard greedy 1:1 (reference default); 'max1' =
    #: each left segment takes its best right match (pure DataFrame aggs).
    align_mode: str = "greedy"
    #: normalization of the aligned total: 'jacc' t/(n1+n2-t), 'wide' t/max,
    #: 'narrow' t/min (reference align_width_norm). Applies to greedy mode
    #: only — max1 is the reference's un-normalized mean-of-maxes fast path.
    align_width_norm: str = "jacc"
    #: greedy mode skew guard: keep only the top-K sub-sims per candidate
    #: pair (by score desc) before the per-pair greedy scan. Exact whenever a
    #: pair has <= K similar segment pairs (greedy consumes cells in score
    #: order, so the dropped tail is the part greedy reaches last); bounds
    #: the collect_list row and the Python scan for pathological doc pairs.
    #: 0 disables the cap.
    align_max_cells: int = 4096
    # --- embedding matcher/blocker (F11/J3; EmbeddingMatcher analog) --------
    #: compute mean-of-span embeddings and add the 'emb_cos' matcher column
    #: (reference vecsim, embedding.py:227-246); the agg_expr may then
    #: reference emb_cos. Requires no external data: a (token, vec) word-vec
    #: table can be passed to the operators; default is the deterministic
    #: hash projection (operators.embedding).
    use_embedding: bool = False
    embedding_dim: int = 16
    #: hyperplane bits per LSH table for the 'embedding' blocker.
    emb_n_bits: int = 12
    # --- media matcher/blocker (interleaved text+media corpora) -------------
    #: add the 'media_jacc' matcher column — Jaccard over each document's set
    #: of media_ref values (kind='media' spans). Interleaved documents that
    #: embed the same images/videos are strong duplicate candidates; the
    #: signal is exact-key (no similarity kernel) so it costs one narrow
    #: join. The agg_expr may then reference media_jacc. The 'media' entry in
    #: ``blockers`` blocks on shared media_ref the same way 'token' blocks on
    #: shared tokens (same drop/salt caps).
    use_media: bool = False
    # --- clustering ---------------------------------------------------------
    #: graph-partition algorithm: 'cc' (default — scalable large-star /
    #: small-star connected components; pair with refine_threshold for the
    #: engine's measured-parity G1 tier) or 'louvain' (exact reference
    #: semantics: weighted multilevel Louvain with weights sim**edge_exp, run
    #: per connected component — takco/cluster/cluster.py:74-106; see
    #: operators/louvain.py for the exactness argument).
    cluster_method: str = "cc"
    #: Louvain edge-weight exponent (reference edge_exp, cluster.py:88).
    louvain_edge_exp: float = 6.0
    #: Louvain skew guard: components with more members than this keep their
    #: CC label instead of running the per-component kernel (observable skip).
    louvain_max_component: int = 5000
    #: clusters larger than this are re-sliced (reference max_cluster_size,
    #: wikitables.toml:168 = 250; 0 disables). On by default so every
    #: downstream per-cluster stage (refinement, alignment) sees a bounded
    #: group even when CC produces a giant component.
    max_cluster_size: int = 250
    #: max large-star/small-star rounds before declaring non-convergence.
    max_cc_iterations: int = 20
    #: optional strict within-cluster refinement (reference two-stage scheme:
    #: coarse graph partition, then per-partition complete-linkage at a
    #: stricter threshold — agg_threshold_col analog, wikitables.toml:167).
    #: None disables; when set, the pipeline emits refined cluster ids.
    refine_threshold: float | None = None
    # --- header-union pre-clustering (EP2 step 2) ----------------------------
    #: merge documents whose header-span sequences hash identically into one
    #: union document BEFORE blocking (reference headerunions fold,
    #: takco/__init__.py:282-291, cluster/headerunions.py:4-9) — the cheap
    #: exact-key pre-cluster that cuts candidate-pair mass on header-heavy
    #: corpora. Members inherit their union's final cluster label.
    header_union: bool = False
    #: skew guard: at most this many members merge into one union document;
    #: larger header groups split into sub-unions (their identical features
    #: re-link through the fuzzy pipeline). Bounds the per-union span list
    #: the same way G2 bounds cluster size.
    header_union_max_group: int = 1000
    # --- checkpointing ------------------------------------------------------
    checkpoint_dir: str | None = None
    run_id: str = "run0"
    # --- misc ---------------------------------------------------------------
    seed: int = 42
