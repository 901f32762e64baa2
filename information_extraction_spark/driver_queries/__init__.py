"""Driver-facing query catalog: one entry per implemented operator
from SURVEY.md §2, each with a DuckDB oracle, consumed by
__spark_entry__.py. Importing the query modules registers every query
and its oracle in ``_registry``; this module orders the catalog and
turns the oracles into SQL for a corpus."""

from __future__ import annotations

# Imported for their registrations; the import order is the catalog
# order after the changed-first names.
from information_extraction_spark.driver_queries import (  # noqa: F401
    core,
    core2,
    core3,
    kg,
    relational,
    sketches,
    streamq,
    textdata,
)
from information_extraction_spark.driver_queries._registry import (
    ORACLES,
    QUERIES,
)

# Queries ADDED or MODIFIED in the current round are listed FIRST in
# the registry: if the driver's correctness gate checks fewer rows
# than the registry holds (r03 recorded 50 rows for 56 queries), the
# recently-edited queries must never be the ones left unchecked — a
# stale green row from a prior round is not evidence for code that
# changed since (VERDICT r03 #1). Update this list each round.
_CHANGED_THIS_ROUND = [
    # MODIFIED: component labels come from linking.relabel (held on
    # the driver, broadcast per key) and connected components keep the
    # key's own type — no zero-padded ids; kg_entity_linking_distributed
    # runs star contraction directly.
    "kg_entity_linking",
    "kg_entity_linking_distributed",
    "kg_er_merge",
    "dd_dup_clusters",
    "dd_semdedup_keep",
    "emb_dbscan",
    # MODIFIED: every exact ratio goes through functions/exact's
    # exact_muldiv (a26 no longer overflows past ~10^8 docs), and
    # one-shot lineage cuts go through checkpoint.cut under
    # releases_unread_cuts.
    "a16_sampled_groupby",
    "kg_er_blocking_audit",
    "kg_star_join",
    "p7_vocab_build",
    "p8_index_pad",
    # NULL n_chars dropped from the CDF identically on both engines;
    # d_ppm and the squared threshold come from exact_muldiv.
    "a25_ks_drift",
    # MODIFIED (round-5 advice): NULL lang/source strata coalesced to
    # the '(none)' sentinel so their observed cells count.
    "a26_chi2_independence",
    # rev4*10^6 overflowed BIGINT at sf0.1: share_ppm comes from
    # exact_muldiv (the oracle keeps its own quotient/remainder form)
    # and the threshold is in div form; a type holding all the
    # revenue reads 10^6 on both engines.
    "q11_revenue_share",
    # Hamilton largest-remainder budget apportionment across language
    # strata: pure-BIGINT quotas, remainder ranking over the bounded
    # stratum table, Σseats == budget certificate; R=2 at gate scale.
    "ta_seat_alloc",
    # Interpolated Kneser-Ney bigram smoothing: continuation counts,
    # d=3/4 cleared to exact-BIGINT ppm, one floor-div per term;
    # bounded top-40 TakeOrdered output.
    "ta_kn_smoothing",
    # Directed triad census over the asymmetric edge set: FFL vs
    # cyclic closed triads, middle-role hub cap, closure ppm.
    "kg_motif_census",
    # ACL push PPR: frontier-proportional rounds, integer ppb with
    # dust accounting — settled+residual+dust == 10^9 exactly.
    "kg_ppr_push",
    # Binary-quantization retrieval: two-word sign-bit packing,
    # Hamming coarse top-32, exact rerank, brute-force audit.
    "emb_binary_quantize",
    # McNemar power analysis: required annotation pairs per
    # predicate at alpha=.05/power .8; Acklam z literals, one
    # identically-grouped double expression, -1 zero-effect sentinel.
    "a24_power_analysis",
    # SentencePiece unigram-EM trainer: integer micro-nat Viterbi
    # E-steps, add-one char coverage M-step; oracle = the whole
    # trainer as ~40 chained MATERIALIZED CTEs.
    "p20_unigram_em",
    # Turn-level code-switching profile: integer-exact langid per
    # turn + lag-window switch counting per conversation.
    "ta_code_switch",
    # Aggregate IVM under a signed-multiplicity CDC delta with
    # zero-weight group elimination; consistency-vs-recompute flag
    # is the value-checked result.
    "w31_ivm_retract",
    # Reciprocal rank fusion of the BM25 and cosine rankers:
    # integer-exact 10^6 div (60+rank) over the union candidate
    # list; full-outer join of two bounded top-20 lists.
    "ta_rrf_fusion",
    # Cohen's kappa per predicate: chance-corrected agreement over
    # a13's cells with an arithmetic n00 (closed annotated-unit
    # universe; no unit-cross-join); exact BIGINT ppm.
    "a23_cohen_kappa",
    # DSIR importance weights: hashed-bigram target/raw likelihood
    # ratio in quantized micro-nats, 256-row broadcast term table,
    # deterministic positive-weight selection.
    "ta_dsir",
    # Pivot-sampled Brandes betweenness: backward delta accumulation
    # over the forward (dist, sigma) pass, per-term integer division
    # by sigma_w, 2 pivots / 3 hops; bridges rank highest.
    "kg_betweenness",
    # Sums-style truth discovery: belief->trust->belief mutual
    # reinforcement in exact BIGINT ppm over the assertion edges;
    # flips 80/485 conflict-slot winners vs the raw support vote.
    "kg_truth_discovery",
    # K-anonymity audit over the (lang, source, length-decile)
    # quasi-identifier: one bounded-key shuffle + broadcast total;
    # k=5 flag and exact share_ppm per equivalence class.
    "ta_k_anonymity",
    # Flesch reading ease in exact milli-units: vowel-group
    # syllables, 12-word-turn sentences, BIGINT multiply-before-
    # divide; narrow zero-shuffle map.
    "ta_readability",
    # BH step-up FDR over the 50 per-predicate McNemar tests:
    # p_i <= i*alpha/m restated as chi2_i >= shared ppm critical
    # literals (Acklam inverse-normal, functions/stats.py).
    "a22_bh_fdr",
    # McNemar paired significance over a13's agreement cells:
    # continuity-corrected chi2 in exact ppm vs the 3.841459
    # critical value — the model-swap gate.
    "a21_mcnemar",
    # Community conductance: exact-ppm cut quality of the LPA
    # communities (cut / min(vol, 2m-vol)); cut edges charge both
    # sides via in-row explode, never a second join.
    "kg_conductance",
    # Poisson-bootstrap CI (Chamandy et al.): deterministic
    # Poisson(1) weights per (row, replicate) from the portable md5
    # uniform vs Python-computed integer thresholds; R=40 replicate
    # means in one narrow pass, order-statistic CI, all BIGINT ppm.
    "a20_bootstrap_ci",
    # Simplified silhouette over the k-means clusters: all-k
    # distances in one narrow in-row pass over literal centroids,
    # integer s_ppm, per-cluster integer-div means.
    "emb_silhouette",
    # Heaps-law vocabulary growth: each word counts at its FIRST doc
    # (min(doc_id) shuffle), running sums over the 10-row decile
    # table; cumulative distinct without rescanning.
    "ta_heaps_law",
    # Exact ROC AUC via Mann-Whitney midranks over the bounded
    # score-cent histogram (never row-level ranks); all-BIGINT
    # auc_ppm; pairwise-with-ties brute-force parity in pytest.
    "a18_auc_exact",
    # Calibration reliability bins: 10 equal-width probability bins,
    # exact ppm confidence/accuracy/gap per bin (the ECE weights);
    # one map-side-combined shuffle to <=10 rows.
    "a19_calibration",
    # Dynamic-partition-overwrite backfill: latest day restated in
    # place (drops + restatements), other days' files byte-untouched
    # (pinned by file inventory); oracle recomputes the final state.
    "w29_backfill_overwrite",
    # Peak interval concurrency per event_type via the GLOBAL-order
    # segmented scan (hot keys spread over all partitions; -1<+1 tie
    # rule = half-open intervals); oracle = per-type window sweep.
    "w27_interval_concurrency",
    # Deequ-style data-quality constraint suite: one conditional
    # aggregate per single-table check, LEFT ANTI FK legs (dim
    # broadcast; big-big side collapsed to DISTINCT keys first),
    # exact integer pass_ppm.
    "w26_dq_audit",
    # Sorted-neighborhood ER blocking (Hernández & Stolfo): two-phase
    # range-shuffle global rank + w-window EQUI-join on rank+d —
    # catches typo pairs that hash blocking separates.
    "kg_er_sorted_neighborhood",
    "q21_waiting_suppliers",
    # Key-skew profile: heavy hitters via TakeOrdered + max/mean
    # imbalance ppm over the collapsed per-key count table.
    "w23_skew_profile",
    # Schema-evolution read: mergeSchema union over two snapshot
    # generations (g2 added n_convs), NULL-tolerant aggregates.
    "w24_schema_evolve",
    "ta_repetition",
    "w17_markov",
    "emb_quantize",
    "kg_jaccard_neighbors",
    "dd_containment",
    "w18_dist_ranks",
    "kg_pred_implication",
    "q20_revenue_concentration",
    "ta_novelty",
    "kg_triangles",
    "w16_retention",
    "kg_rule_mining",
    # Rule APPLICATION: propose head edges where a >=0.5-confidence
    # body fires and the head is absent (LeftAnti on the edge key).
    "kg_rule_apply",
    # Cross-extractor agreement audit (rule-based vs NN detections,
    # FULL OUTER on the provenance key; integer-ppm Jaccard).
    "a13_extractor_agreement",
    # Post-clustering distance outlier gate (integer-exact 1.08x-mean
    # rule over the x10^4-quantized distances).
    "emb_outliers",
    "ta_pmi_collocations",
    "w11_compaction",
    # Per-doc TF-IDF keywords and BM25 query-conditioned ranking —
    # the retrieval/curation pair (broadcast df table, micro-unit
    # contribution sums).
    "ta_tfidf_topk",
    "ta_bm25",
    "kg_incremental_merge",
    "kg_neg_sampling",
    # MODIFIED: extract_triples runs one path — the fused kernel, for
    # every threshold and with or without a checkpointer — and the
    # kernel's predicate selection is shared with classify_batch
    # (kg_classify); kb_from_documents builds its dims from pandas.
    "kg_extract_triples",
    "kg_spo_lists",
    "kg_classify",
    "a1_alias_eval",
    "st_extract_triples",
    # MODIFIED: partitioned graph sink consumed via a pruned single-
    # predicate read; the table's metadata file (schema + bucket
    # count) is both the write-once marker and the read's schema.
    "kg_graph_pred_scan",
    # --- ROUND 5 ---
    # NEW: Louvain to convergence (guarded-star contraction, exact
    # per-level modularity certificate, unrolled 8-level oracle).
    "kg_louvain_full",
    # NEW: PNG IHDR / JPEG SOFn header-level dimensions without
    # codec libraries (stub narrowed to compressed audio/video).
    "mm_png_jpeg_dims",
    # MODIFIED (round-5 advice): NULL n_chars filtered identically in
    # engine and oracle before ranking.
    "a27_spearman",
    # --- ROUND 4 ---
    # MODIFIED this round (NULL-lang audit): scope/shard keys
    # coalesce NULL lang to a '(none)' sentinel on both engines.
    "a17_hll_mergeable",
    # MODIFIED this round (NULL-lang audit): the pivot margin is the
    # per-source count of ALL rows, not the sum of pinned buckets.
    "q8_pivot",
    # MODIFIED this round: NULL-text docs now excluded identically on
    # both engines (the fold crashed on int(NaN) before).
    "ta_seq_packing",
    # Two-level Louvain: pointer-graph CC communities, aggregated
    # graph, level-2 argmax where strict positivity finally binds
    # (3 of 5 supernodes move, 2 stay on negative gains).
    "kg_louvain_levels",
    # Streaming Misra-Gries heavy hitters: <=k counters + cumulative
    # subtrahend as the error certificate; batch order pinned by
    # staggered file mtimes; oracle replays the 4 merges as CTEs and
    # audits counter <= exact <= counter + Sigma-t.
    "st_mg_topk",
    # VAD segmentation over the audio energy windows: per-media mean
    # gate as a cross-multiplication + gaps-and-islands rollup, all
    # keyed on media_id; oracle nests the generator-formula energies.
    "mm_vad_segments",
    # Synchronous Louvain move phase from singletons: exact-BIGINT
    # scaled gains 2m·w_ij − deg_i·deg_j, strict-positivity move,
    # smallest-neighbor ties; oracle decorrelates the struct-argmax.
    "kg_louvain_move",
    # TPC-H Q9 profit rollup: both dims broadcast-prune the fact
    # before the single orderkey shuffle; per-line BIGINT cents.
    "q26_profit_by_nation_year",
    # ANALYZE-style per-column stats: single-column pruned scans,
    # KMV ndv sketch next to the exact audit, 4-row dim output.
    "w33_analyze_stats",
    # Orphan-file GC: uncommitted crashed-writer snapshot dirs swept
    # per stage; committed data, claims and legacy dirs survive.
    "w32_orphan_files",
    # Content-defined chunking dedup: self-synchronizing w=8 rolling
    # hash boundaries, in-row chunking, chunk-hash dedup rollup
    # (236 duplicated chunk keys at the gate scale).
    "dd_cdc_chunks",
    # Beam search over the NN-Descent graph: fixed entry, 3 steps,
    # beam 4; self-auditing true_rank + n_seen (34/500 touched).
    "ann_graph_search",
    # Nearest-neighbor 4x4 image resize: byte-exact decode+resample
    # proven against the generator formula at mapped coordinates.
    "mm_resize",
    # Gopher filter rule battery: published thresholds as integer
    # cross-multiplications, per-rule flags + keep decision; zero
    # shuffles (in-row higher-order aggregates only).
    "ta_gopher_rules",
    # NN-Descent kNN-graph refinement: two-hash-bucketing init +
    # one general-neighbor local-join round; 479/2000 edges are
    # refinement discoveries (single-blocking init is a no-op).
    "emb_nn_descent",
    # Brandes forward pass: exact shortest-path counts (dist+sigma)
    # from the 2 top-degree sources in one multi-source keyed BFS;
    # per-hop chained-CTE oracle with the sum-over-predecessors
    # recurrence.
    "kg_path_counts",
    # Greedy MMR diversified top-k: integer-exact greedy trace over
    # a bounded candidate pool; sims computed with the index-ordered
    # Spark dot, greedy on collected quantized ints; 10-step chained
    # MATERIALIZED-CTE oracle.
    "ann_mmr_rerank",
    # Arbitrary GROUPING SETS (marginals without grand total — the
    # non-rollup/non-cube shape) via one Expand + one shuffle.
    "q27_grouping_sets",
    # WL structural fingerprints of per-conversation extraction
    # graphs: 2 refinement rounds, name-free labels, portable-h48
    # sorted-multiset hashing — the structure-keyed dedup signal.
    "kg_wl_kernel",
    # Functional-slot simultaneous contradictions: distinct objects
    # of one (s,p) whose temporal_extent validity windows overlap —
    # slot-co-keyed self-join, pair fan-out bounded by slot version
    # count squared.
    "kg_temporal_conflict",
    # 3x3 integer Laplacian over decoded BMP pixels: interior-pixel
    # edge density + response mass, nine vectorized numpy shift-adds
    # in one mapInPandas; oracle box-sums a 3x3 offset unnest over
    # the constructed pixel formula.
    "mm_conv_edges",
    # MIPS top-k via the Bachrach augmented-dimension reduction:
    # ||x̂|| = M for every item, reduced cosine = ip/(||q||·M);
    # Spark ranks in the reduced space, oracle by raw inner product.
    "ann_mips",
    # Landmark distance oracle (ALT sketch): 4 degree-picked
    # landmarks, ONE multi-source BFS keyed (entity, lm), pair
    # estimates min(d(u,l)+d(l,v)) over the md5-sampled audit set.
    "kg_landmark_dist",
    # Streaming late-data audit: numRowsDroppedByWatermark as the
    # value-checked RESULT — empirically pinned lag-2 watermark and
    # post-partial-aggregation drop semantics vs an analytic oracle.
    "st_late_audit",
    # GraphSAGE mean-aggregation layer: in-row hashed features (the
    # learned-embedding seam), undirected closure + ONE map-side-
    # combined node shuffle; exact BIGINT neighbor means.
    "kg_gcn_agg",
    # Conversation-level dedup by EXTRACTED CONTENT: triple-set
    # Jaccard over (s,p,o)-blocked conv pairs, stop-triple cap —
    # the last dedup granularity (span -> doc -> conversation).
    "kg_conv_dedup",
    # Snapshot retention GC (Iceberg expire_snapshots): 3-snapshot
    # history, oldest expired — dir deleted, manifest rewritten,
    # id claims kept (monotonic ids after GC); survivors read via
    # read_as_of against a pure-documents oracle.
    "w30_snapshot_expire",
    # SimHash Hamming-radius SEARCH (Manku pigeonhole block index):
    # k+1 equi-joined 6-bit blocks over a 24-bit shingle simhash,
    # salted block self-join, first-block-wins dedup, in-row
    # xor+bit_count verify; oracle = brute-force all-pairs.
    "dd_simhash_hamming",
    # UNPIVOT/melt: Spark's native Expand-based unpivot (one row per
    # metric, no shuffle) vs DuckDB's native UNPIVOT; one bounded-key
    # profile shuffle after the reshape.
    "q26_unpivot",
    # Extraction yield by speaker role: role recovered in-row from
    # the triple's provenance turn_idx via the transcript cycle
    # rule; one Expand-keyed shuffle on the 3-value role key.
    "kg_role_yield",
    # Per-(role, tool) transcript profile: first consumer of the
    # input contract's role/tool columns; narrow in-row token count,
    # one bounded-key shuffle with Expand-keyed distinct.
    "kg_role_profile",
    # Functional-slot object-version history: the time-ordered
    # correction-vs-change timeline per (s, p) slot, via the same
    # co-keyed provenance join as kg_temporal_extent; one slot-sized
    # (s, p) window shared by version/lag/count.
    "kg_slot_changes",
    # Streaming CDC upsert: latest-op-wins keyed state via the
    # versioned exactly-once merge; tombstones persist in state and
    # suppress out-of-order earlier-seq updates from later batches;
    # oracle = the batch compaction.
    "st_cdc_upsert",
    # Per-window DFT-bin spectral power over decoded channel-0 WAV
    # samples against x100 integer trig tables (same literals both
    # engines); constructed-expectation oracle.
    "mm_spectral",
    # Newman modularity of the LPA communities: exact BIGINT
    # q_num/q_den per community (4mL - D^2 over 4m^2), no floats.
    "kg_modularity",
    # TextRank keywords: PageRank over the adjacent-token
    # co-occurrence graph; vocab-bounded vertex set.
    "ta_textrank",
    # Multinomial NB language classifier (train even / apply odd):
    # broadcast model, quantize-then-integer-sum micro-nat scores,
    # OOV drop + prior-only empty docs.
    "ta_nb_classify",
    # TPC-H Q7 shape: disjunctive nation-pair trade volume; nation
    # dims filtered to the pair BEFORE the fact joins, OR evaluated
    # post-join, never as a join condition.
    "q24_nation_volume",
    # TPC-H Q8 shape: national market share within one region/part
    # class per year; CASE-in-aggregate single pass, BIGINT cents.
    "q25_market_share",
    # Perceptual average-hash image dedup: integer-exact 64-bit
    # fingerprint over decoded pixels (cross-multiplied cell-vs-
    # global mean), ONE shuffle on the hash key; seeded 10-copy
    # groups must collapse.
    "mm_phash_dedup",
    # Fixed-round weighted Bellman-Ford from the BFS seed set:
    # min-plus relaxation re-offers known nodes (cheaper longer
    # paths); portable h48 edge weights; chained-CTE oracle.
    "kg_sssp_weighted",
    # Greedy k-center coreset: distributed farthest-point traversal
    # (k TakeOrdered argmaxes + narrow running-min folds, no pairwise
    # matrix); oracle = chained argmax/fold CTEs, 6dp distances.
    "emb_coreset",
    # PERMISSIVE JSONL quarantine: schema-pinned read routes mangled
    # lines (raw line kept for replay) to a corrupt bucket; staged
    # file derives deterministically from documents, write-once.
    "s9_corrupt_quarantine",
    # Exponential time-decay rollup: integer 2^-age weighting (shift
    # + DIV, no pow/exp), one map-side-combined shuffle.
    "w28_decay_agg",
    # Add-one bigram LM perplexity: in-row bigram expansion, two
    # count shuffles, history-marginal denominator; 4dp floats.
    "ta_bigram_lm",
    # ViT-style 2x2 tile lattice over REAL decoded BMP pixels (exact
    # per-tile intensity sums); oracle recomputes tiles
    # arithmetically from make_bmp's byte formula.
    "mm_image_tiles",
    # 4-truss of the kNN-graph closure: fixed-round per-edge triangle
    # support (degree-ordered enumeration) + simultaneous prune;
    # oracle chains the same two support+prune CTE rounds.
    "emb_ktruss",
    # Per-brand Pareto skyline via two window aggregates over one
    # brand-partitioned sort (strictly-cheaper range frame + same-
    # price peer max) — never an O(n^2) dominance self-join; oracle
    # is the independent NOT EXISTS restatement.
    "q23_skyline",
    # Blocked thresholded Levenshtein near-dup: the character-level
    # complement to dd_ngram_jaccard — same lossless (lang, 20-char
    # band ±1) blocking, Ukkonen-banded 3-arg levenshtein behind the
    # pushdown barrier.
    "dd_edit_distance",
    # Deterministic DeepWalk walk corpus: md5-argmin successor per
    # step over the undirected edge closure (the graph is bipartite,
    # so directed walks die after one hop — measured); k bounded
    # join+struct-min rounds, frontier one row per start.
    "kg_random_walks",
    # BPE encode (apply side of p18): trained merges applied in rank
    # order to the vocabulary — narrow map, driver-bounded merge
    # table; p18 refactored onto the shared training loop.
    "p19_bpe_encode",
    # TPC-H Q2/Q11/Q21 adaptations: correlated argmin via one
    # lexicographic struct-min (min-balance supplier per brand),
    # group-vs-global-scalar HAVING with the exact integer
    # cross-multiply threshold, and the multi-EXISTS blame report
    # (LEFT SEMI + LEFT ANTI against the same late-pair table).
    "q2_min_cost_supplier",
    # Ontology subproperty closure: 3 path-doubling rounds over the
    # bounded predicate hierarchy, inference applied to the 50-row
    # per-predicate aggregate (never the raw assertion table).
    "kg_ontology_closure",
    # Cross-document repeated spans (exact substring dedup): one
    # shuffle on the gram hash, big-big join back, per-doc island
    # merge over surviving positions only.
    "dd_dup_spans",
    # Right-to-be-forgotten cascade: broadcast deletion dim, one
    # conditional-sum shuffle on (s,p,o), delete-vs-retain audit.
    "kg_forget_propagate",
    # Salted two-phase hot-key aggregation, driver-visible: (key,
    # salt) partials + composite-key distinct; oracle is the plain
    # GROUP BY.
    "w25_salted_agg",
    # Link-prediction ranking eval (MRR / Hits@k): broadcast top-16
    # candidate pool, pure-BIGINT TransE distances, exact integer
    # MRR; closes the embedding train->score->eval loop.
    "kg_embedding_eval",
    # HyperLogLog distinct estimation (register-wise max merge; raw
    # estimate only — no small-range linear counting at this
    # cardinality) and the batch-GD linear-regression TRAINING loop
    # (dim+1-group gradient shuffle per round, weights as literals).
    "a14_hll_distinct",
    "emb_linreg_gd",
    # TPC-H Q13/Q17/Q22 adaptations: pre-filtered LEFT OUTER count
    # distribution (the zero-bucket is load-bearing), correlated
    # per-part avg-quantity threshold via aggregate-then-broadcast
    # join-back, and scalar-subquery + LEFT ANTI dormant customers
    # with an exact integer cross-multiply balance bar.
    "q13_cust_distribution",
    "q17_small_qty_revenue",
    "q22_dormant_customers",
    # Gopher-style repetition quality signals (within-row bigram
    # transform, deterministic tie-broken top bigram), the signed
    # random-projection JL sketch (md5-parity sign matrix, zero
    # shuffles, exact micro-unit output), and the first-order Markov
    # event-transition matrix (one lead() window shuffle).
    "emb_rproj",
    # CUBE grouping sets (one Expand + one shuffle, all four sets),
    # int8 symmetric embedding quantization (within-row pure-BIGINT
    # half-away codes, zero shuffles), and neighborhood-Jaccard link
    # prediction (object-blocked pairs, degrees over the SAME
    # hub-capped universe, union via d1+d2-shared).
    "q12_cube",
    # PPJoin-style prefix-filtered shingle containment (sub-document
    # dup detection; lossless rarest-prefix blocking vs an all-pairs
    # oracle), percent_rank/cume_dist distribution ranks as exact
    # BIGINT ppm, and the stream-static broadcast enrich join
    # (per-user batch profile joined to the purchase stream).
    "st_enrich",
    # Exact mergeable bitmap distinct counting (63-bit words, bit_or
    # merge + bit_count), Z-order Morton tiles (pure-arithmetic bit
    # interleave; layout pruning pinned in pytest), and exact-integer
    # second-moment accumulation (mergeable covariance numerators,
    # within-row inline over literal index pairs).
    "a15_bitmap_users",
    "w19_zorder_tiles",
    "emb_moments",
    # Predicate implication/subsumption mining (same-direction (s,o)
    # pair-key self-join; the reverse variant is structurally empty
    # on this schema and documented as such), the TPC-H Q16 distinct-
    # aggregate shape, and the integer-exact daily drift monitor.
    "q16_supplier_variety",
    "w21_drift_monitor",
    # Co-object meta-path (p1, p2) profile (the chain variant is
    # structurally empty on this schema — documented in the
    # docstring), k-NN similarity-graph construction, and FaceNet-
    # style hard-negative triplet mining (both over the kmeans-
    # blocked pair universe with deterministic tie-broken ranking).
    "kg_metapath_profile",
    "emb_knn_graph",
    "emb_triplet_mining",
    # SCD Type-2 dimension history from the CDC log (one key-ordered
    # window sort: lead + row_number share it), the top-decile
    # revenue-concentration Pareto report (exact ceil(n/10) integer
    # cut), and ingest-order n-gram novelty scoring (min-doc-per-gram
    # shuffle, the Lee et al. 2022 signal pointed inward).
    "w22_scd2_history",
    # Degree-ordered triangle counting + local clustering coefficient
    # over the co-mention graph, and fixed-round power-iteration PCA
    # projections over the embedding table.
    "emb_pca_power",
    # Daily cohort retention matrix (one user-keyed shuffle) and the
    # TPC-H Q4 EXISTS/semi-join shape (late-shipped orders).
    "q4_order_priority",
    # Entity co-mention graph (capped conv_id self-join), fixed-round
    # 2-core peel over it, and TransE hash-embedding triple scoring
    # with per-predicate min-md5 negatives.
    "kg_comention",
    "kg_kcore",
    "kg_transe_score",
    # mapInArrow columnar seam (zero-exchange pyarrow.compute stats)
    # and the INTERSECT/EXCEPT set operators over (user, day) keys.
    "p17_arrow_map",
    "q11_set_ops",
    # BPE merge training (Sennrich get_stats + fixed-3x non-overlap
    # replace merge; vocabulary-cardinality state, 1-row argmax
    # collects per round).
    "p18_bpe_train",
    # Deterministic weighted sampling (the domain-mix APPLY step:
    # hash-threshold keep decisions, pure BIGINT) and AMIE-style
    # horn-rule mining over the graph (bounded (s,o)-keyed expansion,
    # integer-ppm confidence).
    "ta_weighted_sample",
    # CDC log compaction to current state — upserts + tombstone
    # DELETEs, latest-op-wins via one struct-max shuffle.
    "w15_cdc_apply",
    # Ordered 3-step funnel analysis (chained conditional mins on the
    # reused user_id exchange; ordering, not presence).
    "w14_funnel",
    # Streaming Count-Min maintenance (mergeable-sketch state via the
    # generic versioned exactly-once merge; oracle = the batch CMS)
    # and the TPC-H Q19 OR-of-ANDs derived-pushdown shape.
    "st_cms_merge",
    "q19_disjunctive_filter",
    # ANN index QA: recall@k of the LSH bucket vs the brute-force
    # truth (composition of two already-cataloged shapes), and the
    # TPC-H Q15 arg-max-with-ties supplier report.
    "ann_recall_audit",
    "q15_top_supplier",
    # PMI bigram collocations (integer-ppm ratio — no cross-engine
    # ln()) and Resource-Allocation link prediction over the
    # materialized graph (object-blocked pairs, hub-degree cap,
    # integer-ppm score).
    "kg_resource_alloc",
    # Distributed sketches (driver_queries/sketches.py): Count-Min
    # frequency table (bounded d*w state, min-recovery load-bearing at
    # w=16 < vocab), KMV bottom-k distinct estimation (bottom-k via
    # TakeOrdered per-partition heaps == the KMV merge), and
    # Bloom-filter join pruning (explicit universal hashes; the
    # runtime-filter shape with an honest false-positive audit).
    "a11_countmin_heavy",
    "a12_kmv_distinct",
    "j10_bloom_filter_join",
    # TPC-H reporting shapes (returned-item top-20, promotion share,
    # large-volume HAVING rollup) and gaps-and-islands run compression.
    "q10_returned_items",
    "q14_promo_share",
    "q18_large_orders",
    "w13_event_runs",
    # Relational operator classes added this round: backward-inclusive
    # AS-OF join (union + running max, one shuffle — never a per-user
    # cross product), bucketed range join (window-width time buckets in
    # the join key), hypertable-style minute->hour rollup from
    # mergeable partials, ROLLUP grouping sets, and a pinned-values
    # pivot.
    "j8_asof_join",
    "j9_range_join",
    # Graph analytics widened this round: synchronous label-propagation
    # communities and multi-source BFS hop distances (frontier joins +
    # LeftAnti vs visited) over the undirected entity graph.
    "kg_label_propagation",
    "kg_bfs_distances",
    # Semi-structured JSON extraction over events.props, the Python
    # UDTF chunk-packing seam (Spark 4 lateral table function,
    # Arrow-batched), and small-file compaction driven end-to-end.
    "q9_json_props",
    "p16_chunk_udtf",
    # ntile distribution bucketing (deterministic total order) and the
    # pandas GROUPED_AGG UDAF seam (numpy median per bounded group).
    "w12_ntile_deciles",
    "a10_pandas_udaf",
    "w10_hypertable_rollup",
    "q7_rollup",
    # HITS hubs/authorities — the bipartite-friendly centrality
    # (integer micro-unit scores keep both engines in exact lockstep).
    "kg_hits",
    # Streaming ingest-time exact dedup (dropDuplicatesWithinWatermark;
    # re-crawl staged so every duplicate pair crosses a micro-batch).
    "st_dedup",
    # ER APPLICATION (pairs -> CC -> graph rewrite + support re-agg),
    # SHACL-style cardinality and domain/range validation against the
    # induced ontology, and fixed-iteration Lloyd k-means over the
    # embedding table — added this round.
    "kg_cardinality_check",
    "kg_type_violations",
    "emb_kmeans",
    # Cluster-balanced sampling rates over the k-means assignments,
    # PQ asymmetric-distance top-k (narrow scan, no shuffle), and
    # deterministic fixed-fanout neighbor sampling for GNN prep.
    "emb_cluster_sample",
    "ann_pq_adc",
    "kg_neighbor_sample",
    # Watermarked stream-stream inner join (view -> purchase
    # attribution) drained as 4 genuine micro-batches per side.
    "st_stream_join",
    # Exact histogram-sketch length quantiles per language, and the
    # learned-blocking (k-means cluster) cosine near-dup variant.
    "ta_length_quantiles",
    "dd_embedding_cosine_kmeans",
    # Relational coverage widened: the pure-pushdown global agg and
    # the 6-table broadcast-dim join.
    "q6_forecast_revenue",
    "q5_local_supplier",
    # Native sliding and session windows (batch) — the two built-in
    # window semantics the catalog lacked.
    "w6_sliding_window",
    "w7_session_window",
    # Two-sided snapshot diff and the range-frame rolling aggregate.
    "kg_graph_diff",
    "w8_rolling_avg",
    # Snapshot time travel made driver-visible: read_as_of the first
    # of two differing snapshots (latest would fail the oracle).
    "w9_time_travel",
    # Intra-corpus duplicated-span scoring (Lee et al. 2022 shape).
    "ta_selfsim_spans",
    # PQ with Lloyd-TRAINED codebooks (m fused sub-space k-means),
    # and the IVFADC composite (coarse pruning + ADC rescore).
    "ann_pq_trained",
    "ann_ivf_pq",
    # Personalized PageRank (random walk with restart to a seed set).
    "kg_pagerank_personalized",
    # Consolidation layer above triple support, added this round:
    # functional-slot conflict resolution (struct-max argmax),
    # per-typed-predicate ontology profile, and k-bounded per-triple
    # provenance pointers.
    "kg_functional_resolve",
    "kg_pred_profile",
    "kg_provenance",
    # Provenance-key consumers added this round: triple validity
    # windows (real join back to the transcript table) and the
    # per-conversation extraction-yield monitor.
    "kg_temporal_extent",
    "kg_conv_stats",
    # Blocked ER candidate generation beyond the alias dictionary.
    "kg_er_candidates",
    # Entity type induction (vote argmax over declared slot types).
    "kg_type_infer",
    # Incremental ER: batch probed against the persisted slot index.
    "kg_incremental_er",
    # KG post-extraction ops added this round: per-triple support
    # aggregation and insert-only incremental MERGE into the base
    # graph; plus train/eval 8-gram decontamination and unigram-LM
    # perplexity scoring on the curation side.
    "kg_triple_support",
    "ta_contamination",
    "ta_perplexity",
    # Streaming incremental KG build: per-micro-batch support MERGE
    # into a versioned graph state; final state == batch support.
    "st_support_merge",
    # Training-data curation ops added this round: deterministic
    # hash split, mixture re-weighting rates, PII-style redaction,
    # and corrupted-object negative sampling over the triples.
    "ta_split",
    "ta_domain_mix",
    "ta_redact",
    # Incremental batch-vs-index dedup added this round; the shared
    # band/first-band-wins helpers were refactored under the other
    # LSH queries at the same time.
    "kg_pagerank",
    "dd_incremental_lsh",
    # Graph-analytics consumers over the materialized triples, added
    # this round (each runs the live pipeline against the flagship
    # golden, so they double as extraction re-checks).
    "kg_degree_topk",
    "kg_pred_cooccur",
    "kg_two_hop",
    "ann_ivf_pruned_probe",
    "dd_minhash_lsh_b4",
    "mm_frames",
    "dd_minhash_lsh",
    "ann_ivf_probe",
    "mm_codec_features",
    "mm_features",
]


def _order_changed_first(names: list[str]) -> None:
    """Move ``names`` to the head of the catalog, in their order. A
    repeated or unknown name raises before anything moves. Reordered
    in place: the registry's duplicate-name guard keeps checking the
    very dict that queries() returns."""
    repeated = sorted({n for n in names if names.count(n) > 1})
    if repeated:
        raise ValueError(f"changed-first list repeats names: {repeated}")
    missing = [n for n in names if n not in QUERIES]
    if missing:
        raise ValueError(f"changed-first list names unknown queries: {missing}")
    ordered = {**{k: QUERIES[k] for k in names}, **QUERIES}
    QUERIES.clear()
    QUERIES.update(ordered)


_order_changed_first(_CHANGED_THIS_ROUND)

def materialize_oracles(sf_dir: str) -> dict[str, str]:
    """The oracle SQL of every query for the corpus at ``sf_dir``, in
    catalog order: static oracles as registered, golden-based ones
    from their ``sf_dir -> SQL`` function. A pure function of
    (catalog, sf_dir): running a query changes nothing here."""
    out = {}
    for name in QUERIES:
        oracle = ORACLES[name]
        out[name] = oracle(sf_dir) if callable(oracle) else oracle
    return out
