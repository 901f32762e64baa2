"""Benchmark harness.

Runs the headline KG-extraction pipeline plus representative operator
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], and prints ONE JSON line:

  {"metric": "e2e_kg_extract_triples_per_sec", "value": N,
   "unit": "triples/sec", "queries": {...per-query seconds...},
   "sf": 0.1, ...}

Flags:
  --master local[N]   override parallelism (used by tools/scale_bench.py)
  --replicate R       corpus replication factor for the pipeline input
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _regressions(timings, master, cpus):
    """(regressions, BENCH file compared with, reason the gate is off):
    the newest BENCH_r*.json whose master and cpus equal this run's."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    cands = sorted(
        glob.glob(os.path.join(here, "BENCH_r*.json")),
        key=lambda p: int(re.findall(r"r(\d+)", p)[-1]),
        reverse=True,
    )
    for path in cands:
        with open(path) as f:
            doc = json.load(f)
        prev = doc.get("parsed") or {}
        if prev.get("master") != master or doc.get("cpus") != cpus:
            continue
        regressions = {
            qn: {"prev": was, "now": now, "ratio": round(now / was, 2)}
            for qn, now in timings.items()
            if (was := prev.get("queries", {}).get(qn))
            and was > 0.05
            and now > 1.5 * was
        }
        return regressions, os.path.basename(path), None
    return {}, None, f"no BENCH_r*.json taken at {master} with {cpus} cpus"


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--master", default=None)
    # Default sizes the timed e2e region to ~10s on local[32] so the
    # headline throughput reflects steady state, not the ~2s of fixed
    # driver/JVM cost that dominates a tiny run.
    parser.add_argument("--replicate", type=int, default=8)
    parser.add_argument("--sf-dir", default=None)
    parser.add_argument(
        "--skip-queries",
        action="store_true",
        help="only the e2e pipeline (scale_bench's small-N run needs "
        "nothing else)",
    )
    args = parser.parse_args()

    sf_dir = args.sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # Pin the WHOLE process tree (JVM + Python workers inherit the
    # affinity mask) to a deterministic CPU set sized to the task
    # slots, before the JVM starts. Scheduler migration onto cores
    # contended by co-tenants was the dominant e2e variance source
    # across rounds (±45% observed between same-day idle runs);
    # pinning makes round-over-round numbers comparable the same way
    # tools/scale_bench.py's taskset does. A taskset-style outer mask
    # (scale_bench) already being narrower is respected: we only ever
    # shrink to the FIRST cores of the allowed set, never widen.
    pinned = None
    try:
        m = args.master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '')}]"
        want = int("".join(ch for ch in m if ch.isdigit()) or 0)
        allowed = sorted(os.sched_getaffinity(0))
        if want and len(allowed) > want:
            pinned = allowed[:want]
            os.sched_setaffinity(0, set(pinned))
    except (AttributeError, ValueError, OSError):
        pinned = None

    def _cpu_ticks():
        """(steal, total) jiffies from /proc/stat — whole host."""
        try:
            with open("/proc/stat") as f:
                parts = f.readline().split()
            vals = [int(x) for x in parts[1:]]
            # user nice system idle iowait irq softirq steal ...
            steal = vals[7] if len(vals) > 7 else 0
            idle = vals[3] + vals[4]
            return steal, sum(vals), idle
        except (OSError, ValueError, IndexError):
            return 0, 0, 0

    def _host_window(t0_ticks, t1_ticks):
        """steal%/busy% of host CPU time inside a tick window. On an
        oversubscribed shared VM, steal is the dominant cross-round
        variance source (observed 0-15% minute-to-minute swings that
        move shuffle-heavy query timings 3-6x); reporting it per run
        makes a noisy round attributable instead of adjudicable."""
        ds = t1_ticks[0] - t0_ticks[0]
        dt = t1_ticks[1] - t0_ticks[1]
        didle = t1_ticks[2] - t0_ticks[2]
        if dt <= 0:
            return None
        return {
            "steal_pct": round(100.0 * ds / dt, 2),
            "busy_pct": round(100.0 * (dt - didle - ds) / dt, 2),
        }

    run_ticks0 = _cpu_ticks()

    from information_extraction_spark.driver_queries import QUERIES
    from information_extraction_spark.plans.pipeline import extract_triples
    from information_extraction_spark.session import get_spark
    from information_extraction_spark.sources.from_documents import (
        kb_from_documents,
        transcripts_from_documents,
    )

    spark = get_spark(app_name="ie-spark-bench", master=args.master)

    timings: dict[str, float] = {}

    # Headline: end-to-end extraction over replicated derived corpus.
    t0 = time.time()
    # Materialize the derived transcripts as a parquet table first —
    # the pipeline's contract is reading an EXISTING keyed transcripts
    # table (north rule); deriving it from documents is a sandbox
    # artifact and must not pollute the timed section.
    import tempfile

    tdir = os.path.join(
        tempfile.gettempdir(), f"ie_bench_transcripts_{sf}_{args.replicate}"
    )
    transcripts_from_documents(
        spark, sf_dir, replicate=args.replicate
    ).write.mode("overwrite").parquet(tdir)
    transcripts = spark.read.parquet(tdir)
    kb, schemas = kb_from_documents(spark, sf_dir)
    n_turns = transcripts.count()
    # Warmup: one full untimed run — spins up EVERY Python worker
    # (each pays ~1s of pandas/pyarrow import on first task) and JIT-
    # warms the JVM. A limit()-based warmup only touches 1-2 workers
    # and poisons the timed run with the remaining imports.
    extract_triples(spark, transcripts, kb, schemas).count()
    prep_sec = time.time() - t0

    # Best-of-5 timed runs (single-run variance on this shared VM
    # reached ±45% across same-day idle runs; the min of more samples
    # is the stable estimator of machine capacity). All samples are
    # reported so a noisy round is visible as spread, not adjudicated.
    # Round-5 variance fix (verdict #7): a SECOND untimed warmup pass
    # before sampling — the first timed sample was persistently the
    # slowest (JIT tiering + shuffle-file cache still settling after
    # one pass; r04 spread 2.56-5.28s), and the median is reported
    # next to the min so a noisy round is visible in BOTH statistics.
    extract_triples(spark, transcripts, kb, schemas).count()
    e2e_sec, n_triples = 1e18, 0
    e2e_samples = []
    e2e_ticks0 = _cpu_ticks()
    for _ in range(5):
        t0 = time.time()
        triples = extract_triples(spark, transcripts, kb, schemas)
        n_triples = triples.count()
        e2e_samples.append(round(time.time() - t0, 3))
        e2e_sec = min(e2e_sec, e2e_samples[-1])
    e2e_host = _host_window(e2e_ticks0, _cpu_ticks())
    e2e_median = sorted(e2e_samples)[len(e2e_samples) // 2]
    timings["kg_extract_e2e"] = round(e2e_sec, 3)

    if not args.skip_queries:
        # Full north-rule pipeline: extraction + alias-CC
        # canonicalization + partitioned graph write (the write is the
        # real sink, not a count, so shuffle + IO cost is included).
        from information_extraction_spark.operators.linking import (
            canonicalize_triples,
        )
        from information_extraction_spark.sources.from_documents import (
            alias_chain_pairs,
            vocabulary,
        )
        from information_extraction_spark.sources.tables import write_graph

        alias_df = spark.createDataFrame(
            alias_chain_pairs(vocabulary(spark, sf_dir)),
            "canonical string, alias string",
        )
        graph_dir = os.path.join(
            tempfile.gettempdir(), f"ie_bench_graph_{sf}_{args.replicate}"
        )
        # Warm run (untimed) then timed: the CC loop + partitioned
        # write touch file cache and codec paths the extraction warmup
        # does not.
        write_graph(
            canonicalize_triples(
                extract_triples(spark, transcripts, kb, schemas), alias_df
            ),
            graph_dir,
        )
        t0 = time.time()
        canonical = canonicalize_triples(
            extract_triples(spark, transcripts, kb, schemas), alias_df
        )
        write_graph(canonical, graph_dir)
        timings["kg_link_write_e2e"] = round(time.time() - t0, 3)

    # Representative operator queries (forced with count()).
    bench_queries = [
        "kg_classify",
        "dd_minhash_lsh",
        "dd_simhash",
        "dd_ngram_jaccard",
        "dd_embedding_cosine",
        "dd_dup_clusters",
        "p3_dp_segment",
        "kg_entity_linking_distributed",
        "kg_pagerank",
        "kg_degree_topk",
        "mm_codec_features",
        "dd_minhash_lsh_b4",
        "mm_frames",
        "ann_cosine_topk",
        "ann_lsh_bucketed",
        "ann_ivf_probe",
        "ann_ivf_pruned_probe",
        "kg_triple_support",
        "kg_functional_resolve",
        "kg_provenance",
        "kg_er_candidates",
        "kg_incremental_er",
        "kg_er_merge",
        "emb_kmeans",
        "ann_pq_adc",
        "kg_neighbor_sample",
        "ta_contamination",
        "ta_perplexity",
        "j8_asof_join",
        "j9_range_join",
        "w10_hypertable_rollup",
        "kg_label_propagation",
        "p16_chunk_udtf",
        "q10_returned_items",
        "w14_funnel",
        "w15_cdc_apply",
        "kg_rule_mining",
        "ta_weighted_sample",
        "q19_disjunctive_filter",
        "a12_kmv_distinct",
        "j10_bloom_filter_join",
        "ta_pmi_collocations",
        "kg_resource_alloc",
        "p17_arrow_map",
        "kg_bio_decode",
        "p7_vocab_build",
        "st_windowed_counts",
        "ta_langid",
        "w1_stable_turn_order",
        "w2_sessionize",
        "j1_broadcast_dim_join",
        "j6_cartesian_pairs",
        "a1_micro_prf1",
        "ta_quality",
        "ta_fingerprint",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "a14_hll_distinct",
        "emb_linreg_gd",
        "dd_containment",
        "kg_jaccard_neighbors",
        "ta_repetition",
        "emb_rproj",
        "dd_dup_spans",
        "kg_embedding_eval",
        "kg_forget_propagate",
        "q21_waiting_suppliers",
        "w25_salted_agg",
        "dd_edit_distance",
        "w26_dq_audit",
        "kg_random_walks",
        "kg_er_sorted_neighborhood",
        "p19_bpe_encode",
        "ta_phrase_search",
        "kg_er_blocking_audit",
        "mm_audio_energy",
        "ann_prefix_rerank",
        "kg_star_join",
        "a16_sampled_groupby",
        "a17_hll_mergeable",
        "ta_seq_packing",
        "w27_interval_concurrency",
        "ta_bigram_lm",
        "emb_coreset",
        "kg_slot_changes",
        "kg_role_yield",
        "dd_simhash_hamming",
        "kg_conv_dedup",
        "kg_gcn_agg",
        "a20_bootstrap_ci",
        "mm_conv_edges",
        "kg_temporal_conflict",
        "a22_bh_fdr",
        "emb_dbscan",
        "kg_wl_kernel",
        "ta_readability",
        "q27_grouping_sets",
        "ann_mmr_rerank",
        "ta_k_anonymity",
        "kg_truth_discovery",
        "kg_betweenness",
        "emb_nn_descent",
        "ta_dsir",
        "ta_gopher_rules",
        "ta_rrf_fusion",
        "mm_resize",
        "ann_graph_search",
        "w31_ivm_retract",
        "dd_cdc_chunks",
        "q26_profit_by_nation_year",
        "kg_louvain_move",
        "kg_motif_census",
        "a25_ks_drift",
        "a26_chi2_independence",
        "a27_spearman",
        "ta_kn_smoothing",
        "mm_vad_segments",
        "kg_louvain_levels",
        "ta_seat_alloc",
    ]
    # Round-5 bench TOTALITY (verdict #2): every catalog query is
    # timed. The legacy list above keeps its warmup + best-of-3
    # methodology for round-over-round comparability; every other
    # catalog entry gets warmup + best-of-2 (one fewer sample keeps
    # the full-catalog run inside the per-round budget — these
    # queries have no prior rounds to compare against yet, so the
    # slightly wider estimator costs nothing today and tightens next
    # round). Exclusions must carry a reason and are emitted in the
    # JSON so silent coverage loss is impossible.
    excluded: dict[str, str] = {}
    rest = sorted(set(QUERIES) - set(bench_queries) - set(excluded))
    if args.skip_queries:
        bench_queries, rest = [], []
    counts: dict[str, int] = {}
    for name, n_timed in [(q, 3) for q in bench_queries] + [
        (q, 2) for q in rest
    ]:
        fn = QUERIES[name]
        counts[name] = fn(spark, sf_dir).count()  # untimed warmup
        best = 1e18
        for _ in range(n_timed):
            t0 = time.time()
            fn(spark, sf_dir).count()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # Regression gate: timings from another host shape say nothing
    # about this one, so without a same-shape BENCH file it is off.
    master = args.master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    regressions, prev_bench, gate_off = _regressions(
        timings, master, os.cpu_count()
    )

    result = {
        "metric": "e2e_kg_extract_triples_per_sec",
        "value": round(n_triples / e2e_sec, 1),
        "unit": "triples/sec",
        "queries": timings,
        "sf": sf,
        "n_turns": n_turns,
        "n_triples": n_triples,
        "turns_per_sec": round(n_turns / e2e_sec, 1),
        "prep_sec": round(prep_sec, 3),
        "replicate": args.replicate,
        "timing": "per-query: 1 untimed warmup + best of 3 warm runs "
        "(legacy round-comparable set) / best of 2 (full-catalog "
        "extension, round 5); e2e: TWO full untimed warmups + best of "
        "5 (all samples listed, median reported); process tree "
        "CPU-pinned to the first <task-slots> cores when the machine "
        "is wider; host steal/busy sampled from /proc/stat over the "
        "e2e window and the whole run",
        "e2e_samples": e2e_samples,
        "e2e_median_sec": e2e_median,
        "catalog_coverage": {
            "timed": len(timings),
            "catalog": len(QUERIES),
            "excluded": excluded,
        },
        "regressions": regressions,
        "regressions_vs": prev_bench,
        "regressions_off": gate_off,
        "host_e2e": e2e_host,
        "host_run": _host_window(run_ticks0, _cpu_ticks()),
        "cpu_pinned": pinned,
        "master": master,
    }
    # LSH banding trade (b, r): candidate-pair count vs recall.
    # (2,2) targets Jaccard ~0.71, (4,2) targets 0.50 — the wider
    # config buys recall at lower similarity for proportionally more
    # candidate pairs (and 2x band rows through the salted join).
    if "dd_minhash_lsh" in counts and "dd_minhash_lsh_b4" in counts:
        result["lsh_banding"] = {
            "b2r2_pairs": counts["dd_minhash_lsh"],
            "b4r2_pairs": counts["dd_minhash_lsh_b4"],
            "b2r2_jaccard_threshold": 0.71,
            "b4r2_jaccard_threshold": 0.5,
        }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
