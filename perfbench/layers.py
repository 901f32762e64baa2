"""Traced run: the per-layer split of one build, timed from outside the
package.

Spark is lazy, so a layer's time is measured by forcing cumulative plan
prefixes (scan; +order; +kernel; +assemble; +link; +write) and taking
differences. Each prefix is forced with the ``noop`` sink, which keeps
every column (a ``count()`` would let Catalyst prune work away), and
the last one is the real ``write_graph``. Every prefix starts from a
fresh read and a fresh KB broadcast, so the kernel memo is cold in
each. Each prefix runs under its own job description, which lets
:func:`event_log_metrics` attribute Spark's event log (spill, GC, task
times, shuffle bytes) to layers. Spans (name, start, end, parent, run
id) are kept in memory and land in the run report at exit.

The prefixes restate how ``plans.pipeline.extract_triples`` composes
the stages on its default (fused-kernel) path; the written graph of the
last prefix must have the set-up build's row count and digest, or the
run fails.
"""

from __future__ import annotations

import glob
import json
import os
import pickle
import random
import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq

LAYERS = ("sources", "order", "kernel", "assemble", "link", "write")
MAX_PASSES = 5
FALLBACK_SAMPLE = 400
# connected_components' documented driver/distributed dispatch.
CC_DRIVER_THRESHOLD = 100_000


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Spans:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[dict] = []

    def record(self, name: str, start: float, end: float, parent: str | None):
        self.items.append(
            {"name": name, "start": start, "end": end, "parent": parent,
             "run_id": self.run_id}
        )


def one_pass(spark, inputs: dict, out: str, tag: str, spans: Spans) -> dict:
    """Force each cumulative prefix once; return its wall seconds."""
    from information_extraction_spark.operators.extract import (
        FALLBACK_K,
        MIN_ENTITY_LEN,
        THRESHOLD,
        assemble_triples,
        broadcast_kb,
        classify_tag_decode_stage,
        ordered_transcripts,
    )
    from information_extraction_spark.operators.linking import canonicalize_triples
    from information_extraction_spark.sources import tables

    sc = spark.sparkContext
    kp = sc.defaultParallelism
    kb_s: list[float] = []

    def scan():
        return tables.read_transcripts(spark, inputs["transcripts"])

    def order():
        return ordered_transcripts(scan().repartition(kp, "conv_id", "turn_idx"))

    def kernel():
        t0 = time.perf_counter()
        kb_bc = broadcast_kb(spark, tables.read_kb(spark, inputs["kb"]))
        kb_s.append(time.perf_counter() - t0)
        return classify_tag_decode_stage(
            order(), kb_bc, threshold=THRESHOLD, fallback_k=FALLBACK_K,
            min_entity_len=MIN_ENTITY_LEN,
        )

    def assemble():
        schemas = tables.read_schemas(spark, inputs["schemas"])
        return assemble_triples(kernel(), schemas, pre_cleaned=True)

    def link():
        return canonicalize_triples(
            assemble(), tables.read_alias_dict(spark, inputs["alias"])
        )

    makers = {"sources": scan, "order": order, "kernel": kernel,
              "assemble": assemble, "link": link}
    times: dict[str, float] = {}
    p0 = time.perf_counter()
    for layer in LAYERS:
        sc.setJobDescription(f"perfbench:{layer}:{tag}")
        t0 = time.perf_counter()
        if layer == "write":
            tables.write_graph(link(), out)
        else:
            _force(makers[layer]())
        t1 = time.perf_counter()
        times[layer] = t1 - t0
        spans.record(f"prefix.{layer}", t0, t1, f"pass.{tag}")
    sc.setJobDescription(None)
    spans.record(f"pass.{tag}", p0, time.perf_counter(), None)
    times["kb_broadcast"] = kb_s[0] if kb_s else float("nan")
    return times


def _counters(spark, inputs: dict) -> dict:
    """Work counts of the kernel's input, measured outside the timed
    prefixes."""
    from pyspark.sql import functions as F

    from information_extraction_spark.operators.extract import (
        MIN_ENTITY_LEN,
        broadcast_kb,
        classify_tag_decode_stage,
        ordered_transcripts,
    )
    from information_extraction_spark.sources import tables

    spark.sparkContext.setJobDescription("perfbench:counters")
    scan = tables.read_transcripts(spark, inputs["transcripts"])
    kp = spark.sparkContext.defaultParallelism
    ordered = ordered_transcripts(scan.repartition(kp, "conv_id", "turn_idx"))
    texts = ordered.filter(F.col("text").isNotNull() & (F.length("text") > 0))
    per_part = (
        texts.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"), F.countDistinct("text").alias("d"))
        .collect()
    )
    kb_bc = broadcast_kb(spark, tables.read_kb(spark, inputs["kb"]))
    units = classify_tag_decode_stage(
        ordered, kb_bc, min_entity_len=MIN_ENTITY_LEN
    ).count()
    spark.sparkContext.setJobDescription(None)
    return {
        "sources.scan_rows": scan.count(),
        "kernel.texts": sum(r["n"] for r in per_part),
        # Per kernel partition: what a per-partition memo must compute.
        "kernel.distinct_texts": sum(r["d"] for r in per_part),
        "kernel.units": units,
    }


def _fallback_share(inputs: dict, seed: int) -> float:
    """Share of a seeded sample of distinct texts on which no KB pair
    has both sides present (the kernel's md5 fallback path)."""
    texts = sorted({t for t in pq.read_table(inputs["transcripts"], columns=["text"])
                    .column("text").to_pylist() if t})
    sample = random.Random(f"fallback:{seed}").sample(
        texts, min(FALLBACK_SAMPLE, len(texts))
    )
    pairs = {(r["subject"].lower(), r["object"].lower())
             for r in pq.read_table(inputs["kb"]).to_pylist()}
    entities = {e for p in pairs for e in p}
    fallback = 0
    for text in sample:
        low = text.lower()
        present = {e for e in entities if e in low}
        if not any(s in present and o in present for s, o in pairs):
            fallback += 1
    return fallback / max(len(sample), 1)


def _files_read_ratio(spark, graph: str, predicates: list[str]) -> float:
    """Files the single-predicate scan read over parquet files in the
    table, from the scan node's ``numFiles`` metric."""
    from information_extraction_spark.sources import tables

    total = len(glob.glob(os.path.join(graph, "**", "*.parquet"), recursive=True))
    ratios = []
    for pred in predicates:
        df = tables.read_graph_predicate(spark, graph, pred)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        read = 0
        stack = [plan]
        while stack:
            node = stack.pop()
            if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            metric = node.metrics().get("numFiles")
            if metric.isDefined():
                read += metric.get().value()
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
        ratios.append(read / max(total, 1))
    return statistics.median(ratios)


def _eval_split(spark, inputs: dict, manifest: dict) -> dict:
    """Time ``normalized_spo_sets`` and ``alias_expanded_matches`` on
    the workload's prediction/golden pair."""
    from pyspark.sql import functions as F

    from information_extraction_spark.operators.evaluation import (
        alias_expanded_matches,
        normalized_spo_sets,
    )
    from information_extraction_spark.sources import tables

    sc = spark.sparkContext
    gold = spark.read.parquet(inputs["gold"])
    pred = spark.read.parquet(inputs["pred"])
    alias = tables.read_alias_dict(spark, inputs["alias"])
    sc.setJobDescription("perfbench:eval.normalize")
    t0 = time.perf_counter()
    gold_n = normalized_spo_sets(gold)
    pred_n = normalized_spo_sets(pred)
    _force(gold_n)
    _force(pred_n)
    normalize_s = time.perf_counter() - t0

    def alias_map(key: str, alt: str):
        # The documented map contract: (key, alias) pairs plus the
        # identity pair of every key.
        pairs = alias.select(F.lower("canonical").alias(key), F.lower("alias").alias(alt))
        return pairs.unionByName(pairs.select(key, F.col(key).alias(alt))).dropDuplicates()

    sc.setJobDescription("perfbench:eval.alias_expand")
    t0 = time.perf_counter()
    _force(alias_expanded_matches(pred_n, gold_n, alias_map("s", "s_alt"),
                                  alias_map("o", "o_alt")))
    expand_s = time.perf_counter() - t0
    sc.setJobDescription(None)
    ev = manifest["eval"]
    return {
        "eval.normalize_s": normalize_s,
        "eval.alias_expand_s": expand_s,
        "eval.expansion_ratio": ev["expansion_rows"] / ev["predicted"],
    }


def traced_run(run, spark, inputs: dict, manifest: dict, ref: dict, work: str,
               seconds: float, session_s: float) -> dict:
    """Prefix passes (at most MAX_PASSES, while ``seconds`` last; at
    least one), an untraced build, the kernel counters and the eval
    split. Returns the per-layer metrics measured in the session; the
    event-log ones come from :func:`event_log_metrics` after it stops."""
    import check
    import host
    import ops

    spans = Spans(f"{run.workload}-s{run.seed}-p{os.getpid()}")
    cpu = host.CpuWindow()
    cpu.start()

    passes: list[dict] = []
    t_start = time.perf_counter()
    out = ""
    while not passes or (
        len(passes) < MAX_PASSES and time.perf_counter() - t_start < seconds
    ):
        out = os.path.join(work, "graphs", f"trace{len(passes)}")
        ok, times = run.op(f"trace-pass{len(passes)}",
                           lambda: one_pass(spark, inputs, out, str(len(passes)), spans))
        if not ok:
            break
        passes.append(times)
    # A plain build with tracing off, timed like the end-to-end runs;
    # after the passes, so the JVM is as warm as for the last prefix.
    out0 = os.path.join(work, "graphs", "untraced")
    t0 = time.perf_counter()
    run.op("untraced-build", lambda: ops.build(spark, inputs, out0))
    build_s = time.perf_counter() - t0
    spans.record("build.untraced", t0, t0 + build_s, None)
    cpu.stop()
    if not passes:
        return {}
    summary = check.graph_summary(spark, out)
    run.check("trace-graph",
              (summary["rows"], summary["digest"]) == (ref["rows"], ref["digest"]),
              "traced prefixes wrote a different graph")

    med = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    self_s = {}
    prev = 0.0
    for layer in LAYERS:
        self_s[layer] = med[layer] - prev
        prev = med[layer]
    self_sum = sum(self_s.values())

    counters = _counters(spark, inputs)
    kb_rows = [tuple(r.values()) for r in pq.read_table(inputs["kb"]).to_pylist()]
    alias_rows = [(r["canonical"], r["alias"]) for r in pq.read_table(inputs["alias"]).to_pylist()]
    edges = {(c.lower(), a.lower()) for c, a in alias_rows if c.lower() != a.lower()}
    comps = check.components(alias_rows)
    files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    write_bytes = sum(os.path.getsize(f) for f in files)
    slots = spark.sparkContext.defaultParallelism

    metrics = {
        "session.start_s": session_s,
        "extract.kb_broadcast_s": med["kb_broadcast"],
        "extract.kb_entities": manifest["kb_entities"],
        "extract.kb_pickled_mb": len(pickle.dumps(kb_rows)) / 1e6,
        "sources.scan_s": self_s["sources"],
        "extract.order_s": self_s["order"],
        "kernel.self_s": self_s["kernel"],
        "kernel.distinct_ratio": counters["kernel.distinct_texts"]
        / max(counters["kernel.texts"], 1),
        "kernel.us_per_distinct_text": self_s["kernel"] * slots * 1e6
        / max(counters["kernel.distinct_texts"], 1),
        "kernel.fallback_share": _fallback_share(inputs, run.seed),
        "assemble.self_s": self_s["assemble"],
        "assemble.triples": summary["rows"],
        "link.self_s": self_s["link"],
        "link.alias_edges": len(edges),
        "link.components": len(set(comps.values())),
        "link.cc_distributed": float(len(edges) > CC_DRIVER_THRESHOLD),
        "write.self_s": self_s["write"],
        "write.mb": write_bytes / 1e6,
        "write.files": len(files),
        "write.bytes_per_triple": write_bytes / max(summary["rows"], 1),
        "lookup.files_read_ratio": _files_read_ratio(
            spark, out, sorted(ref["by_predicate"])[:3]
        ),
        "trace.build_s": build_s,
        "trace.self_sum_s": self_sum,
        "trace.overhead_s": self_sum - build_s,
        "host.busy_pct": cpu.pct()["busy_pct"],
        "host.steal_pct": cpu.pct()["steal_pct"],
    }
    metrics.update(counters)
    metrics.update(_eval_split(spark, inputs, manifest))
    run.report["trace"] = {
        "passes": passes,
        "self_s": self_s,
        "cc_path": "distributed" if len(edges) > CC_DRIVER_THRESHOLD else "driver",
        "spans": spans.items,
    }
    return metrics


def event_log_metrics(run, work: str) -> dict:
    """Per-layer spill, GC, task-time and shuffle figures from the
    session's event log (complete once the session has stopped).

    Prefixes are cumulative, so sums (spill, GC, shuffle bytes) are
    reported as the difference from the previous prefix, per pass.
    Task p50/max come from the tasks of each prefix's final stage, the
    one that runs the layer's own operator."""
    # Spark 4 writes rolling event logs: eventlog_v2_<app>/events_<n>_<app>.
    logs = sorted(
        p for p in glob.glob(os.path.join(work, "eventlog", "**", "*"), recursive=True)
        if os.path.isfile(p) and os.path.basename(p).startswith("events_")
    )
    stage_desc: dict[int, str] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    stage_tasks[ev["Stage ID"]].append({
                        "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "gc": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                    })
    per_layer: dict[str, dict] = {}
    for layer in LAYERS:
        tags = sorted({d.split(":")[2] for d in stage_desc.values()
                       if d and d.startswith(f"perfbench:{layer}:")})
        sums = {"gc": 0, "spill": 0, "shuffle": 0}
        final_tasks: list[dict] = []
        for tag in tags:
            stages = sorted(s for s, d in stage_desc.items()
                            if d == f"perfbench:{layer}:{tag}" and stage_tasks.get(s))
            for s in stages:
                for t in stage_tasks[s]:
                    for k in sums:
                        sums[k] += t[k]
            if stages:
                final_tasks += stage_tasks[stages[-1]]
        n = max(len(tags), 1)
        per_layer[layer] = {k: v / n for k, v in sums.items()}
        ms = sorted(t["ms"] for t in final_tasks) or [0]
        per_layer[layer]["p50"] = statistics.median(ms)
        per_layer[layer]["max"] = ms[-1]
    out = {}
    prev = {"gc": 0, "spill": 0, "shuffle": 0}
    for layer in LAYERS:
        cur = per_layer[layer]
        out[f"{layer}.spill_mb"] = max(cur["spill"] - prev["spill"], 0) / 1e6
        out[f"{layer}.gc_ms"] = max(cur["gc"] - prev["gc"], 0)
        out[f"{layer}.task_p50_ms"] = cur["p50"]
        out[f"{layer}.task_max_ms"] = cur["max"]
        prev = cur
    out["extract.order_shuffle_mb"] = max(
        per_layer["order"]["shuffle"] - per_layer["sources"]["shuffle"], 0) / 1e6
    out["write.shuffle_mb"] = max(
        per_layer["write"]["shuffle"] - per_layer["link"]["shuffle"], 0) / 1e6
    run.report.setdefault("trace", {})["event_log"] = {
        "files": len(logs), "stages": len(stage_desc), "per_layer": per_layer}
    return out
