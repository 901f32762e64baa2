"""KG-build benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload unique --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` (perfbench/gen.py), starts one Spark
driver on ``local[<nproc>]`` and sets up (session start and the first
build, untimed). With ``--trace 0`` it then runs a closed loop with one
client, one phase per operation: TIMED_EVALS ``calc_pr`` runs on the
generated prediction/golden pair after an untimed one; builds (read,
``extract_triples``, ``canonicalize_triples``, ``write_graph`` to a
fresh path) until ``--seconds`` of timed work have passed, at least
MIN_BUILDS; then, after WARMUP_LOOKUPS untimed ones, LOOKUPS
single-predicate reads of the graph written last. Each operation starts
when the previous one has completed. With ``--trace 1`` it instead runs the traced layer split
(perfbench/layers.py). Every operation's output is checked
(perfbench/check.py).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the metric
names and units are those of BENCHMARK.json. A report with the host
fingerprint, the baseline comparison and all samples is written to
``.perfbench_work/reports/<run|trace>-<workload>-s<seed>.json``. Exits non-zero
without a result line when the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "information_extraction_spark"
# Graph rows checked against the pure-Python oracle after set-up.
ORACLE_TURNS = {"unique": 60, "dup": 60, "bigdict": 30}
# Timed operations per run, after the set-up build, one untimed eval and
# WARMUP_LOOKUPS untimed reads. Builds repeat until --seconds of timed
# work have passed, so a quiet host gets more of them.
TIMED_EVALS = 3
MIN_BUILDS = 3
LOOKUPS = 30
WARMUP_LOOKUPS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least 10
    samples beyond it, i.e. the 11th-largest sample (nearest rank);
    the largest sample when there are fewer than 11."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1], n
    return 100.0 * (n - 10) / n, xs[n - 11], n


def env_setup(work: str) -> str:
    """Point every scratch location into the run directory before the
    JVM starts; return the master URL."""
    import ops

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    # The driver heap is the package's own setting.
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    # The JVM that spark-submit runs first to build the driver command.
    os.environ["SPARK_LAUNCHER_OPTS"] = ops.NO_PERF_DATA
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return f"local[{cpus}]"


def baseline_compare(fp: dict, workload: str, metrics: dict) -> dict | str:
    path = os.path.join(HERE, "baselines.json")
    with open(path) as f:
        base = json.load(f).get(fp["key"], {}).get(workload)
    if not base:
        return "no baseline"
    return {
        k: metrics[k]["value"] / base[k] for k in metrics if base.get(k)
    }


class Run:
    """State of one benchmark run: counts attempted/failed operations and
    the notes that go into the report."""

    def __init__(self, workload: str, seed: int) -> None:
        self.workload, self.seed = workload, seed
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.report: dict = {"workload": workload, "seed": seed}

    def op(self, name: str, fn, check=None):
        """Run one operation; a raised exception or a failed check
        counts as a failed operation. Returns (ok, result)."""
        self.attempted += 1
        try:
            result = fn()
        except Exception:  # noqa: BLE001 - a benchmark boundary: record and go on
            self._fail(name, traceback.format_exc(limit=3))
            return False, None
        if check is not None and not check(result):
            self._fail(name, "output check failed")
            return False, result
        return True, result

    def check(self, name: str, ok: bool, why: str) -> None:
        """Count one checked outcome that is not an operation's result."""
        self.attempted += 1
        if not ok:
            self._fail(name, why)

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{name}: {why}")
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)


def setup(run: Run, work: str, inputs: dict, master: str, trace: bool):
    """Session start plus the first (untimed) build, then the checks
    that make its graph the reference for every later build."""
    import check
    import ops

    t0 = time.perf_counter()
    spark, session_s = ops.start_session(work, master, event_log=trace)
    bcast = ops.BroadcastLog(spark)
    graph0 = os.path.join(work, "graphs", "setup")
    ok, _ = run.op("setup-build", lambda: ops.build(spark, inputs, graph0))
    if not ok:
        raise RuntimeError("the set-up build failed; nothing to measure")
    setup_s = time.perf_counter() - t0
    run.report["phases_s"]["session"] = session_s
    run.report["phases_s"]["setup_build"] = setup_s - session_s
    ref = check.graph_summary(spark, graph0)
    _, oracle = run.op(
        "oracle-sample",
        lambda: check.oracle_sample(
            spark, graph0, inputs, run.seed, ORACLE_TURNS.get(run.workload, 100)
        ),
        check=lambda r: r[0],
    )
    run.report["oracle_sample"] = oracle[1] if oracle else None
    recorded = recorded_expectation(run.workload, run.seed)
    if recorded is not None:
        run.op(
            "recorded-digest",
            lambda: ref,
            check=lambda r: [r["rows"], r["digest"]] == recorded,
        )
    run.report["reference_graph"] = {
        "rows": ref["rows"],
        "digest": ref["digest"],
        "recorded": recorded,
    }
    return spark, bcast, ref, session_s, setup_s


def recorded_expectation(workload: str, seed: int):
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def timed_loop(run: Run, spark, bcast, ref: dict, inputs: dict, manifest: dict,
               work: str, seconds: float) -> tuple[dict, float]:
    """Closed loop, one client: timed evals, then timed builds, then
    timed reads of the last graph written. Returns the metrics and the
    seconds of the untimed warm-ups."""
    import check
    import host
    import ops

    # A seeded order of the graph's predicates, each read once before
    # any is read again, so that every run's lookups spread over the
    # predicates' sizes alike.
    order = sorted(ref["by_predicate"]) or ["rel00"]
    random.Random(f"lookups:{run.seed}").shuffle(order)
    cpu = host.CpuWindow()
    builds, evals, lookups = [], [], []
    # (path, broadcast ids, index into ``builds``)
    graphs: list[tuple[str, list[int], int]] = []
    cached_before = []

    def uncached(name: str) -> None:
        # No cached DataFrames carried between repeats: whatever the
        # previous operation left persisted is a failed check, and is
        # released so that it does not carry into the next one either.
        cached = check.persisted_rdds(spark)
        cached_before.append(cached)
        run.check(f"{name}-uncached", cached == 0,
                  f"{cached} persisted RDDs left before {name}")
        ops.release_persisted(spark)

    def build(name: str, index: int) -> float | None:
        uncached(name)
        out = os.path.join(work, "graphs", name)
        mark = bcast.mark()
        t0 = time.perf_counter()
        ok, _ = run.op(name, lambda: ops.build(spark, inputs, out))
        dt = time.perf_counter() - t0
        if not ok:
            return None
        graphs.append((out, bcast.since(mark), index))
        return dt

    def evaluate(name: str) -> float | None:
        t0 = time.perf_counter()
        ok, _ = run.op(
            name,
            lambda: ops.evaluate(spark, inputs),
            check=lambda row: check.eval_matches(row, manifest["eval"]),
        )
        return time.perf_counter() - t0 if ok else None

    def lookup(name: str, graph: str, pred: str) -> float | None:
        t0 = time.perf_counter()
        ok, _ = run.op(
            name,
            lambda: ops.lookup(spark, graph, pred),
            check=lambda rows: check.lookup_matches(
                rows, pred, ref["by_predicate"], ref["columns"]
            ),
        )
        return time.perf_counter() - t0 if ok else None

    # One phase per operation. The JVM is still compiling over the
    # first few of each: the first eval takes about 1.7x a later one,
    # the first reads about 1.5x, so evals and reads start after an
    # untimed warm-up paid inside setup_s. Builds come after the evals,
    # which warm much of the same planning code; the first timed build
    # still takes about 1.3x a later one and the median drops it.
    # Interleaving the operations kept every one of them on that slope
    # for longer.
    warmup_s = 0.0

    def warm(fn, *args) -> None:
        nonlocal warmup_s
        t0 = time.perf_counter()
        fn(*args)
        warmup_s += time.perf_counter() - t0

    t_start = time.perf_counter()
    warm(evaluate, "warmup-eval")
    for i in range(TIMED_EVALS):
        cpu.start()
        evals.append(evaluate(f"eval{i}"))
        cpu.stop()
    # Builds fill ``seconds`` of timed work, evals included, at least
    # MIN_BUILDS of them.
    i = 0
    while i < MIN_BUILDS or time.perf_counter() - t_start - warmup_s < seconds:
        cpu.start()
        builds.append(build(f"build{i}", i))
        cpu.stop()
        i += 1
    graph = graphs[-1][0] if graphs else os.path.join(work, "graphs", "setup")
    uncached("lookups")
    for i in range(WARMUP_LOOKUPS):
        warm(lookup, f"warmup-lookup{i}", graph, order[-1 - i % len(order)])
    # A fixed count of reads, so that the tail is the same percentile
    # in every run.
    for i in range(LOOKUPS):
        cpu.start()
        lookups.append(lookup(f"lookup{i}", graph, order[i % len(order)]))
        cpu.stop()
    window_s = time.perf_counter() - t_start - warmup_s

    # Every build's graph must equal the set-up graph, and each build
    # must have shipped its own KB broadcast.
    t_checks = time.perf_counter()
    seen: set[int] = set()
    digests = check.graphs_digests(spark, [g[0] for g in graphs], ref["columns"]) if graphs else []
    for (path, ids, index), got in zip(graphs, digests):
        fresh = bool(ids) and not (set(ids) & seen)
        seen.update(ids)
        ok = got == (ref["rows"], ref["digest"]) and fresh
        run.check(f"graph-{os.path.basename(path)}", ok,
                  f"rows/digest {got}, broadcasts {ids}")
        if not ok:
            builds[index] = None
        shutil.rmtree(path, ignore_errors=True)
    good_builds = [b for b in builds if b is not None]
    evals = [e for e in evals if e is not None]
    lookups = [x for x in lookups if x is not None]
    tail_p, tail_v, n_lookups = (
        tail_percentile(lookups) if lookups else (0.0, float("nan"), 0)
    )
    run.report["samples"] = {
        "warmup_s": warmup_s,
        "graph_checks_s": time.perf_counter() - t_checks,
        "build_s": builds,
        "eval_s": evals,
        "lookup_ms": [x * 1e3 for x in lookups],
        "window_s": window_s,
        "broadcast_ids": [g[1] for g in graphs],
        "cached_rdds_before": cached_before,
    }
    run.report["lookup_tail"] = {"percentile": tail_p, "samples": n_lookups,
                                 "beyond": min(10, n_lookups)}
    run.report["host"] = cpu.pct()
    rows = ref["rows"]
    return {
        "build_triples_per_s": statistics.median(rows / b for b in good_builds)
        if good_builds else float("nan"),
        "eval_s": statistics.median(evals) if evals else float("nan"),
        "lookup_p50_ms": statistics.median(lookups) * 1e3 if lookups else float("nan"),
        "lookup_tail_ms": tail_v * 1e3,
    }, warmup_s


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    import host
    import ops

    bench = spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    master = env_setup(work)
    run = Run(args.workload, args.seed)
    metrics: dict[str, float] = {}
    spark = None
    t_run = time.perf_counter()
    phases = run.report["phases_s"] = {}
    rss = host.RssSampler(os.path.join(work, ops.GC_LOG))
    try:
        with rss:
            manifest = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
            run.report["inputs"] = {k: v for k, v in manifest.items() if k != "paths"}
            inputs = manifest["paths"]
            phases["generate"] = time.perf_counter() - t_run
            spark, bcast, ref, session_s, setup_s = setup(
                run, work, inputs, master, trace=bool(args.trace)
            )
            phases["setup_and_checks"] = time.perf_counter() - t_run - phases["generate"]
            if args.trace:
                import layers

                metrics = layers.traced_run(run, spark, inputs, manifest, ref, work,
                                           args.seconds, session_s)
            else:
                metrics, warmup_s = timed_loop(run, spark, bcast, ref, inputs, manifest,
                                               work, args.seconds)
                metrics["setup_s"] = setup_s + warmup_s
        if not args.trace:
            # Unmeasured (a failed check) if the JVM logged no heap size.
            metrics["peak_rss_nonheap_mb"] = (
                rss.peak_nonheap / 1e6 if rss.heap.bytes else float("nan")
            )
            run.report["peak_rss_mb"] = rss.peak / 1e6
            run.report["rss_at_peak_mb"] = [(n, b / 1e6) for n, b in rss.at_peak]
    except Exception:  # noqa: BLE001 - report the failure as a failed run
        run.check("run", False, traceback.format_exc(limit=5))
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            ops.stop_session(spark)
        phases["stop"] = time.perf_counter() - t_stop
        if args.trace and spark is not None:
            import layers

            metrics.update(layers.event_log_metrics(run, work))
        # The lines the JVM wrote after the sampler's last read.
        rss.heap.poll()
        run.report["heap"] = rss.heap.summary()
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    out_metrics = {}
    for m in wanted:
        v = metrics.get(m["name"])
        measured = v is not None and math.isfinite(v)
        run.check(m["name"], measured, "metric not measured")
        if not measured:
            v = 0.0
        out_metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    phases["total"] = time.perf_counter() - t_run
    fp = host.fingerprint(ROOT, master)
    run.report["fingerprint"] = fp
    run.report["fail_ratio"] = run.failed / max(run.attempted, 1)
    run.report["failures"] = run.failures
    run.report["baseline"] = (
        "no baseline" if args.trace else baseline_compare(fp, args.workload, out_metrics)
    )
    run.report["metrics"] = out_metrics
    write_report(run.report, args)
    print(json.dumps({"info": {k: run.report[k] for k in (
        "fingerprint", "baseline", "fail_ratio", "failures")}
        | {k: run.report.get(k) for k in ("lookup_tail", "host", "heap", "peak_rss_mb")}},
        default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": out_metrics,
    }))
    return 0


def write_report(report: dict, args) -> None:
    reports = os.path.join(ROOT, ".perfbench_work", "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{'trace' if args.trace else 'run'}-{args.workload}-s{args.seed}.json"
    with open(os.path.join(reports, name), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
