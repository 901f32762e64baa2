"""The layer -> end-to-end metric -> workload prediction table, checked
against committed traced runs.

    python3 perfbench/predictions.py [results_dir]

Reads ``trace-<workload>.json`` for unique, dup and bigdict from
``results_dir`` (default perfbench/results; each is a copy of the
report ``run.py --trace 1`` writes to
``.perfbench_work/reports/trace-<workload>-s<seed>.json``), evaluates each prediction
on what was measured, and writes ``predictions.md`` next to them. A
prediction that does not hold is reported as such, not dropped.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("unique", "dup", "bigdict")
LAYERS = ("sources", "order", "kernel", "assemble", "link", "write")
SELF = {"sources": "sources.scan_s", "order": "extract.order_s",
        "kernel": "kernel.self_s", "assemble": "assemble.self_s",
        "link": "link.self_s", "write": "write.self_s"}


def share(r: dict, layer: str) -> float:
    total = sum(r[SELF[x]] for x in LAYERS)
    return r[SELF[layer]] / total if total else 0.0


def largest(r: dict) -> str:
    return max(LAYERS, key=lambda x: r[SELF[x]])


def _fmt(x: float) -> str:
    return f"{x:.3g}"


# (layer metrics, end-to-end metric it should move, workload, check)
# Each check returns (holds, what was measured).
PREDICTIONS = [
    (
        "session.start_s", "setup_s", "all",
        "session start is workload-independent (all within 30% of their median)",
        lambda m: (
            max(m[w]["session.start_s"] for w in WORKLOADS)
            <= 1.3 * sorted(m[w]["session.start_s"] for w in WORKLOADS)[1],
            ", ".join(f"{w} {_fmt(m[w]['session.start_s'])} s" for w in WORKLOADS),
        ),
    ),
    (
        "extract.kb_broadcast_s, extract.kb_entities, extract.kb_pickled_mb",
        "setup_s, build_triples_per_s", "bigdict",
        "the KB broadcast costs more on bigdict than on unique",
        lambda m: (
            m["bigdict"]["extract.kb_broadcast_s"] > m["unique"]["extract.kb_broadcast_s"],
            f"bigdict {_fmt(m['bigdict']['extract.kb_broadcast_s'])} s / "
            f"{_fmt(m['bigdict']['extract.kb_pickled_mb'])} MB vs unique "
            f"{_fmt(m['unique']['extract.kb_broadcast_s'])} s / "
            f"{_fmt(m['unique']['extract.kb_pickled_mb'])} MB",
        ),
    ),
    (
        "sources.scan_s, sources.scan_rows", "build_triples_per_s", "dup",
        "scan is a larger share of the build on dup than on unique",
        lambda m: (
            share(m["dup"], "sources") > share(m["unique"], "sources"),
            f"dup {share(m['dup'], 'sources'):.1%} vs unique "
            f"{share(m['unique'], 'sources'):.1%}",
        ),
    ),
    (
        "extract.order_s, extract.order_shuffle_mb", "build_triples_per_s", "dup",
        "repartition + ordering is a larger share on dup than on unique",
        lambda m: (
            share(m["dup"], "order") > share(m["unique"], "order"),
            f"dup {share(m['dup'], 'order'):.1%} vs unique "
            f"{share(m['unique'], 'order'):.1%}",
        ),
    ),
    (
        "kernel.*", "build_triples_per_s", "unique, bigdict (not dup)",
        "kernel.self_s is the largest layer on unique and bigdict, not on dup",
        lambda m: (
            largest(m["unique"]) == "kernel" and largest(m["bigdict"]) == "kernel"
            and largest(m["dup"]) != "kernel",
            ", ".join(f"{w}: largest {largest(m[w])}, kernel "
                      f"{share(m[w], 'kernel'):.1%}" for w in WORKLOADS),
        ),
    ),
    (
        "kernel.distinct_ratio", "build_triples_per_s", "dup",
        "the per-partition memo leaves little kernel work on dup (ratio < 0.5)",
        lambda m: (
            m["dup"]["kernel.distinct_ratio"] < 0.5,
            ", ".join(f"{w} {_fmt(m[w]['kernel.distinct_ratio'])}" for w in WORKLOADS),
        ),
    ),
    (
        "kernel.us_per_distinct_text", "build_triples_per_s", "bigdict",
        "kernel cost per distinct text grows with KB size (bigdict > unique)",
        lambda m: (
            m["bigdict"]["kernel.us_per_distinct_text"]
            > m["unique"]["kernel.us_per_distinct_text"],
            ", ".join(f"{w} {_fmt(m[w]['kernel.us_per_distinct_text'])} us"
                      for w in WORKLOADS),
        ),
    ),
    (
        "assemble.self_s, assemble.triples", "build_triples_per_s", "dup",
        "assemble is a larger share on dup than on unique",
        lambda m: (
            share(m["dup"], "assemble") > share(m["unique"], "assemble"),
            f"dup {share(m['dup'], 'assemble'):.1%} vs unique "
            f"{share(m['unique'], 'assemble'):.1%}",
        ),
    ),
    (
        "link.self_s, link.alias_edges, link.components, cc path",
        "build_triples_per_s", "bigdict",
        "link is a larger share on bigdict than on unique and dup",
        lambda m: (
            share(m["bigdict"], "link") > max(share(m["unique"], "link"),
                                              share(m["dup"], "link")),
            ", ".join(f"{w} {share(m[w], 'link'):.1%} "
                      f"({int(m[w]['link.alias_edges'])} edges, cc "
                      f"{'distributed' if m[w]['link.cc_distributed'] else 'driver'})"
                      for w in WORKLOADS),
        ),
    ),
    (
        "write.self_s, write.mb, write.files, write.bytes_per_triple, write.shuffle_mb",
        "build_triples_per_s", "dup",
        "write is a larger share on dup than on unique",
        lambda m: (
            share(m["dup"], "write") > share(m["unique"], "write"),
            f"dup {share(m['dup'], 'write'):.1%} vs unique "
            f"{share(m['unique'], 'write'):.1%}",
        ),
    ),
    (
        "lookup.files_read_ratio", "lookup_p50_ms, lookup_tail_ms", "all",
        "a single-predicate read prunes to at most a fifth of the files",
        lambda m: (
            all(m[w]["lookup.files_read_ratio"] <= 0.2 for w in WORKLOADS),
            ", ".join(f"{w} {_fmt(m[w]['lookup.files_read_ratio'])}" for w in WORKLOADS),
        ),
    ),
    (
        "eval.normalize_s, eval.alias_expand_s, eval.expansion_ratio", "eval_s",
        "bigdict vs unique",
        "alias expansion costs more, and expands more, on bigdict than on unique",
        lambda m: (
            m["bigdict"]["eval.alias_expand_s"] > m["unique"]["eval.alias_expand_s"]
            and m["bigdict"]["eval.expansion_ratio"] > m["unique"]["eval.expansion_ratio"],
            f"bigdict {_fmt(m['bigdict']['eval.alias_expand_s'])} s x"
            f"{_fmt(m['bigdict']['eval.expansion_ratio'])} vs unique "
            f"{_fmt(m['unique']['eval.alias_expand_s'])} s x"
            f"{_fmt(m['unique']['eval.expansion_ratio'])}",
        ),
    ),
    (
        "trace.self_sum_s, trace.build_s, trace.overhead_s", "(all)", "all",
        "prefix self times sum to the untraced build within 20%",
        lambda m: (
            all(abs(m[w]["trace.overhead_s"]) <= 0.2 * m[w]["trace.build_s"]
                for w in WORKLOADS),
            ", ".join(f"{w} {_fmt(m[w]['trace.self_sum_s'])} vs "
                      f"{_fmt(m[w]['trace.build_s'])} s" for w in WORKLOADS),
        ),
    ),
]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    results = argv[0] if argv else os.path.join(HERE, "results")
    reports = {}
    for w in WORKLOADS:
        with open(os.path.join(results, f"trace-{w}.json")) as f:
            reports[w] = json.load(f)
    m = {w: {k: v["value"] for k, v in r["metrics"].items()} for w, r in reports.items()}
    lines = [
        "# Layer predictions checked against the committed traced runs",
        "",
        "Generated by `python3 perfbench/predictions.py` from "
        + ", ".join(f"`trace-{w}.json` (seed {reports[w]['seed']})" for w in WORKLOADS)
        + ".",
        "",
        "| layer metrics | moves | on | prediction | measured | holds |",
        "|---|---|---|---|---|---|",
    ]
    held = 0
    for layer, e2e, workload, text, fn in PREDICTIONS:
        ok, measured = fn(m)
        held += ok
        lines.append(f"| {layer} | {e2e} | {workload} | {text} | {measured} | "
                     f"{'yes' if ok else '**no**'} |")
    lines += ["", f"{held} of {len(PREDICTIONS)} predictions hold.", ""]
    lines.append("Self time per layer (s):")
    lines.append("")
    lines.append("| workload | " + " | ".join(LAYERS) + " | sum | untraced build |")
    lines.append("|---|" + "---|" * (len(LAYERS) + 2))
    for w in WORKLOADS:
        lines.append(f"| {w} | " + " | ".join(_fmt(m[w][SELF[x]]) for x in LAYERS)
                     + f" | {_fmt(m[w]['trace.self_sum_s'])} | "
                     + f"{_fmt(m[w]['trace.build_s'])} |")
    with open(os.path.join(results, "predictions.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
