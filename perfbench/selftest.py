"""Self-test of the benchmark at tiny scale (about a minute).

    python3 perfbench/selftest.py

Checks that

1. the input generators are deterministic per seed: the same seed gives
   the same input digests, a different seed different transcripts and
   prediction/golden pair, for every workload; the base KB is the
   workload's own, the same for every seed (bigdict pads it per seed);
2. the correctness gate accepts the program's real output at tiny scale,
   comparing every turn with the pure-Python oracle;
3. the gate rejects a copy of that output with one triple dropped, and
   a copy with one triple altered (graph digest, oracle comparison and
   lookup check), an altered ``calc_pr`` result, and a DataFrame left
   cached before a repeat. Faults are injected into copies of the
   output, never into the program.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import check
    import gen
    import ops
    from run import env_setup

    results: list[tuple[str, bool]] = []

    def expect(name: str, ok: bool) -> None:
        results.append((name, ok))
        print(f"{'PASS' if ok else 'FAIL'} {name}", flush=True)

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    master = env_setup(work)
    try:
        # 1. Determinism of the generators.
        for workload in ("tiny", "unique", "dup", "bigdict"):
            a = gen.generate(workload, 7, tempfile.mkdtemp(dir=work))
            b = gen.generate(workload, 7, tempfile.mkdtemp(dir=work))
            c = gen.generate(workload, 8, tempfile.mkdtemp(dir=work))
            expect(f"{workload}: same seed, same input digests",
                   a["digests"] == b["digests"] and a["eval"] == b["eval"])
            expect(f"{workload}: other seed, other input digests",
                   all(a["digests"][k] != c["digests"][k]
                       for k in ("transcripts", "gold", "pred")))
            # The base KB is fixed per workload; only bigdict pads it
            # with seeded entities.
            expect(f"{workload}: KB {'differs' if workload == 'bigdict' else 'fixed'} "
                   "across seeds",
                   (a["digests"]["kb"] != c["digests"]["kb"]) == (workload == "bigdict"))

        # 2. The gate accepts the real output.
        manifest = gen.generate("tiny", 1, os.path.join(work, "inputs"))
        inputs = manifest["paths"]
        spark, _ = ops.start_session(work, master)
        try:
            graph = os.path.join(work, "graph")
            ops.build(spark, inputs, graph)
            ref = check.graph_summary(spark, graph)
            n_turns = manifest["turns"]
            ok, detail = check.oracle_sample(spark, graph, inputs, 1, n_turns)
            expect(f"real output matches the oracle on all {detail['turns']} turns "
                   f"({detail['expected_rows']} rows)", ok and detail["turns"] == n_turns)
            row = ops.evaluate(spark, inputs)
            expect("real calc_pr matches the generator's counts",
                   check.eval_matches(row, manifest["eval"]))

            # 3. The gate rejects faulty copies.
            df = spark.read.parquet(graph).orderBy("conv_id", "turn_idx", "predicate",
                                                   "subject", "object")
            rows = df.collect()
            victim = rows[len(rows) // 2]
            cols = df.columns

            def faulty_copy(name: str, new_rows) -> str:
                path = os.path.join(work, name)
                spark.createDataFrame(new_rows, df.schema).write.partitionBy(
                    "pred_bucket").parquet(path)
                return path

            dropped = faulty_copy("dropped", [r for r in rows if r is not victim])
            altered_row = victim.asDict()
            altered_row["object"] = altered_row["object"] + "x"
            altered = faulty_copy(
                "altered",
                [r if r is not victim else tuple(altered_row[c] for c in cols)
                 for r in rows])
            for name, path in (("dropped", dropped), ("altered", altered)):
                s = check.graph_summary(spark, path)
                expect(f"{name} triple: graph digest check fails",
                       (s["rows"], s["digest"]) != (ref["rows"], ref["digest"]))
                ok, _ = check.oracle_sample(spark, path, inputs, 1, n_turns)
                expect(f"{name} triple: oracle comparison fails", not ok)
                got = ops.lookup(spark, path, victim["predicate"])
                expect(f"{name} triple: lookup check fails",
                       not check.lookup_matches(got, victim["predicate"],
                                                ref["by_predicate"], ref["columns"]))
            good = ops.lookup(spark, graph, victim["predicate"])
            expect("real lookup passes the lookup check",
                   check.lookup_matches(good, victim["predicate"],
                                        ref["by_predicate"], ref["columns"]))
            bad_eval = row.asDict()
            bad_eval["correct_sum"] -= 1
            expect("altered calc_pr result fails the eval check",
                   not check.eval_matches(bad_eval, manifest["eval"]))
            expect("nothing is left cached after a build and an eval",
                   check.persisted_rdds(spark) == 0)
            left = spark.read.parquet(graph).cache()
            left.count()
            expect("a DataFrame left cached fails the no-cache check",
                   check.persisted_rdds(spark) > 0)
            left.unpersist()
        finally:
            ops.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(failed)}/{len(results)} checks passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
