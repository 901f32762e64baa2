"""Local mimic of the driver's correctness gate: run every
queries()/oracle_sql() pair at a given sf dir, compare row count,
schema (sorted column names), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [name_filter...]
                                     [--skip=substr ...]
                                     [--sweep-out=FILE]

--sweep-out writes a durable per-query JSON artifact (pass, rows,
seconds = spark_s + oracle_s, check mode, git head) — commit it as
SWEEP_r{N}.json each session so the full-catalog claim is auditable
without a rerun.

--skip excludes queries whose name contains the substring — for
oracle-scale limitations (e.g. dd_dup_clusters' all-pairs recursive
closure oracle is exponential-ish at sf0.1 while the engine side
runs in seconds; skip it there and value-check it at sf0.001/0.01).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def conv(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if isinstance(v, float):
            return round(v, 9)
        if hasattr(v, "item"):
            v = v.item()
            if isinstance(v, float):
                return round(v, 9)
        return v

    rows = [tuple(conv(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    skips = [
        a.split("=", 1)[1] for a in sys.argv[2:] if a.startswith("--skip=")
    ]
    sweep_out = None
    for a in sys.argv[2:]:
        if a.startswith("--sweep-out="):
            sweep_out = a.split("=", 1)[1]
    filters = [
        a for a in sys.argv[2:]
        if not a.startswith("--skip=") and not a.startswith("--sweep-out=")
    ]

    from information_extraction_spark.driver_queries import (
        QUERIES,
        materialize_oracles,
    )
    from information_extraction_spark.session import get_spark

    oracles = materialize_oracles(sf_dir)
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    # Fail FAST on oracle-scale blowups instead of eating the host:
    # an unbounded DuckDB run of a quadratic-ish oracle (dd_dup_
    # clusters' recursive closure) can grow past the host's memory. A
    # capped run turns that into a prompt duckdb-error FAIL, which is
    # the honest outcome for "the ORACLE formulation does not scale to
    # this sf" (the engine side is unaffected).
    # By default DuckDB gets the physical memory that the Spark
    # driver's heap cannot claim; ORACLE_DUCKDB_MEM overrides it.
    heap = spark._jsc.sc().getConf().getSizeAsBytes("spark.driver.memory", "1g")
    free = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") - heap
    mem = os.environ.get("ORACLE_DUCKDB_MEM", f"{max(free, 1 << 30)}B")
    con.execute(f"SET memory_limit = '{mem}'")
    # Bounded spill: a size-bounded temp dir — big enough for every
    # in-scale oracle, small enough that a quadratic blowup still
    # dies in minutes, not after filling the disk. Oracles that read
    # a CTE several times mark it AS MATERIALIZED so DuckDB does not
    # replay it per reference (emb_ktruss and ann_graph_search run in
    # seconds at sf0.1 under a 5 GB cap that way).
    con.execute("SET temp_directory = '/tmp/duckdb_oracle_spill'")
    con.execute(
        "SET max_temp_directory_size = '"
        + os.environ.get("ORACLE_DUCKDB_SPILL", "40GB")
        + "'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    import time

    failures = 0
    sweep: dict[str, dict] = {}

    def record(name, ok, rows, t0, t1, mode):
        """``t0``/``t1``: when the Spark query started and ended; the
        oracle side (DuckDB and the comparison) runs from ``t1`` on."""
        spark_s, oracle_s = round(t1 - t0, 2), round(time.time() - t1, 2)
        sweep[name] = {
            "pass": bool(ok),
            "rows": int(rows),
            "seconds": round(spark_s + oracle_s, 2),
            "spark_s": spark_s,
            "oracle_s": oracle_s,
            "mode": mode,
        }

    # One untimed job before the loop: it starts the (Arrow) Python
    # workers and runs a shuffle and a join, so the first query's time
    # carries less session warm-up.
    @F.pandas_udf("long")
    def inc(s: pd.Series) -> pd.Series:
        return s + 1

    warm = spark.range(1000).withColumn("k", F.col("id") % 7)
    warm.join(warm.groupBy("k").count(), "k").select(inc("id")).toPandas()
    for name, fn in sorted(QUERIES.items()):
        if filters and not any(f in name for f in filters):
            continue
        if any(s in name for s in skips):
            print(f"skip {name} (--skip)")
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
            t1 = time.time()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            record(name, False, -1, t0, time.time(), "spark-error")
            failures += 1
            continue
        # The query runs first: a golden-based oracle reads the golden
        # parquet that the Spark query materializes for this sf_dir.
        oracle = oracles[name]
        if "ie_spark_golden" in oracle:
            import re as _re

            missing = [
                p
                for p in _re.findall(r"read_parquet\('([^']+)/\*", oracle)
                if not os.path.isdir(p)
            ]
            if missing:
                print(
                    f"FAIL {name}: golden parquet absent at "
                    f"{missing[0]} — run the Spark query first (it "
                    f"materializes the golden for this sf_dir)"
                )
                record(name, False, len(got), t0, t1, "golden-absent")
                failures += 1
                continue
        try:
            exp = con.execute(oracle).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0]}")
            record(name, False, len(got), t0, t1, "duckdb-error")
            failures += 1
            continue
        problems = []
        if len(got) != len(exp):
            problems.append(f"row count {len(got)} vs {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(
                f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
            )
        if not problems:
            g, e = _canon(got), _canon(exp)
            if g != e:
                diff = [
                    (a, b) for a, b in zip(g, e) if a != b
                ][:3]
                problems.append(f"values differ, e.g. {diff}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            record(name, False, len(got), t0, t1, "value-mismatch")
            failures += 1
        else:
            print(
                f"ok   {name}: {len(got)} rows match oracle"
                f" [{time.time() - t0:.1f}s]"
            )
            record(name, True, len(got), t0, t1, "value-checked")
    print(f"\n{failures} failures")
    if sweep_out:
        # Durable full-sweep artifact (round-5 verdict #1): the repo
        # carries its own auditable per-query proof instead of
        # ephemeral /tmp logs.
        import json as _json
        import subprocess as _sp

        try:
            head = _sp.run(
                ["git", "rev-parse", "HEAD"],
                capture_output=True, text=True,
                cwd=os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__))),
            ).stdout.strip()
        except OSError:
            head = None
        doc = {
            "sf_dir": sf_dir,
            "git_head": head,
            "n_queries": len(sweep),
            "n_pass": sum(1 for v in sweep.values() if v["pass"]),
            "n_fail": failures,
            "skips": skips,
            "filters": filters,
            "queries": dict(sorted(sweep.items())),
        }
        with open(sweep_out, "w") as fh:
            _json.dump(doc, fh, indent=1)
        print(f"sweep artifact written to {sweep_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
