"""Correctness gate for the KG-build benchmark.

Nothing here reuses the package's own formulas for what it checks:

* graph digests are computed with plain Spark SQL functions (md5) on
  the written table and with ``hashlib`` on collected rows;
* the expected triples of sampled turns come from
  ``kernels.extraction.reference_extract`` called with a plain dict
  KB (the direct per-pair regex oracle, not the batched
  ``KnowledgeBase`` the production kernel uses), and their canonical
  ids from a union-find written here;
* ``calc_pr``'s expected counts come from the input generator, which
  knows by construction how many golden triples it dropped and how
  many never-correct triples it injected.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

SEP = "\x1f"
# Digest over the first 15 hex digits of md5: fits a BIGINT per row;
# the per-table sum is taken as DECIMAL(38,0) so it cannot overflow.
_HEX = 15


def row_hash(values) -> int:
    joined = SEP.join("" if v is None else str(v) for v in values)
    return int(hashlib.md5(joined.encode("utf-8")).hexdigest()[:_HEX], 16)


def digest_columns(df) -> list[str]:
    return sorted(c for c in df.columns if c != "pred_bucket")


def spark_row_hash(cols):
    from pyspark.sql import functions as F

    joined = F.concat_ws(
        SEP, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    )
    return F.conv(F.substring(F.md5(joined), 1, _HEX), 16, 10).cast("decimal(38,0)")


def graph_summary(spark, path: str) -> dict:
    """Row count, order-independent digest and per-predicate
    (count, digest) of a written graph table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = digest_columns(df)
    per = (
        df.select("predicate", spark_row_hash(cols).alias("h"))
        .groupBy("predicate")
        .agg(F.count("*").alias("n"), F.sum("h").alias("d"))
        .collect()
    )
    by_pred = {r["predicate"]: (int(r["n"]), int(r["d"])) for r in per}
    return {
        "rows": sum(n for n, _ in by_pred.values()),
        "digest": str(sum(d for _, d in by_pred.values()) % (1 << 64)),
        "columns": cols,
        "by_predicate": by_pred,
    }


def graphs_digests(spark, paths: list[str], cols: list[str]) -> list[tuple[int, str]]:
    """(rows, digest) of several written graphs in one Spark job."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = []
    for i, path in enumerate(paths):
        df = spark.read.parquet(path)
        parts.append(df.select(F.lit(i).alias("g"), spark_row_hash(cols).alias("h")))
    rows = {
        r["g"]: (int(r["n"]), str(int(r["d"]) % (1 << 64)))
        for r in reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("g").agg(F.count("*").alias("n"), F.sum("h").alias("d")).collect()
    }
    return [rows.get(i, (0, "0")) for i in range(len(paths))]


def persisted_rdds(spark) -> int:
    """RDDs the session holds persisted, cached DataFrames included: a
    timed repeat must not start with any left over."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def lookup_matches(rows, predicate: str, expected: dict, cols: list[str]) -> bool:
    """A lookup must return exactly that predicate's rows."""
    want_n, want_d = expected.get(predicate, (0, 0))
    if len(rows) != want_n:
        return False
    if any(r["predicate"] != predicate for r in rows):
        return False
    return sum(row_hash([r[c] for c in cols]) for r in rows) == want_d


def eval_matches(row, expected: dict) -> bool:
    return (
        int(row["correct_sum"]) == expected["correct"]
        and int(row["predict_sum"]) == expected["predicted"]
        and int(row["recall_sum"]) == expected["gold"]
        and abs(row["precision"] - expected["precision"]) < 1e-9
        and abs(row["recall"] - expected["recall"]) < 1e-9
    )


def normalize(entity: str) -> str:
    low = entity.lower()
    if len(low) >= 2 and low.startswith("《") and low.endswith("》"):
        return low[1:-1]
    return low


def components(alias_rows) -> dict[str, str]:
    """surface -> smallest member of its alias component (union-find
    over lowercased, non-self edges)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for c, a in alias_rows:
        c, a = c.lower(), a.lower()
        if c == a:
            continue
        parent.setdefault(c, c)
        parent.setdefault(a, a)
        rc, ra = find(c), find(a)
        if rc != ra:
            parent[max(rc, ra)] = min(rc, ra)
    return {n: find(n) for n in parent}


def oracle_sample(
    spark, graph_path: str, inputs: dict, seed: int, n_turns: int
) -> tuple[bool, dict]:
    """Compare the graph rows of ``n_turns`` seeded turns with
    ``reference_extract`` over a dict KB, canonicalized by
    :func:`components`. Returns (ok, detail)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from information_extraction_spark.kernels.extraction import reference_extract

    turns = pq.read_table(inputs["transcripts"], columns=["conv_id", "turn_idx", "text"])
    turns = [t for t in turns.to_pylist() if t["text"]]
    rng = random.Random(f"oracle:{seed}")
    sample = rng.sample(turns, min(n_turns, len(turns)))

    kb_by_pred: dict[str, list[tuple[str, str]]] = {}
    for r in pq.read_table(inputs["kb"]).to_pylist():
        pairs = kb_by_pred.setdefault(r["predicate"], [])
        if (r["subject"], r["object"]) not in pairs:
            pairs.append((r["subject"], r["object"]))
    types: dict[str, tuple[str, str]] = {}
    for r in sorted(pq.read_table(inputs["schemas"]).to_pylist(), key=lambda r: r["schema_id"]):
        types.setdefault(r["predicate"], (r["subject_type"], r["object_type"]))
    canon = components(
        (r["canonical"], r["alias"]) for r in pq.read_table(inputs["alias"]).to_pylist()
    )

    want: Counter = Counter()
    for t in sample:
        for s, p, o, st, ot in reference_extract(t["text"], kb_by_pred, types):
            ns, no = normalize(s), normalize(o)
            want[
                (t["conv_id"], t["turn_idx"], t["text"], p, s, o, st, ot,
                 canon.get(ns, ns), canon.get(no, no))
            ] += 1

    keys = spark.createDataFrame(
        [(t["conv_id"], t["turn_idx"]) for t in sample], "conv_id string, turn_idx int"
    )
    got_rows = (
        spark.read.parquet(graph_path)
        .join(F.broadcast(keys), ["conv_id", "turn_idx"], "left_semi")
        .collect()
    )
    got: Counter = Counter(
        (r["conv_id"], r["turn_idx"], r["text"], r["predicate"], r["subject"],
         r["object"], r["subject_type"], r["object_type"],
         r["subject_canonical"], r["object_canonical"])
        for r in got_rows
    )
    missing = want - got
    extra = got - want
    return not missing and not extra, {
        "turns": len(sample),
        "expected_rows": sum(want.values()),
        "missing": sorted(missing)[:3],
        "extra": sorted(extra)[:3],
    }
