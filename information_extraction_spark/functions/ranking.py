"""Scale-safe global ranking (the vocabulary-index shape, SURVEY §2
P7/P8; reference fastNLP Vocabulary build classification/dataset.py:
56-62).

``row_number() OVER (ORDER BY col)`` on an unpartitioned window moves
every row to ONE task — fine for a 30-word test vocab, a single-node
sort for the millions-of-tokens vocabulary of a web corpus. The
two-phase shape here is the distributed equivalent:

1. range-partition by the order column (partition p holds keys ≤
   partition p+1's keys) and pin the partitioning with a
   ``checkpoint.cut`` — range boundaries come from sampling, so the
   counts job and the final job MUST see the same physical layout
   (at real scale this materialization is the staging write of the
   vocab table);
2. count rows per partition — a tiny driver-side list (one int per
   partition) — and prefix-sum it into per-partition offsets;
3. rank = sortWithinPartitions (narrow) + a per-partition running
   counter in mapInPandas (narrow; the iterator a mapInPandas
   function receives IS one partition, in order) + the offset.

Total cost: ONE range shuffle end to end — the local sort and the
ranking pass are narrow. (A `Window.partitionBy(_pid)` would be
partition-parallel too, but costs a second full exchange on the pid
hash; the mapInPandas counter doesn't.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from information_extraction_spark.operators.checkpoint import (
    cut,
    releases_unread_cuts,
)


@releases_unread_cuts
def stable_rank(
    df: DataFrame,
    order_col: str,
    out_col: str = "idx",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a dense global 0-based (or ``start``-based) rank by
    ``order_col`` without a global single-partition sort.

    Rows must be unique on ``order_col`` for the rank to be
    deterministic (the intended input is a distinct key set, e.g. a
    vocabulary); equal keys land in one range partition and are
    tie-broken by arrival order within it.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    parts = cut(df.repartitionByRange(num_partitions, F.col(order_col)))
    with_pid = parts.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = start
    for pid in range(num_partitions):
        offsets[pid] = acc
        acc += counts.get(pid, 0)

    out_schema = T.StructType(
        list(parts.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def rank_partition(batches):
        base = None
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf[out_col] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return with_pid.sortWithinPartitions(order_col).mapInPandas(
        rank_partition, schema=out_schema
    )


@releases_unread_cuts
def segmented_running_sum(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "run",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-key running sum of ``value_col`` in GLOBAL ``order_cols``
    order without a per-key window — the segmented-scan generalization
    of stable_rank, and the shape that survives one monster key.

    ``Window.partitionBy(key)`` puts each key's whole history in one
    task: fine when keys are many and even, a single-task sort when
    one key dominates (the hot-tenant sweep every event pipeline
    eventually hits). Here the rows range-partition by the GLOBAL
    order instead (hot keys spread over all partitions), per-(partition,
    key) value totals collect driver-side (bounded: n_partitions ×
    n_keys), prefix-sums of those become per-partition seed offsets,
    and one narrow sorted mapInPandas pass emits the running value —
    a vectorized cumsum per Arrow batch, no per-row Python. ONE range
    shuffle end to end, same contract as stable_rank (the
    cut pins the sampled range boundaries between the
    totals job and the scan job).

    The (order_cols) tuple must be a total order (include a unique
    tiebreaker) or partition boundaries could split ties
    nondeterministically."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    parts = cut(
        df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    )
    with_pid = parts.withColumn("_pid", F.spark_partition_id())
    totals = (
        with_pid.groupBy("_pid", key_col)
        .agg(F.sum(value_col).alias("s"))
        .collect()
    )
    by_pid: dict[int, dict] = {}
    for r in totals:
        by_pid.setdefault(r["_pid"], {})[r[key_col]] = int(r["s"])
    offsets: dict[int, dict] = {}
    acc: dict = {}
    for pid in range(num_partitions):
        offsets[pid] = dict(acc)
        for k, s in by_pid.get(pid, {}).items():
            acc[k] = acc.get(k, 0) + s

    out_schema = T.StructType(
        list(parts.schema.fields) + [T.StructField(out_col, T.LongType())]
    )

    def scan(batches):
        run: dict | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = dict(offsets[int(pdf["_pid"].iloc[0])])
            cs = pdf.groupby(key_col, sort=False)[value_col].cumsum()
            base = pdf[key_col].map(lambda k: run.get(k, 0))
            out = pdf.drop(columns=["_pid"]).copy()
            out[out_col] = (cs + base).astype("int64")
            for k, s in (
                pdf.groupby(key_col, sort=False)[value_col].sum().items()
            ):
                run[k] = run.get(k, 0) + int(s)
            yield out

    return with_pid.sortWithinPartitions(*order_cols).mapInPandas(
        scan, schema=out_schema
    )
