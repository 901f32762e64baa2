"""Sources and sinks.

The reference reads JSON-lines + TSV dicts + pickle checkpoints
(SURVEY.md §2.1 S1-S8); here every table is Parquet. Input tables are
read as written and cast to their canonical schema (``_read_as``).

The graph sink is a ``pred_bucket``-partitioned Parquet directory plus
one metadata file, ``_graph_meta.json`` (``GRAPH_META``). The file
stands in for the table metadata an Iceberg or Delta catalog would
hold: the read-back schema and the partition spec (the predicate
bucket count). ``write_graph`` writes it after the data;
``read_graph_predicate`` takes both from it, so a lookup neither runs
Spark's schema-inference job nor trusts its caller to know how the
table was bucketed. Both go through the session's Hadoop
``FileSystem``, so the file lives wherever the Parquet does, and the
leading underscore keeps it out of Spark's file listing. The Iceberg
runtime jar is not in this image (Spark-first fallback noted in SURVEY
§7.4); with it, ``read.table``/``writeTo`` would replace the file.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from information_extraction_spark import schemas as S


def _read_as(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read Parquet as written, then project + cast to the canonical
    schema. Forcing the schema at read time fails fast on benign
    physical-type differences (e.g. pandas/pyarrow writers emit
    ns-precision timestamps and INT64 ids where the canonical schema
    says timestamp/int32); Parquet is self-describing, so casting
    after the scan accepts any writer. Column pruning still reaches
    the scan — the projection names exactly the canonical columns —
    and trivial casts (string→string) are elided by Catalyst.
    Lossy values still fail LOUDLY: Spark 4 runs ANSI mode by default
    (session verified), so an out-of-range id raises CAST_OVERFLOW
    rather than wrapping. Two behavior changes vs the forced-schema
    read (both deliberate — fail fast beats silent nulls): a parquet
    file MISSING a canonical column errors at plan time instead of
    yielding an all-null column, and a data-less directory errors at
    plan time ("unable to infer schema") instead of yielding an empty
    frame. If a lenient read is ever needed, add the missing canonical
    columns as typed nulls before this cast projection."""
    df = spark.read.parquet(path)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return _read_as(spark, path, S.TRANSCRIPTS)


def read_schemas(spark: SparkSession, path: str) -> DataFrame:
    return _read_as(spark, path, S.RELATION_SCHEMAS)


def read_kb(spark: SparkSession, path: str) -> DataFrame:
    return _read_as(spark, path, S.KNOWLEDGE_BASE)


def read_alias_dict(spark: SparkSession, path: str) -> DataFrame:
    return _read_as(spark, path, S.ALIAS_DICT)


def read_alias_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Reference TSV dict format: ``key \\t alias1 \\t alias2 ...``
    (calc_pr.py:122-138) — lowercased, exploded one row per alias."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    return (
        raw.select(
            F.lower(F.element_at(parts, 1)).alias("canonical"),
            F.slice(parts, 2, 10_000).alias("aliases"),
        )
        .select("canonical", F.explode("aliases").alias("alias"))
        .select("canonical", F.lower("alias").alias("alias"))
        .filter(F.length("alias") > 0)
    )


GRAPH_META = "_graph_meta.json"


def _meta_file(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of the graph table's metadata file."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path, GRAPH_META)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def read_graph_meta(spark: SparkSession, path: str) -> dict:
    """The metadata ``write_graph`` stored with the table at ``path``:
    ``{"predicate_buckets": int, "schema": StructType JSON}``. Raises
    FileNotFoundError when the file is absent — the directory was not
    written by ``write_graph`` (or its write did not finish), and there
    is no fallback to inferring the layout from the data."""
    fs, jpath = _meta_file(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(
            f"{path} has no {GRAPH_META}: not a graph table written by "
            "write_graph (or its write did not complete)"
        )
    stream = fs.open(jpath)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(text)


def write_graph(
    triples: DataFrame,
    path: str,
    predicate_buckets: int = 16,
    mode: str = "overwrite",
    num_tasks: int | None = None,
) -> None:
    """Materialize the triples graph table, partitioned by a stable
    predicate bucket (north-rule "partitioned Iceberg graph tables"),
    then record its metadata in ``GRAPH_META``.

    Hash-bucketing the predicate instead of partitioning by raw
    predicate bounds the partition count at 100 TB (50 predicates here,
    but open-world predicates in general) while still pruning scans
    for single-predicate queries via bucket = hash(pred) % n.

    The metadata file holds what a table catalog would: the schema a
    reader gets back (the written columns, all nullable, then
    ``pred_bucket int``) and ``predicate_buckets``. It is written after
    the data, so its presence marks a completed write. ``mode`` is
    ``"overwrite"`` or ``"append"``; an append into an existing table
    must match its bucket count and schema, and a mismatch raises
    before any file is written (rows bucketed by a different modulus
    would be invisible to every pruned read).

    The shuffle before the write hashes on (pred_bucket, subject
    salt), not pred_bucket alone: hash-on-bucket caps the writers at
    ``predicate_buckets`` tasks no matter how many executors the
    cluster has (16 writers for a 100 TB table). The salt —
    hash(subject) mod ceil(num_tasks / buckets) — splits each bucket
    across enough writers to fill the cluster (``num_tasks`` defaults
    to the session's default parallelism) at the cost of that many
    files per bucket directory. A range partition on (bucket,
    predicate, subject) would write perfectly ordered directories but
    its sampler re-executes the upstream DAG — measured 1.6x slower
    end-to-end here with the extraction kernels upstream.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"write_graph mode must be overwrite or append, got {mode!r}"
        )
    spark = triples.sparkSession
    layout = graph_write_layout(triples, predicate_buckets, num_tasks)
    # Parquet hands every column back nullable, partition columns last.
    schema = StructType(
        [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in layout.schema.fields
            if f.name != "pred_bucket"
        ]
        + [StructField("pred_bucket", IntegerType(), True)]
    )
    meta = {"predicate_buckets": predicate_buckets, "schema": schema.jsonValue()}
    fs, jpath = _meta_file(spark, path)
    if mode == "append" and fs.exists(jpath.getParent()):
        have = read_graph_meta(spark, path)
        if have != meta:
            raise ValueError(
                f"cannot append to graph table {path}: it has "
                f"{have['predicate_buckets']} predicate buckets and schema "
                f"{StructType.fromJson(have['schema']).simpleString()}, the "
                f"new rows {predicate_buckets} and {schema.simpleString()}"
            )
    layout.write.mode(mode).partitionBy("pred_bucket").parquet(path)
    out = fs.create(jpath, True)
    try:
        out.write(json.dumps(meta).encode("utf-8"))
    finally:
        out.close()


def read_graph_predicate(
    spark: SparkSession, path: str, predicate: str
) -> DataFrame:
    """Single-predicate read of a ``write_graph`` table that PRUNES at
    the source: the bucket equality is a foldable expression over the
    partition column (Catalyst constant-folds ``pmod(xxhash64(lit),
    n)``), so it reaches the FileScan as a PartitionFilter — 1 of the
    table's bucket directories read; the predicate equality pushes
    into the parquet row groups of that bucket (the files are sorted
    by predicate, so min/max stats skip non-matching groups).
    This is the consumer half of write_graph's partitioning story.

    Schema and bucket count come from the table's metadata file, as a
    reader of a catalog table gets them from the catalog: the scan
    runs no schema-inference job (one Spark job per collected lookup,
    not two), and a table written with any ``predicate_buckets`` is
    read with its own modulus. A directory without the file raises.
    """
    meta = read_graph_meta(spark, path)
    schema = StructType.fromJson(meta["schema"])
    return spark.read.schema(schema).parquet(path).filter(
        (
            F.col("pred_bucket")
            == F.pmod(
                F.xxhash64(F.lit(predicate)), F.lit(meta["predicate_buckets"])
            ).cast("int")
        )
        & (F.col("predicate") == predicate)
    )


def graph_write_layout(
    triples: DataFrame,
    predicate_buckets: int = 16,
    num_tasks: int | None = None,
) -> DataFrame:
    """The shuffle+sort stage feeding write_graph's partitioned sink,
    exposed as a DataFrame so its physical plan can be inspected
    (tools/dump_plans.py) and tested without performing the write."""
    bucketed = triples.withColumn(
        "pred_bucket",
        F.pmod(F.xxhash64("predicate"), F.lit(predicate_buckets)).cast("int"),
    )
    if num_tasks is None:
        num_tasks = triples.sparkSession.sparkContext.defaultParallelism
    splits = max(1, -(-num_tasks // predicate_buckets))
    return (
        bucketed.withColumn(
            "_wsalt", F.pmod(F.xxhash64("subject"), F.lit(splits)).cast("int")
        )
        .repartition(num_tasks, "pred_bucket", "_wsalt")
        .drop("_wsalt")
        # Sorted files: predicate/subject runs compress (dictionary +
        # RLE) and parquet row-group min/max stats prune
        # single-predicate/entity reads within a bucket. pred_bucket
        # leads the sort so the dynamic-partition writer streams one
        # directory at a time instead of inserting its own sort.
        .sortWithinPartitions("pred_bucket", "predicate", "subject", "object")
    )


def write_spo_json(spo_lists: DataFrame, path: str, keep_empty: bool = False) -> None:
    """JSON-lines result sink matching the reference output shape
    ``{text, spo_list}`` (produce_submit_json_file.py:298-313, S7).
    ``keep_empty`` mirrors the keep_empty_spo_list flag (:289-309)."""
    df = spo_lists
    if not keep_empty:
        df = df.filter(F.size("spo_list") > 0)
    df.write.mode("overwrite").json(path)
