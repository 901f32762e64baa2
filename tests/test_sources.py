"""Sources and sinks: partitioned graph write + bucket pruning, the
reference TSV alias dict format, and the spo_list JSON sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from information_extraction_spark import schemas as S
from information_extraction_spark.operators.extract import collect_spo_lists
from information_extraction_spark.plans.pipeline import extract_triples
from information_extraction_spark.sources.tables import (
    graph_write_layout,
    read_alias_tsv,
    write_graph,
    write_spo_json,
)


def _triples(spark, world, transcripts_pdf):
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    return extract_triples(spark, tdf, kb, sch)


def test_write_graph_partitioned_and_prunable(
    spark, world, transcripts_pdf, tmp_dir
):
    out = os.path.join(tmp_dir, "graph")
    triples = _triples(spark, world, transcripts_pdf)
    write_graph(triples, out, predicate_buckets=8)
    back = spark.read.parquet(out)
    assert back.count() == triples.count()
    # Partition layout exists and a single-predicate read prunes to
    # one bucket directory (partition pruning at the source).
    buckets = [d for d in os.listdir(out) if d.startswith("pred_bucket=")]
    assert 1 < len(buckets) <= 8
    one = back.filter(
        F.col("pred_bucket")
        == F.pmod(F.xxhash64(F.lit("作者")), F.lit(8)).cast("int")
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "pred_bucket" in plan  # pruned partition filter reached the scan


def test_graph_write_layout_salts_writers(spark, world, transcripts_pdf):
    """The pre-write shuffle must hash on (pred_bucket, subject salt)
    into num_tasks partitions — hashing on pred_bucket alone caps the
    writer parallelism at the bucket count regardless of cluster
    width. The salt must NOT survive into the written schema."""
    triples = _triples(spark, world, transcripts_pdf)
    layout = graph_write_layout(triples, predicate_buckets=8, num_tasks=24)
    plan = layout._jdf.queryExecution().executedPlan().toString()
    assert "_wsalt" in plan  # salt participates in the hash partitioning
    assert "hashpartitioning" in plan and "24" in plan
    assert "_wsalt" not in layout.columns
    # Rows are untouched by the layout shuffle (same multiset).
    assert (
        layout.drop("pred_bucket").exceptAll(triples).count() == 0
        and triples.exceptAll(layout.drop("pred_bucket")).count() == 0
    )


def test_read_alias_tsv_reference_format(spark, tmp_dir):
    """calc_pr.py:122-138: key \\t alias1 \\t alias2, lowercased."""
    path = os.path.join(tmp_dir, "alias.tsv")
    with open(path, "w", encoding="utf-8") as f:
        f.write("石碑\t碑\tSTONE Tablet\n")
        f.write("acme\tACME Corp\n")
    got = {
        (r["canonical"], r["alias"])
        for r in read_alias_tsv(spark, path).collect()
    }
    assert got == {
        ("石碑", "碑"),
        ("石碑", "stone tablet"),
        ("acme", "acme corp"),
    }


def test_write_spo_json_shape_and_keep_empty(
    spark, world, transcripts_pdf, tmp_dir
):
    triples = _triples(spark, world, transcripts_pdf)
    spo = collect_spo_lists(triples)
    out = os.path.join(tmp_dir, "spo_json")
    write_spo_json(spo, out)
    files = [f for f in os.listdir(out) if f.endswith(".json")]
    assert files
    line = None
    with open(os.path.join(out, files[0]), encoding="utf-8") as f:
        line = f.readline()
    row = json.loads(line)
    assert set(row) == {"conv_id", "turn_idx", "text", "spo_list"}
    assert row["spo_list"] and {
        "predicate",
        "subject",
        "object",
        "subject_type",
        "object_type",
    } == set(row["spo_list"][0])


def test_collect_spo_lists_keep_empty(spark, world, transcripts_pdf):
    """keep_empty_spo_list parity (produce_submit_json_file.py:289-309):
    with all_turns provided, every turn appears, empty ones with []."""
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    triples = _triples(spark, world, transcripts_pdf)
    spo = collect_spo_lists(triples, all_turns=tdf)
    assert spo.count() == len(transcripts_pdf)
    empties = spo.filter(F.size("spo_list") == 0).count()
    with_triples = triples.select("conv_id", "turn_idx").distinct().count()
    assert empties == len(transcripts_pdf) - with_triples


def _scan_metrics(df):
    """SQL metrics of the first leaf scan of an EXECUTED DataFrame
    (collect the same instance first — count() builds its own plan)."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    m = leaves.apply(0).metrics()
    vals = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def test_read_graph_predicate_prunes_and_matches(spark, tmp_path):
    """The consumer half of write_graph's partitioning: the bucket
    equality (foldable pmod(xxhash64(lit), n)) must reach the FileScan
    as a PartitionFilter — exactly 1 of the bucket directories read —
    and the rows must equal a plain filter of the source."""
    import os

    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
        write_graph,
    )

    triples = spark.createDataFrame(
        [
            ("c", i, f"s{i % 5}", f"rel{i % 7}", f"o{i % 3}")
            for i in range(200)
        ],
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    out = str(tmp_path / "graph")
    write_graph(triples, out, num_tasks=4)
    n_dirs = len(
        [d for d in os.listdir(out) if d.startswith("pred_bucket=")]
    )
    assert n_dirs >= 2

    got = read_graph_predicate(spark, out, "rel3")
    rows = {
        (r["conv_id"], r["turn_idx"], r["subject"], r["object"])
        for r in got.collect()
    }
    want = {
        ("c", i, f"s{i % 5}", f"o{i % 3}")
        for i in range(200)
        if i % 7 == 3
    }
    assert rows == want

    pm = _scan_metrics(got)
    assert pm["numPartitions"] == 1
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_line = next(
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    assert "pred_bucket" in scan_line.split("PartitionFilters")[1][:60]

    full = spark.read.parquet(out).filter(F.lit(True))
    full.collect()
    assert _scan_metrics(full)["numPartitions"] == n_dirs


def test_corrupt_quarantine_keeps_raw_line_for_replay(spark, tmp_path):
    """The quarantine contract: a mangled line parses to nulled
    fields + the RAW line preserved verbatim in _corrupt_record (so
    ingest can replay it); clean lines parse with a null corrupt
    column."""
    import os

    p = os.path.join(tmp_path, "q.jsonl")
    good = '{"doc_id":1,"lang":"en","n_chars":5}'
    bad = '{"doc_id":2,"lang":"de","n_chars":9'
    with open(p, "w") as f:
        f.write(good + "\n" + bad + "\n")
    df = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(p)
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["lang"] == "en" and rows[1]["_corrupt_record"] is None
    assert None in rows and rows[None]["_corrupt_record"] == bad
    assert rows[None]["lang"] is None and rows[None]["n_chars"] is None


def _toy_graph_triples(spark):
    return spark.createDataFrame(
        [
            ("c", i, f"s{i % 5}", f"rel{i % 7}", f"o{i % 3}")
            for i in range(200)
        ],
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )


def test_graph_meta_schema_is_the_read_back_schema(
    spark, world, transcripts_pdf, tmp_path
):
    """The schema write_graph records equals what Spark infers from
    the written files, for both graph shapes in use: the canonicalized
    pipeline graph and the 5-column graph of kg_graph_pred_scan."""
    from pyspark.sql.types import StructType

    from information_extraction_spark.operators.linking import (
        canonicalize_triples,
    )
    from information_extraction_spark.sources.tables import read_graph_meta

    triples = _triples(spark, world, transcripts_pdf)
    canonical = canonicalize_triples(
        triples, spark.createDataFrame(world.alias_dict)
    )
    narrow = triples.select(
        "conv_id", "turn_idx", "subject", "predicate", "object"
    )
    for name, df, n_cols in (("wide", canonical, 10), ("narrow", narrow, 5)):
        out = str(tmp_path / name)
        write_graph(df, out, predicate_buckets=8)
        meta = read_graph_meta(spark, out)
        assert meta["predicate_buckets"] == 8
        recorded = StructType.fromJson(meta["schema"])
        assert recorded == spark.read.parquet(out).schema
        assert len(recorded.fields) == n_cols + 1
        assert recorded.fields[-1].name == "pred_bucket"


def test_read_graph_predicate_uses_the_tables_bucket_count(spark, tmp_path):
    """A graph bucketed by 8 must be read with modulus 8: every
    predicate's rows come back, not only those whose bucket happens to
    agree under the reader's own default."""
    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
    )

    triples = _toy_graph_triples(spark)
    out = str(tmp_path / "graph8")
    write_graph(triples, out, predicate_buckets=8)
    for k in range(7):
        got = read_graph_predicate(spark, out, f"rel{k}")
        assert sorted(map(tuple, got.drop("pred_bucket").collect())) == sorted(
            map(tuple, triples.filter(F.col("predicate") == f"rel{k}").collect())
        )


def test_read_graph_predicate_runs_one_job(spark, tmp_path):
    """Planning the read runs no schema-inference job: the collected
    lookup is exactly one Spark job."""
    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
    )

    out = str(tmp_path / "graph")
    write_graph(_toy_graph_triples(spark), out)
    sc = spark.sparkContext
    group = "read-graph-predicate-jobs"
    sc.setJobGroup(group, "one graph lookup")
    try:
        rows = read_graph_predicate(spark, out, "rel3").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 29
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_read_graph_predicate_absent_predicate_is_empty(spark, tmp_path):
    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
    )

    out = str(tmp_path / "graph")
    write_graph(_toy_graph_triples(spark), out)
    assert read_graph_predicate(spark, out, "no-such-relation").collect() == []


def test_read_graph_predicate_requires_the_meta_file(spark, tmp_path):
    """A plain partitioned parquet directory is not a graph table: the
    read raises instead of inferring a schema and guessing buckets."""
    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
    )

    out = str(tmp_path / "plain")
    _toy_graph_triples(spark).withColumn("pred_bucket", F.lit(0)).write.partitionBy(
        "pred_bucket"
    ).parquet(out)
    with pytest.raises(FileNotFoundError, match="write_graph"):
        read_graph_predicate(spark, out, "rel3")


def test_write_graph_append_must_match_the_table(spark, tmp_path):
    """An append with another bucket count or schema raises before any
    file is written; a matching append adds its rows."""
    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
    )

    triples = _toy_graph_triples(spark)
    out = str(tmp_path / "graph")
    write_graph(triples, out, predicate_buckets=8)

    def listing():
        return sorted(
            (os.path.relpath(os.path.join(d, f), out),
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(out)
            for f in fs
        )

    before = listing()
    with pytest.raises(ValueError, match="predicate buckets"):
        write_graph(triples, out, predicate_buckets=16, mode="append")
    with pytest.raises(ValueError, match="predicate buckets"):
        write_graph(
            triples.withColumn("turn_idx", F.col("turn_idx").cast("long")),
            out,
            predicate_buckets=8,
            mode="append",
        )
    assert listing() == before

    write_graph(triples, out, predicate_buckets=8, mode="append")
    assert read_graph_predicate(spark, out, "rel3").count() == 2 * 29
