"""Checkpoint lineage manifest + mid-pipeline resume."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import functions as F

from information_extraction_spark import schemas as S
from information_extraction_spark.operators.checkpoint import (
    COMPLETION_PARTITION,
    CheckpointManager,
    input_identity,
)
from information_extraction_spark.plans.pipeline import extract_triples


def test_stage_checkpoint_records_lineage_and_resumes(spark, tmp_dir):
    base = os.path.join(tmp_dir, "ckpt1")
    mgr = CheckpointManager(spark, base, run_id="r1", params={"v": 1})
    df = spark.range(0, 100).withColumn("x", F.col("id") * 2)
    out = mgr.stage(df, "double")
    assert out.count() == 100
    metrics = dict(mgr.stage_metrics("double"))
    assert metrics[COMPLETION_PARTITION] == 100
    per_part = {k: v for k, v in metrics.items() if k != COMPLETION_PARTITION}
    assert sum(per_part.values()) == 100

    # Resume: same run + params skips recompute (reads parquet back).
    mgr2 = CheckpointManager(spark, base, run_id="r1", params={"v": 1})
    assert mgr2.is_complete("double")
    resumed = mgr2.stage(spark.range(0).selectExpr("id", "id as x"), "double")
    assert resumed.count() == 100  # read from checkpoint, not the empty df

    # Changed params invalidate the checkpoint.
    mgr3 = CheckpointManager(spark, base, run_id="r1", params={"v": 2})
    assert not mgr3.is_complete("double")


def test_concurrent_committers_never_collide_on_snapshot_id(spark, tmp_dir):
    """Two CheckpointManagers on the same base_dir, interleaving
    allocations BEFORE either commits its manifest row (the race the
    read-max+1 scheme loses): the O_EXCL claim files must keep every
    minted id unique, and both snapshot dirs must survive with their
    own data."""
    base = os.path.join(tmp_dir, "ckpt_conc")
    a = CheckpointManager(spark, base, run_id="conc", params={"who": "a"})
    b = CheckpointManager(spark, base, run_id="conc", params={"who": "b"})

    # Interleave raw allocations with no manifest writes in between:
    # the manifest max is identical for every call, so uniqueness can
    # only come from the claim files.
    ids = [a._allocate_snapshot_id(), b._allocate_snapshot_id(),
           a._allocate_snapshot_id(), b._allocate_snapshot_id()]
    assert len(set(ids)) == 4

    # Full stage() commits from both managers also get distinct ids
    # and readable, independent snapshots.
    a.stage(spark.range(0, 7).withColumn("x", F.lit("a")), "s")
    b.stage(spark.range(0, 11).withColumn("x", F.lit("b")), "s")
    snaps_a = {sid for sid, _, _ in a.snapshots("s")}
    snaps_b = {sid for sid, _, _ in b.snapshots("s")}
    assert snaps_a == snaps_b  # shared manifest history
    assert len(snaps_a) == 2 and not (snaps_a & set(ids))
    sid_a = a._latest_snapshot("s")
    sid_b = b._latest_snapshot("s")
    assert sid_a != sid_b
    assert a.read_as_of("s", sid_a).count() == 7
    assert b.read_as_of("s", sid_b).count() == 11


def test_snapshot_time_travel_survives_overwrite(spark, tmp_dir):
    """Iceberg-style snapshot reads: after a parameter change forces a
    re-materialization, read_as_of still returns the PRIOR stage
    state, and snapshots() lists the full history."""
    import pytest

    base = os.path.join(tmp_dir, "ckpt_tt")
    mgr1 = CheckpointManager(spark, base, run_id="tt", params={"v": 1})
    mgr1.stage(spark.range(0, 50).withColumn("x", F.col("id") * 2), "s")

    # New params → checkpoint invalid → a NEW snapshot is written;
    # the old snapshot's data must remain readable.
    mgr2 = CheckpointManager(spark, base, run_id="tt", params={"v": 2})
    assert not mgr2.is_complete("s")
    mgr2.stage(spark.range(0, 80).withColumn("x", F.col("id") * 3), "s")

    snaps = mgr2.snapshots("s")
    assert [s[0] for s in snaps] == [1, 2]
    assert [s[1] for s in snaps] == [50, 80]

    old = mgr2.read_as_of("s", 1)
    assert old.count() == 50
    assert {r["x"] for r in old.collect()} == {i * 2 for i in range(50)}
    new = mgr2.read_as_of("s", 2)
    assert new.count() == 80

    # current-resume still resolves per params_hash
    assert mgr2.is_complete("s")
    assert CheckpointManager(
        spark, base, run_id="tt", params={"v": 1}
    ).is_complete("s")

    with pytest.raises(ValueError, match="no completed snapshot"):
        mgr2.read_as_of("s", 99)
    # per-partition metrics resolve to the latest snapshot for the
    # manager's own params
    assert dict(mgr2.stage_metrics("s"))[COMPLETION_PARTITION] == 80
    m1 = CheckpointManager(spark, base, run_id="tt", params={"v": 1})
    assert dict(m1.stage_metrics("s"))[COMPLETION_PARTITION] == 50


def test_legacy_manifest_upgrade_path(spark, tmp_dir):
    """A base_dir written BEFORE snapshot support (6-column manifest,
    data in the bare stage dir) must stay resumable: legacy completion
    rows read as snapshot 0, resume reads the bare dir, and a new
    materialization writes a SIBLING snapshot without corrupting the
    legacy read."""
    base = os.path.join(tmp_dir, "ckpt_legacy")
    # Simulate the old layout by hand: bare stage dir + manifest rows
    # without a snapshot_id column.
    legacy_stage = os.path.join(base, "L", "s")
    spark.range(0, 30).withColumn("x", F.col("id") * 7).write.parquet(
        legacy_stage
    )
    mgr = CheckpointManager(spark, base, run_id="L", params={"v": 1})
    legacy_rows = [
        ("L", "s", 0, 30, mgr.params_hash),
        ("L", "s", COMPLETION_PARTITION, 30, mgr.params_hash),
    ]
    spark.createDataFrame(
        legacy_rows,
        "run_id string, stage string, partition_id int, "
        "row_count long, params_hash string",
    ).withColumn("completed_ts", F.current_timestamp()).coalesce(
        1
    ).write.mode("append").parquet(os.path.join(base, "_manifest"))

    # Legacy completion is visible and resume reads the bare dir.
    assert mgr.is_complete("s")
    resumed = mgr.stage(spark.range(0).selectExpr("id", "id as x"), "s")
    assert resumed.count() == 30
    assert mgr.read_as_of("s", 0).count() == 30

    # New params → a NEW snapshot written as a sibling (id >= 1), the
    # mixed-generation manifest still reads, and the legacy snapshot
    # remains readable afterwards.
    mgr2 = CheckpointManager(spark, base, run_id="L", params={"v": 2})
    assert not mgr2.is_complete("s")
    mgr2.stage(spark.range(0, 40).withColumn("x", F.col("id")), "s")
    snaps = mgr2.snapshots("s")
    assert [s[0] for s in snaps] == [0, 1]
    assert mgr2.read_as_of("s", 0).count() == 30
    assert mgr2.read_as_of("s", 1).count() == 40


KEY = ["conv_id", "turn_idx", "predicate", "subject", "object"]


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select(KEY).collect()))


def _assert_read_back(df, base: str) -> None:
    """``df`` is a checkpoint read back: no kernel in its plan, and
    every file it reads sits under the checkpoint dir."""
    assert "MapInPandas" not in df._jdf.queryExecution().analyzed().toString()
    files = df.inputFiles()
    assert files
    assert all(urlparse(f).path.startswith(base + "/") for f in files)


def test_pipeline_with_checkpoints_matches_unchecked(
    spark, world, transcripts_pdf, tmp_dir, monkeypatch
):
    base = os.path.join(tmp_dir, "ckpt2")
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    mgr = CheckpointManager(spark, base, run_id="p1", params={"kb": "clean"})
    with_ckpt = extract_triples(spark, tdf, kb, sch, checkpointer=mgr)
    a = _rows(with_ckpt)
    assert a == _rows(extract_triples(spark, tdf, kb, sch))
    # Both stages recorded one snapshot each.
    for stage in ("units", "triples"):
        assert len(mgr.snapshots(stage)) == 1

    # Identical inputs resume: a fresh manager reads the triples
    # checkpoint back, writes nothing new and never broadcasts the KB.
    from information_extraction_spark.plans import pipeline

    def no_broadcast(*args, **kwargs):
        raise AssertionError("a resumed run broadcast the KB")

    mgr2 = CheckpointManager(spark, base, run_id="p1", params={"kb": "clean"})
    with monkeypatch.context() as m:
        m.setattr(pipeline, "broadcast_kb", no_broadcast)
        resumed = extract_triples(spark, tdf, kb, sch, checkpointer=mgr2)
    _assert_read_back(resumed, base)
    assert _rows(resumed) == a
    assert len(mgr2.snapshots("triples")) == 1

    # An empty input is another input: it recomputes, to no triples.
    empty = spark.createDataFrame([], schema=S.TRANSCRIPTS)
    mgr3 = CheckpointManager(spark, base, run_id="p1", params={"kb": "clean"})
    assert extract_triples(spark, empty, kb, sch, checkpointer=mgr3).count() == 0


def test_partial_resume_recomputes_only_downstream_stages(
    spark, world, transcripts_pdf, tmp_dir, monkeypatch
):
    """Crash-after-units shape: the kernel's ``units`` were staged, then
    assembling the triples failed. A re-run on the same inputs must
    resume from ``units`` and compute only ``triples``."""
    import pytest

    from information_extraction_spark.plans import pipeline

    base = os.path.join(tmp_dir, "ckpt3")
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)

    def crash(*args, **kwargs):
        raise RuntimeError("crash after units")

    mgr = CheckpointManager(spark, base, run_id="pr", params={"v": 1})
    with monkeypatch.context() as m:
        m.setattr(pipeline, "assemble_triples", crash)
        with pytest.raises(RuntimeError, match="crash after units"):
            extract_triples(spark, tdf, kb, sch, checkpointer=mgr)
    units = mgr.snapshots("units")
    assert len(units) == 1 and mgr.snapshots("triples") == []

    mgr2 = CheckpointManager(spark, base, run_id="pr", params={"v": 1})
    resumed = extract_triples(spark, tdf, kb, sch, checkpointer=mgr2)
    assert _rows(resumed) == _rows(extract_triples(spark, tdf, kb, sch))
    assert mgr2.snapshots("units") == units  # the kernel did not re-run
    assert len(mgr2.snapshots("triples")) == 1


def test_changed_inputs_or_threshold_recompute(
    spark, world, transcripts_pdf, tmp_dir
):
    """Resume reuses a stage only when it was built from the same
    inputs: a changed KB, transcripts rewritten at the same path, or a
    changed threshold each recompute, and give the unchecked result."""
    from information_extraction_spark.sources import tables

    base = os.path.join(tmp_dir, "ckpt_inputs")
    src = os.path.join(tmp_dir, "ckpt_inputs_transcripts.parquet")
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)

    def write_transcripts(pdf):
        spark.createDataFrame(pdf, schema=S.TRANSCRIPTS).write.mode(
            "overwrite"
        ).parquet(src)

    def run(kb_df, **kw):
        """(checkpointed rows, unchecked rows, triples snapshots)."""
        tdf = tables.read_transcripts(spark, src)
        mgr = CheckpointManager(spark, base, run_id="in", params={"v": 1})
        out = extract_triples(spark, tdf, kb_df, sch, checkpointer=mgr, **kw)
        plain = extract_triples(spark, tdf, kb_df, sch, **kw)
        return _rows(out), _rows(plain), len(mgr.snapshots("triples"))

    write_transcripts(transcripts_pdf)
    first, plain, n = run(kb)
    assert first == plain and n == 1
    again, _, n = run(kb)
    assert again == first and n == 1  # same inputs: resumed

    dropped = world.kb_clean.predicate.iloc[0]
    kb2 = spark.createDataFrame(
        world.kb_clean[world.kb_clean.predicate != dropped],
        schema=S.KNOWLEDGE_BASE,
    )
    got, plain, n = run(kb2)
    assert got == plain != first and n == 2

    convs = sorted(transcripts_pdf.conv_id.unique())[: 20]
    write_transcripts(transcripts_pdf[transcripts_pdf.conv_id.isin(convs)])
    got, plain, n = run(kb)
    assert got == plain != first and n == 3

    got, plain, n = run(kb, threshold=0.3)
    assert got == plain and n == 4


def test_input_identity_follows_content(spark, tmp_dir):
    """Equal pandas-made DataFrames share an identity and changed rows
    change it; a rewritten file changes it; a row-list DataFrame has
    none, so a manager over it never resumes."""
    import pandas as pd

    rows = [(1, "a"), (2, "b")]
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    a = input_identity(spark.createDataFrame(pdf))
    assert a is not None
    assert input_identity(spark.createDataFrame(pdf.copy())) == a
    assert input_identity(spark.createDataFrame(pdf.assign(v=["a", "c"]))) != a

    path = os.path.join(tmp_dir, "identity.parquet")
    spark.range(5).write.parquet(path)
    f = input_identity(spark.read.parquet(path))
    assert f is not None and input_identity(spark.read.parquet(path)) == f
    spark.range(6).write.mode("overwrite").parquet(path)
    assert input_identity(spark.read.parquet(path)) != f

    listed = spark.createDataFrame(rows, "k long, v string")
    assert input_identity(listed) is None
    mgr = CheckpointManager(spark, os.path.join(tmp_dir, "ckpt_id"), "r")
    assert (
        mgr.for_inputs({"x": listed}).params_hash
        != mgr.for_inputs({"x": listed}).params_hash
    )
    pandas_made = {"x": spark.createDataFrame(pdf)}
    assert (
        mgr.for_inputs(pandas_made, t=1).params_hash
        == mgr.for_inputs(pandas_made, t=1).params_hash
        != mgr.for_inputs(pandas_made, t=2).params_hash
    )


def test_time_travel_query_reads_history_not_latest(spark):
    """w9_time_travel is load-bearing: the stage's LATEST snapshot
    (full corpus) differs from the as-of snapshot (even half), so a
    reader that ignored the snapshot id would return different
    values."""
    from information_extraction_spark.driver_queries.kg import (
        _tt_paths,
        w9_time_travel,
        write_time_travel_snapshots,
    )
    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    sf_dir = "/root/testdata/sf0.001"
    first_id = write_time_travel_snapshots(spark, sf_dir)
    ckpt_dir, _ = _tt_paths(sf_dir)
    m = CheckpointManager(spark, ckpt_dir, run_id="history", params={})
    snaps = m.snapshots("pred_counts")
    assert len(snaps) >= 2 and snaps[0][0] == first_id
    as_of = {
        (r["predicate"], r["n_assertions"])
        for r in w9_time_travel(spark, sf_dir).collect()
    }
    latest = {
        (r["predicate"], r["n_assertions"])
        for r in m.read_as_of("pred_counts", snaps[-1][0]).collect()
    }
    assert as_of != latest  # history genuinely differs from latest
    # every predicate's historical count is <= its latest count
    la = dict(latest)
    assert all(n <= la[p] for p, n in as_of)


def test_time_travel_sidecar_recovery(spark):
    """A torn meta sidecar (crash mid-write) must read as a cache
    MISS and rebuild the correct even-params first snapshot id — not
    brick the query, and not mis-record the full-corpus snapshot as
    first (the snapshots()[-1] bug: after an interrupted first run a
    rerun skips m1's completed write, so 'latest' is the full-corpus
    id)."""
    import json

    from information_extraction_spark.driver_queries.kg import (
        _tt_paths,
        write_time_travel_snapshots,
    )

    sf_dir = "/root/testdata/sf0.001"
    first_id = write_time_travel_snapshots(spark, sf_dir)
    _, meta_path = _tt_paths(sf_dir)
    with open(meta_path, "w") as fh:
        fh.write("{trunc")  # torn sidecar
    # Recovery path: both snapshots already exist (m1/m2 stage() hit
    # their completed manifests), so this exercises exactly the
    # interrupted-first-run shape — and must re-derive the EVEN id.
    assert write_time_travel_snapshots(spark, sf_dir) == first_id
    with open(meta_path) as fh:
        assert json.load(fh)["first_snapshot_id"] == first_id


def test_expire_snapshots_retention_gc(spark, tmp_dir):
    """Iceberg-style expire_snapshots: all but keep_last newest
    snapshots drop — dirs deleted, manifest rows gone, claims kept so
    ids stay monotonic — while kept snapshots still time-travel.
    Idempotent; other stages' rows untouched."""
    import pytest

    base = os.path.join(tmp_dir, "ckpt_gc")
    for i in range(1, 5):
        m = CheckpointManager(spark, base, run_id="h", params={"v": i})
        m.stage(spark.range(0, 10 * i), "s")
    other = CheckpointManager(spark, base, run_id="h", params={"o": 1})
    other.stage(spark.range(0, 7), "t")

    gc = CheckpointManager(spark, base, run_id="h", params={})
    assert gc.expire_snapshots("s", keep_last=2) == [1, 2]
    assert [sid for sid, _, _ in gc.snapshots("s")] == [3, 4]
    for sid, there in [(1, False), (2, False), (3, True), (4, True)]:
        assert os.path.isdir(os.path.join(base, "h", f"s@snap{sid}")) is there
        assert os.path.isfile(
            os.path.join(base, "_snapshot_claims", f"snap-{sid}.claim")
        )
    with pytest.raises(ValueError, match="no completed snapshot"):
        gc.read_as_of("s", 1)
    assert gc.read_as_of("s", 3).count() == 30
    # Idempotent; keep_last beyond history is a no-op; other stage
    # intact; a NEW snapshot mints an id past the expired ones.
    assert gc.expire_snapshots("s", keep_last=2) == []
    assert gc.expire_snapshots("s", keep_last=9) == []
    assert [sid for sid, _, _ in gc.snapshots("t")] == [5]
    m6 = CheckpointManager(spark, base, run_id="h", params={"v": 9})
    m6.stage(spark.range(0, 3), "s")
    assert [sid for sid, _, _ in gc.snapshots("s")] == [3, 4, 6]


def test_remove_orphans_scoped_and_safe(spark, tmp_dir):
    """Orphan GC sweeps ONLY uncommitted @snap dirs of the named
    stage: committed snapshots, another stage's orphan, the legacy
    bare dir, and the orphan's id claim all survive."""
    import os

    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    base = os.path.join(tmp_dir, "ckpt_orphan")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    m = CheckpointManager(spark, base, run_id="r", params={"p": 1})
    m.stage(df, "st")

    run_dir = os.path.join(base, "r")
    # legacy bare dir (pre-snapshot layout, id 0) — must be ignored
    df.write.mode("overwrite").parquet(os.path.join(run_dir, "st"))
    # orphans: one for st, one for another stage
    df.write.parquet(os.path.join(run_dir, "st@snap7"))
    df.write.parquet(os.path.join(run_dir, "other@snap3"))
    claims = os.path.join(base, "_snapshot_claims")
    os.makedirs(claims, exist_ok=True)
    open(os.path.join(claims, "snap-7.claim"), "w").close()

    assert m.remove_orphans("st") == [7]
    assert not os.path.isdir(os.path.join(run_dir, "st@snap7"))
    assert os.path.isdir(os.path.join(run_dir, "st@snap1"))  # committed
    assert os.path.isdir(os.path.join(run_dir, "st"))  # legacy
    assert os.path.isdir(os.path.join(run_dir, "other@snap3"))  # scoped
    assert os.path.isfile(os.path.join(claims, "snap-7.claim"))
    assert m.remove_orphans("st") == []  # idempotent
    # committed data still readable after the sweep
    assert m.read_as_of("st", 1).count() == 2
