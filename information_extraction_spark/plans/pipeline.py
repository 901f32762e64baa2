"""The end-to-end KG-construction pipeline.

read transcripts → stable ordering → fused classify/tag/decode kernel
(one pandas UDF pass) → dedup/filter → cartesian SUB×OBJ →
broadcast-join schema dim → triples.

This is the Spark shape of the reference's six-process legacy
pipeline (SURVEY.md §3.1); every process boundary that used to be a
line-aligned text file is either fused into the DAG or an explicit
Parquet checkpoint with a lineage manifest (operators/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from information_extraction_spark.kernels.extraction import KERNEL_VERSION
from information_extraction_spark.operators.extract import (
    FALLBACK_K,
    MIN_ENTITY_LEN,
    THRESHOLD,
    assemble_triples,
    broadcast_kb,
    classify_tag_decode_stage,
    ordered_transcripts,
)


def extract_triples(
    spark: SparkSession,
    transcripts: DataFrame,
    kb: DataFrame,
    schemas: DataFrame,
    threshold: float = THRESHOLD,
    fallback_k: int = FALLBACK_K,
    checkpointer=None,
    kernel_partitions: int | None = None,
) -> DataFrame:
    """Run the full extraction DAG; returns the triples DataFrame.

    ``checkpointer`` (operators.checkpoint.CheckpointManager) stages the
    kernel's work units as ``units`` and the result as ``triples``, so a
    re-run resumes from them. The stages' identity also covers the
    inputs' contents and the kernel settings
    (``CheckpointManager.for_inputs``): a changed input or setting
    recomputes them. None runs everything as one DAG.

    ``kernel_partitions``: explicit partition count for the Python
    kernel stage. The kernel is CPU-bound, so its parallelism must
    track cores, not bytes — AQE's byte-based coalescing would
    otherwise squeeze a small-byte/high-cost stage onto a couple of
    cores (observed: 50k turns coalesced to 2 partitions). Default
    EXACTLY defaultParallelism (one task wave): every extra wave
    pays per-task JVM overhead, a fresh Arrow batch setup, and a
    cold kernel memo per task — measured 30-40% of the whole e2e at
    sf0.1/local[32] (kp=96 best 3.3-4.5s vs kp=32 best 2.3-2.7s,
    order-controlled). Raise to 2-3x only when per-partition kernel
    cost is skewed (wildly heterogeneous text lengths) so straggler
    waves backfill idle cores. The explicit repartition count is
    exempt from AQE coalescing. 0 disables the repartition (use when
    the upstream partitioning is already right, e.g. a bucketed
    table).
    """
    if checkpointer is not None:
        checkpointer = checkpointer.for_inputs(
            {"transcripts": transcripts, "kb": kb, "schemas": schemas},
            threshold=threshold,
            fallback_k=fallback_k,
            min_entity_len=MIN_ENTITY_LEN,
            kernel_version=KERNEL_VERSION,
        )
        # A resumed run needs no kernel, so it skips the KB broadcast.
        resumed = checkpointer.resume("triples")
        if resumed is not None:
            return resumed
    kb_bc = broadcast_kb(spark, kb)

    if kernel_partitions is None:
        kernel_partitions = spark.sparkContext.defaultParallelism
    if kernel_partitions:
        # Repartition BEFORE the dedup window: the window's
        # partitionBy(conv_id, turn_idx) is satisfied by this exact
        # hash partitioning, so the whole pre-kernel path costs ONE
        # shuffle and the kernel inherits the explicit (AQE-exempt)
        # partition count.
        transcripts = transcripts.repartition(
            kernel_partitions, "conv_id", "turn_idx"
        )
    # The kernel pre-cleans entities (assemble_entities at memo time,
    # once per distinct text), so assemble_triples skips its per-unit
    # array lambdas.
    units = classify_tag_decode_stage(
        ordered_transcripts(transcripts),
        kb_bc,
        threshold=threshold,
        fallback_k=fallback_k,
        min_entity_len=MIN_ENTITY_LEN,
    )
    if checkpointer is not None:
        units = checkpointer.stage(units, "units")
    triples = assemble_triples(units, schemas, pre_cleaned=True)
    if checkpointer is not None:
        triples = checkpointer.stage(triples, "triples")
    return triples
