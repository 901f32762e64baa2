"""Graph analytics over the materialized triple table.

The reference stops at emitting (subj, pred, obj) triples; the first
thing a KG consumer computes over the resulting graph is importance —
PageRank over the entity graph. This module implements the standard
synchronous power-iteration PageRank as a DataFrame loop, and the
other iterative graph operators in the same shape.

Scale shape (the part that must survive 100 TB):

- The edge table is the big side. It is materialized ONCE
  (``checkpoint.cut``) with its out-degree already attached, then
  only *scanned* each iteration — never recomputed, never re-shuffled
  by the loop itself.
- The rank vector is node-sized (orders of magnitude smaller than the
  edges). Each iteration shuffles: (a) ranks onto the edge table's
  src key for the contribution join, (b) contributions onto dst for
  the sum. Both shuffles move node/contribution-sized data.
- Every loop here runs on the round driver ``checkpoint.iterate``:
  each round's state is cut (without it the plan doubles per
  iteration and iteration k replays all k-1 predecessors), and the
  round it replaces is released once the new one is materialized.
  The operators are decorated ``checkpoint.releases_unread_cuts``, so
  a call leaves persisted only the cuts its result reads.
- Iteration count is FIXED (a hyperparameter), not convergence-tested
  per element, so the loop runs a deterministic number of jobs and
  its result is exactly expressible as k chained self-joins — which
  is what the DuckDB oracle does.

Dangling nodes (no out-edges) keep the simple "leaked mass" variant:
their rank is not redistributed, i.e. rank(v) = (1-d) + d * sum over
in-edges of rank(u)/outdeg(u). This is the formulation of the
original paper (Page et al. 1999, eq. before normalization) and is
deterministic and oracle-expressible; the normalized-teleport variant
only rescales ranks and does not change the ordering.
"""

from __future__ import annotations

import pathlib
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_spark.functions.exact import exact_muldiv
from information_extraction_spark.operators.checkpoint import (
    cut,
    iterate,
    releases_unread_cuts,
)


def triple_edges(triples: DataFrame) -> DataFrame:
    """Distinct directed (src, dst) entity edges from a triple table,
    self-loops dropped (a self-loop contributes rank to itself and
    only slows mixing; DuckDB oracle drops them identically)."""
    return (
        triples.select(
            F.col("subject").alias("src"), F.col("object").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def triple_support(triples: DataFrame) -> DataFrame:
    """Collapse repeated extractions of the same (subject, predicate,
    object) into per-triple support evidence: how many turns re-assert
    the triple, across how many distinct conversations, and the
    earliest turn index it appeared at.

    This is the canonicalization step between raw extraction and the
    graph table a consumer trusts — a triple asserted by 40
    conversations is evidence; one asserted by a single turn of a
    single conversation is a candidate (the reference emits raw
    per-sentence triples, produce_submit_json_file.py:298-313; support
    aggregation is what a KG builder layers on top before
    materializing).

    Scale shape: ONE shuffle on the full (s, p, o) key with map-side
    partial aggregation — hot triples (head facts re-asserted by
    millions of turns) combine within each map task before the
    exchange, so the shuffle carries one row per (partition, triple),
    not per assertion. count(DISTINCT conv_id) expands to a two-phase
    aggregate on the same key, no extra wide dependency.
    """
    return triples.groupBy("subject", "predicate", "object").agg(
        F.count("*").cast("long").alias("support"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.min("turn_idx").cast("int").alias("first_turn"),
    )


def resolve_functional(triples: DataFrame) -> DataFrame:
    """Conflict resolution for functional (single-valued) predicates:
    per (subject, predicate) keep the one object with the strongest
    evidence — the truth-discovery step between support aggregation
    and a graph table that asserts at most one value per functional
    slot (the reference emits every candidate object per sentence,
    produce_submit_json_file.py:298-313; picking a winner is the KG
    builder's job).

    Winner = max by (support, n_convs, object): support first, then
    conversation breadth, then the lexicographically LARGEST object as
    a deterministic tie-break. Output carries the runner-up context a
    consumer needs to audit the call: n_candidates (distinct objects
    seen for the slot) and confidence = winner support / total slot
    support, rounded to 4dp.

    Scale shape: three map-side-combined shuffles over progressively
    COLLAPSED data — (s,p,o,conv_id) partial counts, then (s,p,o)
    (both inherited from triple_support's countDistinct expansion),
    then the (s,p) argmax. Only the first exchange sees raw assertion
    volume, and hot facts combine within map tasks before it. The
    argmax is a single struct-ordered ``max``: Spark plans it as a
    partial/final SortAggregate (a string field in the buffer is not
    hash-aggregable), but the sort runs on the twice-collapsed
    support table and the partial side still combines per map task —
    unlike the window-rank formulation, no whole (s, p) group is ever
    buffered or ranked row-by-row.
    """
    sup = triple_support(triples)
    best = sup.groupBy("subject", "predicate").agg(
        F.max(F.struct("support", "n_convs", "object")).alias("_best"),
        F.sum("support").cast("long").alias("_total"),
        F.count("*").cast("long").alias("n_candidates"),
    )
    return best.select(
        "subject",
        "predicate",
        F.col("_best.object").alias("object"),
        F.col("_best.support").alias("support"),
        F.col("_best.n_convs").alias("n_convs"),
        "n_candidates",
        F.round(
            F.col("_best.support") / F.col("_total").cast("double"), 4
        ).alias("confidence"),
    )


def predicate_profile(triples: DataFrame) -> DataFrame:
    """Ontology profile of the materialized graph: per (predicate,
    subject_type, object_type) — the typed slot the 50-relation schema
    declares — count assertions, distinct triples, distinct endpoint
    entities, and the functionality ratio (avg distinct objects per
    subject). Functionality ≈ 1 marks a predicate safe for
    resolve_functional; ≫ 1 marks a genuinely multi-valued relation.

    Scale shape: first collapse on the full typed (s, p, o) key —
    the types are functionally determined by the predicate (J1's
    first-listed dual-schema rule), so carrying them in the group key
    adds no cardinality and saves the join a separate type lookup
    would cost. That map-side-combined pass is the only one that sees
    raw assertion volume. The multi-DISTINCT aggregate over the
    collapsed table expands via Expand + partial aggregation keyed on
    (group, value), so even with only ~50 predicate groups the heavy
    partial work is spread across (predicate, entity) keys, not 50
    hot reducers.
    """
    t = triples.groupBy(
        "subject", "predicate", "object", "subject_type", "object_type"
    ).agg(F.count("*").cast("long").alias("support"))
    return (
        t.groupBy("predicate", "subject_type", "object_type")
        .agg(
            F.sum("support").cast("long").alias("n_assertions"),
            F.count("*").cast("long").alias("n_triples"),
            F.countDistinct("subject").cast("long").alias("n_subjects"),
            F.countDistinct("object").cast("long").alias("n_objects"),
        )
        .withColumn(
            "functionality",
            F.round(
                F.col("n_triples") / F.col("n_subjects").cast("double"), 4
            ),
        )
    )


def triple_provenance(triples: DataFrame, k: int = 5) -> DataFrame:
    """Per-triple provenance: total evidence count plus the k
    lexicographically-first evidence pointers ("conv_id#turn_idx",
    turn zero-padded to the full int32 width so string order equals
    numeric turn order for ANY turn index), joined with '|'. A KG consumer audits a fact by following these pointers
    back into the transcript table.

    Scale shape: ONE shuffle on the (s, p, o) key. The window rank and
    the partition-wide count share the exchange; the rank filter
    bounds what the final collect aggregates to ≤ k strings per triple
    — never an unbounded collect_list over a hot fact asserted by
    millions of turns (WindowExec streams sorted runs and spills;
    the post-filter groupBy reuses the window's hash partitioning, so
    no second exchange).
    """
    from pyspark.sql import Window

    spo = ["subject", "predicate", "object"]
    ev = F.format_string("%s#%010d", F.col("conv_id"), F.col("turn_idx"))
    w_rank = Window.partitionBy(*spo).orderBy("_ev")
    w_all = Window.partitionBy(*spo)
    ranked = (
        triples.withColumn("_ev", ev)
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count("*").over(w_all))
    )
    return (
        ranked.filter(F.col("_rn") <= k)
        .groupBy(*spo)
        .agg(
            F.max("_n").cast("long").alias("n_evidence"),
            F.array_join(F.sort_array(F.collect_list("_ev")), "|").alias(
                "evidence"
            ),
        )
    )


def infer_entity_types(triples: DataFrame) -> DataFrame:
    """Entity type induction: every assertion votes for its subject's
    declared subject_type and its object's object_type; each entity
    gets the dominant type plus the vote audit (total votes, distinct
    types seen, winner's share). The canonicalization consumer: an
    entity surfacing under conflicting types is either a polysemous
    surface form (split it) or an extraction error (flag it) —
    at sf0.01, 30 of 228 entities carry conflicting votes (up to 7
    distinct types), so the argmax genuinely decides.

    Winner = max by (votes, type): deterministic lexicographic-max
    tie-break, same struct-ordered-max shape as resolve_functional.

    Scale shape: the union is two narrow projections of the same
    scan; then one map-side-combined shuffle on (entity, type) —
    the only pass at assertion volume — and the (entity) argmax over
    the collapsed vote table. No window, no whole-group buffering.
    """
    votes = triples.select(
        F.col("subject").alias("entity"),
        F.col("subject_type").alias("etype"),
    ).unionAll(
        triples.select(
            F.col("object").alias("entity"),
            F.col("object_type").alias("etype"),
        )
    )
    counts = votes.groupBy("entity", "etype").agg(
        F.count("*").cast("long").alias("votes")
    )
    best = counts.groupBy("entity").agg(
        F.max(F.struct("votes", "etype")).alias("_best"),
        F.sum("votes").cast("long").alias("n_votes"),
        F.count("*").cast("long").alias("n_types"),
    )
    return best.select(
        "entity",
        F.col("_best.etype").alias("etype"),
        F.col("_best.votes").alias("votes"),
        "n_votes",
        "n_types",
        F.round(
            F.col("_best.votes") / F.col("n_votes").cast("double"), 4
        ).alias("share"),
    )


def temporal_extent(
    triples: DataFrame,
    transcripts: DataFrame,
    origin: str | None = None,
) -> DataFrame:
    """Per-triple temporal validity: the [first, last] assertion
    timestamps, recovered by joining the materialized graph back to
    the transcript table on the (conv_id, turn_idx) provenance key.
    A fact's validity window is what downstream temporal-KG consumers
    reason over (was this true when the conversation happened?).

    ``origin``: optional "yyyy-MM-dd HH:mm:ss" literal; when given,
    the bounds are SECONDS SINCE ORIGIN (computed as a same-session
    unix_timestamp difference, so the session timezone cancels and
    the result is timezone-portable); when None, absolute epoch
    seconds.

    Scale shape: the join is a co-keyed equi-join on (conv_id,
    turn_idx) — at warehouse scale both tables bucket by conv_id
    (write_graph's layout note; the transcript table is the stream's
    own partitioning key), making it a zero-exchange bucketed join;
    unbucketed it is one shuffle per side. The extent aggregation is
    then one map-side-combined shuffle on (s, p, o). min/max tolerate
    the duplicate-turn multiplicity (a turn asserting a triple twice
    does not move its window).
    """
    sec = F.unix_timestamp("ts")
    if origin is not None:
        sec = sec - F.unix_timestamp(F.lit(origin))
    turns = transcripts.select(
        "conv_id", "turn_idx", sec.cast("long").alias("_sec")
    )
    return (
        triples.select("conv_id", "turn_idx", "subject", "predicate", "object")
        .join(turns, ["conv_id", "turn_idx"])
        .groupBy("subject", "predicate", "object")
        .agg(
            F.min("_sec").cast("long").alias("valid_from_s"),
            F.max("_sec").cast("long").alias("valid_to_s"),
        )
    )


def temporal_conflicts(
    triples: DataFrame,
    transcripts: DataFrame,
    origin: str | None = None,
) -> DataFrame:
    """Functional-slot contradictions: pairs of DISTINCT objects
    asserted for the same (subject, predicate) whose validity windows
    (temporal_extent's [first, last] assertion bounds) OVERLAP.
    slot_changes models sequential corrections — object versions that
    replace each other over time; this finds the cases no timeline
    explains: two values simultaneously "true", the contradiction a
    KG-construction pipeline must route to adjudication rather than
    last-writer-wins (kg_functional_resolve) silently suppressing.

    Emits one row per unordered conflicting pair (object_a <
    object_b) with the overlap window and its length in seconds.

    Scale shape: builds on temporal_extent (one provenance equi-join
    + one map-side-combined rollup to AT MOST one row per distinct
    (s, p, o) — assertion volume never reaches the pair stage), then
    a SELF-join co-keyed on (subject, predicate): both sides arrive
    in the same hash partition, and pair fan-out is bounded by the
    slot's distinct-object count squared — slots are small by
    definition (a functional predicate carries a handful of
    versions), so no salting is needed where er_candidates' hot
    (p, o) blocks did. The object_a < object_b predicate halves the
    output and de-duplicates symmetric pairs inside the join, never
    in a second pass."""
    ext = temporal_extent(triples, transcripts, origin=origin)
    a = ext.select(
        "subject",
        "predicate",
        F.col("object").alias("object_a"),
        F.col("valid_from_s").alias("from_a"),
        F.col("valid_to_s").alias("to_a"),
    )
    b = ext.select(
        "subject",
        "predicate",
        F.col("object").alias("object_b"),
        F.col("valid_from_s").alias("from_b"),
        F.col("valid_to_s").alias("to_b"),
    )
    pairs = a.join(b, ["subject", "predicate"]).where(
        (F.col("object_a") < F.col("object_b"))
        & (F.col("from_a") <= F.col("to_b"))
        & (F.col("from_b") <= F.col("to_a"))
    )
    overlap_from = F.greatest("from_a", "from_b")
    overlap_to = F.least("to_a", "to_b")
    return pairs.select(
        "subject",
        "predicate",
        "object_a",
        "object_b",
        overlap_from.cast("long").alias("overlap_from_s"),
        overlap_to.cast("long").alias("overlap_to_s"),
        (overlap_to - overlap_from).cast("long").alias("overlap_s"),
    )


def slot_changes(
    triples: DataFrame,
    transcripts: DataFrame,
    origin: str | None = None,
) -> DataFrame:
    """Temporal change detection for functional slots: for every
    (subject, predicate) asserted with MORE THAN ONE distinct object
    over time, the ordered object-version history — version number,
    previous object, and the first-assertion time of each version.
    This is the state-evolution view a transcript KG needs (a user's
    address / preference / assignment changing across conversations):
    kg_functional_resolve picks ONE winner per slot; this query keeps
    the whole timeline so consumers can distinguish correction from
    change. Versions order by (first_sec, object) — the object
    tie-break makes two objects first asserted in the same second
    deterministic in both engines.

    ``origin`` as in temporal_extent: when given, times are seconds
    since origin via a same-session unix_timestamp difference
    (timezone-portable); when None, absolute epoch seconds.

    Scale shape: the provenance join is the same co-keyed
    (conv_id, turn_idx) equi-join as temporal_extent (bucketed by
    conv_id at warehouse scale → zero-exchange); first_sec collapses
    assertions to one row per DISTINCT (s, p, o) in one
    map-side-combined shuffle; the version/lag/count windows all
    share ONE (s, p) partition sort over that already-collapsed slot
    table (one exchange of slot-sized data — a slot's version count
    is bounded by its distinct objects, never by assertion volume,
    so a hot fact asserted by millions of turns contributes exactly
    one row per distinct object to the window state).
    """
    from pyspark.sql import Window

    sec = F.unix_timestamp("ts")
    if origin is not None:
        sec = sec - F.unix_timestamp(F.lit(origin))
    turns = transcripts.select(
        "conv_id", "turn_idx", sec.cast("long").alias("_sec")
    )
    firsts = (
        triples.select(
            "conv_id", "turn_idx", "subject", "predicate", "object"
        )
        .join(turns, ["conv_id", "turn_idx"])
        .groupBy("subject", "predicate", "object")
        .agg(F.min("_sec").cast("long").alias("changed_at_s"))
    )
    w = Window.partitionBy("subject", "predicate").orderBy(
        "changed_at_s", "object"
    )
    wall = Window.partitionBy("subject", "predicate")
    return (
        firsts.withColumn(
            "version", F.row_number().over(w).cast("long")
        )
        .withColumn("prev_object", F.lag("object").over(w))
        .withColumn("n_versions", F.count("*").over(wall).cast("long"))
        .filter(F.col("n_versions") >= 2)
        .select(
            "subject",
            "predicate",
            "version",
            "object",
            "prev_object",
            "changed_at_s",
            "n_versions",
        )
    )


def conversation_stats(
    transcripts: DataFrame, triples: DataFrame
) -> DataFrame:
    """Per-conversation extraction yield: turn count joined with the
    assertions / distinct triples / distinct predicates the pipeline
    got out of it. The table an ingest operator watches — a
    conversation with many turns and zero triples is either
    off-schema content or an extraction regression.

    Scale shape: both sides pre-aggregate on conv_id (map-side
    combined) BEFORE the join, so the join moves one row per
    conversation, not per turn or per assertion; the multi-DISTINCT
    on the triple side expands via Expand keyed on (conv_id, value).
    Left join keeps zero-yield conversations (coalesced to 0) —
    exactly the rows the monitor exists to surface.
    """
    turns = transcripts.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns")
    )
    got = triples.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_assertions"),
        F.countDistinct("subject", "predicate", "object")
        .cast("long")
        .alias("n_triples"),
        F.countDistinct("predicate").cast("long").alias("n_predicates"),
    )
    out = turns.join(got, "conv_id", "left")
    return out.select(
        "conv_id",
        "n_turns",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ("n_assertions", "n_triples", "n_predicates")
        ],
    )


def neighbor_sample(triples: DataFrame, fanout: int = 4) -> DataFrame:
    """GraphSAGE-style fixed-fanout neighbor sampling over the triple
    graph: per subject, keep at most ``fanout`` distinct
    (predicate, object) out-edges — the mini-batch neighborhood
    materialization a GNN training pipeline runs over the KG
    (Hamilton et al. 2017 samples uniformly; here the sample is
    DETERMINISTIC — ordered by md5 of the edge — so it is
    reproducible across runs and oracle-checkable). Returns (subject,
    predicate, object, rk, degree): rk the edge's sample rank, degree
    the subject's TOTAL distinct out-degree pre-sampling (the
    normalization constant an unbiased aggregator needs).

    Scale shape: distinct on (s, p, o) (map-side combined), then ONE
    exchange on subject shared by the rank window, the degree window,
    and the filter; output is ≤ fanout rows per subject — a hub with
    millions of out-edges still emits ``fanout`` rows, and WindowExec
    streams its sorted run (never buffers the group). Entity surfaces
    contain no '|' (space-tokenized words/bigrams), so the md5 key
    collides only on identical edges — which distinct already
    removed.
    """
    from pyspark.sql import Window

    edges = triples.select("subject", "predicate", "object").distinct()
    h = F.md5(F.concat_ws("|", "subject", "predicate", "object"))
    w_rank = Window.partitionBy("subject").orderBy("_h")
    w_all = Window.partitionBy("subject")
    return (
        edges.withColumn("_h", h)
        .withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .withColumn("degree", F.count("*").over(w_all).cast("long"))
        .filter(F.col("rk") <= fanout)
        .select("subject", "predicate", "object", "rk", "degree")
    )


def cardinality_profile(triples: DataFrame) -> DataFrame:
    """SHACL-style cardinality validation per predicate: how badly
    does each predicate violate a max-cardinality-1 (functional)
    constraint? Per predicate — total (subject, predicate) slots,
    slots asserting >1 distinct object, the worst slot's object count,
    and the violation rate. The go/no-go table for
    ``resolve_functional``: a predicate with violation_rate ≈ 0 is
    safe to resolve; ≈ 1 is genuinely multi-valued and must NOT be
    collapsed (sh:maxCount 1 in SHACL terms).

    Scale shape: distinct on the full (s, p, o) key (map-side
    combined — the only pass at assertion volume), then a
    map-side-combined (s, p) count, then the predicate rollup over
    slot-sized data. ~50 predicate groups never see raw volume.
    """
    slots = (
        triples.select("subject", "predicate", "object")
        .distinct()
        .groupBy("subject", "predicate")
        .agg(F.count("*").cast("long").alias("_n_obj"))
    )
    return slots.groupBy("predicate").agg(
        F.count("*").cast("long").alias("n_slots"),
        F.sum((F.col("_n_obj") > 1).cast("long"))
        .cast("long")
        .alias("n_violating"),
        F.max("_n_obj").cast("long").alias("max_objects"),
        F.round(
            F.sum((F.col("_n_obj") > 1).cast("long"))
            / F.count("*").cast("double"),
            4,
        ).alias("violation_rate"),
    )


def type_violations(triples: DataFrame) -> DataFrame:
    """SHACL-style domain/range validation against the INDUCED
    ontology: assertions whose declared endpoint type disagrees with
    the endpoint entity's dominant type (``infer_entity_types``) are
    suspect extractions. Returns one row per (predicate, side,
    declared, inferred) violation class with assertion/entity counts
    — bounded output (predicates × types), the triage table a KG
    curator reads top-down.

    Scale shape: the inferred-type table is ENTITY-sized — never
    broadcast at warehouse scale; each side joins it on its endpoint
    key (subject / object), a co-keyed shuffle join both of whose
    sides are already collapsed below assertion volume (the triple
    side pre-collapses per distinct typed endpoint pairing). AQE
    downgrades to broadcast at test scale; the declared shape
    survives when entities are billions.
    """
    inferred = infer_entity_types(triples).select(
        "entity", F.col("etype").alias("inferred")
    )

    def _side(entity_col: str, type_col: str, side: str) -> DataFrame:
        per = triples.groupBy(
            F.col(entity_col).alias("entity"),
            "predicate",
            F.col(type_col).alias("declared"),
        ).agg(F.count("*").cast("long").alias("_n"))
        return (
            per.join(inferred, "entity")
            .filter(F.col("declared") != F.col("inferred"))
            .groupBy("predicate", "declared", "inferred")
            .agg(
                F.sum("_n").cast("long").alias("n_assertions"),
                F.count("*").cast("long").alias("n_entities"),
            )
            .withColumn("side", F.lit(side))
        )

    cols = [
        "predicate",
        "side",
        "declared",
        "inferred",
        "n_assertions",
        "n_entities",
    ]
    return _side("subject", "subject_type", "subject").select(
        *cols
    ).unionByName(_side("object", "object_type", "object").select(*cols))


def merge_new_triples(base: DataFrame, incoming: DataFrame) -> DataFrame:
    """Distinct incoming (subject, predicate, object) rows NOT already
    present in the base graph — the insert half of an Iceberg
    ``MERGE INTO graph USING batch ON (s,p,o) WHEN NOT MATCHED THEN
    INSERT`` (the emulated-Iceberg counterpart of the snapshot
    append in operators/checkpoint.py).

    Scale shape: both sides shuffle ONCE on the same (s, p, o) key —
    the incoming distinct and the anti-join share the partitioning, so
    Catalyst reuses the exchange; the base side streams sorted
    partitions (SortMergeJoin, LeftAnti). Nothing is broadcast: at
    100 TB the base graph is the big side and an incremental batch can
    itself be arbitrarily large, so the key-partitioned anti-join is
    the only shape that survives both directions. AQE downgrades to a
    broadcast anti-join automatically when a micro-batch is small.
    """
    key = ["subject", "predicate", "object"]
    return (
        incoming.select(*key)
        .distinct()
        .join(base.select(*key).distinct(), key, "left_anti")
    )


def graph_diff(base: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two graph versions: distinct (s, p, o)
    rows present in ``new`` but not ``base`` (status 'added') and in
    ``base`` but not ``new`` (status 'removed') — the audit table a
    snapshot-compaction or rollback review reads (the two-sided
    completion of merge_new_triples' insert-only half).

    Scale shape: each direction IS merge_new_triples (distinct +
    LeftAnti on the shared (s, p, o) key — one shuffle per side,
    exchanges reused across the two directions, nothing broadcast by
    default); reusing it keeps the key set and null/distinct
    semantics in one place.
    """
    added = merge_new_triples(base, new).withColumn(
        "status", F.lit("added")
    )
    removed = merge_new_triples(new, base).withColumn(
        "status", F.lit("removed")
    )
    return added.unionByName(removed)


@releases_unread_cuts
def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    seeds: list[str] | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over directed (src, dst) edges.

    Returns (entity, rank) for every node appearing as either
    endpoint, ranks unrounded doubles. Global variant (``seeds``
    None): rank_0 = 1.0 for all nodes; rank_{i+1}(v) = (1-d) +
    d * Σ_{(u,v)∈E} rank_i(u) / outdeg(u). PERSONALIZED variant
    (``seeds`` = a bounded node list — a personalization set is
    small by definition, so it rides the plan as an isin literal):
    teleport mass lands only on the seeds — rank_0 = 1[v∈S],
    rank_{i+1}(v) = (1-d)·1[v∈S] + d·Σ — the random-walk-with-
    restart relevance of every entity to the seed set.

    The edge table (with out-degree attached) is cut once and reused
    by every iteration; the rank vector is cut per iteration on the
    round driver, so iteration k costs O(1) jobs, not O(k).
    """
    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("_d"))
    # One materialization of the big side; every iteration scans this.
    edges_deg = cut(edges.join(deg, "src"))
    nodes = cut(
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    if seeds is None:
        base = F.lit(1.0 - damping)
        init = F.lit(1.0)
    else:
        seed_ind = F.col("n").isin(list(seeds)).cast("double")
        base = F.lit(1.0 - damping) * seed_ind
        init = seed_ind

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.n)
            .select(
                F.col("dst").alias("n"),
                (F.col("r") / F.col("_d")).alias("_c"),
            )
            .groupBy("n")
            .agg(F.sum("_c").alias("_c"))
        )
        return cut(
            nodes.join(contrib, "n", "left").select(
                "n",
                (
                    base
                    + F.lit(damping) * F.coalesce(F.col("_c"), F.lit(0.0))
                ).alias("r"),
            )
        )

    ranks = iterate(nodes.withColumn("r", init), step, iterations)
    return ranks.select(F.col("n").alias("entity"), F.col("r").alias("rank"))


@releases_unread_cuts
def hits(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over directed (src, dst)
    edges: hub and authority scores, sum-normalized per half-step.

    This is the bipartite-friendly centrality — on the extraction
    graph (subjects never appear as objects) PageRank degenerates to
    two tiers, while HITS is exactly the mutual-reinforcement the
    bipartite structure calls for: subjects score as hubs, object
    phrases as authorities. Returns (entity, hub, auth) for every
    node on either side, absent side 0.

    Cross-engine determinism (the DuckDB oracle must match to 9dp):
    scores are carried as INTEGER micro-units (1.0 == 1_000_000), so
    every reduction that crosses an exchange — the per-node
    contribution sum AND the global normalizer — is an exact integer
    sum, order-independent by construction. The only floating-point
    ops are one double division of two exact integers and one
    round-half-away per half-step, both single IEEE operations on
    identical inputs in either engine (the ×10^dp integer-sum rule
    from the kmeans/quantile work, NOTES_r4.md).

    Scale shape: the edge table materializes once and is scanned per
    half-step; what shuffles is the node-sized score vector (join
    onto the edge key, then a map-side-combined sum). The normalizer
    is a 1-row aggregate broadcast back — never a window over a
    single partition. Both scores are cut per half-step on the round
    driver, as in pagerank().
    Long-sum headroom: Σ contributions ≤ 1e6·|E| before the first
    normalize and ≈1e6·indeg after, so the BIGINT path holds past
    1e12 edges.
    """
    e = cut(edges.select("src", "dst").distinct())
    nodes = cut(
        e.select(F.col("src").alias("n"))
        .unionAll(e.select(F.col("dst").alias("n")))
        .distinct()
    )

    def half_step(scores: DataFrame, src: str, dst: str) -> DataFrame:
        # The other side's scores, summed over the ``src`` endpoint of
        # each edge into its ``dst`` endpoint as an exact BIGINT sum of
        # micro-unit scores, then normalized.
        raw = (
            e.join(scores.withColumnRenamed("n", src), src)
            .groupBy(F.col(dst).alias("n"))
            .agg(F.sum("s").cast("long").alias("r"))
        )
        tot = raw.agg(F.sum("r").cast("long").alias("_tot"))
        return cut(
            raw.crossJoin(F.broadcast(tot)).select(
                "n",
                F.round(
                    F.col("r").cast("double")
                    * F.lit(1000000.0)
                    / F.col("_tot").cast("double")
                )
                .cast("long")
                .alias("s"),
            )
        )

    def step(state: tuple, _: int) -> tuple:
        auth = half_step(state[0], "src", "dst")
        return half_step(auth, "dst", "src"), auth

    hub0 = nodes.select("n", F.lit(1000000).cast("long").alias("s"))
    hub, auth = iterate((hub0, None), step, iterations)
    return (
        nodes.join(hub.withColumnRenamed("s", "_h"), "n", "left")
        .join(auth.withColumnRenamed("s", "_a"), "n", "left")
        .select(
            F.col("n").alias("entity"),
            F.round(
                F.coalesce(F.col("_h"), F.lit(0)).cast("double") / 1e6, 6
            ).alias("hub"),
            F.round(
                F.coalesce(F.col("_a"), F.lit(0)).cast("double") / 1e6, 6
            ).alias("auth"),
        )
    )


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Distinct UNDIRECTED edge set from directed (src, dst) edges:
    both orientations, deduped. One map-side-combined distinct; the
    iterative consumers (LPA, BFS) cut the result so the union+distinct
    runs once, not per iteration."""
    return (
        edges.select("src", "dst")
        .unionAll(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )


@releases_unread_cuts
def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation (Raghavan et al.
    2007) over the undirected entity graph — the cheap community
    detector (no modularity optimization, no global state).

    Determinism contract (shared with the DuckDB oracle): labels start
    as the node's own name; each iteration every node adopts the MOST
    FREQUENT label among its neighbors (pure neighbor majority, no
    self-vote), ties broken by the lexicographically smallest label;
    all nodes update simultaneously. Returns (entity, community) after
    ``iterations`` rounds.

    Scale shape: the undirected edge table materializes once (a cut)
    and is scanned per iteration; what shuffles each round is the
    node-sized label vector — join onto the edge src key, ONE
    map-side-combined (entity, label) count, then a struct-min argmax
    per entity (never a whole-partition window). The labels are cut
    per iteration on the round driver. Synchronous LPA can
    oscillate on bipartite graphs — a FIXED iteration count is the
    point: the output is a deterministic function of the graph, which
    is what a parity-checked pipeline stage needs.
    """
    u = cut(undirected_edges(edges))

    def step(labels: DataFrame, _: int) -> DataFrame:
        counts = (
            u.join(
                labels.select(
                    F.col("entity").alias("src"), "label"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("entity"), "label")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        # argmax by (cnt DESC, label ASC) == struct-min of
        # (-cnt, label): one partial-aggregated shuffle, no window.
        return cut(
            counts.groupBy("entity")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("m")
            )
            .select("entity", F.col("m.l").alias("label"))
        )

    own = u.select(F.col("src").alias("entity")).distinct()
    labels = iterate(own.withColumn("label", F.col("entity")), step, iterations)
    return labels.select("entity", F.col("label").alias("community"))


def _frontier_bfs(
    u: DataFrame, seeds: list[tuple[str, str]], max_hops: int
) -> DataFrame:
    """Keyed multi-source BFS over the undirected edge table ``u``: the
    (entity, sp_src) seeds of one sp_src start one search at dist 0.
    Returns (entity, sp_src, dist INT, sigma BIGINT) within
    ``max_hops``; sigma counts shortest paths from the search's seeds
    (Brandes 2001's forward pass: 1 at a seed; a node first reached at
    hop h sums it over its hop-(h-1) neighbors).

    Scale shape: per hop the frontier — the cut state's rows at dist
    h-1 — joins the edge table on src, the sigma sum is one
    map-side-combined shuffle on (entity, sp_src), and a LeftAnti on
    that key drops settled rows (both sides unbounded, nothing
    broadcasts by assumption); the state is cut on the round driver.
    """
    key = ["entity", "sp_src"]
    visited = u.sparkSession.createDataFrame(
        [(v, k, 0, 1) for v, k in seeds],
        "entity string, sp_src string, dist int, sigma long",
    )

    def step(visited: DataFrame, i: int) -> DataFrame:
        frontier = visited.filter(F.col("dist") == i)
        new = (
            u.join(frontier.withColumnRenamed("entity", "src"), "src")
            .groupBy(F.col("dst").alias("entity"), "sp_src")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(visited.select(key), key, "left_anti")
        )
        return cut(visited.unionByName(new.withColumn("dist", F.lit(i + 1))))

    return iterate(visited, step, max_hops)


def _top_degree(u: DataFrame, n: int) -> list[str]:
    """The ``n`` highest-degree nodes of the undirected edge table,
    ties to the smaller name: a bounded n-row collect."""
    deg = u.groupBy("src").agg(F.count("*").alias("d"))
    return [
        r["src"] for r in deg.orderBy(F.desc("d"), "src").limit(n).collect()
    ]


@releases_unread_cuts
def bfs_distances(
    edges: DataFrame, seeds: list[str], max_hops: int = 3
) -> DataFrame:
    """Multi-source BFS over the undirected entity graph: minimum hop
    distance (0..max_hops) from the seed set; nodes beyond max_hops
    are absent. Returns (entity, dist).

    Scale shape: ``_frontier_bfs`` with every seed in one search.
    """
    u = cut(undirected_edges(edges))
    return _frontier_bfs(u, [(s, "") for s in seeds], max_hops).select(
        "entity", "dist"
    )


@releases_unread_cuts
def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Fixed-round k-core peel over the undirected entity graph: each
    round drops every node whose CURRENT degree is below ``k`` (and
    the edges touching it), simultaneously. Returns the surviving
    (entity, degree) after ``rounds`` peels — the dense-subgraph
    filter KG pipelines run to separate well-attested entities from
    extraction noise (a true k-core needs peel-to-fixpoint; a FIXED
    round count is the determinism contract shared with the chained
    DuckDB CTE oracle, same reasoning as label_propagation, and in
    practice the peel converges in a few rounds on power-law graphs).

    Scale shape: the undirected edge table materializes once; each
    round is ONE map-side-combined degree count (node-sized output)
    plus two semi-joins filtering the edge table on its already-keyed
    endpoints — no windows, no broadcast-by-assumption (the surviving
    node set is unbounded at warehouse scale; Catalyst/AQE may still
    choose broadcast when a round's survivor table is small), cut per
    round on the round driver.
    """

    def step(u: DataFrame, _: int) -> DataFrame:
        deg = u.groupBy("src").agg(F.count("*").cast("long").alias("d"))
        keep = deg.filter(F.col("d") >= k).select("src")
        return cut(
            u.join(keep, "src", "left_semi").join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
        )

    u = iterate(cut(undirected_edges(edges)), step, rounds)
    return (
        u.groupBy(F.col("src").alias("entity"))
        .agg(F.count("*").cast("long").alias("degree"))
    )


def comention_pairs(
    triples: DataFrame, max_conv_entities: int = 64
) -> DataFrame:
    """Entity co-mention graph: pairs of DISTINCT subjects asserted in
    the same conversation, with evidence counts — the relation-
    discovery signal KG construction mines when the schema has no
    predicate connecting two entities (they co-occur, so a relation
    may exist). Unlike the triple graph itself (bipartite on this
    corpus: subjects and object phrases never overlap), co-mention
    connects subjects to subjects, so the result is a real entity-
    entity graph downstream analytics (k-core, communities) can use.

    Returns (e1, e2, n_convs) with e1 < e2.

    Scale shape: ONE map-side-combined distinct to (conv_id, subject),
    a degree count on conv_id, and a capped self-equi-join on the
    conv_id key — a conversation mentioning more than
    ``max_conv_entities`` distinct subjects leaves the universe
    entirely (its C(k,2) pair fanout is quadratic and its co-mention
    signal is noise — the same stop-key rule as the ER blocker), so
    per-conv pair production is bounded by C(cap, 2). The final
    (e1, e2) rollup is map-side combined.
    """
    cs = triples.select("conv_id", "subject").distinct()
    small = (
        cs.groupBy("conv_id")
        .agg(F.count("*").alias("n_ent"))
        .filter(F.col("n_ent") <= max_conv_entities)
        .select("conv_id")
    )
    cs = cs.join(small, "conv_id", "left_semi")
    a = cs.select("conv_id", F.col("subject").alias("e1"))
    b = cs.select("conv_id", F.col("subject").alias("e2"))
    return (
        a.join(b, "conv_id")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(F.countDistinct("conv_id").cast("long").alias("n_convs"))
    )


def enumerate_triangles(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Triangle enumeration over canonical (src < dst) undirected
    edges via the DEGREE-ORDERED orientation (compact-forward /
    Ortmann-Brandes): each edge points from its (degree, id)-smaller
    endpoint to the larger, so every node's out-degree is O(sqrt(m))
    under hub skew and the wedge self-join stays balanced — see
    triangle_counts for the full cost argument. Returns one row per
    triangle as (center, u, v) in orientation order; the UNORDERED
    node set is orientation-invariant, so callers needing canonical
    edge pairs take least/greatest of each of the three pairs.
    ``deg`` is the (src, deg) table over the undirected closure —
    passed in when the caller already computed it."""
    if deg is None:
        deg = (
            undirected_edges(edges)
            .groupBy("src")
            .agg(F.count("*").cast("long").alias("deg"))
        )
    e = (
        edges.select("src", "dst")
        .join(deg.withColumnRenamed("deg", "sdeg"), "src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("deg").alias("ddeg")
            ),
            "dst",
        )
    )
    fwd = F.struct(F.col("sdeg"), F.col("src")) < F.struct(
        F.col("ddeg"), F.col("dst")
    )
    o = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(fwd, F.col("sdeg")).otherwise(F.col("ddeg")).alias("adeg"),
        F.when(fwd, F.col("ddeg")).otherwise(F.col("sdeg")).alias("bdeg"),
    )
    # Wedges at the oriented center a: out-neighbor pairs in rank
    # order; close with the oriented edge (u, v).
    w = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.a") == F.col("y.a"))
        .filter(
            F.struct(F.col("x.bdeg"), F.col("x.b"))
            < F.struct(F.col("y.bdeg"), F.col("y.b"))
        )
        .select(
            F.col("x.a").alias("center"),
            F.col("x.b").alias("u"),
            F.col("y.b").alias("v"),
        )
    )
    return w.join(
        o.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
    )


@releases_unread_cuts
def ktruss_edges(edges: DataFrame, k: int = 4, rounds: int = 2) -> DataFrame:
    """Fixed-round k-truss pruning over canonical (src < dst)
    undirected edges: each round computes per-edge triangle SUPPORT
    (how many triangles contain the edge) and drops every edge with
    support < k-2, simultaneously. Returns the surviving (src, dst,
    support) after ``rounds`` prunes, ``support`` being the value the
    final prune decided on — the cohesive-core extractor one notch
    stricter than k-core (an edge survives only inside overlapping
    triangles, so bridges and stars fall away even when degrees are
    high). A true k-truss iterates to fixpoint; the FIXED round count
    is the determinism contract shared with the chained DuckDB CTE
    oracle (same reasoning as kcore_peel / label_propagation).

    Scale shape: each round is one degree-ordered triangle
    enumeration (the O(m^1.5) compact-forward wedge join —
    enumerate_triangles), a 3-way unionAll to edge incidences, ONE
    map-side-combined count on the canonical edge key, and an inner
    join back to the shrinking edge set (zero-support edges drop via
    the join itself), cut per round on the round driver."""

    def step(cur: DataFrame, _: int) -> DataFrame:
        tri = enumerate_triangles(cur)
        inc = (
            tri.select(
                F.least("center", "u").alias("src"),
                F.greatest("center", "u").alias("dst"),
            )
            .unionAll(
                tri.select(
                    F.least("center", "v").alias("src"),
                    F.greatest("center", "v").alias("dst"),
                )
            )
            .unionAll(
                tri.select(
                    F.least("u", "v").alias("src"),
                    F.greatest("u", "v").alias("dst"),
                )
            )
        )
        sup = inc.groupBy("src", "dst").agg(
            F.count("*").cast("long").alias("support")
        )
        return cut(
            cur.select("src", "dst")
            .join(sup, ["src", "dst"])
            .filter(F.col("support") >= k - 2)
        )

    return iterate(cut(edges.select("src", "dst")), step, rounds)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected graph given as canonical (src < dst) edges — the
    community-cohesion audit KG pipelines run on the co-mention graph
    (a high-LCC entity sits inside a tight clique of co-asserted
    entities; a zero-LCC hub is a star center, usually a generic
    term). Returns (entity, degree, triangles, lcc_ppm) with
    lcc_ppm = floor(2 * triangles * 10^6 / (degree * (degree - 1)))
    for degree >= 2 else 0 — pure BIGINT, exact cross-engine.

    Scale shape (the part that survives a 100 TB co-mention graph):
    triangles are enumerated on the DEGREE-ORDERED orientation
    (each edge points from its (degree, id)-smaller endpoint to the
    larger — the compact-forward / Ortmann-Brandes rule), so every
    node's out-degree is O(sqrt(m)) regardless of hub skew, and the
    wedge self-join that dominates the cost produces
    sum(outdeg^2) = O(m^1.5) candidate rows instead of the
    O(sum(deg^2)) a hub-centered id-ordered enumeration pays — on a
    power-law graph with a degree-10^6 hub that is the difference
    between 10^12 wedges at one reducer and a balanced join. The
    triangle SET is orientation-invariant, so the id-ordered DuckDB
    oracle checks it exactly. Three shuffles beyond the degree
    count: the wedge self-join on the shared center, the closing
    equi-join on the (u, v) edge key, and the per-node rollup.
    """
    und = undirected_edges(edges)
    deg = und.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    tri = enumerate_triangles(edges, deg)
    per_node = (
        tri.select(F.col("center").alias("entity"))
        .unionAll(tri.select(F.col("u").alias("entity")))
        .unionAll(tri.select(F.col("v").alias("entity")))
        .groupBy("entity")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.select(F.col("src").alias("entity"), F.col("deg").alias("degree"))
        .join(per_node, "entity", "left")
        .select(
            "entity",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
                "triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                exact_muldiv(
                    "coalesce(triangles, 0)", ["degree", "degree - 1"], 2_000_000
                ),
            )
            .otherwise(F.lit(0))
            .alias("lcc_ppm"),
        )
    )


def transitive_closure(
    edges: DataFrame, doubling_rounds: int = 3
) -> DataFrame:
    """Transitive closure of a BOUNDED edge table via path doubling:
    after round i the pair set holds every (des, anc) reachable in
    1..2^i hops, so ``doubling_rounds`` rounds cover paths up to
    2^rounds edges. Meant for metadata-sized graphs (ontology
    subproperty/subclass dims, org hierarchies): every self-join is
    broadcast-sized, the distinct dedups the exploding union each
    round, and the round count is FIXED — deterministic output with
    no driver-side convergence probe. Do NOT point this at an
    entity-scale graph; use connected_components' star contraction
    (operators/linking) there instead.

    Input/output columns: (des, anc); output excludes identity pairs
    unless present in the input.
    """
    paths = edges.select("des", "anc")
    for _ in range(doubling_rounds):
        a, b = paths.alias("a"), paths.alias("b")
        ext = a.join(
            F.broadcast(b), F.col("a.anc") == F.col("b.des")
        ).select(
            F.col("a.des").alias("des"), F.col("b.anc").alias("anc")
        )
        paths = paths.unionByName(ext).distinct()
    return paths


def deterministic_walks(edges: DataFrame, steps: int = 3) -> DataFrame:
    """Fixed-length DeepWalk-style walk from every source node over
    the UNDIRECTED closure of directed (src, dst) edges — the
    walk-corpus generator for skip-gram KG embedding training.

    "Random" is a deterministic md5 draw: the successor at step t
    from node v is argmin over neighbors n of h48(v || '#t#' || n),
    ties to the smaller n — reruns, task retries, and the DuckDB
    oracle all reproduce the identical corpus (a rand() draw would
    re-roll per retry and break exactly-once semantics downstream).

    Scale shape: the frontier stays ONE row per start; each step is
    an equi-join on the current node against the checkpointed edge
    table plus a struct-min aggregate (map-side combined — never a
    per-node window over the adjacency), so a k-step walk costs k
    bounded join+agg rounds regardless of graph size. A node with no
    neighbors carries NULL through the remaining hops (unreachable
    on an undirected closure, kept for filtered edge sets).
    """
    und = cut(undirected_edges(edges))
    walks = edges.select(F.col("src").alias("start")).distinct()
    from information_extraction_spark.functions.hashing import h48

    cur = "start"
    for t in range(1, steps + 1):
        draw = h48(F.concat(F.col(cur), F.lit(f"#{t}#"), F.col("dst")))
        carried = list(walks.columns)
        walks = (
            walks.join(und, walks[cur] == und["src"], "left")
            .groupBy(*carried)
            .agg(
                F.min(
                    F.when(
                        F.col("dst").isNotNull(),
                        F.struct(draw, F.col("dst")),
                    )
                )
                .getField("dst")
                .alias(f"h{t}")
            )
        )
        cur = f"h{t}"
    return walks


@releases_unread_cuts
def bellman_ford(
    weighted_edges: DataFrame, seeds: list[str], rounds: int = 3
) -> DataFrame:
    """Fixed-round multi-source Bellman-Ford over a weighted directed
    edge closure (src, dst, w BIGINT): min-plus relaxation, every
    round dist' = min(dist, min over in-edges(dist[src] + w)). The
    FIXED round count is the determinism contract shared with the
    chained-CTE oracle (kcore/LPA/pagerank reasoning) — after r
    rounds the result is exact shortest distance over paths of <= r
    edges, which is also the semantics a bounded-hop KG proximity
    feature wants.

    Scale shape vs bfs_distances: relaxation must re-offer known
    nodes (a longer-hop path can be CHEAPER), so the whole dist
    vector joins the edge table each round — one equi-join on src +
    one map-side-combined min per round, both unbounded (nothing
    broadcasts by assumption); dist is cut per round on the round
    driver. BFS's frontier-only join is the unweighted special case."""
    spark = weighted_edges.sparkSession
    e = cut(weighted_edges.select("src", "dst", "w"))

    def step(dist: DataFrame, _: int) -> DataFrame:
        cand = e.join(
            dist.select(F.col("entity").alias("src"), "dist"), "src"
        ).select(
            F.col("dst").alias("entity"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return cut(
            dist.unionByName(cand)
            .groupBy("entity")
            .agg(F.min("dist").cast("long").alias("dist"))
        )

    dist0 = spark.createDataFrame([(s, 0) for s in seeds], "entity string, dist long")
    return iterate(dist0, step, rounds)


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity of a community assignment over the
    undirected simple graph induced by directed (src, dst) edges.

    Exact-integer contract: with m = |undirected edges|, L_c = intra-
    community edges and D_c = community degree sum, each community's
    modularity term (L_c/m - (D_c/2m)^2) is emitted as the BIGINT
    ratio q_num/q_den with q_num = 4*m*L_c - D_c^2 and q_den = 4*m^2
    — no floats anywhere, and Q = sum(q_num)/q_den. Scale shape: one
    distinct-pair canonicalization shuffle, degree + label joins
    co-keyed on the entity (the label table is node-sized, never
    assumed broadcastable), intra-edge detection as two equi-joins on
    the edge endpoints. m is a bounded scalar aggregate.
    """
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    canon = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    m = canon.count()  # bounded scalar (one long)
    u = canon.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = u.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    lab = communities.select("entity", "community")
    dsum = (
        deg.join(lab, deg.src == lab.entity)
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    la = lab.select(F.col("entity").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("entity").alias("b"), F.col("community").alias("cb"))
    intra = (
        canon.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    out = dsum.join(intra, "community", "left").select(
        "community",
        "n_nodes",
        F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long").alias(
            "intra_edges"
        ),
        "degree_sum",
    )
    return out.select(
        "*",
        (
            F.lit(4 * m) * F.col("intra_edges")
            - F.col("degree_sum") * F.col("degree_sum")
        ).cast("long").alias("q_num"),
        F.lit(4 * m * m).cast("long").alias("q_den"),
    )


def conv_dedup(
    triples: DataFrame,
    tau: float = 0.5,
    max_triple_freq: int = 8,
) -> DataFrame:
    """Conversation-level near-duplicate detection by EXTRACTED
    CONTENT: two transcripts whose triple sets overlap heavily are
    re-ingested / forwarded / templated copies of one conversation,
    even when their surface text differs (speaker names swapped,
    timestamps rewritten) — the semantic complement of the text-side
    dd_* family, and the last dedup granularity (span → document →
    conversation). Returns (c1, c2, shared, jaccard) conversation
    pairs with triple-set Jaccard ≥ ``tau``, c1 < c2.

    Scale shape — linking.er_candidates' blocking pattern one level
    up: candidates come from an equi-join on the full (s, p, o)
    blocking key (never an all-pairs conv join); ``max_triple_freq``
    drops stop-triples — a fact asserted in thousands of
    conversations is C(f, 2) pair fan-out and zero evidence that any
    two of them are copies — and stop-triples leave intersection AND
    union (degrees come from the filtered table). Per-conv degree
    joins are co-keyed on the pair endpoints; nothing broadcasts
    (conv cardinality is unbounded at 10^12 turns)."""
    t = triples.select("conv_id", "subject", "predicate", "object").distinct()
    keep = (
        t.groupBy("subject", "predicate", "object")
        .agg(F.count("*").alias("_f"))
        .filter(F.col("_f") <= max_triple_freq)
        .select("subject", "predicate", "object")
    )
    blocked = t.join(keep, ["subject", "predicate", "object"])
    deg = blocked.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("_n")
    )
    key = ["subject", "predicate", "object"]
    a = blocked.select(F.col("conv_id").alias("c1"), *key)
    b = blocked.select(F.col("conv_id").alias("c2"), *key)
    pairs = (
        a.join(b, key)
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    d1 = deg.select(F.col("conv_id").alias("c1"), F.col("_n").alias("_n1"))
    d2 = deg.select(F.col("conv_id").alias("c2"), F.col("_n").alias("_n2"))
    return (
        pairs.join(d1, "c1")
        .join(d2, "c2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("_n1") + F.col("_n2") - F.col("shared")).cast(
                    "double"
                ),
                4,
            ),
        )
        .filter(F.col("jaccard") >= tau)
        .select("c1", "c2", "shared", "jaccard")
    )


def sage_mean_agg(edges: DataFrame) -> DataFrame:
    """One GraphSAGE mean-aggregation layer (Hamilton et al. 2017)
    over the entity graph: per node, its own d=4 feature vector
    concatenated with the MEAN of its neighbors' feature vectors —
    the message-passing primitive every GNN-over-KG pipeline stacks
    (node classification, link prediction, entity typing). Features
    here are deterministic h48 feature-hashes of the entity name
    (kg_transe_score's seam: in production the in-row hash swaps for
    a join against a learned-embedding table, keyed the same way);
    means are exact BIGINT integer divisions.

    Scale shape: neighbor features are computed IN-ROW on the edge
    (no feature-table join at all with hashed features), so the whole
    layer is the undirected closure plus ONE map-side-combined
    shuffle on the node key — sums and degree combine associatively,
    a hub's messages reduce map-side. Returns
    (entity, f0..f3, m0..m3, degree)."""
    from information_extraction_spark.functions.hashing import h48

    und = undirected_edges(edges)

    def feat(col, i: int):
        return (h48(F.concat(col, F.lit(f"#g{i}"))) % 1000).cast("long")

    agg = und.groupBy("src").agg(
        F.count("*").cast("long").alias("degree"),
        *[
            F.sum(feat(F.col("dst"), i)).cast("long").alias(f"sm{i}")
            for i in range(4)
        ],
    )
    return agg.select(
        F.col("src").alias("entity"),
        *[feat(F.col("src"), i).alias(f"f{i}") for i in range(4)],
        *[
            F.expr(f"CAST(sm{i} div degree AS BIGINT)").alias(f"m{i}")
            for i in range(4)
        ],
        "degree",
    )


def conductance(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Conductance of each community over the undirected simple graph
    — the cut-quality audit that complements ``modularity``'s
    density view: φ(S) = cut(S) / min(vol(S), 2m − vol(S)), low φ =
    few escaping edges = a safe canonicalization block, φ → 1 = the
    "community" is mostly boundary and should not drive merges.

    Exact-integer contract: conductance_ppm = cut·10^6 div
    min(vol, 2m − vol) as BIGINT (greatest-guard for the degenerate
    whole-graph community, where the denominator is 0). Scale shape
    mirrors modularity: one canonicalization distinct, degree/label
    joins co-keyed on the entity, cut detection as two equi-joins on
    the edge endpoints; a cut edge charges BOTH sides via an in-row
    two-element explode, never a second join. m is a bounded scalar.
    """
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    canon = e.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    m = canon.count()  # bounded scalar (one long)
    u = canon.select(F.col("a").alias("src")).unionAll(
        canon.select(F.col("b").alias("src"))
    )
    deg = u.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    lab = communities.select("entity", "community")
    vol = (
        deg.join(lab, deg.src == lab.entity)
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("volume"),
        )
    )
    la = lab.select(F.col("entity").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("entity").alias("b"), F.col("community").alias("cb"))
    cut = (
        canon.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") != F.col("cb"))
        .select(F.explode(F.array("ca", "cb")).alias("community"))
        .groupBy("community")
        .agg(F.count("*").cast("long").alias("cut_edges"))
    )
    out = vol.join(cut, "community", "left").select(
        "community",
        "n_nodes",
        F.coalesce(F.col("cut_edges"), F.lit(0)).cast("long").alias(
            "cut_edges"
        ),
        "volume",
    )
    return out.select(
        "*",
        exact_muldiv(
            "cut_edges", f"greatest(least(volume, {2 * m} - volume), 1)", 1_000_000
        ).alias("conductance_ppm"),
    )


@releases_unread_cuts
def landmark_distances(
    edges: DataFrame, n_landmarks: int = 4, max_hops: int = 3
) -> DataFrame:
    """Landmark distance sketch (the ALT / distance-oracle pattern —
    Goldberg & Harrelson 2005, Potamias et al. CIKM'09): BFS hop
    distances from the ``n_landmarks`` highest-degree entities
    (degree is the standard coverage heuristic; lexicographic
    tie-break keeps the pick deterministic), giving every reached
    node a k-row sketch from which any pairwise distance is estimated
    as min over landmarks of d(u,l) + d(l,v) — an UPPER bound, exact
    when a shortest path passes a landmark. At 10^12 edges this is k
    BFS passes, not an all-pairs computation.

    Scale shape: all k BFS run in ONE ``_frontier_bfs`` pass keyed by
    landmark. The landmark pick is a bounded k-row collect. Returns
    (entity, lm, dist)."""
    u = cut(undirected_edges(edges))
    lms = _top_degree(u, n_landmarks)
    return _frontier_bfs(u, [(lm, lm) for lm in lms], max_hops).select(
        "entity", F.col("sp_src").alias("lm"), "dist"
    )


def wl_fingerprints(triples: DataFrame, rounds: int = 2) -> DataFrame:
    """Weisfeiler-Leman structural fingerprints of each
    conversation's extraction graph (Weisfeiler & Leman 1968; the
    WL-kernel form of Shervashidze et al. 2011): iteratively relabel
    every node with a hash of (own label, sorted multiset of
    (direction, predicate, neighbor label)), then hash the sorted
    multiset of final node labels into one 48-bit fingerprint per
    conversation.

    Why: kg_conv_dedup catches re-ingested transcripts whose
    extracted triple SETS overlap — it is content-keyed and misses
    templated conversations where the STRUCTURE repeats under renamed
    entities (form-letter dialogs, scripted agent flows). WL labels
    start from a constant — entity names never enter — so two
    conversations get the same fingerprint iff their predicate-
    labeled graphs are WL-indistinguishable (isomorphic for almost
    all graphs at 2 rounds). Equal fingerprints = structural-dup
    candidates; `fp_group` sizes the candidate sets.

    Cross-engine determinism: the portable 48-bit md5 (functions/
    hashing) both as the per-round label hash and the final
    fingerprint; multisets serialize as comma-joined LEXICOGRAPHICALLY
    sorted strings on both engines (labels cast long->string
    identically).

    Scale shape: every join and aggregation is co-keyed on (conv_id,
    node) or (conv_id, endpoint) — a conversation's graph never
    leaves its hash partition, and per-round message volume is 2x the
    conversation's edge count (bounded by transcript length, not
    corpus size). `rounds` is a fixed hyperparameter, so the whole
    refinement is a static 2R-join plan Catalyst sees end-to-end —
    no driver loop, no lineage growth worth cutting. The final
    fp_group window partitions by fingerprint — groups are dup-
    cluster-sized; a degenerate corpus of one template would skew it,
    exactly the case where the count is the answer.
    """
    from pyspark.sql import Window

    from information_extraction_spark.functions.hashing import h48

    edges = triples.select(
        "conv_id",
        F.col("subject").alias("s"),
        F.col("predicate").alias("p"),
        F.col("object").alias("o"),
    ).distinct()
    nodes = (
        edges.select("conv_id", F.col("s").alias("node"))
        .unionByName(edges.select("conv_id", F.col("o").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("lbl", h48(F.lit("wl0")))
    for _ in range(rounds):
        lab_o = labels.select(
            "conv_id", F.col("node").alias("o"), F.col("lbl").alias("nlbl")
        )
        lab_s = labels.select(
            "conv_id", F.col("node").alias("s"), F.col("lbl").alias("nlbl")
        )
        m_out = edges.join(lab_o, ["conv_id", "o"]).select(
            "conv_id",
            F.col("s").alias("node"),
            F.concat(
                F.lit("o:"), "p", F.lit(":"), F.col("nlbl").cast("string")
            ).alias("msg"),
        )
        m_in = edges.join(lab_s, ["conv_id", "s"]).select(
            "conv_id",
            F.col("o").alias("node"),
            F.concat(
                F.lit("i:"), "p", F.lit(":"), F.col("nlbl").cast("string")
            ).alias("msg"),
        )
        msgs = (
            m_out.unionByName(m_in)
            .groupBy("conv_id", "node")
            .agg(
                F.array_join(F.array_sort(F.collect_list("msg")), ",").alias(
                    "ms"
                )
            )
        )
        # Every node carries >= 1 edge by construction, so the inner
        # join loses nothing.
        labels = labels.join(msgs, ["conv_id", "node"]).select(
            "conv_id",
            "node",
            h48(
                F.concat(F.col("lbl").cast("string"), F.lit("|"), F.col("ms"))
            ).alias("lbl"),
        )
    fp = labels.groupBy("conv_id").agg(
        h48(
            F.array_join(
                F.array_sort(F.collect_list(F.col("lbl").cast("string"))), ","
            )
        ).alias("wl_fp"),
        F.count("*").cast("long").alias("n_nodes"),
    )
    ne = edges.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_edges")
    )
    out = fp.join(ne, "conv_id")
    return out.withColumn(
        "fp_group",
        F.count("*").over(Window.partitionBy("wl_fp")).cast("long"),
    )


@releases_unread_cuts
def shortest_path_counts(
    edges: DataFrame, n_sources: int = 2, max_hops: int = 3
) -> DataFrame:
    """Shortest-path COUNTING from the ``n_sources`` highest-degree
    entities: per reached node, its BFS distance AND sigma — the
    number of distinct shortest paths from the source (Brandes 2001's
    forward pass; sigma is the quantity betweenness accumulation
    divides by, and on its own it already ranks how redundantly a
    node is reached — sigma 1 means a single fragile path, the
    canonicalization-merge signal kg_landmark_dist's distances alone
    can't give).

    sigma is the Brandes recurrence ``_frontier_bfs`` carries: exact
    BIGINT — no sampling, no floats.

    Scale shape: all sources run in ONE ``_frontier_bfs`` pass keyed
    by source. max_hops bounds the loop like every fixed-iteration
    operator here.
    """
    u = cut(undirected_edges(edges))
    srcs = _top_degree(u, n_sources)
    return _frontier_bfs(u, [(s, s) for s in srcs], max_hops).select(
        "entity", "sp_src", F.col("dist").cast("long").alias("dist"), "sigma"
    )


@releases_unread_cuts
def truth_discovery(
    assertions: DataFrame, rounds: int = 1
) -> DataFrame:
    """Fixed-iteration Sums-style truth discovery (Pasternack & Roth
    COLING'10; the data-fusion step Knowledge Vault-style KG
    construction runs between support aggregation and functional
    resolution — reference semantics: a consolidation layer over
    pytorch/prepare_data/spo_transformer.py's per-sentence emissions,
    which the reference never fuses across sources).

    Input: (source, subject, predicate, object) assertion edges —
    who claims what. Mutual reinforcement: a claim is believable if
    trusted sources assert it; a source is trustworthy if its claims
    are believable. Unlike resolve_functional's raw support vote,
    a minority object backed by sources whose OTHER claims are well
    corroborated can win the slot.

    All arithmetic is exact BIGINT ppm so Spark and a SQL oracle
    agree bit-for-bit: trust_0 = 10^6 per source; belief_raw(c) =
    SUM trust(src) over claimers; trust_raw(s) = SUM belief(c) over
    claims; each half-step renormalizes x -> x * 10^6 div max(x)
    (max = a broadcast 1-row aggregate, never an unpartitioned
    window) through exact_muldiv, whose DECIMAL(38,0) product holds
    any BIGINT sum times 10^6. Per-term integer division keeps every
    sum order-independent.

    One (rounds=1) full belief->trust->belief sweep costs 3 keyed
    shuffles over the edge table + 2 scalar maxes; the edge table is
    cut once; every half-step is a map-side-combined aggregate on the
    claim or the source key, cut on the round driver. Output: the
    CONFLICT slots only — (subject, predicate) with >= 2 distinct
    claimed objects — with the winning object (belief DESC, object
    ASC), its belief_ppm, and the slot's candidate count.
    """
    claim_key = ["subject", "predicate", "object"]
    e = cut(assertions.select("source", *claim_key).distinct())

    def _norm(df: DataFrame, col: str) -> DataFrame:
        mx = F.broadcast(df.agg(F.max(col).alias("_mx")))
        return df.crossJoin(mx).select(
            *[c for c in df.columns if c != col],
            exact_muldiv(col, "_mx", 1_000_000).alias(col),
        )

    def beliefs(trust: DataFrame) -> DataFrame:
        return _norm(
            e.join(trust, "source")
            .groupBy(*claim_key)
            .agg(F.sum("t").cast("long").alias("b")),
            "b",
        )

    def step(trust: DataFrame, _: int) -> DataFrame:
        belief = cut(beliefs(trust))
        return cut(
            _norm(
                e.join(belief, claim_key)
                .groupBy("source")
                .agg(F.sum("b").cast("long").alias("t")),
                "t",
            )
        )

    t0 = F.lit(1_000_000).cast("long").alias("t")
    trust = iterate(e.select("source").distinct().select("*", t0), step, rounds)
    belief = beliefs(trust)
    from pyspark.sql import Window

    w = Window.partitionBy("subject", "predicate")
    ranked = belief.withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.col("b").desc(), F.col("object").asc())
        ),
    ).withColumn("n_candidates", F.count("*").over(w).cast("long"))
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("n_candidates") >= 2)
    ).select(
        "subject",
        "predicate",
        F.col("object").alias("resolved_object"),
        F.col("b").alias("belief_ppm"),
        "n_candidates",
    )


@releases_unread_cuts
def betweenness_pivots(
    edges: DataFrame, n_sources: int = 2, max_hops: int = 3
) -> DataFrame:
    """Pivot-sampled approximate betweenness (Brandes 2001 backward
    accumulation over shortest_path_counts' forward pass; pivot
    sampling per Brandes & Pich 2007 — exact betweenness is
    all-sources and infeasible at scale, so production ranks by the
    accumulation from a few high-degree pivots, hop-bounded).

    Backward recurrence, integer-exact: the hop-H frontier has
    delta = 0; for levels d = H-1 .. 0, delta_ppm(v) = SUM over DAG
    successors w (dist_w = d+1, adjacent in the undirected closure)
    of floor(sigma_v * (10^6 + delta_ppm(w)) / sigma_w) — per-term
    floor division keeps the sum order-independent, so Spark and the
    SQL oracle agree exactly; the float Brandes value is this / 10^6
    with per-term rounding. Output: per non-pivot reached entity, the
    summed pair-dependency bc_ppm and how many pivots reached it.

    Scale shape: one cut edge table feeds both passes; the levels are
    disjoint slices of the forward BFS's cut state; each backward
    level is ONE equi-join of level d against level d+1 through the
    edge table keyed (dst, sp_src) plus one map-side-combined sum on
    (entity, sp_src), cut on the round driver — max_hops bounded, no
    windows, nothing collects but the pivot pick.
    """
    u = cut(undirected_edges(edges))
    srcs = _top_degree(u, n_sources)
    visited = _frontier_bfs(u, [(s, s) for s in srcs], max_hops)

    def _level(d: int) -> DataFrame:
        return visited.filter(F.col("dist") == d).select(
            "entity", "sp_src", "sigma"
        )

    def step(state: tuple, i: int) -> tuple:
        deltas, acc = state
        lvl = _level(max_hops - 1 - i)
        contrib = (
            lvl.join(u, lvl.entity == u.src)
            .join(
                deltas.select(
                    F.col("entity").alias("_w"),
                    F.col("sp_src").alias("_wsrc"),
                    F.col("sigma").alias("_wsig"),
                    F.col("delta").alias("_wdelta"),
                ),
                (F.col("dst") == F.col("_w"))
                & (lvl.sp_src == F.col("_wsrc")),
            )
            .groupBy("entity", "sp_src")
            .agg(
                F.sum(exact_muldiv(["sigma", "1000000L + _wdelta"], "_wsig", 1))
                .cast("long")
                .alias("delta")
            )
        )
        deltas = cut(
            lvl.join(contrib, ["entity", "sp_src"], "left").select(
                "entity",
                "sp_src",
                "sigma",
                F.coalesce(F.col("delta"), F.lit(0))
                .cast("long")
                .alias("delta"),
            )
        )
        return deltas, acc.unionByName(deltas)

    # Deepest level: no successors inside the hop bound -> delta 0.
    deepest = _level(max_hops).withColumn("delta", F.lit(0).cast("long"))
    _, acc = iterate((deepest, deepest), step, max_hops)
    return (
        acc.filter(F.col("entity") != F.col("sp_src"))
        .groupBy("entity")
        .agg(
            F.sum("delta").cast("long").alias("bc_ppm"),
            F.count("*").cast("long").alias("n_pivots"),
        )
    )


@releases_unread_cuts
def ppr_push(
    edges: DataFrame,
    rounds: int = 3,
    alpha_pct: int = 15,
    thresh_ppb: int = 1000,
) -> DataFrame:
    """Synchronous Andersen-Chung-Lang push PPR from the top-degree
    seed, integer-exact in parts-per-billion BIGINT.

    The LOCAL complement to the power-iteration pagerank(): push only
    moves mass along edges of nodes still holding residual above a
    threshold, so work is proportional to the mass frontier, not the
    graph — the production local-graph-clustering primitive. Each
    round, every node with residual r > thresh pushes
    SIMULTANEOUSLY (the deterministic synchronous variant of ACL's
    sequential queue): a = r·alpha div 100 settles into p(u);
    share = (r − a) div deg(u) flows to each undirected neighbor;
    the division remainders land in a global DUST accumulator rather
    than silently vanishing, so after any number of rounds
    settled + residual + dust == 10^9 EXACTLY — an arithmetic
    conservation certificate carried in the result (the `conserved`
    column), and the standard ACL bound applies: the residual+dust
    mass bounds how far p is from the true PPR vector.

    Scale shape: per round ONE edge join restricted to the pusher
    frontier + one map-side-combined node-key aggregate; the mass
    vector is node-sized, cut per round on the round driver. Returns
    the top-20 by settled mass plus the three global audit columns.
    """
    spark = edges.sparkSession
    u = cut(undirected_edges(edges))
    deg = u.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    (seed,) = _top_degree(u, 1)

    def step(state: tuple, _: int) -> tuple:
        st, dust = state
        push = st.filter(F.col("r") > thresh_ppb).join(
            deg, st.node == deg.src
        )
        keep = st.filter(F.col("r") <= thresh_ppb)
        a = exact_muldiv("r", 100, alpha_pct)
        settled = push.select(
            "node",
            (F.col("p") + a).alias("p"),
            F.lit(0).cast("long").alias("r"),
        )
        gains = (
            push.select(
                F.col("node").alias("_pu"),
                exact_muldiv(F.col("r") - a, "deg", 1).alias("_share"),
            )
            .join(u, F.col("_pu") == u.src)
            .select(
                F.col("dst").alias("node"),
                F.lit(0).cast("long").alias("p"),
                F.col("_share").cast("long").alias("r"),
            )
        )
        round_dust = (
            push.select(((F.col("r") - a) % F.col("deg")).alias("_d"))
            .agg(F.coalesce(F.sum("_d"), F.lit(0)).alias("d"))
            .collect()[0]["d"]
        )
        st = cut(
            keep.select("node", "p", "r")
            .unionByName(settled)
            .unionByName(gains)
            .groupBy("node")
            .agg(
                F.sum("p").cast("long").alias("p"),
                F.sum("r").cast("long").alias("r"),
            )
        )
        return st, dust + int(round_dust)

    st0 = spark.createDataFrame([(seed, 0, 10**9)], "node string, p long, r long")
    st, dust = iterate((st0, 0), step, rounds)
    tot = st.agg(
        F.sum("p").cast("long").alias("settled"),
        F.sum("r").cast("long").alias("resid"),
    ).collect()[0]
    settled_t, resid_t = int(tot["settled"]), int(tot["resid"])
    conserved = 1 if settled_t + resid_t + dust == 1_000_000_000 else 0
    from pyspark.sql import Window

    top = (
        st.orderBy(F.col("p").desc(), "node")
        .limit(20)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("p").desc(), "node"))
            .cast("long"),
        )
    )
    return top.select(
        "rank",
        F.col("node").alias("entity"),
        F.col("p").alias("p_ppb"),
        F.col("r").alias("r_ppb"),
        F.lit(settled_t).cast("long").alias("total_settled"),
        F.lit(resid_t).cast("long").alias("total_residual"),
        F.lit(dust).cast("long").alias("total_dust"),
        F.lit(conserved).cast("long").alias("conserved"),
    )


def _louvain_canon(edges: DataFrame):
    """Shared canonical-edge derivation for the Louvain family:
    self-loops dropped, undirected (a < b) dedup, cut
    ONCE (multiple consumers — without the cut each reference re-runs
    the distinct; measured 42 exchanges vs 2 on the move phase), and
    the bounded scalar m. Factored so louvain_levels does not pay the
    dominant distinct/materialize twice."""
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    canon = cut(
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        ).distinct()
    )
    return canon, canon.count()


def louvain_move(edges: DataFrame) -> DataFrame:
    """One SYNCHRONOUS Louvain move phase (Blondel et al. 2008) from
    the singleton partition over the undirected simple graph — the
    modularity-OPTIMIZING community step next to label_propagation's
    majority vote and modularity's passive measurement.

    From singletons, moving node i into neighbor j's community has
    exact modularity gain ΔQ = w_ij/m − deg_i·deg_j/(2m²); scaled by
    the positive constant 2m² this is the pure-BIGINT
    gain = 2m·w_ij − deg_i·deg_j (w_ij = 1 on a simple graph). Every
    node simultaneously picks the argmax-gain neighbor (ties → the
    LEXICOGRAPHICALLY SMALLEST neighbor) and moves only when the gain
    is strictly positive — the synchronous variant is deterministic
    and order-independent, which classic sequential Louvain (whose
    result depends on visit order) can never be across engines.

    Provable round-1 property (pinned in test_graph): from
    singletons EVERY node moves — Σ_{j∈N(i)} d_j ≤ 2m − d_i, so the
    average neighbor degree is < 2m/d_i and the argmin-degree
    neighbor always has positive gain. The strict-positivity guard
    is therefore not binding in round 1; it is the invariant later
    rounds (where Σ_tot grows past single degrees) rely on, kept
    here so the move rule is stated once, correctly.

    Scale shape: the canonical edge set is cut ONCE
    (three downstream consumers — without the cut each reference
    re-runs the distinct, measured 42 exchanges vs 2 after); degree
    joins are co-keyed on the edge endpoints, gain is edge-wise
    narrow arithmetic, the argmax is ONE map-side-combined
    min(struct) aggregate on the node key; m is a bounded scalar.
    Returns (entity, community, best_gain, moved).
    """
    canon, m = _louvain_canon(edges)
    return _louvain_move_from_canon(canon, m)


def _louvain_move_from_canon(canon: DataFrame, m: int) -> DataFrame:
    u = canon.select(F.col("a").alias("c"), F.col("b").alias("d")).unionAll(
        canon.select(F.col("b").alias("c"), F.col("a").alias("d"))
    )
    deg = cut(u.groupBy("c").agg(F.count("*").cast("long").alias("sigma")))
    best = _best_merge(u.withColumn("w", F.lit(1).cast("long")), deg, m)
    moved = F.col("bg") > 0
    return best.select(
        F.col("c").alias("entity"),
        F.when(moved, F.col("d")).otherwise(F.col("c")).alias("community"),
        F.col("bg").alias("best_gain"),
        moved.cast("long").alias("moved"),
    )


def _best_merge(undw: DataFrame, sig: DataFrame, m: int) -> DataFrame:
    """Per community c of the weighted undirected graph ``undw``
    (c, d, w): the neighbor d whose merge has the largest exact BIGINT
    gain bg = 2m·W_cd − σ_c·σ_d (``sig``: c, sigma), ties to the
    smallest d — one min(struct) aggregate on c. Returns (c, d, bg)."""
    sc = sig.select("c", F.col("sigma").alias("sig_c"))
    sd = sig.select(F.col("c").alias("d"), F.col("sigma").alias("sig_d"))
    gain = F.lit(2 * m) * F.col("w") - F.col("sig_c") * F.col("sig_d")
    return (
        undw.join(sc, "c")
        .join(sd, "d")
        .groupBy("c")
        .agg(F.min(F.struct((-gain.cast("long")).alias("ng"), "d")).alias("b"))
        .select("c", "b.d", (-F.col("b.ng")).cast("long").alias("bg"))
    )


def motif_census(edges: DataFrame, max_mid_deg: int = 256) -> DataFrame:
    """Directed 3-node motif census over the ASYMMETRIC edge set
    (edges whose reverse also exists are removed — reciprocal pairs
    make triad roles ambiguous; Milo et al. 2002's census discipline):
    wedges a→b→c (a≠c), transitive triangles (a→b, b→c, a→c — the
    feed-forward redundancy pattern: an inference shortcut already
    asserted) and cyclic triangles (a→b, b→c, c→a — the pattern that
    flags contradiction risk for asymmetric predicates). Each
    transitive triad has a unique (source, middle, sink) labeling in
    an asymmetric graph; each 3-cycle is counted once at its
    lexicographically smallest rotation head.

    Scale shape: ONE DataFrame plan (no driver-side .count() chain —
    every closure is visible to Catalyst and the whole census is one
    job): the wedge self-join keys on the middle node with
    ``max_mid_deg`` capping the middle role (hub entities produce
    quadratic wedge volume and name no specific motif risk; same
    hub-cap discipline as linking.jaccard_neighbor_pairs, identically
    applied by the oracle); FFL/cycle closures are LEFT joins against
    the distinct edge set on the endpoint pair, folded as flags into
    one global aggregate; the asymmetric edge count rides in via a
    broadcast 1-row cross join. The asym table is cut once for its
    three consumers.
    Returns one row: n_edges_asym, n_wedges, n_ffl, n_cycle,
    closure_ppm = (n_ffl + n_cycle)·10⁶ div n_wedges.
    """
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    asym = cut(e.join(rev, ["src", "dst"], "left_anti"))
    deg = (
        asym.select(F.col("src").alias("n"))
        .unionAll(asym.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    mid_ok = deg.filter(F.col("d") <= max_mid_deg).select("n")
    w1 = asym.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = asym.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = (
        w1.join(mid_ok.select(F.col("n").alias("b")), "b")
        .join(w2, "b")
        .filter(F.col("a") != F.col("c"))
    )
    closing = asym.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.lit(1).alias("f")
    )
    back = asym.select(
        F.col("src").alias("c"), F.col("dst").alias("a"), F.lit(1).alias("g")
    )
    flagged = (
        wedges.join(closing, ["a", "c"], "left")
        .join(back, ["a", "c"], "left")
        .select(
            F.coalesce("f", F.lit(0)).alias("is_ffl"),
            (
                F.coalesce("g", F.lit(0))
                * F.when(
                    (F.col("a") < F.col("b")) & (F.col("a") < F.col("c")), 1
                ).otherwise(0)
            ).alias("is_cycle_head"),
        )
    )
    n_edges = asym.agg(F.count("*").cast("long").alias("n_edges_asym"))
    return (
        flagged.agg(
            F.count("*").cast("long").alias("n_wedges"),
            F.sum("is_ffl").cast("long").alias("n_ffl"),
            F.sum("is_cycle_head").cast("long").alias("n_cycle"),
        )
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_edges_asym",
            "n_wedges",
            "n_ffl",
            "n_cycle",
            F.when(
                F.col("n_wedges") > 0,
                exact_muldiv("n_ffl + n_cycle", "n_wedges", 1_000_000),
            )
            .otherwise(0)
            .alias("closure_ppm"),
        )
    )


def precedence_edges(triples: DataFrame, max_conv_entities: int = 64) -> DataFrame:
    """Directed mention-precedence graph: entity a → b when a's FIRST
    mention precedes b's first mention within some conversation. The
    subject→object graph is strictly bipartite on this corpus
    (subjects and objects are disjoint name spaces — measured: zero
    directed 2-paths), so any path/motif analysis needs a directed
    graph with real composition; narrative precedence is the
    transcript-native one, and disagreements ACROSS conversations
    (a before b somewhere, b before a elsewhere) surface as
    reciprocal edges for motif_census's asymmetric filter to drop —
    contested precedence is exactly what a triad census must not
    count as structure.

    Scale shape: first-mention rollup is one map-side-combined
    shuffle on (conv_id, entity); the pair fan-out is a per-conv
    self-join capped at ``max_conv_entities`` entities per
    conversation (comention_pairs' hub discipline — a monster
    conversation contributes quadratic pairs and no per-pair
    evidence); the distinct edge set is one more shuffle.
    """
    men = (
        triples.select("conv_id", F.col("subject").alias("e"), "turn_idx")
        .unionAll(
            triples.select("conv_id", F.col("object").alias("e"), "turn_idx")
        )
        .groupBy("conv_id", "e")
        .agg(F.min("turn_idx").alias("t"))
    )
    keep = (
        men.groupBy("conv_id")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_conv_entities)
        .select("conv_id")
    )
    fm = men.join(keep, "conv_id")
    a = fm.select("conv_id", F.col("e").alias("src"), F.col("t").alias("ta"))
    b = fm.select("conv_id", F.col("e").alias("dst"), F.col("t").alias("tb"))
    return (
        a.join(b, "conv_id")
        .filter(F.col("ta") < F.col("tb"))
        .select("src", "dst")
        .distinct()
    )


def louvain_levels(edges: DataFrame) -> DataFrame:
    """Full two-level Louvain pass: the round-1 move phase
    (louvain_move), community formation, graph AGGREGATION, and the
    level-2 move decision — the part of Louvain the round-1 theorem
    makes invisible (from singletons every node provably moves;
    on the aggregated graph Σtot products grow past single degrees
    and the strict-positivity guard finally BINDS — measured at the
    gate scale: 3 of 5 supernodes move, 2 stay on negative gains).

    Level-1 communities are the weakly-connected components of the
    POINTER graph {i → argmax-neighbor(i)} (mutual and chained
    selections merge — a pointer table is not a partition until its
    closure is taken; linking.connected_components supplies the
    min-label contract the oracle's recursive CTE replays). The
    aggregated graph weights W_cd = inter-community edge counts,
    Σ_c = 2·intra_c + Σ_d W_cd, and the level-2 gain for merging
    supernode c into d is the exact BIGINT 2m·W_cd − Σ_c·Σ_d
    (gains scaled by 2m²; at extreme edge counts — m beyond ~10⁹ —
    production rescales to a ratio compare before the product).

    Scale shape: one louvain_move pass, the size-dispatched CC over
    the node-sized pointer graph, then every aggregation co-keyed on
    the community label; the level-2 candidate table is bounded by
    the inter-community pair count; argmax is one min(struct)
    aggregate. Returns one row per level-1 community:
    (community, n_members, sigma, intra_edges, target, best_gain,
    moved).
    """
    from information_extraction_spark.operators.linking import (
        connected_components,
    )

    canon, m = _louvain_canon(edges)
    mv = _louvain_move_from_canon(canon, m)
    pe = mv.select(
        F.col("entity").alias("src"), F.col("community").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    cc = connected_components(pe).select(
        F.col("node").alias("entity"), F.col("component").alias("community")
    )
    nodes = (
        canon.select(F.col("a").alias("entity"))
        .unionAll(canon.select(F.col("b").alias("entity")))
        .distinct()
    )
    lab = cut(
        nodes.join(cc, "entity", "left").select(
            "entity",
            F.coalesce("community", F.col("entity")).alias("community"),
        )
    )
    la = lab.select(F.col("entity").alias("a"), F.col("community").alias("ca"))
    lb = lab.select(F.col("entity").alias("b"), F.col("community").alias("cb"))
    ag = canon.join(la, "a").join(lb, "b")
    inter = (
        ag.filter(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("c"),
            F.greatest("ca", "cb").alias("d"),
        )
        .groupBy("c", "d")
        .agg(F.count("*").cast("long").alias("w"))
    )
    intra = (
        ag.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").cast("long").alias("iw"))
    )
    undw = inter.unionAll(
        inter.select(F.col("d").alias("c"), F.col("c").alias("d"), "w")
    )
    members = lab.groupBy(F.col("community").alias("c")).agg(
        F.count("*").cast("long").alias("n_members")
    )
    sig = cut(
        _sigma(members, undw, intra).withColumnRenamed("iw", "intra_edges")
    )
    bg = F.coalesce("bg", F.lit(0))
    return sig.join(_best_merge(undw, sig, m), "c", "left").select(
        F.col("c").alias("community"),
        "n_members",
        "sigma",
        "intra_edges",
        F.when(bg > 0, F.col("d")).otherwise(F.col("c")).alias("target"),
        bg.cast("long").alias("best_gain"),
        (bg > 0).cast("long").alias("moved"),
    )


@contextmanager
def _scratch_dir(spark: SparkSession, prefix: str):
    """A fresh directory for a loop's spilled state, deleted on exit,
    exception or not. It sits under the SparkContext's checkpoint
    directory when one is set — Spark's own setting for lineage-cut
    storage that every executor can reach — and otherwise in the
    driver's temp dir, which only a local-mode session shares with its
    executors."""
    root = spark.sparkContext.getCheckpointDir()
    if root is None:
        path = pathlib.Path(tempfile.mkdtemp(prefix=prefix)).as_uri()
    else:
        path = f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        yield path
    finally:
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
            jpath, True
        )


def _stats_cut(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` to parquet and re-read it: truncates lineage
    like localCheckpoint AND resets the leaf's size estimate to the
    REAL on-disk bytes. localCheckpoint's LogicalRDD inherits the
    optimizer's *estimated* stats; join estimates multiply, so in a
    loop whose per-level plan references each state frame several
    times the estimate's bit-length grows geometrically — by level
    5-6 Catalyst's SizeInBytesOnlyStatsPlanVisitor spends minutes in
    BigInteger.multiply (found live in louvain_converge: 55 s of pure
    planner arithmetic at level 5, level 6 never finished). Only a
    real materialization re-grounds the estimate."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _sigma(comm: DataFrame, undw: DataFrame, intra: DataFrame) -> DataFrame:
    """``comm``'s rows (keyed c) with sigma = Σ_d W_cd + 2·iw_c and the
    intra-community edge weight iw (``intra``: c, iw; 0 when absent)."""
    ext = undw.groupBy("c").agg(F.sum("w").cast("long").alias("ext"))
    iw = F.coalesce("iw", F.lit(0))
    return comm.join(ext, "c", "left").join(intra, "c", "left").select(
        *comm.columns,
        (F.coalesce("ext", F.lit(0)) + 2 * iw).cast("long").alias("sigma"),
        iw.cast("long").alias("iw"),
    )


def _louvain_state_stats(comm, undw, intra, m: int):
    """(sigma, iw) per community + the exact-BIGINT scaled modularity
    Q·4m² = 4m·Σiw_c − Σσ_c² in ONE bounded aggregate (q, n_comms)."""
    sig = cut(_sigma(comm, undw, intra))
    row = sig.agg(
        (
            F.lit(4 * m) * F.coalesce(F.sum("iw"), F.lit(0))
            - F.coalesce(F.sum(F.col("sigma") * F.col("sigma")), F.lit(0))
        )
        .cast("long")
        .alias("q"),
        F.count("*").cast("long").alias("n_comms"),
    ).collect()[0]
    return sig, int(row.q), int(row.n_comms)


@releases_unread_cuts
def louvain_converge(
    edges: DataFrame, max_levels: int = 8,
    track_membership: bool = True,
):
    """Louvain to CONVERGENCE with a provable per-level modularity
    certificate — the round-5 completion of louvain_move (one phase)
    and louvain_levels (two levels).

    The synchronous pointer-closure merge (louvain_levels) is NOT
    monotone: simultaneous moves plus connected-component chaining
    can overshoot and *decrease* Q (observed live: level-2 Q fell
    8422910 → 7629016 at sf0.001). This operator instead contracts
    GUARDED STARS each level:

    - every community points to its argmax-positive-gain neighbor
      (exact BIGINT gain 2m·W_cd − σ_c·σ_d, ties → smallest id);
    - pointer RECEIVERS are immovable centers, EXCEPT the larger
      member of each mutual-best pair, which is demoted to satellite
      (otherwise both members are centers, no satellite exists, and
      the level stalls while positive gains remain — found live on
      the two-triangle fixture); a star = a live center plus the
      non-center communities pointing at it whose target is that
      center (stars are disjoint — a satellite points to exactly one
      center, centers never move, pointers at demoted nodes wait a
      level);
    - each star's exact merged ΔQ·4m² = 4m·W_in − ((Σσ)² − Σσ²) is
      computed from its internal edge weight and sigmas; if positive
      the whole star merges, otherwise ONLY the center + best-gain
      satellite pair merges (pair ΔQ = 2·gain > 0 always);
    - disjoint merges make level ΔQ exactly additive, so
      q_after = q_before + Σ ΔQ is asserted per level (the q_cert
      column) and monotonicity is a THEOREM, not an observation.

    Termination: gain symmetry (gain(c,d) = gain(d,c)) means any
    positive gain anywhere gives some community a positive pointer;
    the set of pointing nodes is closed under ptr (a pointed-at node
    sees the same positive gain back), so the pointer graph contains
    a cycle, every pointer cycle is a 2-cycle (equal gains around a
    longer cycle contradict the lexicographic tie-break), and a
    2-cycle is a mutual pair whose demotion yields ≥1 satellite →
    ≥1 merge (full star or fallback pair) — strict community-count
    decrease per level, so the loop reaches "no positive pointer"
    (a pairwise-merge local optimum) in < n levels; max_levels
    bounds the unrolled oracle, not the algorithm (observed: 7
    levels at sf0.001, 6 at sf0.01).

    Scale shape: state is community-sized — undw/intra/comm spill to
    parquet per level (``_stats_cut``), sigma and the membership are
    cut on the round driver; gains are one co-keyed join
    per endpoint + one min(struct) aggregate; star stats are two
    membership joins; per level the driver collects THREE bounded
    rows (merge stats, move count, q/n_comms) — loop control, each
    O(1). The only input-sized work is the initial canonical-edge
    derivation, shared via _louvain_canon.

    Returns (summary_rows, membership): summary_rows a list of dicts
    (lvl, n_moved, n_communities, q_before, q_after, q_cert,
    n_fallback) for each executed level including the converged
    no-move level; membership the final (entity, community)
    DataFrame (None when ``track_membership=False`` — a
    certificate-only caller like kg_louvain_full skips the per-level
    membership join + checkpoint, ~2 fewer actions per level).
    """
    canon, m = _louvain_canon(edges)
    if m == 0:
        # No edge survives the self-loop drop: no community, Q = 0, and
        # the one executed level is the converged no-move level.
        membership = (
            canon.select(F.col("a").alias("entity"), F.col("a").alias("community"))
            if track_membership
            else None
        )
        return [
            dict(lvl=1, n_moved=0, n_communities=0, q_before=0, q_after=0,
                 q_cert=1, n_fallback=0)
        ], membership
    with _scratch_dir(edges.sparkSession, "ie_louvain_state_") as scratch:
        return _louvain_levels(
            canon, m, scratch, max_levels, track_membership
        )


def _louvain_levels(
    canon: DataFrame, m: int, scratch: str, max_levels: int,
    track_membership: bool,
):
    """louvain_converge's level loop over the canonical edges
    (``m`` > 0 of them); level-crossing state spills under ``scratch``,
    which the caller owns."""
    undw = _stats_cut(
        canon.select(F.col("a").alias("c"), F.col("b").alias("d"))
        .unionAll(canon.select(F.col("b").alias("c"), F.col("a").alias("d")))
        .withColumn("w", F.lit(1).cast("long")),
        f"{scratch}/undw0",
    )
    comm = _stats_cut(undw.select("c").distinct(), f"{scratch}/comm0")
    intra = comm.filter(F.lit(False)).select(
        "c", F.lit(0).cast("long").alias("iw")
    )
    membership = (
        cut(comm.select(F.col("c").alias("entity"), F.col("c").alias("community")))
        if track_membership
        else None
    )
    sig, q, n_comms = _louvain_state_stats(comm, undw, intra, m)
    rows = []

    def level(state: tuple, i: int) -> tuple | None:
        undw, intra, comm, sig, membership, q, n_comms = state
        lvl = i + 1
        # argmax positive gain, tie -> smallest d
        ptr = cut(_best_merge(undw, sig, m).filter(F.col("bg") > 0))
        # Mutual-best pairs would make BOTH endpoints centers (each is
        # pointed-to), leaving no satellite and stalling the level
        # even while positive gains exist — demote the LARGER member
        # of every mutual pair to satellite status. Centers are then
        # pointed-to-and-not-demoted; satellites must target a live
        # center (a pointer at a demoted node waits a level).
        rev = ptr.select(F.col("d").alias("c"), F.col("c").alias("d"))
        mutual = ptr.select("c", "d").join(rev, ["c", "d"], "left_semi")
        demoted = (
            mutual.filter(F.col("c") < F.col("d"))
            .select(F.col("d").alias("c"))
            .distinct()
        )
        # no checkpoint: ctr re-derives in one narrow pass from the
        # CHECKPOINTED ptr for each of its two consumers — cheaper
        # than one more eager materialization per level
        ctr = (
            ptr.select(F.col("d").alias("c"))
            .distinct()
            .join(demoted, "c", "left_anti")
        )
        sat = cut(
            ptr.join(ctr, "c", "left_anti").join(
                ctr.select(F.col("c").alias("d")), "d", "left_semi"
            )
        )
        memb = sat.select(F.col("d").alias("grp"), F.col("c").alias("node")).unionAll(
            sat.select("d").distinct().select(
                F.col("d").alias("grp"), F.col("d").alias("node")
            )
        )
        gsig = memb.join(
            sig.select(F.col("c").alias("node"), "sigma"), "node"
        ).groupBy("grp").agg(
            F.sum("sigma").cast("long").alias("ssum"),
            F.sum(F.col("sigma") * F.col("sigma")).cast("long").alias("ssq"),
        )
        gwin = (
            undw.filter(F.col("c") < F.col("d"))
            .join(memb.select(F.col("node").alias("c"), "grp"), "c")
            .join(
                memb.select(F.col("node").alias("d"), F.col("grp").alias("g2")),
                "d",
            )
            .filter(F.col("grp") == F.col("g2"))
            .groupBy("grp")
            .agg(F.sum("w").cast("long").alias("w_in"))
        )
        gdec = cut(
            gsig.join(gwin, "grp", "left").select(
                "grp",
                (
                    F.lit(4 * m) * F.coalesce("w_in", F.lit(0))
                    - (F.col("ssum") * F.col("ssum") - F.col("ssq"))
                )
                .cast("long")
                .alias("dq_full"),
            )
        )
        # fallback pair per rejected star: best-gain satellite, tie min c
        gbp = (
            sat.groupBy(F.col("d").alias("grp"))
            .agg(F.min(F.struct((-F.col("bg")).alias("nb"), "c")).alias("b"))
            .select(
                "grp",
                F.col("b.c").alias("c"),
                (-F.col("b.nb")).cast("long").alias("bg"),
            )
        )
        stats = (
            gdec.join(gbp, "grp", "left")
            .agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("dq_full") > 0, F.col("dq_full")).otherwise(
                            2 * F.col("bg")
                        )
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("dq"),
                F.coalesce(
                    F.sum(F.when(F.col("dq_full") > 0, 0).otherwise(1)),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_fallback"),
            )
            .collect()[0]
        )
        moves = cut(
            sat.join(gdec.filter(F.col("dq_full") > 0), sat.d == F.col("grp"))
            .select(F.col("c").alias("node"), F.col("d").alias("nc"))
            .unionAll(
                gbp.join(
                    gdec.filter(F.col("dq_full") <= 0), "grp"
                ).select(F.col("c").alias("node"), F.col("grp").alias("nc"))
            )
        )
        n_moved = moves.count()
        if n_moved == 0:
            rows.append(
                dict(
                    lvl=lvl,
                    n_moved=0,
                    n_communities=n_comms,
                    q_before=q,
                    q_after=q,
                    q_cert=1,
                    n_fallback=0,
                )
            )
            return None
        lab = cut(
            comm.join(moves.withColumnRenamed("node", "c"), "c", "left")
            .select("c", F.coalesce("nc", F.col("c")).alias("nc"))
        )
        la = lab.select(F.col("c"), F.col("nc").alias("na"))
        lb = lab.select(F.col("c").alias("d"), F.col("nc").alias("nb"))
        # Level-crossing state is PARQUET-spilled, not cut in memory:
        # the checkpoint leaf inherits the optimizer's ESTIMATED stats,
        # and in this join-heavy loop those estimates compound level
        # over level until Catalyst's sizeInBytes BigInt reaches 10^7+
        # bits and the planner spends minutes in BigInteger.multiply
        # (observed live at level 5-6). The parquet round-trip
        # (_stats_cut) re-grounds the leaf estimate in real on-disk
        # bytes, so planner arithmetic stays O(1) per level at ANY
        # depth — and materializing per-level state is the shape an
        # iterative graph op wants on a cluster anyway.
        new_intra = _stats_cut(
            intra.join(lab, "c")
            .select(F.col("nc").alias("c"), F.col("iw").alias("v"))
            .unionAll(
                undw.filter(F.col("c") < F.col("d"))
                .join(la, "c")
                .join(lb, "d")
                .filter(F.col("na") == F.col("nb"))
                .select(F.col("na").alias("c"), F.col("w").alias("v"))
            )
            .groupBy("c")
            .agg(F.sum("v").cast("long").alias("iw")),
            f"{scratch}/intra{lvl % 2}",
        )
        new_undw = _stats_cut(
            undw.join(la, "c")
            .join(lb, "d")
            .filter(F.col("na") != F.col("nb"))
            .groupBy(F.col("na").alias("c"), F.col("nb").alias("d"))
            .agg(F.sum("w").cast("long").alias("w")),
            f"{scratch}/undw{lvl % 2 + 1}",
        )
        comm = _stats_cut(
            lab.select(F.col("nc").alias("c")).distinct(),
            f"{scratch}/comm{lvl % 2 + 1}",
        )
        if track_membership:
            membership = cut(
                membership.join(
                    lab.withColumnRenamed("c", "community"), "community"
                ).select("entity", F.col("nc").alias("community"))
            )
        sig, q_after, n_after = _louvain_state_stats(
            comm, new_undw, new_intra, m
        )
        rows.append(
            dict(
                lvl=lvl,
                n_moved=int(n_moved),
                n_communities=n_after,
                q_before=q,
                q_after=q_after,
                q_cert=int(q_after == q + int(stats.dq) and q_after >= q),
                n_fallback=int(stats.n_fallback),
            )
        )
        return new_undw, new_intra, comm, sig, membership, q_after, n_after

    state = iterate(
        (undw, intra, comm, sig, membership, q, n_comms), level, max_levels
    )
    # membership is cut in memory and the summary rows are collected
    # dicts, so the caller may drop the parquet scratch.
    return rows, state[4]
