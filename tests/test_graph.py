"""PageRank operator: hand-worked small graphs vs an independent pure-
Python power iteration, plus structural invariants."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from information_extraction_spark.operators.graph import (
    pagerank,
    triple_edges,
)


def _py_pagerank(edges, iterations=3, damping=0.85):
    """Independent driver-side reference: dict-based power iteration
    with the identical leaked-mass dangling-node rule."""
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    ranks = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0.0 for n in nodes}
        for s, d in edges:
            contrib[d] += ranks[s] / out[s]
        ranks = {n: (1 - damping) + damping * contrib[n] for n in nodes}
    return ranks


EDGES = [
    ("a", "b"),
    ("b", "a"),
    ("c", "a"),
    ("c", "b"),
    ("d", "c"),  # d is a source (rank floor), a/b form a 2-cycle
]


def test_pagerank_matches_reference_power_iteration(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["entity"]: r["rank"] for r in pagerank(df, iterations=3).collect()
    }
    want = _py_pagerank(EDGES, iterations=3)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_pagerank_dangling_and_source_nodes(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["entity"]: r["rank"] for r in pagerank(df, iterations=3).collect()
    }
    # d has no in-edges: rank is exactly the (1-d) floor every step.
    assert got["d"] == pytest.approx(0.15, abs=1e-12)
    # b has no out-edges in {a,b}-cycle? b -> a exists; sanity: the
    # 2-cycle members outrank the feeder c.
    assert got["a"] > got["c"] and got["b"] > got["c"]


def test_triple_edges_drops_self_loops_and_dedups(spark):
    triples = spark.createDataFrame(
        [
            ("x", "r1", "y"),
            ("x", "r2", "y"),  # same endpoint pair via another pred
            ("x", "r1", "x"),  # self loop
        ],
        "subject string, predicate string, object string",
    )
    rows = triple_edges(triples).collect()
    assert [(r["src"], r["dst"]) for r in rows] == [("x", "y")]


def test_pagerank_zero_iterations_is_uniform(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = pagerank(df, iterations=0).collect()
    assert {r["rank"] for r in got} == {1.0}
    assert len(got) == 4


# --- triple_support ---------------------------------------------------------


def test_triple_support_counts_and_first_turn(spark):
    from information_extraction_spark.operators.graph import triple_support

    rows = [
        # (conv_id, turn_idx, subject, predicate, object)
        ("c1", 0, "s", "p", "o"),
        ("c1", 2, "s", "p", "o"),   # re-asserted later in the same conv
        ("c2", 5, "s", "p", "o"),   # and by a second conv
        ("c1", 1, "s", "p", "o2"),  # different object => different triple
        ("c3", 7, "x", "q", "y"),   # singleton
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        (r["subject"], r["predicate"], r["object"]): (
            r["support"],
            r["n_convs"],
            r["first_turn"],
        )
        for r in triple_support(df).collect()
    }
    assert got == {
        ("s", "p", "o"): (3, 2, 0),
        ("s", "p", "o2"): (1, 1, 1),
        ("x", "q", "y"): (1, 1, 7),
    }


# --- merge_new_triples ------------------------------------------------------


def test_merge_new_triples_insert_only(spark):
    from information_extraction_spark.operators.graph import (
        merge_new_triples,
    )

    schema = "subject string, predicate string, object string"
    base = spark.createDataFrame(
        [("s1", "p", "o1"), ("s2", "p", "o2")], schema
    )
    incoming = spark.createDataFrame(
        [
            ("s1", "p", "o1"),  # already present -> suppressed
            ("s3", "p", "o3"),  # new
            ("s3", "p", "o3"),  # duplicate within the batch -> once
            ("s2", "p", "oX"),  # same subject, new object -> new
        ],
        schema,
    )
    got = {
        (r["subject"], r["predicate"], r["object"])
        for r in merge_new_triples(base, incoming).collect()
    }
    assert got == {("s3", "p", "o3"), ("s2", "p", "oX")}
    # Empty batch merges to nothing; merging the base into itself too.
    assert merge_new_triples(base, base).count() == 0
    empty = spark.createDataFrame([], schema)
    assert merge_new_triples(base, empty).count() == 0


# --- resolve_functional -----------------------------------------------------


def test_resolve_functional_picks_best_supported_object(spark):
    from information_extraction_spark.operators.graph import (
        resolve_functional,
    )

    rows = [
        # slot (s, p): o1 asserted 3x across 2 convs, o2 once -> o1 wins
        ("c1", 0, "s", "p", "o1"),
        ("c1", 2, "s", "p", "o1"),
        ("c2", 5, "s", "p", "o1"),
        ("c3", 1, "s", "p", "o2"),
        # slot (t, p): support tie 1-1, n_convs tie 1-1 -> max object "b"
        ("c1", 0, "t", "p", "a"),
        ("c2", 0, "t", "p", "b"),
        # slot (u, q): support tie 2-2 but "x" spans 2 convs vs 1 -> x
        ("c1", 0, "u", "q", "x"),
        ("c2", 1, "u", "q", "x"),
        ("c3", 2, "u", "q", "y"),
        ("c3", 3, "u", "q", "y"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        (r["subject"], r["predicate"]): (
            r["object"],
            r["support"],
            r["n_convs"],
            r["n_candidates"],
            r["confidence"],
        )
        for r in resolve_functional(df).collect()
    }
    assert got == {
        ("s", "p"): ("o1", 3, 2, 2, 0.75),
        ("t", "p"): ("b", 1, 1, 2, 0.5),
        ("u", "q"): ("x", 2, 2, 2, 0.5),
    }


# --- predicate_profile ------------------------------------------------------


def test_predicate_profile_functionality_ratio(spark):
    from information_extraction_spark.operators.graph import (
        predicate_profile,
    )

    rows = [
        # p: s1 has two objects, s2 one -> 3 triples / 2 subjects = 1.5
        ("c1", 0, "s1", "p", "o1", "T", "U"),
        ("c1", 1, "s1", "p", "o1", "T", "U"),  # re-assertion, same triple
        ("c2", 0, "s1", "p", "o2", "T", "U"),
        ("c2", 1, "s2", "p", "o1", "T", "U"),
        # q: purely functional (1 object per subject)
        ("c1", 2, "s1", "q", "z", "T", "V"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string, subject_type string, object_type string",
    )
    got = {
        (r["predicate"], r["subject_type"], r["object_type"]): (
            r["n_assertions"],
            r["n_triples"],
            r["n_subjects"],
            r["n_objects"],
            r["functionality"],
        )
        for r in predicate_profile(df).collect()
    }
    assert got == {
        ("p", "T", "U"): (4, 3, 2, 2, 1.5),
        ("q", "T", "V"): (1, 1, 1, 1, 1.0),
    }


# --- triple_provenance ------------------------------------------------------


def test_triple_provenance_bounded_and_sorted(spark):
    from information_extraction_spark.operators.graph import (
        triple_provenance,
    )

    # 7 assertions of one triple: k=5 keeps the 5 lexicographically
    # first pointers (zero-padded turn_idx so string order == numeric).
    rows = [("c%d" % (i % 2), i, "s", "p", "o") for i in range(7)]
    rows.append(("c9", 12, "x", "q", "y"))  # singleton triple
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        (r["subject"], r["predicate"], r["object"]): (
            r["n_evidence"],
            r["evidence"],
        )
        for r in triple_provenance(df, k=5).collect()
    }
    evs = sorted("c%d#%010d" % (i % 2, i) for i in range(7))[:5]
    assert got[("s", "p", "o")] == (7, "|".join(evs))
    assert got[("x", "q", "y")] == (1, "c9#0000000012")


# --- temporal_extent --------------------------------------------------------


def test_temporal_extent_joins_back_for_bounds(spark):
    from information_extraction_spark.operators.graph import temporal_extent

    transcripts = spark.createDataFrame(
        [
            ("c1", 0, "2026-01-01 00:00:00"),
            ("c1", 1, "2026-01-01 00:00:30"),
            ("c2", 0, "2026-01-01 01:00:00"),
        ],
        "conv_id string, turn_idx int, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    triples = spark.createDataFrame(
        [
            ("c1", 0, "s", "p", "o"),
            ("c1", 1, "s", "p", "o"),   # later re-assertion widens window
            ("c2", 0, "s", "p", "o"),
            ("c1", 1, "x", "q", "y"),   # singleton: from == to
        ],
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        (r["subject"], r["predicate"], r["object"]): (
            r["valid_from_s"],
            r["valid_to_s"],
        )
        for r in temporal_extent(
            triples, transcripts, origin="2026-01-01 00:00:00"
        ).collect()
    }
    assert got == {("s", "p", "o"): (0, 3600), ("x", "q", "y"): (30, 30)}


def test_temporal_extent_absolute_when_no_origin(spark):
    from information_extraction_spark.operators.graph import temporal_extent

    transcripts = spark.createDataFrame(
        [("c1", 0, "1970-01-01 00:10:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    triples = spark.createDataFrame(
        [("c1", 0, "s", "p", "o")],
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    [r] = temporal_extent(triples, transcripts).collect()
    # Session timezone is pinned UTC (session.py), so absolute epoch
    # seconds of 1970-01-01T00:10 are exactly 600.
    assert (r["valid_from_s"], r["valid_to_s"]) == (600, 600)


# --- slot_changes ------------------------------------------------------------


def test_slot_changes_versions_ties_and_singletons(spark):
    from information_extraction_spark.operators.graph import slot_changes

    transcripts = spark.createDataFrame(
        [
            ("c1", 0, "2026-01-01 00:00:00"),
            ("c1", 1, "2026-01-01 00:00:30"),
            ("c2", 0, "2026-01-01 01:00:00"),
            ("c3", 0, "2026-01-01 02:00:00"),
        ],
        "conv_id string, turn_idx int, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    triples = spark.createDataFrame(
        [
            # slot (s, p): o1 at t=0, re-asserted later (no new
            # version), then changes to o2 at t=3600.
            ("c1", 0, "s", "p", "o1"),
            ("c3", 0, "s", "p", "o1"),
            ("c2", 0, "s", "p", "o2"),
            # tie slot: both objects first asserted at the same
            # second -> version order falls back to object asc.
            ("c1", 1, "u", "p", "b"),
            ("c1", 1, "u", "p", "a"),
            # singleton slot: one distinct object -> excluded.
            ("c1", 0, "x", "q", "y"),
            ("c2", 0, "x", "q", "y"),
        ],
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    rows = slot_changes(
        triples, transcripts, origin="2026-01-01 00:00:00"
    ).collect()
    got = {
        (r["subject"], r["predicate"], r["version"]): (
            r["object"],
            r["prev_object"],
            r["changed_at_s"],
            r["n_versions"],
        )
        for r in rows
    }
    assert got == {
        ("s", "p", 1): ("o1", None, 0, 2),
        ("s", "p", 2): ("o2", "o1", 3600, 2),
        ("u", "p", 1): ("a", None, 30, 2),
        ("u", "p", 2): ("b", "a", 30, 2),
    }
    # the singleton (x, q) slot must not appear at all
    assert all(r["subject"] != "x" for r in rows)


# --- role/tool contract ------------------------------------------------------


def test_transcripts_role_tool_contract(spark):
    """The derived transcript table must satisfy the input contract's
    role/tool semantics: role cycles user→assistant→tool by turn_idx,
    and tool is 'search' exactly on tool turns, NULL elsewhere."""
    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    t = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    bad = t.filter(
        (
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                (F.col("turn_idx") % 3) + 1,
            )
            != F.col("role")
        )
        | (
            (F.col("turn_idx") % 3 == 2) & (F.col("tool") != "search")
        )
        | ((F.col("turn_idx") % 3 != 2) & F.col("tool").isNotNull())
    ).count()
    assert bad == 0
    roles = {r["role"] for r in t.select("role").distinct().collect()}
    assert roles == {"user", "assistant", "tool"}


# --- conversation_stats -----------------------------------------------------


def test_conversation_stats_yield_and_zero_rows(spark):
    from information_extraction_spark.operators.graph import (
        conversation_stats,
    )

    transcripts = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c1", 2), ("c2", 0)],
        "conv_id string, turn_idx int",
    )
    triples = spark.createDataFrame(
        [
            ("c1", 0, "s", "p", "o"),
            ("c1", 1, "s", "p", "o"),    # same triple re-asserted
            ("c1", 2, "s", "q", "o2"),
            # c2 yields nothing -> must still appear with zeros
        ],
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        r["conv_id"]: (
            r["n_turns"],
            r["n_assertions"],
            r["n_triples"],
            r["n_predicates"],
        )
        for r in conversation_stats(transcripts, triples).collect()
    }
    assert got == {"c1": (3, 3, 2, 2), "c2": (1, 0, 0, 0)}


# --- infer_entity_types -----------------------------------------------------


def test_infer_entity_types_votes_and_tiebreak(spark):
    from information_extraction_spark.operators.graph import (
        infer_entity_types,
    )

    rows = [
        # e: 2 subject votes for T, 1 object vote for U -> T, share 2/3
        ("c", 0, "e", "p", "x", "T", "W"),
        ("c", 1, "e", "p", "y", "T", "W"),
        ("c", 2, "z", "q", "e", "S", "U"),
        # f: exact 1-1 tie between A and B -> lexicographic max "B"
        ("c", 3, "f", "p", "m", "A", "W"),
        ("c", 4, "f", "q", "n", "B", "W"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string, subject_type string, object_type string",
    )
    got = {
        r["entity"]: (
            r["etype"],
            r["votes"],
            r["n_votes"],
            r["n_types"],
            r["share"],
        )
        for r in infer_entity_types(df).collect()
    }
    assert got["e"] == ("T", 2, 3, 2, 0.6667)
    assert got["f"] == ("B", 1, 2, 2, 0.5)
    # object-side entities vote too: x/y/m/n got W, z got S
    assert got["x"] == ("W", 1, 1, 1, 1.0)
    assert got["z"] == ("S", 1, 1, 1, 1.0)


def test_transcripts_null_text_yields_one_empty_turn(spark, tmp_path):
    """NULL document text must derive exactly ONE empty turn (the
    coalesce in transcripts_from_documents), never the 2 phantom
    turns raw sequence arithmetic would mint — and conv_stats' oracle
    convention (ceil over coalesce(text,'')) agrees."""
    import pandas as pd

    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["alpha beta gamma", None],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [16, 0],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    t = transcripts_from_documents(spark, str(tmp_path))
    got = {
        r["conv_id"]: (r["turn_idx"], r["text"])
        for r in t.orderBy("conv_id", "turn_idx").collect()
    }
    assert got["doc0.0"] == (0, "alpha beta gamma")
    assert got["doc1.0"] == (0, "")
    assert t.filter(F.col("conv_id") == "doc1.0").count() == 1


def test_cardinality_profile_counts_violations(spark):
    from information_extraction_spark.operators.graph import (
        cardinality_profile,
    )

    rows = [
        # (s1, p) asserts 2 distinct objects -> violating slot; the
        # duplicate assertion of (s1, p, o1) must NOT count (distinct
        # objects, not assertions).
        ("c", 0, "s1", "p", "o1"),
        ("c", 1, "s1", "p", "o1"),
        ("c", 2, "s1", "p", "o2"),
        ("c", 3, "s2", "p", "o1"),
        ("c", 4, "s1", "q", "o1"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        r["predicate"]: (
            r["n_slots"],
            r["n_violating"],
            r["max_objects"],
            r["violation_rate"],
        )
        for r in cardinality_profile(df).collect()
    }
    assert got["p"] == (2, 1, 2, 0.5)
    assert got["q"] == (1, 0, 1, 0.0)


def test_type_violations_against_inferred_dominant(spark):
    from information_extraction_spark.operators.graph import (
        type_violations,
    )

    rows = [
        # e's dominant type is T1 (2 votes vs 1 for T2); the p2
        # assertion declares T2 -> subject-side violation class.
        ("c", 0, "e", "p1", "x", "T1", "TX"),
        ("c", 1, "e", "p1", "x", "T1", "TX"),
        ("c", 2, "e", "p2", "y", "T2", "TY"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string, subject_type string, object_type string",
    )
    got = [
        (
            r["predicate"],
            r["side"],
            r["declared"],
            r["inferred"],
            r["n_assertions"],
            r["n_entities"],
        )
        for r in type_violations(df).collect()
    ]
    # x and y each carry a single consistent object type -> no
    # object-side rows; exactly the one subject-side class remains.
    assert got == [("p2", "subject", "T2", "T1", 1, 1)]


def test_neighbor_sample_fanout_rank_and_degree(spark):
    import hashlib

    from information_extraction_spark.operators.graph import neighbor_sample

    rows = [("c", i, "hub", "p", f"o{i}") for i in range(6)] + [
        # duplicate assertion must not inflate rank or degree
        ("c2", 9, "hub", "p", "o0"),
        ("c", 6, "leaf", "q", "x"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = neighbor_sample(df, fanout=4).collect()
    hub = sorted(
        [(r["rk"], r["object"], r["degree"]) for r in got if r["subject"] == "hub"]
    )
    assert len(hub) == 4 and all(d == 6 for _, _, d in hub)
    # rank order is the md5 order over the full distinct edge set
    want = sorted(
        (hashlib.md5(f"hub|p|o{i}".encode()).hexdigest(), f"o{i}")
        for i in range(6)
    )[:4]
    assert [o for _, o, _ in hub] == [o for _, o in want]
    leaf = [(r["rk"], r["degree"]) for r in got if r["subject"] == "leaf"]
    assert leaf == [(1, 1)]


def test_graph_diff_two_sided(spark):
    from information_extraction_spark.operators.graph import graph_diff

    schema = (
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string"
    )
    base = spark.createDataFrame(
        [("c", 0, "a", "p", "x"), ("c", 1, "b", "p", "y"),
         ("c", 2, "b", "p", "y")],  # dup must collapse
        schema,
    )
    new = spark.createDataFrame(
        [("c", 0, "a", "p", "x"), ("c", 1, "z", "q", "w")], schema
    )
    got = sorted(
        (r["subject"], r["predicate"], r["object"], r["status"])
        for r in graph_diff(base, new).collect()
    )
    assert got == [("b", "p", "y", "removed"), ("z", "q", "w", "added")]


def _py_ppr(edges, seeds, iterations=3, damping=0.85):
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    ranks = {n: (1.0 if n in seeds else 0.0) for n in nodes}
    for _ in range(iterations):
        contrib = {n: 0.0 for n in nodes}
        for s, d in edges:
            contrib[d] += ranks[s] / out[s]
        ranks = {
            n: (1 - damping) * (1.0 if n in seeds else 0.0)
            + damping * contrib[n]
            for n in nodes
        }
    return ranks


def test_personalized_pagerank_teleports_to_seeds_only(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = ["d"]
    got = {
        r["entity"]: r["rank"]
        for r in pagerank(df, iterations=3, seeds=seeds).collect()
    }
    want = _py_ppr(EDGES, set(seeds), iterations=3)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)
    # mass flows d -> c -> {a,b}: everything reachable from the seed
    # is positive, and the seed keeps its restart floor
    assert got["d"] == pytest.approx(0.15, abs=1e-12)
    assert all(got[n] > 0 for n in ("a", "b", "c"))
    # seeding {a} instead: d is UNREACHABLE from a -> rank exactly 0
    got_a = {
        r["entity"]: r["rank"]
        for r in pagerank(df, iterations=3, seeds=["a"]).collect()
    }
    assert got_a["d"] == 0.0


def _py_hits(edges, iterations=3):
    """Independent reference with the operator's exact quantization:
    integer micro-unit scores, per-half-step sum-normalize via one
    double division + round-half-away."""
    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1_000_000 for n in nodes}
    auth = {}

    def _half_away(x):
        import math

        return int(math.floor(x + 0.5))

    def _step(scores, key_from, key_to):
        raw = {}
        for s, d in edges:
            u, v = (s, d) if key_from == 0 else (d, s)
            if u in scores:
                raw[v] = raw.get(v, 0) + scores[u]
        tot = sum(raw.values())
        return {
            n: _half_away(float(r) * 1_000_000.0 / float(tot))
            for n, r in raw.items()
        }

    for _ in range(iterations):
        auth = _step(hub, 0, 1)
        hub = _step(auth, 1, 0)
    return (
        {n: hub.get(n, 0) / 1e6 for n in nodes},
        {n: auth.get(n, 0) / 1e6 for n in nodes},
    )


HITS_EDGES = [
    ("h1", "a1"),
    ("h1", "a2"),
    ("h2", "a1"),
    ("h3", "a2"),
    ("h3", "a3"),
    ("h3", "a1"),  # h3 points at everything; a1 is cited by all hubs
]


def test_hits_matches_reference_and_bipartite_sides(spark):
    from information_extraction_spark.operators.graph import hits

    df = spark.createDataFrame(HITS_EDGES, "src string, dst string")
    rows = hits(df, iterations=3).collect()
    got_h = {r["entity"]: r["hub"] for r in rows}
    got_a = {r["entity"]: r["auth"] for r in rows}
    want_h, want_a = _py_hits(HITS_EDGES, iterations=3)
    assert got_h == pytest.approx(want_h, abs=5e-7)
    assert got_a == pytest.approx(want_a, abs=5e-7)
    # Bipartite graph: pure hubs carry zero authority and vice versa.
    for n in ("h1", "h2", "h3"):
        assert got_a[n] == 0.0
    for n in ("a1", "a2", "a3"):
        assert got_h[n] == 0.0
    # Mutual reinforcement: h3 (3 out-edges incl. the top authority)
    # out-ranks h2 (1 edge); a1 (cited by all hubs) tops authorities.
    assert got_h["h3"] > got_h["h1"] > got_h["h2"]
    assert got_a["a1"] == max(got_a[n] for n in ("a1", "a2", "a3"))
    # Each half-step sum-normalizes to ~1.0 in micro-units.
    assert sum(got_h.values()) == pytest.approx(1.0, abs=5e-6)
    assert sum(got_a.values()) == pytest.approx(1.0, abs=5e-6)


def test_hits_directed_chain_scores_interior_both_ways(spark):
    from information_extraction_spark.operators.graph import hits

    edges = [("x", "y"), ("y", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = {r["entity"]: r for r in hits(df, iterations=2).collect()}
    want_h, want_a = _py_hits(edges, iterations=2)
    for n in ("x", "y", "z"):
        assert rows[n]["hub"] == pytest.approx(want_h[n], abs=5e-7)
        assert rows[n]["auth"] == pytest.approx(want_a[n], abs=5e-7)
    # Interior node scores on BOTH sides; endpoints on one only.
    assert rows["y"]["hub"] > 0.0 and rows["y"]["auth"] > 0.0
    assert rows["x"]["auth"] == 0.0 and rows["z"]["hub"] == 0.0


def test_label_propagation_star_oscillates_deterministically(spark):
    """Star x-{a,b,c}: synchronous LPA oscillates with period 2 —
    fixed iterations make the output deterministic. Hand-worked:
    l1 = {a,b,c: x; x: a}, l2 = {a,b,c: a; x: x},
    l3 = {a,b,c: x; x: a}."""
    from information_extraction_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        [("x", "a"), ("x", "b"), ("x", "c")], "src string, dst string"
    )
    got3 = {
        r["entity"]: r["community"]
        for r in label_propagation(df, iterations=3).collect()
    }
    assert got3 == {"a": "x", "b": "x", "c": "x", "x": "a"}
    got2 = {
        r["entity"]: r["community"]
        for r in label_propagation(df, iterations=2).collect()
    }
    assert got2 == {"a": "a", "b": "a", "c": "a", "x": "x"}


def test_label_propagation_majority_converges(spark):
    """Triangle a-b-c with pendant d-c: hand-worked rounds reach the
    all-'a' community by iteration 2 and stay (majority count beats
    the lexicographic tie-break: at round 2 node a sees {a: 2}, not
    a tie)."""
    from information_extraction_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "src string, dst string",
    )
    got = {
        r["entity"]: r["community"]
        for r in label_propagation(df, iterations=3).collect()
    }
    assert got == {n: "a" for n in "abcd"}


def test_bfs_distances_min_over_paths_and_hop_cap(spark):
    """Chain s-a-b-c-d plus shortcut s-b: b takes the MIN distance
    (1 via the shortcut, not 2 via a); d is 3 hops via the shortcut;
    nodes beyond max_hops are absent (max_hops=2 drops d)."""
    from information_extraction_spark.operators.graph import (
        bfs_distances,
    )

    df = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"), ("s", "b")],
        "src string, dst string",
    )
    got = {
        r["entity"]: r["dist"]
        for r in bfs_distances(df, ["s"], max_hops=3).collect()
    }
    assert got == {"s": 0, "a": 1, "b": 1, "c": 2, "d": 3}
    capped = {
        r["entity"]: r["dist"]
        for r in bfs_distances(df, ["s"], max_hops=2).collect()
    }
    assert capped == {"s": 0, "a": 1, "b": 1, "c": 2}


def test_bfs_distances_multi_source_undirected(spark):
    """Seeds {s, d} on the chain: distances are min over sources and
    edges traverse BOTH directions (c reaches 1 via d)."""
    from information_extraction_spark.operators.graph import (
        bfs_distances,
    )

    df = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c"), ("c", "d")],
        "src string, dst string",
    )
    got = {
        r["entity"]: r["dist"]
        for r in bfs_distances(df, ["s", "d"], max_hops=3).collect()
    }
    assert got == {"s": 0, "d": 0, "a": 1, "c": 1, "b": 2}


def _random_edges(seed, n_nodes=10, n_edges=14):
    """Seeded random directed pairs over ``n_nodes`` names; repeats and
    reverse duplicates kept, self loops dropped."""
    import random

    rng = random.Random(seed)
    names = [f"n{i:02d}" for i in range(n_nodes)]
    out = []
    while len(out) < n_edges:
        a, b = rng.choice(names), rng.choice(names)
        if a != b:
            out.append((a, b))
    return out


_BFS_GRAPHS = {
    "chain": [(f"c{i}", f"c{i + 1}") for i in range(6)],
    "star": [("hub", f"s{i}") for i in range(5)] + [("s0", "s1")],
    **{f"random{s}": _random_edges(s) for s in (1, 2, 3)},
}


def _py_adjacency(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def _py_bfs(adj, sources, max_hops):
    """Plain queue BFS: hop distance from the nearest source."""
    from collections import deque

    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        v = q.popleft()
        if dist[v] == max_hops:
            continue
        for w in sorted(adj.get(v, ())):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


def _py_top_degree(adj, n):
    return sorted(adj, key=lambda v: (-len(adj[v]), v))[:n]


def _py_shortest_path_counts(adj, src, max_hops):
    """(dist, sigma) per node reached from ``src``, sigma counted by
    enumerating every path of at most ``max_hops`` edges and keeping
    the ones as short as the node's BFS distance."""
    dist = _py_bfs(adj, [src], max_hops)
    sigma = {}

    def walk(path):
        v = path[-1]
        if len(path) - 1 == dist[v]:
            sigma[v] = sigma.get(v, 0) + 1
        if len(path) - 1 < max_hops:
            for w in adj.get(v, ()):
                if w not in path:
                    walk(path + [w])

    walk([src])
    return {v: (d, sigma[v]) for v, d in dist.items()}


@pytest.mark.parametrize("name", sorted(_BFS_GRAPHS))
def test_frontier_bfs_family_matches_python_oracle(spark, name):
    """bfs_distances, landmark_distances (the landmark pick and the
    distances) and shortest_path_counts (dist and sigma) against a
    pure-Python queue BFS and explicit shortest-path enumeration, with
    the output schemas pinned."""
    from information_extraction_spark.operators.graph import (
        bfs_distances,
        landmark_distances,
        shortest_path_counts,
    )

    pairs = _BFS_GRAPHS[name]
    adj = _py_adjacency(pairs)
    df = spark.createDataFrame(pairs, "src string, dst string")
    seeds = sorted(adj)[:2]
    for hops in (1, 3):
        got = bfs_distances(df, seeds, max_hops=hops)
        assert got.dtypes == [("entity", "string"), ("dist", "int")]
        assert {r.entity: r.dist for r in got.collect()} == _py_bfs(
            adj, seeds, hops
        )

    lm = landmark_distances(df, n_landmarks=3, max_hops=2)
    assert lm.dtypes == [
        ("entity", "string"), ("lm", "string"), ("dist", "int")
    ]
    rows = lm.collect()
    want = {
        (v, l): d
        for l in _py_top_degree(adj, 3)
        for v, d in _py_bfs(adj, [l], 2).items()
    }
    assert len(rows) == len(want)
    assert {(r.entity, r.lm): r.dist for r in rows} == want

    spc = shortest_path_counts(df, n_sources=2, max_hops=3)
    assert spc.dtypes == [
        ("entity", "string"),
        ("sp_src", "string"),
        ("dist", "bigint"),
        ("sigma", "bigint"),
    ]
    rows = spc.collect()
    want = {
        (v, s): ds
        for s in _py_top_degree(adj, 2)
        for v, ds in _py_shortest_path_counts(adj, s, 3).items()
    }
    assert len(rows) == len(want)
    assert {(r.entity, r.sp_src): (r.dist, r.sigma) for r in rows} == want


# --- k-core peel + co-mention + TransE scoring (session-9 ops) ------------


def test_kcore_peel_drops_pendant_chain(spark):
    """A triangle with a pendant chain: peeling at k=2 removes the
    chain node by node (e is degree-1, then d becomes degree-1), so
    round count matters — 1 round keeps d, 2+ rounds leave exactly
    the triangle with degree 2 everywhere."""
    from information_extraction_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    one = {
        (r["entity"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=1).collect()
    }
    # after round 1: e dropped, d survives (deg 2 pre-peel) but its
    # edge to e is gone → d now pendant on c
    assert ("d", 1) in one and not any(n == "e" for n, _ in one)
    two = {
        (r["entity"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=2).collect()
    }
    assert two == {("a", 2), ("b", 2), ("c", 2)}
    # fixpoint: a third round changes nothing
    three = {
        (r["entity"], r["degree"])
        for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert three == two


def test_comention_pairs_cap_and_counts(spark):
    """A conversation above the entity cap leaves the universe
    entirely (its pairs contribute NOTHING, even pairs also seen
    elsewhere keep only their small-conv evidence); pair order is
    canonical e1 < e2 and counts are distinct-conv counts."""
    from information_extraction_spark.operators.graph import (
        comention_pairs,
    )

    rows = [
        # conv1: x,y  conv2: y,x (same pair again, reversed order)
        ("c1", "x", "p", "o1"),
        ("c1", "y", "p", "o2"),
        ("c2", "y", "p", "o3"),
        ("c2", "x", "p", "o4"),
        # conv3 has 3 entities -> above cap 2, fully excluded
        ("c3", "x", "p", "o5"),
        ("c3", "y", "p", "o6"),
        ("c3", "z", "p", "o7"),
    ]
    triples = spark.createDataFrame(
        rows, "conv_id string, subject string, predicate string, object string"
    )
    got = {
        (r["e1"], r["e2"], r["n_convs"])
        for r in comention_pairs(triples, max_conv_entities=2).collect()
    }
    assert got == {("x", "y", 2)}


def test_transe_margin_zero_when_negative_equals_object(spark):
    """When the per-predicate min-md5 candidate IS the true object,
    neg == pos and the margin is exactly 0 (the documented no-
    exclusion rule); distinct triples are scored once."""
    from information_extraction_spark.driver_queries.kg import (
        kg_transe_score,
    )
    import hashlib

    # find which of two objects has the smaller md5 -> that triple
    # must get margin 0
    objs = ["obj_alpha", "obj_beta"]
    neg = min(objs, key=lambda o: hashlib.md5(o.encode()).hexdigest())
    # build a tiny fixture through the operator's own scoring path by
    # monkey-free direct computation: use the module-level helpers via
    # a minimal triples frame and the same expressions.
    from information_extraction_spark.functions.hashing import h48
    from pyspark.sql import functions as F

    tr = spark.createDataFrame(
        [("s1", "p", objs[0]), ("s1", "p", objs[1]), ("s1", "p", objs[0])],
        "subject string, predicate string, object string",
    )
    # reuse the query's internal shape: distinct + per-pred argmin
    cand = (
        tr.select("predicate", "object")
        .distinct()
        .groupBy("predicate")
        .agg(
            F.min(
                F.struct(F.md5("object").alias("h"), F.col("object").alias("o"))
            ).alias("m")
        )
        .select("predicate", F.col("m.o").alias("neg_object"))
    )
    got = {r["neg_object"] for r in cand.collect()}
    assert got == {neg}


def test_triangle_counts_clique_plus_pendant(spark):
    # 4-clique {1,2,3,4} plus pendant 5 attached to 4:
    # nodes 1-3: deg 3, 3 triangles, lcc = 1.0 (10^6 ppm);
    # node 4: deg 4, 3 triangles, lcc = 6/12 = 0.5;
    # node 5: deg 1, 0 triangles, lcc pinned 0.
    from pyspark.sql import functions as F

    from information_extraction_spark.operators.graph import (
        triangle_counts,
    )

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in clique] + [("4", "5")],
        "src string, dst string",
    )
    got = {
        r["entity"]: (r["degree"], r["triangles"], r["lcc_ppm"])
        for r in triangle_counts(edges).collect()
    }
    assert got == {
        "1": (3, 3, 1000000),
        "2": (3, 3, 1000000),
        "3": (3, 3, 1000000),
        "4": (4, 3, 500000),
        "5": (1, 0, 0),
    }


def test_triangle_counts_star_has_none(spark):
    # A hub star has wedges but zero triangles — the degree-ordered
    # orientation must not fabricate closures.
    from information_extraction_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(6)], "src string, dst string"
    )
    rows = triangle_counts(edges).collect()
    assert all(r["triangles"] == 0 and r["lcc_ppm"] == 0 for r in rows)
    hub = [r for r in rows if r["entity"] == "h"][0]
    assert hub["degree"] == 6


def test_transitive_closure_chain_diamond_and_cycle(spark):
    """Path doubling closes a depth-5 chain in 3 rounds (2^3 >= 5),
    merges diamond paths without duplicates, and on a 2-cycle yields
    both cross pairs plus the self-reachability pairs."""
    from information_extraction_spark.operators.graph import (
        transitive_closure,
    )

    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")],
        "des string, anc string",
    )
    got = {
        (r["des"], r["anc"])
        for r in transitive_closure(chain, doubling_rounds=3).collect()
    }
    want = {
        (x, y)
        for i, x in enumerate("abcdef")
        for j, y in enumerate("abcdef")
        if j > i
    }
    assert got == want

    diamond = spark.createDataFrame(
        [("s", "l"), ("s", "r"), ("l", "t"), ("r", "t")],
        "des string, anc string",
    )
    got = {
        (r["des"], r["anc"])
        for r in transitive_closure(diamond, doubling_rounds=2).collect()
    }
    assert got == {("s", "l"), ("s", "r"), ("l", "t"), ("r", "t"), ("s", "t")}

    cycle = spark.createDataFrame(
        [("x", "y"), ("y", "x")], "des string, anc string"
    )
    got = {
        (r["des"], r["anc"])
        for r in transitive_closure(cycle, doubling_rounds=2).collect()
    }
    assert got == {("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")}


def test_deterministic_walks_argmin_and_backtrack(spark):
    """Hand graph pinning the md5-argmin successor per step against a
    python recomputation, undirected traversal (step 2 may backtrack
    or hop to a sibling subject), and reproducibility across runs."""
    import hashlib

    from information_extraction_spark.operators.graph import (
        deterministic_walks,
    )

    edges = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("b", "y"), ("c", "y")],
        "src string, dst string",
    )

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    und = {("a", "x"), ("b", "x"), ("b", "y"), ("c", "y")}
    adj: dict[str, set[str]] = {}
    for s, o in und:
        adj.setdefault(s, set()).add(o)
        adj.setdefault(o, set()).add(s)

    def walk(start: str, steps: int = 3):
        cur, hops = start, []
        for t in range(1, steps + 1):
            nbrs = sorted(adj.get(cur, ()))
            if not nbrs:
                hops.extend([None] * (steps - len(hops)))
                break
            cur = min(nbrs, key=lambda n: (h(f"{cur}#{t}#{n}"), n))
            hops.append(cur)
        return tuple(hops)

    got = {
        r["start"]: (r["h1"], r["h2"], r["h3"])
        for r in deterministic_walks(edges, steps=3).collect()
    }
    assert set(got) == {"a", "b", "c"}
    for s in ("a", "b", "c"):
        assert got[s] == walk(s), (s, got[s], walk(s))
    # a's only neighbor is x: h1 must be x regardless of the hash.
    assert got["a"][0] == "x"
    # rerun reproduces byte-identically (no rand() anywhere).
    again = {
        r["start"]: (r["h1"], r["h2"], r["h3"])
        for r in deterministic_walks(edges, steps=3).collect()
    }
    assert again == got


def test_ktruss_k4_survives_pendant_triangle_and_bridge_drop(spark):
    """K4 on {a,b,c,d} (every edge in exactly 2 triangles) is a
    4-truss and survives; a pendant triangle {d,e,f} (support 1 per
    edge) and a bridge (a,g) (support 0) fall away in round 1, and
    their removal does not disturb the K4's supports in round 2."""
    from information_extraction_spark.operators.graph import ktruss_edges

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    extra = [("d", "e"), ("d", "f"), ("e", "f"), ("a", "g")]
    edges = spark.createDataFrame(k4 + extra, "src string, dst string")
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss_edges(edges, k=4, rounds=2).collect()
    }
    assert got == {e: 2 for e in k4}
    # k=3 (support >= 1) after one round keeps the pendant triangle
    # too; only the bridge drops.
    k3 = {
        (r["src"], r["dst"])
        for r in ktruss_edges(edges, k=3, rounds=1).collect()
    }
    assert k3 == set(k4) | {("d", "e"), ("d", "f"), ("e", "f")}


def test_ktruss_support_recomputed_per_round(spark):
    """Two triangles sharing edge (b,c): round 1 keeps only (b,c)
    (support 2), round 2 recomputes support on the SHRUNK graph —
    (b,c) now sits in zero triangles and drops. Pins that support is
    per-round, not carried over."""
    from information_extraction_spark.operators.graph import ktruss_edges

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d")],
        "src string, dst string",
    )
    one = {
        (r["src"], r["dst"]): r["support"]
        for r in ktruss_edges(edges, k=4, rounds=1).collect()
    }
    assert one == {("b", "c"): 2}
    assert ktruss_edges(edges, k=4, rounds=2).count() == 0


def test_bellman_ford_reoffers_cheaper_longer_path(spark):
    """The property BFS can't express: seed->b direct costs 10, but
    seed->a->b costs 2+3=5 — round 1 must set b=10, round 2 must
    LOWER it to 5 (re-offering an already-known node); a 3-edge tail
    c appears in round 3 at 5+1=6."""
    from information_extraction_spark.operators.graph import bellman_ford

    edges = spark.createDataFrame(
        [
            ("s", "b", 10),
            ("s", "a", 2),
            ("a", "b", 3),
            ("b", "c", 1),
        ],
        "src string, dst string, w long",
    )
    def run(rounds):
        return {
            r["entity"]: r["dist"]
            for r in bellman_ford(edges, ["s"], rounds=rounds).collect()
        }

    assert run(1) == {"s": 0, "b": 10, "a": 2}
    assert run(2) == {"s": 0, "a": 2, "b": 5, "c": 11}
    assert run(3) == {"s": 0, "a": 2, "b": 5, "c": 6}


def test_modularity_two_triangles_exact(spark):
    """The textbook case: two triangles joined by one bridge edge,
    communities = the triangles. m = 7; each community has L_c = 3
    intra edges and degree sum 7 (three degree-2 corners, one raised
    to 3 by the bridge) -> q_num = 4*7*3 - 49 = 35, q_den = 196,
    Q = 70/196 ~ 0.357. Direction and duplicate edges must not
    matter (undirected simple-graph canonicalization)."""
    from information_extraction_spark.operators.graph import modularity

    tri1 = [("a", "b"), ("b", "c"), ("c", "a")]
    tri2 = [("x", "y"), ("y", "z"), ("z", "x")]
    bridge = [("a", "x")]
    # duplicates + reversed duplicates must collapse
    edges = spark.createDataFrame(
        tri1 + tri2 + bridge + [("b", "a"), ("a", "b")],
        "src string, dst string",
    )
    communities = spark.createDataFrame(
        [(n, "t1") for n in "abc"] + [(n, "t2") for n in "xyz"],
        "entity string, community string",
    )
    got = {r["community"]: r for r in modularity(edges, communities).collect()}
    for c in ("t1", "t2"):
        r = got[c]
        assert (r["n_nodes"], r["intra_edges"], r["degree_sum"]) == (3, 3, 7)
        assert (r["q_num"], r["q_den"]) == (35, 196)
    # everyone-in-one-community gives Q = 0 exactly: L = m, D = 2m
    one = spark.createDataFrame(
        [(n, "all") for n in "abcxyz"], "entity string, community string"
    )
    r = modularity(edges, one).first()
    assert r["q_num"] == 0 and r["intra_edges"] == 7 and r["degree_sum"] == 14


def test_textrank_graph_is_adjacency_not_presence(spark, tmp_path):
    """Edges come from ADJACENT token pairs only: in 'a b c a a',
    (a,c) never co-occur adjacently so no edge; the self-pair (a,a)
    is dropped; repeated bigrams dedupe. With the symmetric closure,
    nodes {a,b,c}, edges {a-b, b-c, c-a? no — c is followed by a}."""
    import os

    from information_extraction_spark.driver_queries.textdata import (
        ta_textrank,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "a b c a a", "en", "t", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    rows = {r["word"]: r["textrank"] for r in ta_textrank(spark, d).collect()}
    assert set(rows) == {"a", "b", "c"}
    # graph: a-b, b-c, c-a (from 'c a') -> a 3-cycle; degree-regular,
    # so all ranks are exactly 1.0 at every iteration
    assert all(abs(v - 1.0) < 1e-9 for v in rows.values())


def test_conv_dedup_blocking_cap_and_jaccard(spark):
    """Hand-built conversations: c1/c2 share 2 of 3 triples (J=0.5,
    kept); c3 overlaps c1 only via a stop-triple asserted by every
    conversation (capped out -> no pair); c4 is an exact triple-set
    copy of c2 (J=1.0)."""
    from information_extraction_spark.operators.graph import conv_dedup

    rows = []
    stop = ("s9", "p9", "o9")  # in every conv -> freq 4 > cap 3
    for c, triples in {
        "c1": [("a", "p", "x"), ("b", "p", "y"), stop],
        "c2": [("a", "p", "x"), ("b", "p", "y"), ("e", "p", "z"), stop],
        "c3": [("q", "p", "r"), stop],
        "c4": [("a", "p", "x"), ("b", "p", "y"), ("e", "p", "z"), stop],
    }.items():
        rows += [(c, s, p, o) for s, p, o in triples]
    df = spark.createDataFrame(
        rows, "conv_id string, subject string, predicate string, object string"
    )
    got = {
        (r["c1"], r["c2"]): (r["shared"], r["jaccard"])
        for r in conv_dedup(df, tau=0.5, max_triple_freq=3).collect()
    }
    assert got == {
        ("c1", "c2"): (2, 0.6667),  # 2 shared / (2 + 3 - 2)
        ("c1", "c4"): (2, 0.6667),
        ("c2", "c4"): (3, 1.0),
    }


def test_sage_mean_agg_hand_mean_and_self_features(spark):
    """Star a-{b,c,d}: a's neighbor mean is the exact BIGINT div of
    the three leaf feature sums; each leaf's mean equals a's own
    features exactly; degrees count the undirected closure."""
    from information_extraction_spark.functions.hashing import h48
    from information_extraction_spark.operators.graph import sage_mean_agg

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("d", "a")], "src string, dst string"
    )
    out = {r["entity"]: r.asDict() for r in sage_mean_agg(edges).collect()}

    def feats(name):
        df = spark.range(1).select(
            *[
                (h48(F.concat(F.lit(name), F.lit(f"#g{i}"))) % 1000)
                .cast("long")
                .alias(f"f{i}")
                for i in range(4)
            ]
        )
        return df.collect()[0].asDict()

    fa = feats("a")
    assert out["a"]["degree"] == 3
    for i in range(4):
        assert out["a"][f"f{i}"] == fa[f"f{i}"]
        s = sum(feats(n)[f"f{i}"] for n in "bcd")
        assert out["a"][f"m{i}"] == s // 3
        # leaves see exactly a's features (mean of one neighbor)
        assert out["b"][f"m{i}"] == fa[f"f{i}"]
    assert out["b"]["degree"] == out["c"]["degree"] == out["d"]["degree"] == 1


def test_conductance_two_triangles_bridge_exact(spark):
    """Two triangles joined by one bridge edge, communities = the
    triangles: each side has cut=1, volume=7 (degrees 2+2+3), 2m=14,
    so phi_ppm = 1000000 div 7 = 142857 exactly. A whole-graph
    community hits the greatest-guard (denominator min(vol, 2m-vol)
    = 0 -> guarded to 1)."""
    from information_extraction_spark.operators.graph import conductance

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x"),
         ("c", "x")],
        "src string, dst string",
    )
    comm = spark.createDataFrame(
        [(n, "t1") for n in "abc"] + [(n, "t2") for n in "xyz"],
        "entity string, community string",
    )
    got = {r["community"]: r.asDict() for r in conductance(edges, comm).collect()}
    for c in ("t1", "t2"):
        assert got[c]["n_nodes"] == 3
        assert got[c]["cut_edges"] == 1
        assert got[c]["volume"] == 7
        assert got[c]["conductance_ppm"] == 142857
    whole = spark.createDataFrame(
        [(n, "all") for n in "abcxyz"], "entity string, community string"
    )
    w = conductance(edges, whole).collect()[0]
    assert w["cut_edges"] == 0 and w["conductance_ppm"] == 0


def test_wl_fingerprints_structure_keyed(spark):
    """The WL contract: fingerprints ignore entity NAMES but see
    structure and predicate labels. c1/c2 are isomorphic star graphs
    under renaming -> same fp; c3 swaps one predicate -> different fp;
    c4 is a path (different shape, same size) -> different fp; and a
    reversed-direction edge (c5 vs c1) also differs."""
    from information_extraction_spark.operators.graph import (
        wl_fingerprints,
    )

    rows = [
        # c1: hub h asserts p1->x, p2->y
        ("c1", 0, "h", "p1", "x"), ("c1", 0, "h", "p2", "y"),
        # c2: same structure, all names different
        ("c2", 0, "q", "p1", "m"), ("c2", 0, "q", "p2", "n"),
        ("c2", 0, "q", "p1", "m"), ("c2", 0, "q", "p2", "n"),
        ("c3", 0, "h", "p1", "x"), ("c3", 0, "h", "p3", "y"),
        ("c4", 0, "a", "p1", "b"), ("c4", 0, "b", "p2", "c"),
        ("c5", 0, "x", "p1", "h"), ("c5", 0, "h", "p2", "y"),
    ]
    triples = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string,"
        " predicate string, object string",
    )
    got = {
        r["conv_id"]: r.asDict()
        for r in wl_fingerprints(triples, rounds=2).collect()
    }
    assert got["c1"]["wl_fp"] == got["c2"]["wl_fp"]
    assert got["c1"]["fp_group"] == 2 and got["c2"]["fp_group"] == 2
    # c5 (x -p1-> h -p2-> y) is ISOMORPHIC to the c4 path under
    # renaming — WL must see that too, despite c5 reusing c1's names.
    assert got["c4"]["wl_fp"] == got["c5"]["wl_fp"]
    assert got["c4"]["fp_group"] == 2
    # Star (c1), predicate-swapped star (c3) and path (c4) all differ.
    fps = {got[c]["wl_fp"] for c in ("c1", "c3", "c4")}
    assert len(fps) == 3
    assert all(got[c]["n_nodes"] == 3 and got[c]["n_edges"] == 2
               for c in got)


def test_truth_discovery_reinforcement_flips_majority(spark):
    """Hand-worked Sums sweep: claim X is asserted by 2 sources whose
    other claim is widely corroborated; claim Y by 3 sources that
    assert nothing else. Raw vote picks Y (3 > 2); mutual
    reinforcement picks X. Every ppm value below is hand-computed
    through the exact integer pipeline (norm = x * 10^6 div max):
    B1(X)=333333 B1(Y)=500000 B1(corrob)=10^6; T1(good)=10^6
    T1(lone)=375000 T1(m*)=750000 T1(u*)=124999; B2(X)=400000
    B2(Y)=225000, and the u1/u2 tie resolves to the lexicographically
    smaller object."""
    from information_extraction_spark.operators.graph import (
        truth_discovery,
    )

    rows = (
        [("g1", "s1", "p", "X"), ("g2", "s1", "p", "X")]
        + [(l, "s1", "p", "Y") for l in ("l1", "l2", "l3")]
        + [
            (src, "c1", "p", "Z")
            for src in ("g1", "g2", "m1", "m2", "m3", "m4")
        ]
        + [("u1", "s2", "q", "M"), ("u2", "s2", "q", "K")]
    )
    df = spark.createDataFrame(
        rows, "source string, subject string, predicate string, object string"
    )
    got = {
        (r.subject, r.predicate): r
        for r in truth_discovery(df, rounds=1).collect()
    }
    assert set(got) == {("s1", "p"), ("s2", "q")}
    win = got[("s1", "p")]
    assert win.resolved_object == "X"  # minority outranks raw majority
    assert win.belief_ppm == 400000
    assert win.n_candidates == 2
    tie = got[("s2", "q")]
    assert tie.resolved_object == "K"  # equal belief -> object ASC
    assert tie.belief_ppm == 24999
    assert tie.n_candidates == 2


def test_betweenness_pivots_bridge_and_diamond(spark):
    """Hand-worked Brandes backward pass. Path a-b-c (pivots = b, a by
    degree then name): b is the bridge — from pivot a its delta is
    floor(1*(10^6+0)/1) = 10^6; endpoints accumulate 0. Diamond
    a-b/a-c/b-d/c-d (pivots a, b): every sigma at depth 2 is 2, so
    each interior delta is floor(1*10^6/2) = 500000 — exercises the
    per-term integer division by sigma_w."""
    from information_extraction_spark.operators.graph import (
        betweenness_pivots,
    )

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {
        r.entity: (r.bc_ppm, r.n_pivots)
        for r in betweenness_pivots(path, n_sources=2).collect()
    }
    assert got == {"a": (0, 1), "b": (1_000_000, 1), "c": (0, 2)}

    diamond = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "src string, dst string",
    )
    got = {
        r.entity: (r.bc_ppm, r.n_pivots)
        for r in betweenness_pivots(diamond, n_sources=2).collect()
    }
    assert got == {
        "a": (500_000, 1),
        "b": (500_000, 1),
        "c": (500_000, 2),
        "d": (500_000, 2),
    }


# --- Louvain move phase / motif census / precedence edges -------------------------


def test_louvain_move_path_graph_hand_trace(spark):
    """Path a-b-c-d: 2m = 6; every node's argmax-gain neighbor is its
    degree-1 end (gain 4 beats the interior's 2), producing the two
    end-pairings {a,b} and {c,d} — hand-checked gains — and the moved
    partition strictly improves modularity over singletons."""
    from information_extraction_spark.operators.graph import (
        louvain_move,
        modularity,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        r.entity: (r.community, r.best_gain, r.moved)
        for r in louvain_move(edges).collect()
    }
    assert got == {
        "a": ("b", 4, 1),
        "b": ("a", 4, 1),
        "c": ("d", 4, 1),
        "d": ("c", 4, 1),
    }
    # The move table records "joins j's community"; as a partition,
    # mutual selections merge — canonical label = min(entity, target).
    labels = spark.createDataFrame(
        [(e, min(e, c)) for e, (c, _, _) in got.items()],
        "entity string, community string",
    )
    singleton = spark.createDataFrame(
        [(e, e) for e in got], "entity string, community string"
    )
    q_moved = sum(r.q_num for r in modularity(edges, labels).collect())
    q_single = sum(
        r.q_num for r in modularity(edges, singleton).collect()
    )
    assert q_moved > q_single


def test_louvain_move_tie_and_round1_theorem(spark):
    """Equal-gain neighbors resolve to the lexicographically smallest
    (star center picks 'x' over 'y'); and the round-1 theorem — from
    singletons the average neighbor degree is < 2m/d_i, so EVERY node
    has a positive-gain neighbor and moved == 1 for all — holds on a
    denser mixed graph too."""
    from information_extraction_spark.operators.graph import louvain_move

    star = spark.createDataFrame(
        [("e", "x"), ("e", "y")], "src string, dst string"
    )
    got = {r.entity: r for r in louvain_move(star).collect()}
    assert got["e"].community == "x" and got["e"].best_gain == 2

    dense = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
         ("e", "c"), ("a", "d")],
        "src string, dst string",
    )
    assert all(r.moved == 1 for r in louvain_move(dense).collect())


def test_motif_census_hand_graph(spark):
    """One FFL, one 3-cycle, one reciprocal pair (must vanish), and a
    hub over the middle-degree cap (its wedges must not count):
    4 wedges, 1 FFL, 1 cycle, closure 500000 ppm."""
    from information_extraction_spark.operators.graph import motif_census

    edges = (
        [("a", "b"), ("b", "c"), ("a", "c")]  # FFL
        + [("x", "y"), ("y", "z"), ("z", "x")]  # cycle
        + [("p", "q"), ("q", "p")]  # reciprocal — removed
        + [("s1", "h"), ("s2", "h")]  # hub in-edges
        + [("h", f"l{i}") for i in range(5)]  # hub out-edges (deg 7 > 3)
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    r = motif_census(df, max_mid_deg=3).collect()[0]
    assert (r.n_edges_asym, r.n_wedges, r.n_ffl, r.n_cycle) == (13, 4, 1, 1)
    assert r.closure_ppm == 500_000


def test_precedence_edges_order_and_contest(spark):
    """First-mention order within a conversation yields precedence
    edges (first turn = min over subject AND object roles); a second
    conversation reversing two entities creates the reciprocal pair;
    the per-conv entity cap excludes monster conversations
    entirely."""
    from information_extraction_spark.operators.graph import (
        precedence_edges,
    )

    rows = [
        # conv1 first mentions: A and A2 at turn 0, B at 1, C at 2
        ("c1", 0, "A", "p", "A2"),
        ("c1", 1, "B", "p", "A2"),
        ("c1", 2, "C", "p", "A2"),
        # conv2 first mentions: B and B2 at 0, A at 1 -> B before A,
        # the reciprocal of conv1's A before B
        ("c2", 0, "B", "p", "B2"),
        ("c2", 1, "A", "p", "B2"),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subject string,"
        " predicate string, object string"
    )
    e = {(r.src, r.dst) for r in precedence_edges(t).collect()}
    assert ("A", "B") in e and ("B", "A") in e  # contested order
    assert ("A", "C") in e and ("B", "C") in e
    assert ("A2", "B") in e and ("A", "A2") not in e  # tie at turn 0
    assert ("B2", "A") in e and ("B", "B2") not in e

    # cap 3: conv1 (4 entities: A, A2, B, C) is excluded wholesale;
    # conv2 (3 entities: B, B2, A) survives.
    capped = {
        (r.src, r.dst)
        for r in precedence_edges(t, max_conv_entities=3).collect()
    }
    assert capped == {("B", "A"), ("B2", "A")}


def test_louvain_levels_stay_and_single_community(spark):
    """Two triangles joined by one bridge: round-1 pointers close
    into the two triangles; on the aggregated graph the merge gain
    is 2m·1 − 7·7 = −35 < 0 — both supernodes STAY (the positivity
    guard binding, which round 1 provably cannot show). A 3-path
    collapses to ONE community: no inter edges, target = self,
    best_gain = 0."""
    from information_extraction_spark.operators.graph import louvain_levels

    tri2 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z"),
         ("a", "x")],
        "src string, dst string",
    )
    got = {
        r.community: (r.n_members, r.sigma, r.intra_edges, r.target,
                      r.best_gain, r.moved)
        for r in louvain_levels(tri2).collect()
    }
    assert got == {
        "a": (3, 7, 3, "a", -35, 0),
        "x": (3, 7, 3, "x", -35, 0),
    }

    path3 = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    got2 = [
        (r.community, r.n_members, r.sigma, r.intra_edges, r.target,
         r.best_gain, r.moved)
        for r in louvain_levels(path3).collect()
    ]
    assert got2 == [("a", 3, 4, 2, "a", 0, 0)]


def test_louvain_converge_two_triangles_hand_trace(spark):
    """Two triangles {a,b,c} / {d,e,f} bridged by c-d (m = 7).

    Hand trace: level 1 pointers a<->b mutual (gain 10), c->a (tie
    a/b -> a), d->e (tie e/f -> e), e<->f mutual (gain 10); without
    mutual-pair demotion EVERY pointed node is a center and the level
    stalls with positive gains live — the bug this fixture pins.
    With demotion (b and f demoted): stars {a,b,c} and {e,f,d},
    exact group dq = 4*7*3 - ((2+2+3)^2 - (4+4+9)) = 84 - 32 = 52
    each; q0 = -34, q1 = -34 + 104 = 70. Level 2: the two
    super-communities have w=1, sigma=7 each -> gain 2*7*1 - 49 < 0,
    no pointer, converged. Final partition = the two triangles."""
    from information_extraction_spark.operators.graph import (
        louvain_converge,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")],
        "src string, dst string",
    )
    rows, memb = louvain_converge(edges, max_levels=8)
    assert [
        (r["lvl"], r["n_moved"], r["n_communities"], r["q_before"],
         r["q_after"], r["q_cert"], r["n_fallback"])
        for r in rows
    ] == [
        (1, 4, 2, -34, 70, 1, 0),
        (2, 0, 2, 70, 70, 1, 0),
    ]
    got = {r.entity: r.community for r in memb.collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "e", "e": "e", "f": "e"}


def test_louvain_converge_q_monotone_on_seeded_graph(spark):
    """A 40-node seeded random graph: every executed level must carry
    a green certificate (q_after = q_before + predicted dq AND
    q_after >= q_before) and the loop must end in a no-move level
    within the bound — the monotone-convergence contract that the
    synchronous pointer-closure variant (louvain_levels) provably
    lacks."""
    import random

    from information_extraction_spark.operators.graph import (
        louvain_converge,
    )

    rng = random.Random(11)
    pairs = set()
    while len(pairs) < 90:
        x, y = rng.randrange(40), rng.randrange(40)
        if x != y:
            pairs.add((f"n{min(x, y):02d}", f"n{max(x, y):02d}"))
    edges = spark.createDataFrame(
        sorted(pairs), "src string, dst string"
    )
    rows, _ = louvain_converge(edges, max_levels=10)
    assert all(r["q_cert"] == 1 for r in rows)
    assert rows[-1]["n_moved"] == 0
    qs = [rows[0]["q_before"]] + [r["q_after"] for r in rows]
    assert qs == sorted(qs)


@pytest.mark.parametrize(
    "pairs", [[], [("a", "a"), ("b", "b")]], ids=["empty", "self_loops_only"]
)
def test_louvain_converge_without_edges(spark, pairs):
    """With no edge left after dropping self-loops (m = 0) the result
    is one converged no-move level at Q = 0 and an empty membership."""
    from information_extraction_spark.operators.graph import (
        louvain_converge,
    )

    edges = spark.createDataFrame(pairs, "src string, dst string")
    rows, memb = louvain_converge(edges)
    assert rows == [
        dict(lvl=1, n_moved=0, n_communities=0, q_before=0, q_after=0,
             q_cert=1, n_fallback=0)
    ]
    assert memb.columns == ["entity", "community"]
    assert memb.count() == 0
    assert louvain_converge(edges, track_membership=False)[1] is None


@pytest.mark.parametrize("use_checkpoint_dir", [False, True],
                         ids=["driver_temp", "checkpoint_dir"])
def test_louvain_converge_scratch_removed_on_failure(
    spark, tmp_path, monkeypatch, use_checkpoint_dir
):
    """The per-level parquet scratch lives under the SparkContext's
    checkpoint directory when one is set (else the driver temp dir)
    and is deleted even when a level raises."""
    import tempfile

    from information_extraction_spark.operators import graph

    sc = spark.sparkContext
    if use_checkpoint_dir:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        root = sc.getCheckpointDir().split(":", 1)[1]
    else:
        root = str(tmp_path / "tmp")
        os.makedirs(root)
        monkeypatch.setattr(tempfile, "tempdir", root)

    def scratch_dirs():
        return [d for d in os.listdir(root) if d.startswith("ie_louvain_state_")]

    seen = []
    real_stats = graph._louvain_state_stats

    def failing_stats(*args):
        seen.append(scratch_dirs())
        if len(seen) == 2:  # inside level 1, after its state spilled
            raise RuntimeError("injected level failure")
        return real_stats(*args)

    monkeypatch.setattr(graph, "_louvain_state_stats", failing_stats)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")],
        "src string, dst string",
    )
    try:
        with pytest.raises(RuntimeError, match="injected level failure"):
            graph.louvain_converge(edges)
    finally:
        if use_checkpoint_dir:
            sc.setCheckpointDir(None)
    assert len(seen) == 2 and len(seen[1]) == 1  # scratch was under root
    assert scratch_dirs() == []
