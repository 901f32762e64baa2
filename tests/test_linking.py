"""Entity linking: connected components over alias chains +
canonicalization joins, and the salted-join helper."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from information_extraction_spark.functions.skew import salted_count, salted_join
from information_extraction_spark.operators import linking
from information_extraction_spark.operators.linking import (
    canonical_mapping,
    canonicalize_triples,
    connected_components,
)


def _edges(spark, pairs, key="string"):
    return spark.createDataFrame(pairs, f"src {key}, dst {key}")


@pytest.fixture
def star_leg(monkeypatch):
    """Every graph with an edge runs star contraction; returns the list
    the star-contraction calls are appended to."""
    calls = []
    star = linking._star_contraction

    def counted(edges):
        calls.append(edges)
        return star(edges)

    monkeypatch.setattr(linking, "CC_DRIVER_EDGES", 0)
    monkeypatch.setattr(linking, "_star_contraction", counted)
    return calls


def test_connected_components_chain_and_islands(spark):
    """Chain a-b-c merges into one component (min member id); the
    isolated pair keeps its own."""
    comps = connected_components(
        _edges(spark, [("b", "a"), ("b", "c"), ("x", "y"), ("m", "m2")])
    )
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x",
        "m": "m", "m2": "m",
    }


def test_canonicalize_triples_with_world_aliases(spark, world):
    mapping = canonical_mapping(
        spark.createDataFrame(world.alias_dict)
    ).collect()
    by_surface = {r["surface"]: r["canonical_id"] for r in mapping}
    # Chain entities must share a canonical id.
    chain_rows = world.alias_dict[
        world.alias_dict.alias.str.startswith(world.alias_dict.canonical.iloc[0][:1])
    ]
    # Head entity aliases (skew) all map to one id.
    head = world.alias_dict.canonical.value_counts().idxmax()
    head_aliases = world.alias_dict[world.alias_dict.canonical == head].alias
    head_ids = {by_surface[a] for a in head_aliases if a in by_surface}
    assert len(head_ids) == 1

    triples = spark.createDataFrame(
        pd.DataFrame(
            {
                "subject": [head_aliases.iloc[0], "unknown entity"],
                "predicate": ["rel00", "rel00"],
                "object": [head, "《另一个》"],
            }
        )
    )
    out = canonicalize_triples(
        triples, spark.createDataFrame(world.alias_dict)
    ).collect()
    rows = {r["subject"]: r for r in out}
    # Alias and canonical surface agree on one canonical id.
    assert (
        rows[head_aliases.iloc[0]]["subject_canonical"]
        == rows[head_aliases.iloc[0]]["object_canonical"]
    )
    # Unknown surfaces canonicalize to their normalized selves.
    assert rows["unknown entity"]["subject_canonical"] == "unknown entity"
    assert rows["unknown entity"]["object_canonical"] == "另一个"


def test_salted_join_matches_plain_join(spark):
    fact = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"k": [str(i) for i in range(7)], "name": [f"d{i}" for i in range(7)]})
    )
    plain = fact.join(dim, "k").groupBy("name").count()
    salted = salted_join(fact, dim, "k").groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_count_matches_groupby(spark):
    df = spark.range(0, 5000).select((F.col("id") % 3).alias("k"))
    expected = sorted(map(tuple, df.groupBy("k").count().collect()))
    got = sorted(map(tuple, salted_count(df, ["k"]).collect()))
    assert got == expected


def _chain(n):
    return [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n - 1)]


def _bfs_components(pairs):
    """Oracle: each node's label is the minimum node reachable from it
    by breadth-first search over the undirected, NULL-free edges."""
    adj: dict[str, set[str]] = {}
    for a, b in pairs:
        if a is None or b is None:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {}
    for start in adj:
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [v for u in frontier for v in adj[u] if v not in seen]
            seen.update(frontier)
        labels[start] = min(seen)
    return labels


def _random_graph(seed, n=18, m=22):
    rng = random.Random(seed)
    return [
        (f"v{rng.randrange(n):02d}", f"v{rng.randrange(n):02d}")
        for _ in range(m)
    ]


def _bigint(pairs):
    """``pairs`` over BIGINT keys in the nodes' order, spaced so that
    decimal-string order differs from numeric order (999999937 sorts
    after 1999999874 as text) and most keys pass 2^31."""
    nodes = sorted({n for p in pairs for n in p if n is not None})
    key = {n: (i + 1) * 999_999_937 for i, n in enumerate(nodes)}
    return [tuple(key.get(n) for n in p) for p in pairs]


_CC_GRAPHS = {
    "chain41": _chain(41),
    "star": [("z", f"m{i}") for i in range(6)],  # rooted at the max id
    "islands": [("b", "a"), ("b", "c"), ("x", "y"), ("m", "m2"),
                ("c", "d"), ("q", "b")],
    "self_loops": [("q", "q"), ("r", "r"), ("r", "s"), ("a", "b")],
    "nulls": [("a", None), (None, "b"), (None, None), ("c", "d"),
              ("d", "e")],
    "empty": [],
    "random7": _random_graph(7),
    "random8": _random_graph(8),
    "random9": _random_graph(9),
}


@pytest.mark.parametrize("leg", ["driver", "distributed"])
@pytest.mark.parametrize(
    "pairs,key",
    [pytest.param(p, "string", id=name) for name, p in _CC_GRAPHS.items()]
    + [
        pytest.param(_bigint(p), "bigint", id=f"{name}_bigint")
        for name, p in _CC_GRAPHS.items()
    ],
)
def test_cc_matches_bfs_oracle(spark, monkeypatch, pairs, key, leg):
    """Both legs (driver union-find, and star contraction forced by a
    zero driver bound) label every node with the minimum node it
    reaches, in the edges' own key type, checked against a BFS oracle
    that shares no formula with either."""
    if leg == "distributed":
        monkeypatch.setattr(linking, "CC_DRIVER_EDGES", 0)
    comps = connected_components(_edges(spark, pairs, key))
    assert comps.schema["node"].dataType == comps.schema["component"].dataType
    assert comps.schema["node"].dataType.simpleString() == key
    got = {r["node"]: r["component"] for r in comps.collect()}
    assert got == _bfs_components(pairs)


def test_distributed_cc_keeps_only_result_persisted(
    spark, persisted_ids, plan_rdd_ids
):
    """Star contraction checkpoints its edge set every round; each
    superseded round and the edge and node checkpoints are released,
    so exactly the checkpoint the returned labels read stays
    persisted."""
    pairs = _chain(41)
    e = _edges(spark, pairs)
    before = persisted_ids()
    dist = linking._star_contraction(e)
    got = {r["node"]: r["component"] for r in dist.collect()}
    assert persisted_ids() - before == plan_rdd_ids(dist) - before
    assert len(plan_rdd_ids(dist) - before) == 1
    assert got == _bfs_components(pairs)


def _canonicalize(spark, tmp_path):
    alias_df = spark.createDataFrame(
        [("Alpha", "beta"), ("beta", "Gamma"), ("x", "y")],
        "canonical string, alias string",
    )
    triples = spark.createDataFrame(
        [("gamma", "p", "Y"), ("beta", "q", "other"), ("z", "p", "alpha")],
        "subject string, predicate string, object string",
    )
    return lambda: canonicalize_triples(triples, alias_df)


def _er_merge(spark, tmp_path):
    rows = [
        ("c", 0, "a", "p", "o1"), ("c", 1, "a", "p", "o2"),
        ("c", 2, "b", "p", "o1"), ("c", 3, "b", "p", "o2"),
        ("c", 4, "b", "q", "o3"), ("c", 5, "b", "q", "o4"),
        ("c", 6, "cc", "q", "o3"), ("c", 7, "cc", "q", "o4"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    return lambda: linking.apply_er_merge(df, tau=0.5)


def _catalog_query(name, table, pdf):
    def make(spark, tmp_path):
        from information_extraction_spark.driver_queries import textdata

        spark.createDataFrame(pdf).write.parquet(
            str(tmp_path / f"{table}.parquet")
        )
        return lambda: getattr(textdata, name)(spark, str(tmp_path))

    return make


_FOX, _LOREM = "the quick brown fox", "lorem ipsum dolor sit"
_DOCS = pd.DataFrame(
    {
        "doc_id": range(7),
        "text": [_FOX, _LOREM, _FOX, _LOREM, _FOX, "unrelated words 5",
                 "unrelated words 6"],
        "lang": "en",
        "source": "t",
        "n_chars": 20,
    }
)
_rng = random.Random(7)
_EMBEDDINGS = pd.DataFrame(
    {
        "vec_id": range(24),
        "embedding": [
            [_rng.uniform(-1, 1) for _ in range(4)] for _ in range(24)
        ],
        "label": [i % 3 for i in range(24)],
    }
)

_RELABEL_CALLS = {
    "canonicalize_triples": _canonicalize,
    "apply_er_merge": _er_merge,
    "dd_dup_clusters": _catalog_query("dd_dup_clusters", "documents", _DOCS),
    "dd_semdedup_keep": _catalog_query(
        "dd_semdedup_keep", "embeddings", _EMBEDDINGS
    ),
}


@pytest.mark.parametrize("name", sorted(_RELABEL_CALLS))
def test_relabel_callers_star_leg_matches_driver_and_leaves_no_cut(
    spark, tmp_path, persisted_ids, request, name
):
    """Each relabel caller gives the same rows on both CC legs, and on
    the star-contraction leg leaves no checkpoint persisted: its
    labels are held on the driver and every round cut is released."""
    run = _RELABEL_CALLS[name](spark, tmp_path)
    driver = sorted(map(tuple, run().collect()))
    calls = request.getfixturevalue("star_leg")
    before = persisted_ids()
    star = sorted(map(tuple, run().collect()))
    assert calls, "the star-contraction leg did not run"
    assert persisted_ids() - before == set()
    assert star == driver


def test_relabel_keeps_key_type_and_unlinked_keys(spark):
    """Labels keep the key's type; a key outside the graph (or NULL)
    labels itself."""
    big = 3_000_000_000
    df = spark.createDataFrame(
        [(big + 9,), (big + 10,), (big + 1,), (7,), (None,)], "k bigint"
    )
    edges = _edges(
        spark, [(big + 10, big + 9), (big + 9, big + 100)], "bigint"
    )
    out = linking.relabel(df, edges, c="k")
    assert out.schema["c"].dataType.simpleString() == "bigint"
    assert sorted(map(tuple, out.collect()), key=str) == sorted(
        [(big + 9, big + 9), (big + 10, big + 9), (big + 1, big + 1),
         (7, 7), (None, None)],
        key=str,
    )


# --- er_candidates ----------------------------------------------------------


def test_er_candidates_blocked_jaccard(spark):
    from information_extraction_spark.operators.linking import er_candidates

    rows = [
        # e1 and e2 share 2 of their union-of-3 slots -> jaccard 2/3
        ("c", 0, "e1", "p", "o1"),
        ("c", 1, "e1", "p", "o2"),
        ("c", 2, "e2", "p", "o1"),
        ("c", 3, "e2", "p", "o2"),
        ("c", 4, "e2", "q", "o3"),
        # e3 shares nothing discriminative
        ("c", 5, "e3", "q", "o9"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        (r["s1"], r["s2"]): (r["shared"], r["jaccard"])
        for r in er_candidates(df, tau=0.5).collect()
    }
    assert got == {("e1", "e2"): (2, 0.6667)}
    # tau above the pair's jaccard filters it out
    assert er_candidates(df, tau=0.7).count() == 0


def test_er_candidates_stop_slot_cap(spark):
    from information_extraction_spark.operators.linking import er_candidates

    # (p, hub) is asserted by 3 subjects; with max_slot_freq=2 it is a
    # stop-slot and leaves BOTH intersection and union, so e1/e2's
    # only remaining shared slot is (q, x): jaccard = 1/1 = 1.0 (each
    # has exactly one non-stop slot).
    rows = [
        ("c", 0, "e1", "p", "hub"),
        ("c", 1, "e2", "p", "hub"),
        ("c", 2, "e3", "p", "hub"),
        ("c", 3, "e1", "q", "x"),
        ("c", 4, "e2", "q", "x"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    got = {
        (r["s1"], r["s2"]): (r["shared"], r["jaccard"])
        for r in er_candidates(df, tau=0.5, max_slot_freq=2).collect()
    }
    # e3's only slot was the stop-slot: it exits the universe entirely.
    assert got == {("e1", "e2"): (1, 1.0)}
    # Without the cap the hub slot counts: shared=2 of union 2 -> all
    # three pairs appear (e1-e3 and e2-e3 share 1 of 2 -> 0.5).
    got_all = {
        (r["s1"], r["s2"]) for r in er_candidates(df, tau=0.5).collect()
    }
    assert got_all == {("e1", "e2"), ("e1", "e3"), ("e2", "e3")}


# --- build_er_slot_index + er_probe -----------------------------------------


def test_er_probe_against_built_index(spark):
    from information_extraction_spark.operators.linking import (
        build_er_slot_index,
        er_probe,
    )

    schema = (
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string"
    )
    base = spark.createDataFrame(
        [
            ("c", 0, "b1", "p", "o1"),
            ("c", 1, "b1", "p", "o2"),
            ("c", 2, "b2", "q", "o9"),
            # (p, hub) hits 3 base subjects -> stop-slot at cap 2
            ("c", 3, "b1", "p", "hub"),
            ("c", 4, "b2", "p", "hub"),
            ("c", 5, "b3", "p", "hub"),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            # n1 shares both of b1's non-stop slots -> jaccard 2/2=1.0
            ("d", 0, "n1", "p", "o1"),
            ("d", 1, "n1", "p", "o2"),
            # the stop slot must NOT create pairs or count in degrees
            ("d", 2, "n1", "p", "hub"),
            # n2 shares nothing non-stop
            ("d", 3, "n2", "p", "hub"),
        ],
        schema,
    )
    index, stop = build_er_slot_index(base, max_slot_freq=2)
    assert {(r["predicate"], r["object"]) for r in stop.collect()} == {
        ("p", "hub")
    }
    # b3's only slot was the stop slot: it leaves the index entirely.
    assert "b3" not in {r["subject"] for r in index.collect()}
    got = {
        (r["s_base"], r["s_new"]): (r["shared"], r["jaccard"])
        for r in er_probe(index, stop, new, tau=0.5).collect()
    }
    assert got == {("b1", "n1"): (2, 1.0)}
    # identity pairs are excluded even when surfaces coincide
    new_same = spark.createDataFrame([("d", 0, "b1", "p", "o1")], schema)
    assert er_probe(index, stop, new_same, tau=0.0).count() == 0


def test_apply_er_merge_rewrites_and_reaggregates(spark):
    from information_extraction_spark.operators.linking import apply_er_merge

    rows = [
        # e1/e2 jaccard 2/3 >= 0.5 -> one component, min member e1
        ("c1", 0, "e1", "p", "o1"),
        ("c1", 1, "e1", "p", "o2"),
        ("c2", 2, "e2", "p", "o1"),
        ("c2", 3, "e2", "p", "o2"),
        ("c2", 4, "e2", "q", "o3"),
        # e3 shares nothing -> stays itself
        ("c1", 5, "e3", "q", "o9"),
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
            r["n_surfaces"],
        )
        for r in apply_er_merge(df, tau=0.5).collect()
    }
    assert got == {
        ("e1", "p", "o1"): (2, 2, 2),
        ("e1", "p", "o2"): (2, 2, 2),
        ("e1", "q", "o3"): (1, 1, 1),  # surface e2, canonical e1
        ("e3", "q", "o9"): (1, 1, 1),
    }


def test_apply_er_merge_transitive_chain(spark):
    from information_extraction_spark.operators.linking import apply_er_merge

    # a~b and b~c each meet tau, a~c does NOT (0 shared slots):
    # the CC closure must still fold all three into component "a".
    rows = [
        ("c", 0, "a", "p", "o1"),
        ("c", 1, "a", "p", "o2"),
        ("c", 2, "b", "p", "o1"),
        ("c", 3, "b", "p", "o2"),
        ("c", 4, "b", "q", "o3"),
        ("c", 5, "b", "q", "o4"),
        ("c", 6, "cc", "q", "o3"),
        ("c", 7, "cc", "q", "o4"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, subject string, predicate string,"
        " object string",
    )
    merged = apply_er_merge(df, tau=0.5).collect()
    assert {r["subject"] for r in merged} == {"a"}
    # 4 distinct slots survive, each folding its contributing surfaces
    by_slot = {
        (r["predicate"], r["object"]): r["n_surfaces"] for r in merged
    }
    assert by_slot == {
        ("p", "o1"): 2,
        ("p", "o2"): 2,
        ("q", "o3"): 2,
        ("q", "o4"): 2,
    }


def test_resource_alloc_scores_and_hub_cap(spark):
    """Hand graph: s1,s2 share objects oA (deg 2 -> 500000 ppm) and
    oB (deg 3 -> 333333 ppm); s2,s3 and s1,s3 share only oB; a hub
    object above the cap contributes nothing."""
    from information_extraction_spark.operators.linking import (
        resource_alloc_pairs,
    )
    from pyspark.sql import functions as F  # noqa: F401

    rows = [
        ("s1", "p", "oA"), ("s2", "p", "oA"),
        ("s1", "p", "oB"), ("s2", "q", "oB"), ("s3", "p", "oB"),
        # duplicate assertion must not double-count the edge:
        ("s1", "q", "oA"),
    ]
    # hub object shared by 5 subjects, cap at 4 -> excluded entirely.
    rows += [(f"s{i}", "p", "hub") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "subject string, predicate string, object string")
    got = {
        (r["s1"], r["s2"]): (r["n_shared"], r["ra_ppm"])
        for r in resource_alloc_pairs(df, max_obj_deg=4).collect()
    }
    assert got == {
        ("s1", "s2"): (2, 500000 + 333333),
        ("s1", "s3"): (1, 333333),
        ("s2", "s3"): (1, 333333),
    }


def test_jaccard_neighbors_consistent_capped_universe(spark):
    """Degrees and pairs share the hub-capped edge set: dropping a
    hub shrinks BOTH intersection and union. Hand graph: N(s1) =
    {oA, oB}, N(s2) = {oA, oB, oC} -> J = 2/3; with a hub edge added
    to both, the capped score is UNCHANGED (the hub leaves the
    universe), while an uncapped run would score 3/4."""
    from information_extraction_spark.operators.linking import (
        jaccard_neighbor_pairs,
    )

    rows = [
        ("s1", "p", "oA"), ("s2", "p", "oA"),
        ("s1", "p", "oB"), ("s2", "p", "oB"),
        ("s2", "p", "oC"),
        # duplicate assertion: distinct() must collapse it.
        ("s1", "q", "oA"),
    ]
    rows += [(f"s{i}", "p", "hub") for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "subject string, predicate string, object string"
    )
    got = {
        (r["s1"], r["s2"]): (r["n_shared"], r["jaccard_ppm"])
        for r in jaccard_neighbor_pairs(df, max_obj_deg=4).collect()
    }
    # capped: d(s1)=2, d(s2)=3, shared=2 -> 2*1e6 div 3 = 666666.
    assert got[("s1", "s2")] == (2, 666666)
    # hub pairs (e.g. s3,s4) share ONLY the hub -> absent entirely.
    assert ("s3", "s4") not in got
    # uncapped control: hub joins the universe; s1,s2 now share 3 of
    # 4 -> 750000, and a hub-only pair (N = {hub} on both sides) is
    # a perfect match: union = 1, J = 1.
    unc = {
        (r["s1"], r["s2"]): (r["n_shared"], r["jaccard_ppm"])
        for r in jaccard_neighbor_pairs(df, max_obj_deg=100).collect()
    }
    assert unc[("s1", "s2")] == (3, 750000)
    assert unc[("s3", "s4")] == (1, 1000000)


def test_sorted_neighborhood_window_and_normalization(spark):
    """A typo pair lands in different hash blocks but adjacent sort
    positions; normalization ignores case/punctuation; pairs appear
    only within window-1 sort positions; gap and lev are exact."""
    from information_extraction_spark.operators.linking import (
        sorted_neighborhood_pairs,
    )

    # normalized sort order: aaaa, aaab, mmmm, mmmn, zzzz
    ents = spark.createDataFrame(
        [("aaaa",), ("A.A-a b!",), ("mmmm",), ("mmmn",), ("zzzz",)],
        "e string",
    )
    got = {
        (r["ea"], r["eb"]): (r["gap"], r["lev"])
        for r in sorted_neighborhood_pairs(ents, window=3).collect()
    }
    # "A.A-a b!" normalizes to "aaab": sorts right after "aaaa".
    assert got[("aaaa", "A.A-a b!")] == (1, 7)
    assert got[("mmmm", "mmmn")][1] == 1
    # window=3 -> gaps 1..2 only; (aaaa, mmmn) is 3 apart -> absent.
    assert all(g in (1, 2) for g, _ in got.values())
    assert ("aaaa", "mmmn") not in got
    # every adjacent pair present: 4 gap-1 + 3 gap-2 pairs.
    assert len(got) == 7
