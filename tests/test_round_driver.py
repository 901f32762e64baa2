"""Iterative operators leave persisted exactly the checkpoints their
result reads: each round's replaced state, every in-round cut and every
one-shot cut the result does not read are released before the call
returns."""

from __future__ import annotations

import os

import pytest

# Two triangles joined through a-d and b-e: 9 directed edges.
_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d"),
    ("a", "d"), ("b", "e"),
]


def _edges(spark):
    return spark.createDataFrame(_EDGES, "src string, dst string")


def _write_embeddings(spark, tmp_path, n=24, dim=4):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 3)
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(os.path.join(tmp_path, "embeddings.parquet"))
    return str(tmp_path)


def _write_documents(spark, tmp_path):
    import pandas as pd

    texts = ["abab abab abab", "aaaa aaaa", "abc cab"]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp_path, "documents.parquet")
    )
    return str(tmp_path)


def _graph(name, **kw):
    def run(spark, tmp_path):
        from information_extraction_spark.operators import graph

        return getattr(graph, name)(_edges(spark), **kw)

    return run


def _canonical_ktruss(spark, tmp_path):
    from pyspark.sql import functions as F

    from information_extraction_spark.operators.graph import ktruss_edges

    e = _edges(spark).select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    )
    return ktruss_edges(e, k=3, rounds=2)


def _bellman_ford(spark, tmp_path):
    from information_extraction_spark.operators.graph import bellman_ford

    w = spark.createDataFrame(
        [(s, d, i + 1) for i, (s, d) in enumerate(_EDGES)],
        "src string, dst string, w long",
    )
    return bellman_ford(w, ["a"], rounds=3)


def _truth_discovery(spark, tmp_path):
    from information_extraction_spark.operators.graph import truth_discovery

    claims = spark.createDataFrame(
        [
            ("s1", "x", "p", "o1"), ("s2", "x", "p", "o1"),
            ("s3", "x", "p", "o2"), ("s3", "y", "p", "o3"),
            ("s1", "y", "p", "o3"), ("s2", "y", "p", "o4"),
        ],
        "source string, subject string, predicate string, object string",
    )
    return truth_discovery(claims, rounds=2)


def _louvain(spark, tmp_path):
    from information_extraction_spark.operators.graph import louvain_converge

    return louvain_converge(_edges(spark))[1]


def _star_contraction(spark, tmp_path):
    from information_extraction_spark.operators.linking import (
        _star_contraction,
    )

    return _star_contraction(_edges(spark))


def _stable_rank(spark, tmp_path):
    from information_extraction_spark.functions.ranking import stable_rank

    return stable_rank(_edges(spark).select("src").distinct(), "src")


def _segmented_running_sum(spark, tmp_path):
    from information_extraction_spark.functions.ranking import (
        segmented_running_sum,
    )

    rows = [(f"k{i % 3}", i, i * 7 % 5) for i in range(30)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    return segmented_running_sum(df, "k", ["t"], "v")


def _query(name, write):
    def run(spark, tmp_path):
        from information_extraction_spark.driver_queries import textdata

        return getattr(textdata, name)(spark, write(spark, tmp_path))

    return run


_CALLS = {
    "pagerank": _graph("pagerank"),
    "hits": _graph("hits"),
    "label_propagation": _graph("label_propagation"),
    "bfs_distances": _graph("bfs_distances", seeds=["a"]),
    "landmark_distances": _graph("landmark_distances"),
    "shortest_path_counts": _graph("shortest_path_counts"),
    "kcore_peel": _graph("kcore_peel"),
    "ktruss_edges": _canonical_ktruss,
    "bellman_ford": _bellman_ford,
    "truth_discovery": _truth_discovery,
    "betweenness_pivots": _graph("betweenness_pivots"),
    "ppr_push": _graph("ppr_push"),
    "louvain_converge": _louvain,
    "star_contraction": _star_contraction,
    "emb_coreset": _query("emb_coreset", _write_embeddings),
    "ann_graph_search": _query("ann_graph_search", _write_embeddings),
    "p18_bpe_train": _query("p18_bpe_train", _write_documents),
    "p19_bpe_encode": _query("p19_bpe_encode", _write_documents),
    "stable_rank": _stable_rank,
    "segmented_running_sum": _segmented_running_sum,
    "ta_seat_alloc": _query("ta_seat_alloc", _write_documents),
}


@pytest.mark.parametrize("name", sorted(_CALLS))
def test_call_leaves_only_the_checkpoints_its_result_reads(
    spark, tmp_path, persisted_ids, plan_rdd_ids, name
):
    before = persisted_ids()
    result = _CALLS[name](spark, tmp_path)
    result.collect()
    assert persisted_ids() - before == plan_rdd_ids(result) - before


def test_raising_call_releases_every_cut(spark, persisted_ids):
    """A call that raises mid-loop leaves none of its cuts persisted:
    not the loop invariant, the replaced rounds, nor the round in
    flight."""
    from information_extraction_spark.operators.checkpoint import (
        cut,
        iterate,
        releases_unread_cuts,
    )

    @releases_unread_cuts
    def failing(df):
        e = cut(df)

        def step(state, i):
            new = cut(state.join(e, ["src", "dst"]))
            if i == 2:
                raise RuntimeError("injected round failure")
            return new

        return iterate(cut(df), step, 5)

    before = persisted_ids()
    with pytest.raises(RuntimeError, match="injected round failure"):
        failing(_edges(spark))
    assert persisted_ids() - before == set()
