"""Spark-native implementation of the official evaluation
(calc_pr.py:164-224): alias-aware micro P/R/F1 over normalized
(subject, predicate, object) triples.

Semantics reproduced exactly:

* entities are lowercased and stripped of one enclosing 《》 pair
  (del_bookname, calc_pr.py:41-45 — anchored at BOTH ends; lowercase
  at :82-83,114-115),
* per-sentence triple SETS (duplicates collapse, :73-85,112-117);
  sentences are keyed by text, so verbatim-duplicate sentences merge
  (dict-keyed-by-text, :85,118) — our engine keys by (conv_id,
  turn_idx) internally but the official eval contract is text-keyed,
* predicted sentences absent from the golden set are ignored entirely
  (predict_sum only counts sentences the golden dict contains, :199-207),
* a predicted (s,p,o) is correct if it is in the golden set directly,
  or any (alias(s), p, alias(o)) combination is (:141-154), or the
  golden object expands through the location dict with exact s,p
  match (:155-161),
* P = correct/predicted, R = correct/golden, F1 harmonic, all rounded
  to 4 decimals (:211-217).

Scale: ``calc_pr`` is one query and one action, with no cache. Both
dictionaries are dimensions → broadcast joins (the object-side alias
map reuses the subject side's broadcast). The shuffles are the
per-text dedups of gold and pred, the alias map's dedup, the distinct
golden keys (broadcast back to filter predict_sum), and one
single-partition exchange per count; the three counts come back as
the rows of one union. The correct-set dedup adds no shuffle while
the golden set fits a broadcast: broadcast joins keep pred's
(key, s, p, o) partitioning. Each branch scans its own input: the
optimizer infers different not-null filters per branch, so gold is
read three times and pred twice, which at evaluation sizes costs less
than caching them. Alias expansion of a skewed head entity is bounded
by the broadcast (no shuffle key to skew).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_entity(col: Column) -> Column:
    """lower + del_bookname (strip 《》 only when the string both
    starts AND ends with them, calc_pr.py:41-45)."""
    low = F.lower(col)
    wrapped = (
        low.startswith("《") & low.endswith("》") & (F.length(low) >= 2)
    )
    return F.when(
        wrapped, F.substring(low, 2, F.length(low) - 2)
    ).otherwise(low)


def normalized_spo_sets(triples: DataFrame, key: str = "text") -> DataFrame:
    """Per-key normalized triple set, one row per (key, s, p, o)."""
    return triples.select(
        F.col(key).alias("key"),
        normalize_entity(F.col("subject")).alias("s"),
        F.col("predicate").alias("p"),
        normalize_entity(F.col("object")).alias("o"),
    ).dropDuplicates(["key", "s", "p", "o"])


def _alias_map(alias_df: DataFrame | None, out_key: str, out_alias: str) -> DataFrame | None:
    """Alias dim as (key, alias) pairs INCLUDING the identity pair for
    every key. calc_pr.py builds ``s_alias_set.add(s)`` — the entity
    itself is always a member of its own expansion — so a left join on
    this map must emit BOTH the identity row and every alias row.
    Without the identity rows, coalesce(alias, x) yields only the
    aliases whenever any exist, and a triple matching gold directly on
    one endpoint but via alias on the other is wrongly missed."""
    if alias_df is None:
        return None
    pairs = alias_df.select(
        F.lower("canonical").alias(out_key), F.lower("alias").alias(out_alias)
    )
    identity = pairs.select(out_key, F.col(out_key).alias(out_alias))
    return pairs.unionByName(identity).dropDuplicates()


def alias_expanded_matches(
    pred: DataFrame,
    gold: DataFrame,
    s_map: DataFrame,
    o_map: DataFrame,
) -> DataFrame:
    """J5: {x} ∪ alias(x) expansion on both endpoints, then a semi
    join against the golden set (calc_pr.py:146-153).

    Contract: ``s_map``/``o_map`` must contain the IDENTITY pair for
    every key they map (as ``_alias_map`` builds them) — the left join
    emits one row per map entry, so without identity rows an entity
    that has aliases would lose its own name from the expansion set.

    Skew shape (SURVEY §2.3, north rule "head entities"): a hot head
    entity can dominate the pred side's ``s``/``o`` columns, so the
    alias maps join as BROADCAST left joins — the fact side never
    shuffles on the (skewed) entity key, which makes the expansion
    skew-immune by construction. The final semi join keys on
    (key, s_a, p, o_a): the sentence key leads, so even a head entity
    spreads across that join's hash space. If the alias dim ever
    outgrows broadcast range, functions.skew.salted_join is the
    drop-in for these two joins (equality of the two paths is pinned
    by tests/test_aqe_skew.py).
    """
    s_exp = pred.join(F.broadcast(s_map), "s", "left").select(
        "key", F.coalesce("s_alt", "s").alias("s_a"), "s", "p", "o"
    )
    both = (
        s_exp.join(F.broadcast(o_map), "o", "left")
        .select(
            "key", "s_a", F.coalesce("o_alt", "o").alias("o_a"), "s", "p", "o"
        )
    )
    return both.join(
        gold.select(
            "key", F.col("s").alias("s_a"), "p", F.col("o").alias("o_a")
        ),
        ["key", "s_a", "p", "o_a"],
        "left_semi",
    ).select("key", "s", "p", "o")


def calc_pr(
    predicted: DataFrame,
    golden: DataFrame,
    alias_df: DataFrame | None = None,
    loc_df: DataFrame | None = None,
    key: str = "text",
) -> DataFrame:
    """One-row DataFrame (correct_sum, predict_sum, recall_sum,
    precision, recall, f1) with calc_pr.py semantics.

    ``predicted`` / ``golden`` carry (key, subject, predicate, object);
    ``alias_df`` / ``loc_df`` carry (canonical, alias).
    """
    gold = normalized_spo_sets(golden, key=key)
    pred = normalized_spo_sets(predicted, key=key)
    # Sentences outside the golden dict are ignored (calc_pr.py:199).
    # Every match join below keys on the sentence, so they can never
    # match; they only have to leave predict_sum.
    scored = pred.join(
        F.broadcast(gold.select("key").distinct()), "key", "left_semi"
    )

    s_map = _alias_map(alias_df, "s", "s_alt")
    if s_map is None:
        correct = pred.join(gold, ["key", "s", "p", "o"], "left_semi")
    else:
        # The expansion also yields every direct match: the maps carry
        # each key's identity pair and coalesce() keeps unmapped
        # entities as they are.
        o_map = _alias_map(alias_df, "o", "o_alt")
        correct = alias_expanded_matches(pred, gold, s_map, o_map)

    if loc_df is not None:
        # Golden-object location expansion (calc_pr.py:155-161).
        g_map = _alias_map(loc_df, "o", "o_alt")
        gold_exp = gold.join(F.broadcast(g_map), "o", "left").select(
            "key", "s", "p", F.coalesce("o_alt", "o").alias("o")
        )
        correct = correct.unionByName(
            pred.join(gold_exp, ["key", "s", "p", "o"], "left_semi")
        )

    # All three counts come from one query and one action, each row
    # tagged with its position.
    counts = (
        correct.dropDuplicates(["key", "s", "p", "o"])
        .agg(F.lit(0), F.count("*"))
        .unionAll(scored.agg(F.lit(1), F.count("*")))
        .unionAll(gold.agg(F.lit(2), F.count("*")))
        .collect()
    )
    correct_ct, predict_ct, recall_ct = (n for _, n in sorted(counts))
    precision = correct_ct / predict_ct if predict_ct else 0.0
    recall = correct_ct / recall_ct if recall_ct else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    # Built from pandas, the row is a local relation: collecting the
    # result runs no Spark job (a Python list would ship as an RDD).
    row = pd.DataFrame(
        [[
            float(correct_ct),
            float(predict_ct),
            float(recall_ct),
            round(precision, 4),
            round(recall, 4),
            round(f1, 4),
        ]],
        columns=[
            "correct_sum", "predict_sum", "recall_sum",
            "precision", "recall", "f1",
        ],
    )
    return predicted.sparkSession.createDataFrame(row)
