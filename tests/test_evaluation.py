"""Spark calc_pr vs an independent in-test reimplementation of the
official evaluation semantics (calc_pr.py:141-224), on a handcrafted
fixture where the alias, book-name, lowercase, and duplicate-text
rules each change the score — plus the end-to-end P/R gate."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from information_extraction_spark import schemas as S
from information_extraction_spark.operators.evaluation import calc_pr
from information_extraction_spark.plans.pipeline import extract_triples

# ---------------------------------------------------------------------------
# In-test oracle (independent reimplementation of calc_pr.py semantics)
# ---------------------------------------------------------------------------


def _norm(e: str | None) -> str | None:
    if e is None:
        return None
    e = e.lower()
    if e.startswith("《") and e.endswith("》") and len(e) >= 2:
        e = e[1:-1]
    return e


def _load(rows):
    d: dict[str, set] = {}
    for text, s, p, o in rows:
        d.setdefault(text, set()).add((_norm(s), p, _norm(o)))
    return d


def oracle_counts(pred_rows, gold_rows, alias=None, loc=None):
    """(correct, predicted, golden) triple counts."""
    alias = alias or {}
    loc = loc or {}
    gold = _load(gold_rows)
    pred = _load(pred_rows)
    correct = psum = rsum = 0
    for sent, gset in gold.items():
        pset = pred.get(sent, set())
        rsum += len(gset)
        psum += len(pset)
        for s, p, o in pset:
            if s is None or o is None:
                continue  # a NULL entity equals nothing (SQL join keys)
            ok = (s, p, o) in gset
            if not ok:
                for sa in alias.get(s, set()) | {s}:
                    for oa in alias.get(o, set()) | {o}:
                        if (sa, p, oa) in gset:
                            ok = True
            if not ok:
                for gs, gp, go in gset:
                    if s == gs and p == gp and o in loc.get(go, set()):
                        ok = True
            if ok:
                correct += 1
    return correct, psum, rsum


def oracle_calc_pr(pred_rows, gold_rows, alias=None, loc=None):
    correct, psum, rsum = oracle_counts(pred_rows, gold_rows, alias, loc)
    precision = correct / psum if psum else 0.0
    recall = correct / rsum if rsum else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return round(precision, 4), round(recall, 4), round(f1, 4)


# Fixture: each rule matters somewhere.
GOLD_ROWS = [
    ("s1", "端脑", "主演", "朱元冰"),
    ("s1", "端脑", "导演", "于中中"),
    ("s2", "alice zhang", "founder", "acme corp"),
    ("s3", "碑", "作者", "维克多"),
    ("s3", "碑", "出版社", "上海社"),
    ("s4", "big co", "ceo", "bob li"),
    ("s5", "x2", "rel", "y2"),
    ("s6", "只在golden", "rel", "无预测"),
    ("s8", "x8", "rel", "y8"),
    ("s9", "x9", "rel", "y9"),
]
PRED_ROWS = [
    ("s1", "《端脑》", "主演", "朱元冰"),  # book-name strip → correct
    ("s1", "端脑", "导演", "错人"),  # wrong object
    ("s2", "Alice Zhang", "founder", "ACME CORP"),  # lowercase → correct
    ("s3", "碑", "作者", "维克多"),  # exact
    ("s3", "石碑", "出版社", "上海社"),  # alias 石碑→碑 → correct
    ("s4", "big co", "ceo", "robert li"),  # alias robert li→bob li → correct
    ("s5", "x2", "rel", "y2-loc"),  # loc expansion of golden y2 → correct
    ("s5", "x2", "rel", "y-extra"),  # wrong
    ("s7", "不在golden", "rel", "被忽略"),  # sentence not in golden: ignored
    # Mixed endpoints (calc_pr.py s_alias_set.add(s)): one endpoint
    # matches gold DIRECTLY while itself having aliases, the other
    # matches via alias — the identity member of the expansion set.
    ("s8", "x8", "rel", "y8-alias"),  # subject direct (has aliases), object via alias
    ("s9", "x9-alias", "rel", "y9"),  # subject via alias, object direct (has aliases)
]
ALIAS = {
    "石碑": {"碑"},
    "robert li": {"bob li"},
    "x8": {"x8-other"},
    "y8-alias": {"y8"},
    "x9-alias": {"x9"},
    "y9": {"y9-other"},
}
LOC = {"y2": {"y2-loc"}}


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["text", "subject", "predicate", "object"])
    return spark.createDataFrame(pdf)


def _dict_df(spark, d):
    rows = [(k, a) for k, al in d.items() for a in al]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["canonical", "alias"]))


def test_calc_pr_matches_oracle_all_rules(spark):
    expected = oracle_calc_pr(PRED_ROWS, GOLD_ROWS, ALIAS, LOC)
    got = calc_pr(
        _df(spark, PRED_ROWS),
        _df(spark, GOLD_ROWS),
        alias_df=_dict_df(spark, ALIAS),
        loc_df=_dict_df(spark, LOC),
    ).collect()[0]
    assert (got["precision"], got["recall"], got["f1"]) == expected
    # Sanity: 8 correct of 10 counted predictions, 10 golden
    # (the two mixed alias/direct rows must both count as correct).
    assert got["correct_sum"] == 8.0
    assert got["predict_sum"] == 10.0
    assert got["recall_sum"] == 10.0


def test_calc_pr_no_dicts(spark):
    expected = oracle_calc_pr(PRED_ROWS, GOLD_ROWS)
    got = calc_pr(_df(spark, PRED_ROWS), _df(spark, GOLD_ROWS)).collect()[0]
    assert (got["precision"], got["recall"], got["f1"]) == expected


def test_duplicate_text_sentences_collapse(spark):
    """Two turns with verbatim-identical text merge into one golden
    sentence (dict-keyed-by-text, calc_pr.py:85,118)."""
    gold = [("dup", "a1", "p", "b1"), ("dup", "a1", "p", "b1")]
    pred = [("dup", "a1", "p", "b1")]
    got = calc_pr(_df(spark, pred), _df(spark, gold)).collect()[0]
    assert got["recall_sum"] == 1.0 and got["recall"] == 1.0


# ---------------------------------------------------------------------------
# Random small inputs against the oracle
# ---------------------------------------------------------------------------

_WORDS = ["a", "b", "head", "h1", "h2", "h3"]
# An entity as rows carry it: a word as-is, upper-cased or 《》-wrapped
# (all three normalize to the word), the bare 《》 (normalizes to ""),
# or NULL.
_entity = st.one_of(
    st.sampled_from(_WORDS),
    st.sampled_from(_WORDS).map(str.upper),
    st.sampled_from(_WORDS).map(lambda w: f"《{w}》"),
    st.just("《》"),
    st.none(),
)


def _triples(keys):
    return st.lists(
        st.tuples(st.sampled_from(keys), _entity, st.sampled_from(["p", "q"]), _entity),
        max_size=8,
    )


_word_dict = st.dictionaries(
    st.sampled_from(_WORDS),
    st.sets(st.sampled_from(_WORDS), min_size=1, max_size=3),
    max_size=3,
)
_TRIPLE_SCHEMA = "text string, subject string, predicate string, object string"
_DICT_SCHEMA = "canonical string, alias string"
_HEAD_ALIASES = {"head": {"a", "b", "h1", "h2", "h3"}}


def _rows_df(spark, rows, schema):
    columns = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=columns), schema)


@given(
    pred=_triples(["k1", "k2", "k3", "k4"]),  # k4 is never a golden key
    gold=_triples(["k1", "k2", "k3"]),
    alias=st.none() | _word_dict,
    loc=st.none() | _word_dict,
)
@example(pred=[], gold=[("k1", "a", "p", "b")], alias=None, loc=None)
@example(pred=[("k1", "a", "p", "b")], gold=[], alias=_HEAD_ALIASES, loc=None)
@example(
    pred=[
        # alias on the subject, wrapped object; matches two golden
        # triples through two aliases and still counts once
        ("k1", "H1", "p", "《B》"),
        ("k1", None, "p", "b"),
        ("k1", "head", "q", None),
        ("k2", "a", "p", "h2"),  # loc expansion of the golden object
        ("k4", "a", "p", "b"),  # sentence absent from gold
    ],
    gold=[
        ("k1", "head", "p", "b"),
        ("k1", "a", "p", "b"),
        ("k1", None, "p", "b"),
        ("k2", "A", "p", "《h3》"),
        ("k3", "a", "q", "b"),
    ],
    alias={"h1": {"head", "a"}, **_HEAD_ALIASES},
    loc={"h3": {"h2"}},
)
@settings(max_examples=30, deadline=None)
def test_calc_pr_matches_oracle_on_random_inputs(
    spark, persisted_ids, pred, gold, alias, loc
):
    """calc_pr equals the oracle's counts and scores on random small
    inputs, and leaves no RDD persisted behind it. The examples pin
    empty pred, empty gold, and one input that has every rule at once."""

    def dict_df(d):
        if d is None:
            return None
        rows = [(k, a) for k, al in d.items() for a in sorted(al)]
        return _rows_df(spark, rows, _DICT_SCHEMA)

    before = persisted_ids()
    got = calc_pr(
        _rows_df(spark, pred, _TRIPLE_SCHEMA),
        _rows_df(spark, gold, _TRIPLE_SCHEMA),
        alias_df=dict_df(alias),
        loc_df=dict_df(loc),
    ).collect()[0]
    correct, predicted, golden = oracle_counts(pred, gold, alias, loc)
    assert (got["correct_sum"], got["predict_sum"], got["recall_sum"]) == (
        correct, predicted, golden
    )
    assert (got["precision"], got["recall"], got["f1"]) == oracle_calc_pr(
        pred, gold, alias, loc
    )
    assert persisted_ids() - before == set()


@pytest.fixture(scope="module")
def pipeline_eval(spark, world, transcripts_pdf, golden_pdf):
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    gold = spark.createDataFrame(golden_pdf[["text", "subject", "predicate", "object"]])

    def run(kb_pdf):
        kb = spark.createDataFrame(kb_pdf, schema=S.KNOWLEDGE_BASE)
        triples = extract_triples(spark, tdf, kb, sch)
        return calc_pr(
            triples.select("text", "subject", "predicate", "object"), gold
        ).collect()[0]

    return run


def test_clean_pipeline_scores_perfect(pipeline_eval, world):
    got = pipeline_eval(world.kb_clean)
    assert got["precision"] == 1.0 and got["recall"] == 1.0


def test_noisy_pipeline_clears_gate_but_is_discriminative(pipeline_eval, world):
    """BASELINE.json gate: P/R >= 0.95 vs reference-semantics golden;
    the injected KB noise must also keep it < 1.0 so the eval can
    actually fail."""
    got = pipeline_eval(world.kb_noisy)
    assert got["precision"] >= 0.95 and got["recall"] >= 0.95
    assert got["precision"] < 1.0 or got["recall"] < 1.0
