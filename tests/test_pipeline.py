"""End-to-end Spark pipeline tests: exact parity with the pure-Python
reference extractor, order invariance, and the per-turn text-equality
invariant (BASELINE.json input_hint)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from information_extraction_spark import schemas as S
from information_extraction_spark.plans.pipeline import extract_triples

TRIPLE_KEY = ["conv_id", "turn_idx", "predicate", "subject", "object"]


def _spark_triples(spark, world, transcripts_pdf) -> pd.DataFrame:
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    out = extract_triples(spark, tdf, kb, sch)
    return out.toPandas()


def _key_set(pdf: pd.DataFrame) -> set[tuple]:
    return set(
        pdf[
            TRIPLE_KEY + ["subject_type", "object_type"]
        ].itertuples(index=False, name=None)
    )


def test_pipeline_matches_reference_oracle_exactly(
    spark, world, transcripts_pdf, golden_pdf
):
    """Clean-KB Spark run must equal the pure-Python reference
    extractor output triple-for-triple (P = R = 1.0)."""
    got = _spark_triples(spark, world, transcripts_pdf)
    assert len(got) == len(got.drop_duplicates(TRIPLE_KEY))
    assert _key_set(got) == _key_set(golden_pdf)


def test_pipeline_output_invariant_to_input_order(
    spark, world, transcripts_pdf
):
    """The reference relied on file order; we must not. A differently
    shuffled/partitioned input yields the identical triple set."""
    reshuffled = transcripts_pdf.sample(frac=1.0, random_state=7).reset_index(
        drop=True
    )
    a = _key_set(_spark_triples(spark, world, transcripts_pdf))
    tdf = spark.createDataFrame(reshuffled, schema=S.TRANSCRIPTS).repartition(13)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    b = _key_set(extract_triples(spark, tdf, kb, sch).toPandas())
    assert a == b


def test_per_turn_text_equality_invariant(spark, world, transcripts_pdf):
    """Every output row's text must byte-equal the source turn's text
    under the (conv_id, turn_idx) key (north-rule per-turn invariant;
    reference analog: postag-concat == text,
    pytorch/analysis/check_composition.py:7-16)."""
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    triples = extract_triples(spark, tdf, kb, sch)
    src = tdf.select("conv_id", "turn_idx", F.col("text").alias("src_text"))
    joined = triples.join(src, ["conv_id", "turn_idx"], "left")
    mismatches = joined.filter(
        F.col("src_text").isNull() | (F.col("text") != F.col("src_text"))
    ).count()
    assert mismatches == 0


def test_entities_are_substrings_of_text(spark, world, transcripts_pdf):
    """Emitted entities must occur in the turn text
    (pytorch/analysis/check_composition.py:21-29)."""
    got = _spark_triples(spark, world, transcripts_pdf)
    assert len(got) > 0
    for row in got.itertuples():
        assert row.subject.lower() in row.text.lower()
        assert row.object.lower() in row.text.lower()


def test_dual_schema_predicate_first_listed_wins(spark, world, transcripts_pdf):
    """成立日期 carries two schema rows; emitted triples must use the
    first-listed subject_type (produce_submit_json_file.py:275)."""
    got = _spark_triples(spark, world, transcripts_pdf)
    dual = got[got.predicate == "成立日期"]
    assert len(dual) > 0
    assert set(dual.subject_type) == {"机构"}


def _reference_keys(world, transcripts_pdf, kb_pdf, threshold):
    """Triple keys of the dict-KB ``reference_extract``
    (classify_predicates → bieso_tags → decode_bieso), which shares no
    code with the KnowledgeBase kernel."""
    from information_extraction_spark.kernels.extraction import (
        reference_extract,
    )

    kb: dict[str, list[tuple[str, str]]] = {}
    for p, s, o in kb_pdf[["predicate", "subject", "object"]].itertuples(
        index=False, name=None
    ):
        if (s, o) not in kb.setdefault(p, []):  # a KB is a set of entries
            kb[p].append((s, o))
    return {
        (row.conv_id, row.turn_idx, p, s, o, st, ot)
        for row in transcripts_pdf.itertuples()
        if row.text
        for s, p, o, st, ot in reference_extract(
            row.text, kb, world.schema_types, threshold=threshold
        )
    }


def test_fused_path_matches_staged_path(spark, world, transcripts_pdf):
    """extract_triples must equal the dict-KB reference extractor at
    every threshold regime — below the pseudo-scores' range (0.0),
    inside it (0.3), the default (0.5, 0.99) and above the fired score
    (1.0, where only the top-k fallback remains) — on the clean KB and
    the NOISY KB (dropped + spurious entries exercise the fallback
    top-k and cross-pair one-sided-match corners)."""
    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    for kb_pdf in (world.kb_clean, world.kb_noisy):
        kb = spark.createDataFrame(kb_pdf, schema=S.KNOWLEDGE_BASE)
        for threshold in (0.0, 0.3, 0.5, 0.99, 1.0):
            got = extract_triples(
                spark, tdf, kb, sch, threshold=threshold
            ).toPandas()
            assert len(got) == len(got.drop_duplicates(TRIPLE_KEY))
            assert _key_set(got) == _reference_keys(
                world, transcripts_pdf, kb_pdf, threshold
            ), threshold


def test_empty_input_yields_empty_triples(spark, world):
    """Degenerate input: zero turns must produce zero triples through
    the fused path without error (schema intact)."""
    empty = spark.createDataFrame([], schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    out = extract_triples(spark, empty, kb, sch)
    assert out.count() == 0
    assert set(TRIPLE_KEY).issubset(set(out.columns))


def test_all_miss_batch_yields_empty_not_crash(spark, world):
    """A partition whose every turn produces zero work units must
    yield an EMPTY Arrow batch with the declared schema — the
    all-float64 empty pandas default crashed streaming micro-batches
    with ArrowNotImplementedError on list<string>."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c2"],
            "turn_idx": [0, 0],
            "role": ["user"] * 2,
            "text": ["zzzz qqqq", "qqqq wwww"],  # match no KB entity
            "tool": [None] * 2,
            "ts": [pd.Timestamp("2026-01-01")] * 2,
        }
    )
    tdf = spark.createDataFrame(pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    out = extract_triples(spark, tdf, kb, sch)
    assert out.count() == 0


def test_fused_stage_serves_threshold_below_default(
    spark, world, transcripts_pdf
):
    """The fused stage serves a threshold below 0.5, where non-fired
    predicates with a pseudo-score above it are predicted too."""
    from information_extraction_spark.operators import extract as ex

    tdf = spark.createDataFrame(transcripts_pdf, schema=S.TRANSCRIPTS)
    kb = spark.createDataFrame(world.kb_clean, schema=S.KNOWLEDGE_BASE)
    sch = spark.createDataFrame(world.schemas, schema=S.RELATION_SCHEMAS)
    got = ex.assemble_triples(
        ex.classify_tag_decode_stage(
            ex.ordered_transcripts(tdf),
            ex.broadcast_kb(spark, kb),
            threshold=0.3,
        ),
        sch,
    ).toPandas()
    expect = _reference_keys(world, transcripts_pdf, world.kb_clean, 0.3)
    assert _key_set(got) == expect
    assert expect != _reference_keys(
        world, transcripts_pdf, world.kb_clean, 0.5
    )
