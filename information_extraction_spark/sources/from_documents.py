"""Derive the KG-construction inputs deterministically from the
driver-provided ``documents`` table (/root/testdata/sf*/documents.parquet).

No external data: the transcripts are the documents re-shaped into
multi-turn conversations (BASELINE.json input_hint shape), and the
knowledge base is derived from the corpus vocabulary by fixed index
arithmetic — so the same derivation is reproducible in ANSI SQL for
the DuckDB oracle (see queries.py) and scales with the sf directory.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_spark import schemas as S

TURN_WORDS = 12  # words per derived turn
# Corpus time origin for the deterministic ts derivation below; the
# single source of truth — oracle SQL that re-derives ts arithmetic
# (streamq, kg_temporal_extent) must reference this constant, never
# re-inline the literal.
TS_ORIGIN = "2026-01-01 00:00:00"
N_PREDICATES = 50
ENTRIES_PER_PREDICATE = 12
N_BIGRAMS = 200


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def transcripts_from_documents(
    spark: SparkSession,
    sf_dir: str,
    turn_words: int = TURN_WORDS,
    replicate: int = 1,
) -> DataFrame:
    """Re-shape each document into one conversation of ~``turn_words``
    word turns. Deterministic: conv_id = doc<doc_id>[.r<k>], ts derived
    from doc_id/turn_idx. ``replicate`` scales the corpus for bench
    runs (each replica is an independent conversation)."""
    docs = read_documents(spark, sf_dir)
    # The documents table arrives as a single small parquet split; the
    # turn fan-out below multiplies it ~50x, so spread the source rows
    # across cores BEFORE exploding or the derivation runs serially.
    docs = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # A NULL text must become ONE empty turn, not the 2 phantom turns
    # the raw arithmetic would mint (size(split(NULL))=-1 → ceil→0 →
    # sequence(0,-1) yields [0,-1]). The current fixtures carry no
    # NULLs, but the table contract allows them and every oracle that
    # re-derives turn counts assumes coalesce-to-empty.
    docs = docs.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    if replicate > 1:
        docs = docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
    else:
        docs = docs.withColumn("rep", F.lit(0))
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(turn_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(words, i * turn_words + 1, turn_words), " "
        ),
    )
    out = (
        docs.select(
            F.concat(
                F.lit("doc"),
                F.col("doc_id").cast("string"),
                F.lit("."),
                F.col("rep").cast("string"),
            ).alias("conv_id"),
            F.col("doc_id"),
            F.col("rep"),
            F.posexplode(chunks).alias("turn_idx", "text"),
        )
        # Replicas are TEXTUALLY unique (a per-replica marker word on
        # every turn): a replicated bench corpus must not be 16
        # byte-identical copies, or any per-text memoization (the
        # fused kernel has one) collapses the workload and the bench
        # measures fixed overhead instead of kernel work. The marker
        # is a token absent from the source vocabulary, so it cannot
        # create or destroy KB entity matches. replicate=1 (the
        # correctness/golden path) is byte-identical to the source.
        .withColumn(
            "text",
            F.when(
                F.col("rep") > 0,
                F.concat("text", F.lit(" zq"), F.col("rep").cast("string")),
            ).otherwise(F.col("text")),
        )
        .select(
            "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                (F.col("turn_idx") % 3) + 1,
            ).alias("role"),
            "text",
            F.when(F.col("turn_idx") % 3 == 2, F.lit("search")).alias("tool"),
            (
                F.to_timestamp(F.lit(TS_ORIGIN))
                + F.make_interval(secs=F.col("doc_id") * 3600 + F.col("turn_idx") * 30)
            ).alias("ts"),
        )
    )
    return out.select([f.name for f in S.TRANSCRIPTS.fields])


def vocabulary(spark: SparkSession, sf_dir: str) -> list[str]:
    """Distinct words (len>=2) of the corpus, sorted — the subject
    entity pool. Deterministic and tiny (a dim)."""
    docs = read_documents(spark, sf_dir)
    rows = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .distinct()
        .orderBy("word")
        .collect()
    )
    return [r["word"] for r in rows]


def alias_chain_pairs(vocab: list[str]) -> list[tuple[str, str]]:
    """Deterministic (canonical, alias) chain over the sorted vocab:
    word[i] → word[i+1] with every third edge broken, yielding many
    small components. Single source of truth for the alias graph the
    kg_entity_linking query, its recursive-CTE oracle, and bench.py's
    linking stage all share — change the chain rule here and nowhere
    else (the oracle SQL mirrors it and is cross-checked per round)."""
    return [
        (vocab[i], vocab[i + 1])
        for i in range(len(vocab) - 1)
        if i % 3 != 2
    ]


def top_bigrams(
    spark: SparkSession, sf_dir: str, n: int = N_BIGRAMS
) -> list[str]:
    """Top-n adjacent-word bigrams by (count desc, bigram asc) — the
    object entity pool. Deterministic tie-break on the bigram string."""
    docs = read_documents(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    rows = (
        docs.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .count()
        .orderBy(F.col("count").desc(), F.col("bigram"))
        .limit(n)
        .collect()
    )
    return [r["bigram"] for r in rows]


def kb_from_documents(
    spark: SparkSession,
    sf_dir: str,
    n_predicates: int = N_PREDICATES,
    entries_per_predicate: int = ENTRIES_PER_PREDICATE,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic KB + schema dim from corpus vocabulary.

    Entry (k, i): subject = vocab[(7k + 3i) mod V],
    object = bigrams[(11k + 5i + 1) mod B]. The same arithmetic is
    reproduced in the DuckDB oracle SQL, so the classification stage
    is oracle-checkable end to end.
    """
    vocab = vocabulary(spark, sf_dir)
    bigrams = top_bigrams(spark, sf_dir)
    v, b = len(vocab), len(bigrams)
    kb_rows, schema_rows = [], []
    for k in range(n_predicates):
        pred = f"rel{k:02d}"
        schema_rows.append((k, pred, f"T{k % 7}", f"U{k % 5}"))
        for i in range(entries_per_predicate):
            kb_rows.append(
                (pred, vocab[(7 * k + 3 * i) % v], bigrams[(11 * k + 5 * i + 1) % b])
            )
    # Built from pandas, so each is a LocalRelation whose plan carries
    # its rows: a checkpointed extract_triples over them can resume
    # (operators/checkpoint.input_identity).
    kb = spark.createDataFrame(
        pd.DataFrame(
            sorted(set(kb_rows)), columns=S.KNOWLEDGE_BASE.fieldNames()
        ),
        schema=S.KNOWLEDGE_BASE,
    )
    schemas = spark.createDataFrame(
        pd.DataFrame(schema_rows, columns=S.RELATION_SCHEMAS.fieldNames()),
        schema=S.RELATION_SCHEMAS,
    )
    return kb, schemas
