"""Third batch of oracle-checked operator queries: postag expansion
(P2, labeling/dataset.py:12-27), vocab index + truncate + left-pad
(P8/P9, classification/dataset.py:65-76), multimodal feature
extraction (operators/multimodal.py), and WordPiece tokenization
(P4, greedy longest-match vs a recursive-CTE oracle) — paths that
were previously covered only by unit tests, now value-checked against
DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_spark.driver_queries._registry import _q, _t
from information_extraction_spark.operators.checkpoint import (
    cut,
    releases_unread_cuts,
)


def _corpus_chars(words: DataFrame) -> set[str]:
    """Distinct characters of a one-column `word` DataFrame, computed
    distributedly (the char set is alphabet-bounded — the ONLY thing
    collected; never the word list itself). Shared by the wordpiece
    queries so their vocab derivations cannot drift."""
    return {
        r["c"]
        for r in words.select(F.explode(F.split("word", "")).alias("c"))
        .filter(F.length("c") > 0)
        .distinct()
        .collect()
    }


# --- P2: postag expansion (repeat each word's POS per character so the
# POS sequence aligns 1:1 with chars, labeling/dataset.py:12-27).
# POS here is a deterministic surrogate (no gold postag in the test
# corpus): 'n' for words of >= 5 chars else 'v'.


@_q(
    "p2_postag_expand",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), t AS (
      SELECT doc_id,
             CASE WHEN length(word) >= 5 THEN 'n' ELSE 'v' END AS pos,
             length(word) AS n
      FROM w WHERE word <> ''
    )
    SELECT doc_id, pos, CAST(sum(n) AS BIGINT) AS n_chars
    FROM t GROUP BY doc_id, pos
    """,
)
def p2_postag_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split("text", " "), lambda w: w != F.lit(""))
    # The actual expansion operator: one POS repeated per character of
    # its word, flattened — all JVM higher-order functions, no UDF.
    expanded = F.flatten(
        F.transform(
            words,
            lambda w: F.array_repeat(
                F.when(F.length(w) >= 5, "n").otherwise("v"),
                F.length(w).cast("int"),
            ),
        )
    )
    return (
        d.select("doc_id", F.explode(expanded).alias("pos"))
        .groupBy("doc_id", "pos")
        .agg(F.count("*").cast("long").alias("n_chars"))
    )


# --- P8/P9: vocab index + truncate to max len + LEFT-pad
# (classification left-pads: [pad]*(n-len) + ids,
# classification/dataset.py:65-76; truncate dataset_bert.py:32).

_MAX_TOKENS = 12
_PAD_TO = 16

_PAD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) t
), vocab AS (
  SELECT word, row_number() OVER (ORDER BY word) AS id
  FROM (SELECT DISTINCT word FROM toks) v
), k AS (
  SELECT doc_id, least(count(*), {_MAX_TOKENS}) AS k
  FROM toks GROUP BY doc_id
), slots AS (
  SELECT doc_id, k, unnest(range(1, {_PAD_TO} + 1)) AS s FROM k
), ids AS (
  SELECT t.doc_id, t.i, v.id
  FROM toks t JOIN vocab v USING (word)
  WHERE t.i <= {_MAX_TOKENS}
)
SELECT s.doc_id, CAST(s.s AS BIGINT) AS slot,
       CAST(coalesce(i.id, 0) AS BIGINT) AS token_id
FROM slots s LEFT JOIN ids i
  ON i.doc_id = s.doc_id AND i.i = s.s - ({_PAD_TO} - s.k)
"""


@_q("p8_index_pad", _PAD_ORACLE)
def p8_index_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "word")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "word")
    from information_extraction_spark.functions.ranking import stable_rank

    # Two-phase distributed rank (functions/ranking.py) — no global
    # unpartitioned row_number window over the vocabulary.
    vocab = stable_rank(toks.select("word").distinct(), "word", "id", start=1)
    # Vocab is a dimension (J2) — broadcast, never a shuffle join.
    indexed = (
        toks.filter(F.col("i") <= _MAX_TOKENS)
        .join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "id"))),
                lambda x: x["id"],
            ).alias("ids")
        )
    )
    # The actual P8 operator: LEFT-pad with 0 to the fixed length.
    padded = F.concat(
        F.array_repeat(F.lit(0).cast("long"), _PAD_TO - F.size("ids")),
        F.col("ids"),
    )
    return indexed.select(
        "doc_id", F.posexplode(padded).alias("s0", "token_id")
    ).select("doc_id", (F.col("s0") + 1).cast("long").alias("slot"), "token_id")


# --- Multimodal feature extraction (operators/multimodal.py): binary
# payloads synthesized deterministically from document text, pushed
# through the REAL mapInPandas plumbing (stubbed decode derives fake
# dims from the payload's md5 bytes — SQL-expressible, so the whole
# path is oracle-checked).

_HEXPOS = "(strpos('0123456789abcdef', substring(d, {k}, 1)) - 1)"


def _hex_byte(k: int) -> str:
    return f"({_HEXPOS.format(k=k)} * 16 + {_HEXPOS.format(k=k + 1)})"


_MM_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image'
                         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         md5(text) AS d,
         octet_length(encode(text)) AS n_bytes
  FROM documents WHERE text IS NOT NULL
)
SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes, d AS digest,
       CAST(16 + {_hex_byte(1)} % 240 AS BIGINT) AS width,
       CAST(16 + {_hex_byte(3)} % 240 AS BIGINT) AS height,
       CAST(CASE WHEN kind = 'image' THEN 1
                 ELSE 1 + {_hex_byte(5)} % 30 END AS BIGINT) AS n_frames,
       CAST(NULL AS BIGINT) AS sample_rate,
       CAST(NULL AS BIGINT) AS channels
FROM m
"""


@_q("mm_features", _MM_ORACLE)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.multimodal import (
        extract_features,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit("synthetic").alias("source"),
    )
    feats = extract_features(media, deterministic_fake=True)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "digest",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
    )


# --- Real header codecs (BMP image dims, WAV rate/channels/frames):
# payloads are REAL format-conformant bytes built deterministically
# from doc_id (operators/multimodal.make_bmp/make_wav), decoded by
# the native parsers with deterministic_fake=False — the oracle
# recomputes every field arithmetically from the same doc_id formulas
# (the constructed-expectation pattern). VERDICT r02 #6.

_MM_CODEC_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CAST(CASE WHEN doc_id % 2 = 0
            THEN 54 + (((4 + doc_id % 29) * 3 + 3) // 4) * 4
                      * (3 + (doc_id // 3) % 17)
            ELSE 44 + (50 + doc_id % 101) * (1 + (doc_id // 5) % 2) * 2
       END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 29 END
            AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 3 + (doc_id // 3) % 17 END
            AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1
            ELSE 50 + doc_id % 101 END AS BIGINT) AS n_frames,
       CAST(CASE WHEN doc_id % 2 = 1
            THEN 8000 + (doc_id % 8) * 1000 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 1 THEN 1 + (doc_id // 5) % 2 END
            AS BIGINT) AS channels
FROM documents WHERE text IS NOT NULL
"""


@_q("mm_codec_features", _MM_CODEC_ORACLE)
def mm_codec_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP/WAV payloads → native header parse (no fake path):
    a narrow mapInPandas builds format-conformant bytes per media_id,
    then extract_features(deterministic_fake=False) must decode them
    with the pure-Python BMP/WAV parsers."""
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        extract_features,
        make_bmp,
        make_wav,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("media_id"))
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid % 2 == 0:
                    payload = make_bmp(
                        4 + mid % 29, 3 + (mid // 3) % 17, seed=mid
                    )
                    kind = "image"
                else:
                    payload = make_wav(
                        50 + mid % 101,
                        sample_rate=8000 + (mid % 8) * 1000,
                        channels=1 + (mid // 5) % 2,
                        seed=mid,
                    )
                    kind = "audio"
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "payload": bytearray(payload),
                        "mime": None,
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA.fields]
            )

    media = ids.mapInPandas(build, schema=MEDIA)
    feats = extract_features(media, deterministic_fake=False)
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
    )


# --- Frame sampling (operators/multimodal.sample_frames): one row per
# sampled frame index, every_k=5, over the NATIVELY-decoded features
# (image → 1 frame, audio → the WAV data chunk's real frame count).
# The explode is narrow — no shuffle between decode and fan-out. The
# oracle regenerates the stride from the same n_frames arithmetic the
# codec oracle pins (VERDICT r03 #6).

_MM_FRAMES_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         CASE WHEN doc_id % 2 = 0 THEN 1
              ELSE 50 + doc_id % 101 END AS n_frames
  FROM documents WHERE text IS NOT NULL
)
SELECT media_id, kind,
       CAST(unnest(range(0, n_frames, 5)) AS BIGINT) AS frame_idx
FROM m
"""


@_q("mm_frames", _MM_FRAMES_ORACLE)
def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.multimodal import (
        sample_frames,
    )

    feats = mm_codec_features(spark, sf_dir)
    return sample_frames(feats, every_k=5).select(
        "media_id",
        "kind",
        F.col("frame_idx").cast("long").alias("frame_idx"),
    )


# --- P4: WordPiece tokenization (kernels/tokenizer.wordpiece_tokenize,
# reference tokenization.py:309-431). A bounded vocab (pieces of
# length <= 2, split deterministically by md5 into word-initial vs
# '##'-continuation roles) makes greedy longest-match-first exactly
# expressible as a recursive CTE, so the real kernel is value-checked
# against SQL. Words restricted to [a-z0-9]+ so the kernel's CJK
# isolation path stays out of scope on both sides.

_P4_ORACLE = """
WITH RECURSIVE w AS (
  SELECT DISTINCT lower(unnest(string_split(text, ' '))) AS word
  FROM documents
), wf AS (
  -- length <= 100 keeps the kernel's max_chars_per_word [UNK] cutoff
  -- out of scope (the oracle does not model it) and bounds the gram
  -- positions below the range() cap.
  SELECT word FROM w
  WHERE regexp_full_match(word, '[a-z0-9]+') AND length(word) <= 100
), g2 AS (
  SELECT DISTINCT substring(word, CAST(i AS INT), 2) AS g
  FROM wf, range(1, 200) r(i)
  WHERE i <= length(word) - 1
), init2 AS (
  SELECT g FROM g2 WHERE substring(md5(g), 1, 1) < '8'
), cont2 AS (
  SELECT g FROM g2 WHERE substring(md5(g), 1, 1) >= '8'
), steps (word, idx, pos, piece) AS (
  SELECT word, 0, 1, CAST(NULL AS VARCHAR) FROM wf
  UNION ALL
  SELECT s.word, s.idx + 1,
         s.pos + CASE
           WHEN s.pos = 1
            AND substring(s.word, CAST(s.pos AS INT), 2) IN (SELECT g FROM init2)
            AND s.pos + 1 <= length(s.word) THEN 2
           WHEN s.pos > 1
            AND substring(s.word, CAST(s.pos AS INT), 2) IN (SELECT g FROM cont2)
            AND s.pos + 1 <= length(s.word) THEN 2
           ELSE 1 END,
         CASE
           WHEN s.pos = 1
            AND substring(s.word, CAST(s.pos AS INT), 2) IN (SELECT g FROM init2)
            AND s.pos + 1 <= length(s.word)
             THEN substring(s.word, CAST(s.pos AS INT), 2)
           WHEN s.pos = 1 THEN substring(s.word, CAST(s.pos AS INT), 1)
           WHEN s.pos > 1
            AND substring(s.word, CAST(s.pos AS INT), 2) IN (SELECT g FROM cont2)
            AND s.pos + 1 <= length(s.word)
             THEN '##' || substring(s.word, CAST(s.pos AS INT), 2)
           ELSE '##' || substring(s.word, CAST(s.pos AS INT), 1) END
  FROM steps s
  WHERE s.pos <= length(s.word)
)
SELECT word, CAST(idx AS BIGINT) AS piece_idx, piece
FROM steps WHERE piece IS NOT NULL
"""


@_q("p4_wordpiece", _P4_ORACLE)
def p4_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.kernels.tokenizer import (
        wordpiece_tokenize,
    )

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(
            F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= 100)
        )
        .distinct()
    )
    grams = (
        words.select(
            F.explode(
                F.expr("transform(sequence(1, length(word) - 1), "
                       "i -> substring(word, i, 2))")
            ).alias("g")
        )
        .filter(F.length("g") == 2)
        .distinct()
        .withColumn("initial", F.substring(F.md5("g"), 1, 1) < "8")
    )
    # The broadcast vocab is built from two DISTINCT dims — the 2-gram
    # set (≤ |charset|² rows) and the character set (≤ |charset| rows),
    # both computed distributedly. Never collect the full word list:
    # at web scale the token vocabulary is millions of rows while
    # these two stay bounded by the alphabet.
    gram_rows = grams.collect()
    chars = _corpus_chars(words)
    vocab = (
        {r["g"] for r in gram_rows if r["initial"]}
        | {"##" + r["g"] for r in gram_rows if not r["initial"]}
        | chars
        | {"##" + c for c in chars}
    )
    vocab_bc = spark.sparkContext.broadcast(vocab)

    def run(batches):
        v = vocab_bc.value
        for pdf in batches:
            out_w, out_i, out_p = [], [], []
            for word in pdf["word"]:
                for i, piece in enumerate(wordpiece_tokenize(word, v)):
                    out_w.append(word)
                    out_i.append(i + 1)
                    out_p.append(piece)
            yield pd.DataFrame(
                {"word": out_w, "piece_idx": out_i, "piece": out_p}
            )

    return words.mapInPandas(
        run, schema="word string, piece_idx long, piece string"
    )


# --- P3: live segmentation (kernels/tokenizer.segment_text; reference
# pytorch/labeling/dataset.py:49-55 uses jieba.posseg). jieba is not
# in this container, so the kernel's documented deterministic fallback
# (whitespace tokens, pos='x') is the active path — this query makes
# it driver-visible and value-checked; with jieba installed the kernel
# output would be the jieba segmentation and this oracle would not
# apply (the import gate is the pluggable-segmentation seam).

_P3_ORACLE = """
WITH t AS (
  SELECT doc_id, CAST(generate_subscripts(l, 1) AS INT) AS i,
         unnest(l) AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE text IS NOT NULL) x
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i)
            AS BIGINT) AS seg_idx,
       word, 'x' AS pos
FROM t WHERE word <> ''
"""


@_q("p3_segment", _P3_ORACLE)
def p3_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.kernels.tokenizer import segment_text

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())

    def run(batches):
        for pdf in batches:
            ids, idxs, words, pos = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for j, (w, p) in enumerate(segment_text(text)):
                    ids.append(doc_id)
                    idxs.append(j + 1)
                    words.append(w)
                    pos.append(p)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "seg_idx": pd.array(idxs, dtype="Int64"),
                    "word": pd.Series(words, dtype=object),
                    "pos": pd.Series(pos, dtype=object),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, seg_idx long, word string, pos string"
    )


# --- P3-DP: the real segmentation ALGORITHM behind the jieba seam —
# unigram max-probability DP over a dictionary DAG (the published
# algorithm jieba's dictionary route implements; the package itself
# is absent here). Input strings are made genuinely UNSEGMENTED by
# concatenating each document's first 8 words without separators;
# the dictionary is the corpus word-frequency table. The oracle is a
# materialized golden (flagship pattern): dp_segment evaluated
# driver-side over independently Python-derived inputs (own split /
# Counter / concat — no Spark operators), so the oracle checks the
# distributed plumbing (broadcast dict, derivation, explode);
# the DP algorithm itself is pinned by hand-worked pytest examples
# (tests/test_tokenizer.py), including ambiguity and tie cases.

_P3DP_WORDS = 8


def _p3dp_oracle_sql(sf_dir: str) -> str:
    from information_extraction_spark.driver_queries.kg import _golden_path

    return (
        "\nSELECT doc_id, seg_idx, token\n"
        f"FROM read_parquet('{_golden_path('p3dp', sf_dir)}/*.parquet')\n"
    )


def _ensure_p3dp_golden(spark: SparkSession, sf_dir: str) -> None:
    from collections import Counter

    from information_extraction_spark.driver_queries.kg import (
        _GOLDEN_WRITTEN,
        _golden_path,
    )
    from information_extraction_spark.kernels.tokenizer import dp_segment

    key = f"p3dp::{sf_dir}"
    if _GOLDEN_WRITTEN.get(key):
        return
    from information_extraction_spark.driver_queries.kg import (
        _ensure_golden_dir,
    )

    _ensure_golden_dir()
    doc_rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    freq: Counter[str] = Counter()
    for r in doc_rows:
        if r["text"] is None:
            continue
        for w in r["text"].split(" "):
            if len(w) >= 2:
                freq[w] += 1
    rows = []
    for r in doc_rows:
        if r["text"] is None:
            continue
        joined = "".join(r["text"].split(" ")[:_P3DP_WORDS])
        for j, tok in enumerate(dp_segment(joined, freq)):
            rows.append((r["doc_id"], j + 1, tok))
    spark.createDataFrame(
        rows, "doc_id long, seg_idx long, token string"
    ).coalesce(1).write.mode("overwrite").parquet(
        _golden_path("p3dp", sf_dir)
    )
    _GOLDEN_WRITTEN[key] = True


@_q("p3_dp_segment", _p3dp_oracle_sql)
def p3_dp_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-DP dictionary segmentation of unsegmented strings:
    corpus word-frequency dict broadcast to executors, dp_segment in
    a narrow mapInPandas, one row per emitted token."""
    import pandas as pd

    from information_extraction_spark.kernels.tokenizer import dp_segment

    _ensure_p3dp_golden(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # Word-frequency dim: distributed count, collected as a bounded
    # vocabulary-sized dict and broadcast (J2 shape).
    freq_rows = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    freq_bc = spark.sparkContext.broadcast(
        {r["w"]: r["c"] for r in freq_rows}
    )
    unseg = d.select(
        "doc_id",
        F.array_join(
            F.slice(F.split("text", " "), 1, _P3DP_WORDS), ""
        ).alias("joined"),
    )

    def run(batches):
        freq = freq_bc.value
        for pdf in batches:
            ids, idxs, toks = [], [], []
            for doc_id, joined in zip(pdf["doc_id"], pdf["joined"]):
                for j, tok in enumerate(dp_segment(joined or "", freq)):
                    ids.append(doc_id)
                    idxs.append(j + 1)
                    toks.append(tok)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "seg_idx": pd.array(idxs, dtype="Int64"),
                    "token": pd.Series(toks, dtype=object),
                }
            )

    return unseg.mapInPandas(
        run, schema="doc_id long, seg_idx long, token string"
    )


# --- P4-CJK: the CJK-isolation branch of wordpiece_tokenize
# (kernels/tokenizer.py; reference BasicTokenizer Chinese-char
# isolation, tokenization.py:194-307). Mixed-script words are built
# deterministically from the corpus vocabulary by md5 arithmetic —
# word || cjk1 || cjk2 or word || cjk1 || word — and tokenized by the
# REAL kernel against a single-character vocabulary (ascii chars +
# '##' continuations + the CJK chars). The kernel must (a) isolate
# each CJK char into its own word (so it surfaces WITHOUT a '##'
# prefix even mid-string) and (b) char-split the ascii runs with '##'
# continuations; the oracle constructs that expectation directly from
# the known fixture structure.

_CJK_CHARS = ["中", "文", "字", "符", "测", "试", "语", "言"]

_CJK_ORACLE = f"""
WITH w AS (
  SELECT DISTINCT lower(unnest(string_split(text, ' '))) AS word
  FROM documents
), wf AS (
  SELECT word FROM w
  WHERE regexp_full_match(word, '[a-z0-9]+') AND length(word) <= 100
), m AS (
  SELECT word,
         {_CJK_CHARS!r}[(strpos('0123456789abcdef',
             substring(md5(word), 1, 1)) - 1) % 8 + 1] AS cjk1,
         {_CJK_CHARS!r}[(strpos('0123456789abcdef',
             substring(md5(word), 2, 1)) - 1) % 8 + 1] AS cjk2,
         (strpos('0123456789abcdef',
             substring(md5(word), 3, 1)) - 1) % 2 = 0 AS two_cjk
  FROM wf
), units AS (
  SELECT word,
         CAST(generate_subscripts(us, 1) AS INT) AS ui, unnest(us) AS unit
  FROM (SELECT word,
               CASE WHEN two_cjk THEN [word, cjk1, cjk2]
                    ELSE [word, cjk1, word] END AS us
        FROM m) x
), pieces AS (
  SELECT word, ui,
         CAST(generate_subscripts(ps, 1) AS INT) AS pj, unnest(ps) AS piece
  FROM (SELECT word, ui,
               CASE WHEN length(unit) = 1 AND unit >= '一'
                    THEN [unit]
                    ELSE list_transform(range(1, length(unit) + 1),
                         j -> CASE WHEN j = 1
                                   THEN substring(unit, CAST(j AS INT), 1)
                                   ELSE '##' ||
                                        substring(unit, CAST(j AS INT), 1)
                              END)
               END AS ps
        FROM units) y
)
SELECT word,
       CAST(row_number() OVER (PARTITION BY word ORDER BY ui, pj)
            AS BIGINT) AS piece_idx,
       piece
FROM pieces
"""


@_q("p4_cjk_wordpiece", _CJK_ORACLE)
def p4_cjk_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.kernels.tokenizer import (
        wordpiece_tokenize,
    )

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(
            F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= 100)
        )
        .distinct()
    )
    arr = F.array(*[F.lit(c) for c in _CJK_CHARS])

    def hexv(k: int):
        return F.expr(
            f"locate(substring(md5(word), {k}, 1), '0123456789abcdef') - 1"
        )

    cjk1 = F.element_at(arr, (hexv(1) % 8 + 1).cast("int"))
    cjk2 = F.element_at(arr, (hexv(2) % 8 + 1).cast("int"))
    mixed = F.when(
        hexv(3) % 2 == 0, F.concat("word", cjk1, cjk2)
    ).otherwise(F.concat("word", cjk1, "word"))
    inp = words.withColumn("mixed", mixed)

    chars = _corpus_chars(words)
    vocab = (
        chars
        | {"##" + c for c in chars}
        | set(_CJK_CHARS)
        | {"##" + c for c in _CJK_CHARS}
    )
    vocab_bc = spark.sparkContext.broadcast(vocab)

    def run(batches):
        v = vocab_bc.value
        for pdf in batches:
            out_w, out_i, out_p = [], [], []
            for word, mix in zip(pdf["word"], pdf["mixed"]):
                for i, piece in enumerate(wordpiece_tokenize(mix, v)):
                    out_w.append(word)
                    out_i.append(i + 1)
                    out_p.append(piece)
            yield pd.DataFrame(
                {"word": out_w, "piece_idx": out_i, "piece": out_p}
            )

    return inp.mapInPandas(
        run, schema="word string, piece_idx long, piece string"
    )
# reference produce_submit_json_file.py:185-234 + WordPiece merge
# :153-171). Deterministic (tokens, labels) sequences are derived
# from the documents words by md5 arithmetic — identical in both
# engines — then the REAL kernel decodes them in mapInPandas while
# DuckDB models the same semantics declaratively as gaps-and-islands:
# 'O'/'B-*' open a new segment, only B-opened segments emit, '##'
# continuations merge stripped, decoding stops at the first '[SEP]',
# and a leading '[CLS]' label is dropped (the label list is CLS-
# prefixed on the Spark side to exercise that branch).

_BIO_ORACLE = """
WITH t AS (
  SELECT doc_id, CAST(generate_subscripts(l, 1) AS INT) AS i,
         unnest(l) AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE text IS NOT NULL) x
), lab AS (
  SELECT doc_id, i,
         CASE WHEN substring(md5(word || '#' || CAST(i AS VARCHAR)), 1, 1)
                   < '4'
              THEN '##' || word ELSE word END AS token,
         CASE WHEN h <= '4' THEN 'O'
              WHEN h <= '7' THEN 'B-SUB'
              WHEN h <= '9' THEN 'I-SUB'
              WHEN h <= 'b' THEN 'B-OBJ'
              WHEN h <= 'd' THEN 'I-OBJ'
              WHEN h = 'e' THEN '[##WordPiece]'
              ELSE '[SEP]' END AS label
  FROM (SELECT *, substring(md5(CAST(doc_id AS VARCHAR) || ':'
                                || CAST(i AS VARCHAR)), 1, 1) AS h
        FROM t) y
), sep AS (
  SELECT doc_id, min(i) AS sep_i FROM lab
  WHERE label = '[SEP]' GROUP BY doc_id
), valid AS (
  SELECT l.* FROM lab l LEFT JOIN sep s USING (doc_id)
  WHERE s.sep_i IS NULL OR l.i < s.sep_i
), seg AS (
  SELECT *, sum(CASE WHEN label = 'O' OR label LIKE 'B-%'
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM valid
), ent AS (
  SELECT doc_id, g, min(i) AS start_i,
         arg_min(label, i) AS open_label,
         string_agg(CASE WHEN token LIKE '##%'
                         THEN substring(token, 3) ELSE token END,
                    '' ORDER BY i) AS entity
  FROM seg GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_i)
            AS BIGINT) AS entity_idx,
       kind, entity
FROM (SELECT doc_id, start_i, substring(open_label, 3) AS kind, entity
      FROM ent
      WHERE open_label LIKE 'B-%' AND length(entity) > 0) z
"""


@_q("kg_bio_decode", _BIO_ORACLE)
def kg_bio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.kernels.extraction import (
        decode_bio_tokens,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "word")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "word")
    istr = F.col("i").cast("string")
    token = F.when(
        F.substring(F.md5(F.concat(F.col("word"), F.lit("#"), istr)), 1, 1)
        < "4",
        F.concat(F.lit("##"), "word"),
    ).otherwise(F.col("word"))
    h = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), istr)),
        1,
        1,
    )
    label = (
        F.when(h <= "4", "O")
        .when(h <= "7", "B-SUB")
        .when(h <= "9", "I-SUB")
        .when(h <= "b", "B-OBJ")
        .when(h <= "d", "I-OBJ")
        .when(h == "e", "[##WordPiece]")
        .otherwise("[SEP]")
    )
    seqs = (
        toks.withColumn("token", token)
        .withColumn("label", label)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "token"))),
                lambda x: x["token"],
            ).alias("tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "label"))),
                lambda x: x["label"],
            ).alias("labels0"),
        )
        # CLS-prefix the label sequence: decode_bio_tokens must drop it
        # and re-align labels[1:] with the tokens.
        .withColumn(
            "labels", F.concat(F.array(F.lit("[CLS]")), F.col("labels0"))
        )
        .select("doc_id", "tokens", "labels")
    )

    def run(batches):
        for pdf in batches:
            ids, idxs, kinds, ents = [], [], [], []
            for doc_id, tokens, labels in zip(
                pdf["doc_id"], pdf["tokens"], pdf["labels"]
            ):
                decoded = decode_bio_tokens(list(tokens), list(labels))
                for j, (kind, ent) in enumerate(decoded):
                    ids.append(doc_id)
                    idxs.append(j + 1)
                    kinds.append(kind)
                    ents.append(ent)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "entity_idx": pd.array(idxs, dtype="Int64"),
                    "kind": pd.Series(kinds, dtype=object),
                    "entity": pd.Series(ents, dtype=object),
                }
            )

    return seqs.mapInPandas(
        run, schema="doc_id long, entity_idx long, kind string, entity string"
    )


# --- P4-UNK: the [UNK] / tokenize_not_UNK variant pair (reference
# tokenization.py:161-192 — the not-UNK tokenizer preserves the
# original surface of an untokenizable word so downstream span text
# stays recoverable). A deterministic md5 rule EXCLUDES some chars
# from the vocabulary entirely (both word-initial and continuation
# roles), so a word tokenizes iff it contains no excluded char —
# exactly expressible in SQL — and the query runs the REAL kernel
# twice per word: default (emit [UNK]) and keep_unknown=True (emit
# the surface).

_UNK_ORACLE = """
WITH w AS (
  SELECT DISTINCT lower(unnest(string_split(text, ' '))) AS word
  FROM documents
), wf AS (
  SELECT word FROM w
  WHERE regexp_full_match(word, '[a-z0-9]+') AND length(word) <= 100
), j AS (
  SELECT word,
         len(list_filter(
           range(1, length(word) + 1),
           i -> substring(md5('c#' ||
                  substring(word, CAST(i AS INT), 1)), 1, 1) < '3'
         )) > 0 AS fails
  FROM wf
)
SELECT word,
       CASE WHEN fails THEN 1 ELSE length(word) END
         AS n_pieces,
       CASE WHEN fails THEN '[UNK]'
            ELSE substring(word, 1, 1) END AS first_piece,
       CASE WHEN fails THEN word
            ELSE substring(word, 1, 1) END AS first_piece_not_unk
FROM j
"""


@_q("p4_unk_variants", _UNK_ORACLE)
def p4_unk_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.kernels.tokenizer import (
        wordpiece_tokenize,
    )

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(
            F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= 100)
        )
        .distinct()
    )
    # Vocabulary: single chars in BOTH roles, minus the md5-excluded
    # set (chars whose md5('c#'||c) first hex digit is < '3').
    chars = _corpus_chars(words)
    import hashlib

    kept = {
        c
        for c in chars
        if hashlib.md5(f"c#{c}".encode()).hexdigest()[0] >= "3"
    }
    vocab = kept | {"##" + c for c in kept}
    vocab_bc = spark.sparkContext.broadcast(vocab)

    def run(batches):
        v = vocab_bc.value
        for pdf in batches:
            out = {"word": [], "n_pieces": [], "first_piece": [],
                   "first_piece_not_unk": []}
            for word in pdf["word"]:
                pieces = wordpiece_tokenize(word, v)
                keep = wordpiece_tokenize(word, v, keep_unknown=True)
                out["word"].append(word)
                out["n_pieces"].append(len(pieces))
                out["first_piece"].append(pieces[0] if pieces else None)
                out["first_piece_not_unk"].append(
                    keep[0] if keep else None
                )
            yield pd.DataFrame(out)

    return words.mapInPandas(
        run,
        schema=(
            "word string, n_pieces long, first_piece string, "
            "first_piece_not_unk string"
        ),
    )


# --- Ensembles (SURVEY §2.9): weighted prob average
# (classification/ensemble.py:85-141) and logit sum
# (labeling/ensemble.py:126-166) over keyed score tables — three
# deterministic "model" score tables derived from events, combined
# with the reference-style weights, thresholded at 0.5.

_ENSEMBLE_ORACLE = """
WITH s AS (
  -- model scores built from EXACT statistics (counts, min/max) so
  -- both engines produce bit-identical doubles; avg() accumulates in
  -- engine-specific order and can land on a 4dp rounding edge.
  SELECT user_id, event_type,
         count(*) / 100.0 AS m1,
         max(value) / 100.0 AS m2,
         min(value) / 100.0 AS m3
  FROM events GROUP BY user_id, event_type
), e AS (
  SELECT user_id, event_type,
         (1.0 * m1 + 10.0 * m2 + 30.0 * m3) / 41.0 AS avg_score,
         (1.0 * m1 + 10.0 * m2 + 30.0 * m3) AS logit_sum
  FROM s
)
SELECT user_id, event_type,
       round(avg_score, 4) AS ensemble_avg4,
       round(logit_sum, 4) AS logit_sum4,
       CAST(CASE WHEN avg_score > 0.5 THEN 1 ELSE 0 END AS INT) AS predicted
FROM e
"""


@_q("en_weighted_ensemble", _ENSEMBLE_ORACLE)
def en_weighted_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.ensemble import (
        combine_scores,
    )

    ev = _t(spark, sf_dir, "events")
    keys = ["user_id", "event_type"]

    def model(agg):
        return ev.groupBy(*keys).agg((agg / 100.0).alias("score"))

    models = [
        model(F.count("*")),
        model(F.max("value")),
        model(F.min("value")),
    ]
    weights = [1.0, 10.0, 30.0]
    avg = combine_scores(models, weights, keys, mode="mean")
    logit = combine_scores(
        models, weights, keys, mode="sum", out_col="logit_sum"
    )
    return (
        avg.join(logit, keys)
        .select(
            *keys,
            F.round("ensemble_score", 4).alias("ensemble_avg4"),
            F.round("logit_sum", 4).alias("logit_sum4"),
            F.when(F.col("ensemble_score") > 0.5, 1)
            .otherwise(0)
            .cast("int")
            .alias("predicted"),
        )
    )


# --- TPC-H Q1-shape pricing summary: the canonical multi-aggregate
# groupBy with filter pushdown, over lineitem. Sums run on DECIMAL so
# they are exact and accumulation-order independent (double sums can
# land on rounding edges across engines); the per-row products are
# deterministic IEEE ops cast to decimal before summing.

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2)
         AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
         AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_charge,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@_q("q1_pricing_summary", _Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double"), 2
        ).alias("sum_qty"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                "double"
            ),
            2,
        ).alias("sum_base_price"),
        F.round(
            F.sum(disc.cast("decimal(18,6)")).cast("double"), 2
        ).alias("sum_disc_price"),
        F.round(
            F.sum(charge.cast("decimal(18,6)")).cast("double"), 2
        ).alias("sum_charge"),
        F.count("*").cast("long").alias("count_order"),
    )


# --- TPC-H Q3-shape shipping priority: the canonical 3-table join +
# aggregate + deterministic top-k (ORDER BY revenue DESC with explicit
# key tie-break). Revenue sums on DECIMAL for cross-engine exactness.

_Q3_ORACLE = """
SELECT l.l_orderkey AS orderkey,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey
ORDER BY revenue DESC, orderkey
LIMIT 10
"""


@_q("q3_shipping_priority", _Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(18,6)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # The filtered customer segment is a fraction of a dim table —
        # broadcast it against the fact side.
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


# --- TPC-H Q6-shape forecast revenue: the pure filter + global
# aggregate — the pushdown showcase (every predicate reaches the
# parquet scan as PushedFilters; no join, no groupBy key, one
# map-side-combined global agg). Sums on DECIMAL for cross-engine
# exactness, like Q1.

_Q6_ORACLE = """
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount
                           AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@_q("q6_forecast_revenue", _Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast(
        "decimal(18,6)"
    )
    return li.agg(
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        F.count("*").cast("long").alias("n_lines"),
    )


# --- TPC-H Q5-shape local-supplier volume: the 6-table join. The
# three dims (supplier, nation filtered through region) BROADCAST;
# the two fact tables (lineitem, orders⋈customer) shuffle once each
# on the orderkey equi-key; the nationkey equality between customer
# and supplier is applied as a post-join FILTER (it is not an
# equi-key against the fact side). 1996 order window — load-bearing
# (80 surviving lines across 5 nations at sf0.01).

_Q5_ORACLE = """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@_q("q5_local_supplier", _Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    # region-filtered nations, then suppliers restricted to them —
    # all three are bounded dims: broadcast, never shuffle the facts
    n = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# --- W6: SLIDING event-time windows (batch) -----------------------------------
#
# The catalog's windowed aggregations are tumbling; Spark's native
# sliding window (width 1h, slide 30m) assigns every event to exactly
# TWO epoch-aligned windows. The oracle materializes both candidate
# starts per event (floor-to-slide and floor-to-slide minus one
# slide — for width=2×slide both always contain the event) and
# re-aggregates. One Expand-style ×2 row expansion then a map-side-
# combined shuffle on (window, type) — never a range join.

_W6_ORACLE = """
WITH e AS (
  SELECT ts, event_type, value FROM events WHERE ts IS NOT NULL
), x AS (
  SELECT event_type, value,
         CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS s0
  FROM e
), cand AS (
  SELECT event_type, value, s0 AS ws FROM x
  UNION ALL
  SELECT event_type, value, s0 - 1800 FROM x
)
SELECT ws AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM cand GROUP BY 1, 2
"""


@_q("w6_sliding_window", _W6_ORACLE)
def w6_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# --- W7: native session windows (batch) ---------------------------------------
#
# Spark's session_window merges an event into the running session
# while its gap to the previous event is <= the session gap — an
# event EXACTLY at prev_ts + gap still merges (verified empirically;
# pinned in test_streaming), so a new session starts only on a
# STRICTLY greater gap. The custom stateful streaming operator
# (st_session_close) implements its own closure; this is the BUILT-IN
# operator over batch data. The oracle is the classic
# gaps-and-islands: a break when ts > prev_ts + gap, cumulative-sum
# island ids, min/count/sum per island.

_W7_ORACLE = """
WITH e AS (
  SELECT user_id, ts, value FROM events WHERE ts IS NOT NULL
), o AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM e
), m AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR ts > prev + INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS brk
  FROM o
), g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS grp
  FROM m
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM g GROUP BY user_id, grp
"""
@_q("w7_session_window", _W7_ORACLE)
def w7_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


# --- W8: range-frame rolling aggregate ----------------------------------------
#
# The window-frame semantics the catalog lacked: per user, the count
# and mean of event values over a trailing 1-hour RANGE frame (peers
# at the same second share one frame, so duplicate timestamps stay
# deterministic). Both engines order by the SAME floored epoch
# seconds, so frame membership is identical; the mean sums
# 2dp-quantized values as integers (the emb_cluster_sample rule —
# order-independent and exact in both engines).

_W8_ORACLE = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
  FROM events WHERE ts IS NOT NULL
)
SELECT user_id, sec,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       ROUND(sum(CAST(round(value * 100) AS BIGINT)) OVER w / 100.0
             / count(*) OVER w, 4) AS avg_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


@_q("w8_rolling_avg", _W8_ORACLE)
def w8_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_timestamp(F.col("ts").cast("timestamp")).alias("sec"),
            "value",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    q = F.round(F.col("value") * 100).cast("long")
    return e.select(
        "user_id",
        "sec",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.round(
            F.sum(q).over(w) / F.lit(100.0) / F.count("*").over(w), 4
        ).alias("avg_1h"),
    )


# --- P16: Python UDTF (lateral table function) ---------------------------------
#
# Spark 4's Python UDTF seam, exercised end-to-end: a table function
# that explodes each document into fixed 10-word training chunks via a
# LATERAL join — the context-window packing step of an LLM data
# pipeline, and the one Python-extension surface (scalar pandas UDF,
# grouped applyInPandas, mapInPandas, applyInPandasWithState are all
# already cataloged) the catalog lacked. useArrow=True batches rows
# through Arrow like the kernel UDFs — never per-row pickling. The
# UDTF sees one row at a time but whole docs never co-locate: the
# explode is narrow, so chunking 100 TB is embarrassingly parallel.
# The oracle re-derives the chunks with DuckDB list slicing over a
# LATERAL generate_series — an independent implementation.

_P16_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(
         words[i * 10 + 1 : least((i + 1) * 10, len(words))], ' '
       ) AS chunk,
       CAST(least((i + 1) * 10, len(words)) - i * 10 AS INT) AS n_words
FROM w, LATERAL (
  SELECT unnest(generate_series(0,
      CAST(ceil(len(words) / 10.0) AS BIGINT) - 1)) AS i
) g
"""

_P16_CHUNK = 10


@_q("p16_chunk_udtf", _P16_ORACLE)
def p16_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx int, chunk string, n_words int",
        useArrow=True,
    )
    class _ChunkText:
        def eval(self, text):
            words = text.split() if text else []
            for i in range(0, len(words), _P16_CHUNK):
                c = words[i : i + _P16_CHUNK]
                yield (i // _P16_CHUNK, " ".join(c), len(c))

    spark.udtf.register("ie_chunk_text", _ChunkText)
    d = _t(spark, sf_dir, "documents")
    view = f"ie_p16_docs_{abs(hash(sf_dir)) % 10**8}"
    d.select("doc_id", "text").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT t.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM {view} t, LATERAL ie_chunk_text(t.text) c
        """
    )


# --- mm: per-window audio energy (the VAD / silence-gate feature) --------------
#
# Full-depth WAV decode, not just the header: PCM-16 samples windowed
# in 25-frame blocks, energy = exact BIGINT sum of squares across the
# window's samples (all channels) — what a speech-curation pipeline
# computes to drop silent spans before paying for transcription. The
# payloads are the same format-conformant make_wav bytes as
# mm_codec_features (sample byte i of media m is (m*17 + i*13) % 256
# by construction), so the oracle reconstructs every 16-bit sample
# arithmetically — the constructed-expectation pattern, no decoder in
# DuckDB. Kernel is an Arrow-batched mapInPandas with a vectorized
# numpy square-and-segment-sum per payload (no per-sample Python);
# the trailing partial window keeps its true n_samples.

_MM_ENERGY_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         50 + doc_id % 101 AS n_frames,
         1 + (doc_id // 5) % 2 AS channels
  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
), j AS (
  SELECT media_id, channels,
         unnest(range(0, n_frames * channels)) AS s
  FROM m
), v AS (
  SELECT media_id,
         CAST(s // (25 * channels) AS BIGINT) AS window_idx,
         ((media_id * 17 + (2 * s) * 13) % 256)
           + 256 * ((media_id * 17 + (2 * s + 1) * 13) % 256) AS raw
  FROM j
)
SELECT media_id, window_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(CASE WHEN raw >= 32768
                THEN (raw - 65536) * (raw - 65536)
                ELSE raw * raw END) AS BIGINT) AS energy
FROM v GROUP BY 1, 2
"""


@_q("mm_audio_energy", _MM_ENERGY_ORACLE)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        audio_energy_windows,
        make_wav,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select(F.col("doc_id").alias("media_id"))
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "audio",
                        "payload": bytearray(
                            make_wav(
                                50 + mid % 101,
                                sample_rate=8000 + (mid % 8) * 1000,
                                channels=1 + (mid // 5) % 2,
                                seed=mid,
                            )
                        ),
                        "mime": None,
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return audio_energy_windows(media, window_frames=25)


# --- ViT-style image tiling (patch statistics over decoded pixels) -----------------
#
# The multimodal family's missing pixel-level leg: mm_codec_features
# proves header decode, mm_image_tiles proves PIXEL decode + the
# patch lattice every vision-model preprocessing pipeline runs
# (split the image into a grid of tiles, per-tile statistics for
# brightness screens / letterbox detection / ViT patching). Payloads
# are real 24-bpp BMPs built deterministically from doc_id
# (make_bmp's pixel byte i is (seed*31 + i*7) % 256), so the oracle
# recomputes every tile sum arithmetically from the same formula —
# bottom-up row storage, 4-byte row padding excluded, top-down tile
# assignment min(r*2//H, 1) — the constructed-expectation pattern.

_MM_TILES_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         4 + doc_id % 29 AS w,
         3 + doc_id % 17 AS h,
         doc_id AS seed,
         (((4 + doc_id % 29) * 3 + 3) // 4) * 4 AS stride
  FROM documents
), pr AS (
  SELECT media_id, w, h, seed, stride, unnest(range(0, h)) AS rt
  FROM m
), px AS (
  SELECT media_id, w, h, seed, stride, rt, unnest(range(0, w)) AS cc
  FROM pr
), v AS (
  SELECT media_id,
         least(rt * 2 // h, 1) AS ty,
         least(cc * 2 // w, 1) AS tx,
         (seed * 31 + ((h - 1 - rt) * stride + cc * 3) * 7) % 256
       + (seed * 31 + ((h - 1 - rt) * stride + cc * 3 + 1) * 7) % 256
       + (seed * 31 + ((h - 1 - rt) * stride + cc * 3 + 2) * 7) % 256
         AS inten
  FROM px
)
SELECT media_id, CAST(ty AS BIGINT) AS ty, CAST(tx AS BIGINT) AS tx,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(inten) AS BIGINT) AS intensity_sum
FROM v GROUP BY 1, 2, 3
"""


@_q("mm_image_tiles", _MM_TILES_ORACLE)
def mm_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP payloads → pixel decode → 2×2 tile lattice with exact
    per-tile intensity sums (see block comment); the whole path runs
    the native parser (no fake leg) and two narrow mapInPandas
    passes."""
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        image_tiles,
        make_bmp,
    )

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "image",
                        "payload": bytearray(
                            make_bmp(4 + mid % 29, 3 + mid % 17, seed=mid)
                        ),
                        "mime": "image/bmp",
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return image_tiles(media, grid=2)


# --- S9: malformed-input quarantine (PERMISSIVE JSON-lines read) --------------------
#
# Web-scale ingest never gets clean input: the source contract is
# "parse what parses, QUARANTINE the rest with the raw line kept for
# replay" — Spark's PERMISSIVE mode + columnNameOfCorruptRecord,
# exercised here end-to-end. A JSONL staging file derives
# deterministically from documents (field order pinned by to_json's
# struct order; every doc_id % 7 == 3 line loses its closing brace),
# is written ONCE behind the golden-dir stage+rename discipline, and
# the read must route every mangled line to the corrupt bucket with
# its fields nulled — the oracle recomputes both buckets straight
# from the documents table (constructed expectation). sum_chars
# doubles as the value check that parsed payloads carried through.
#
# Scale notes: the read is a narrow schema-pinned scan (NO inference
# pass — schema-on-read with explicit StructType is the 100 TB
# contract; .option inferSchema would double-scan); quarantine
# routing is per-row projection; one map-side-combined shuffle on the
# bucket key.

_S9_ORACLE = """
WITH g AS (
  SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM documents WHERE doc_id % 7 <> 3 GROUP BY 1
), c AS (
  SELECT '_corrupt' AS bucket, CAST(count(*) AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS sum_chars
  FROM documents WHERE doc_id % 7 = 3
)
SELECT * FROM g UNION ALL SELECT * FROM c
"""


def _stage_corrupt_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the deterministically-mangled JSONL staging file
    write-once (stage to a pid temp dir + os.rename, skip when a
    complete _SUCCESS'd copy exists — kg._write_golden_once's
    discipline, text format)."""
    import os
    import shutil

    from information_extraction_spark.driver_queries.kg import (
        _ensure_golden_dir,
        _golden_path,
    )

    _ensure_golden_dir()
    path = _golden_path("jsonl_quarantine", sf_dir).replace(
        ".parquet", ".jsonl"
    )
    if os.path.isdir(path) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        return path
    docs = _t(spark, sf_dir, "documents")
    j = docs.select(
        F.to_json(F.struct("doc_id", "lang", "n_chars")).alias("line"),
        "doc_id",
    )
    lines = j.select(
        F.when(
            F.col("doc_id") % 7 == 3,
            F.expr("substring(line, 1, length(line) - 1)"),
        )
        .otherwise(F.col("line"))
        .alias("value")
    )
    tmp = f"{path}.tmp-{os.getpid()}"
    lines.coalesce(1).write.mode("overwrite").text(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


@_q("s9_corrupt_quarantine", _S9_ORACLE)
def s9_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE schema-pinned JSONL read: parsed rows roll up per
    lang (count + n_chars sum as the payload value check), mangled
    lines land in the '_corrupt' bucket with fields nulled."""
    path = _stage_corrupt_jsonl(spark, sf_dir)
    df = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bucket = (
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("_corrupt"))
        .otherwise(F.col("lang"))
        .alias("bucket")
    )
    return (
        df.select(bucket, "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --- Perceptual-hash image dedup (average hash over decoded pixels) ----------------
#
# The multimodal dedup leg: bucket images by a 64-bit average hash
# (operators/multimodal.average_hash — 8×8 cell lattice, bit = cell
# mean > global mean, cross-multiplied so the fingerprint is
# integer-exact) and report the duplicate groups. Payload params
# derive from doc_id % 50, so the 500-doc corpus carries ~10 true
# byte-identical copies of each of 50 images — the hash must
# collapse each copy-set to one bucket. The oracle rebuilds every
# hash arithmetically from make_bmp's byte formula (the
# constructed-expectation pattern, mm_image_tiles' lattice).
#
# Scale shape: hashing is a narrow pass; the dedup is ONE
# map-side-combined shuffle on the 64-char hash key (same key a
# 100 TB image corpus would band on before a Hamming verify).

_MM_PHASH_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 50 AS k FROM documents
), g AS (
  SELECT media_id, 4 + k % 29 AS w, 3 + k % 17 AS h, k AS seed,
         (((4 + k % 29) * 3 + 3) // 4) * 4 AS stride
  FROM m
), pr AS (
  SELECT media_id, w, h, seed, stride, unnest(range(0, h)) AS rt FROM g
), px AS (
  SELECT media_id, w, h, seed, stride, rt, unnest(range(0, w)) AS cc
  FROM pr
), v AS (
  SELECT media_id,
         least(rt * 8 // h, 7) * 8 + least(cc * 8 // w, 7) AS cell,
         (seed * 31 + ((h - 1 - rt) * stride + cc * 3) * 7) % 256
       + (seed * 31 + ((h - 1 - rt) * stride + cc * 3 + 1) * 7) % 256
       + (seed * 31 + ((h - 1 - rt) * stride + cc * 3 + 2) * 7) % 256
         AS inten
  FROM px
), tot AS (
  SELECT media_id, CAST(sum(inten) AS BIGINT) AS ts,
         CAST(count(*) AS BIGINT) AS tn
  FROM v GROUP BY 1
), cells AS (
  SELECT media_id, cell, CAST(sum(inten) AS BIGINT) AS cs,
         CAST(count(*) AS BIGINT) AS cn
  FROM v GROUP BY 1, 2
), allc AS (
  SELECT t.media_id, gs.j AS cell, COALESCE(c.cs, 0) AS cs,
         COALESCE(c.cn, 0) AS cn, t.ts, t.tn
  FROM tot t CROSS JOIN generate_series(0, 63) gs(j)
  LEFT JOIN cells c ON c.media_id = t.media_id AND c.cell = gs.j
), bits AS (
  SELECT media_id, cell,
         CASE WHEN cs * tn > ts * cn THEN '1' ELSE '0' END AS b
  FROM allc
), h AS (
  SELECT media_id, string_agg(b, '' ORDER BY cell) AS phash
  FROM bits GROUP BY 1
)
SELECT phash, CAST(count(*) AS BIGINT) AS n,
       CAST(min(media_id) AS BIGINT) AS min_media_id
FROM h GROUP BY 1
"""


@_q("mm_phash_dedup", _MM_PHASH_ORACLE)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash buckets over real decoded BMPs (see block
    comment); the k = doc_id % 50 seeding plants ~10-copy duplicate
    groups the hash must collapse."""
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        average_hash,
        make_bmp,
    )

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                k = mid % 50
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "image",
                        "payload": bytearray(
                            make_bmp(4 + k % 29, 3 + k % 17, seed=k)
                        ),
                        "mime": "image/bmp",
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return average_hash(media, grid=8).groupBy("phash").agg(
        F.count("*").cast("long").alias("n"),
        F.min("media_id").cast("long").alias("min_media_id"),
    )


# --- mm: per-window DFT-bin spectral power (tone/voicing gate) ------------------
#
# The spectral sibling of mm_audio_energy: per 32-frame window of
# channel 0, the power at DFT bins k in {1, 2, 4} computed against
# x100 INTEGER cosine/sine tables (operators/multimodal.dft_tables)
# — the same table literals drive both engines, so no trig function
# is ever compared cross-engine and every compared value is a BIGINT.
# The oracle reconstructs channel-0 samples arithmetically from
# make_wav's byte formula (frame f's channel-0 sample starts at byte
# 2*f*channels) — the constructed-expectation pattern — and joins
# the same integer table as VALUES rows.


def _spectral_table_values() -> str:
    from information_extraction_spark.operators.multimodal import (
        dft_tables,
    )

    tabs = dft_tables(32, (1, 2, 4))
    rows = []
    for k, (cs, ss) in tabs.items():
        for i in range(32):
            rows.append(f"({k},{i},{cs[i]},{ss[i]})")
    return ",".join(rows)


_MM_SPECTRAL_ORACLE = f"""
WITH tab(bin, i, c, s) AS (
  SELECT * FROM (VALUES {_spectral_table_values()})
), m AS (
  SELECT doc_id AS media_id,
         50 + doc_id % 101 AS n_frames,
         1 + (doc_id // 5) % 2 AS channels
  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
), fr AS (
  SELECT media_id, channels, unnest(range(0, n_frames)) AS f
  FROM m
), v AS (
  SELECT media_id,
         CAST(f // 32 AS BIGINT) AS window_idx,
         CAST(f % 32 AS BIGINT) AS i,
         ((media_id * 17 + (2 * f * channels) * 13) % 256)
           + 256 * ((media_id * 17 + (2 * f * channels + 1) * 13) % 256)
           AS raw
  FROM fr
), sv AS (
  SELECT media_id, window_idx, i,
         CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS val
  FROM v
), agg AS (
  SELECT media_id, window_idx, tab.bin,
         CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(val * tab.c) AS BIGINT) AS re_c,
         CAST(sum(val * tab.s) AS BIGINT) AS im_c
  FROM sv JOIN tab ON tab.i = sv.i
  GROUP BY 1, 2, 3
)
SELECT media_id, window_idx, bin, n_frames, re_c, im_c,
       CAST(re_c * re_c + im_c * im_c AS BIGINT) AS power_c2
FROM agg
"""


@_q("mm_spectral", _MM_SPECTRAL_ORACLE)
def mm_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        make_wav,
        spectral_windows,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select(F.col("doc_id").alias("media_id"))
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "audio",
                        "payload": bytearray(
                            make_wav(
                                50 + mid % 101,
                                sample_rate=8000 + (mid % 8) * 1000,
                                channels=1 + (mid // 5) % 2,
                                seed=mid,
                            )
                        ),
                        "mime": None,
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return spectral_windows(media, window_frames=32, bins=(1, 2, 4))


# --- 3x3 convolution edge density (vision-curation neighborhood pass) ---------------
#
# The one pixel op the multimodal family lacked: a NEIGHBORHOOD pass
# (mm_image_tiles / mm_phash_dedup are pointwise or block-local).
# Image curation at corpus scale screens blur / flat synthetic
# screens with a cheap Laplacian-style response: per interior pixel
# lap = |9*I(r,c) - sum of the 3x3 box| over the channel-sum
# intensity, all exact int64; per image the interior-pixel count,
# edge count (lap >= 256) and total response mass. Payloads are the
# same deterministic make_bmp bytes as mm_image_tiles (pixel byte i
# of seed m is (m*31 + i*7) % 256, bottom-up rows, 4-byte stride),
# so the oracle re-derives every neighbor intensity arithmetically
# and box-sums via a 3x3 offset unnest — constructed expectation,
# no convolution library on either side. Spark side is ONE narrow
# Arrow-batched mapInPandas whose kernel is nine vectorized numpy
# shift-adds (multimodal.conv3x3_edges) — no per-pixel Python, and
# at 100 TB the pass stays embarrassingly parallel (no shuffle at
# all: decode + convolve + reduce per image inside the scan stage).

_MM_CONV_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         4 + doc_id % 29 AS w,
         3 + doc_id % 17 AS h,
         doc_id AS seed,
         (((4 + doc_id % 29) * 3 + 3) // 4) * 4 AS stride
  FROM documents
), ir AS (
  SELECT media_id, w, h, seed, stride, unnest(range(1, h - 1)) AS r
  FROM m
), ic AS (
  SELECT media_id, w, h, seed, stride, r, unnest(range(1, w - 1)) AS c,
         (seed * 31 + ((h - 1 - r) * stride + c * 3) * 7) % 256
       + (seed * 31 + ((h - 1 - r) * stride + c * 3 + 1) * 7) % 256
       + (seed * 31 + ((h - 1 - r) * stride + c * 3 + 2) * 7) % 256
         AS center
  FROM ir
), nb AS (
  SELECT media_id, w, h, seed, stride, r, c, center,
         unnest([-1, 0, 1]) AS dr
  FROM ic
), nbc AS (
  SELECT media_id, w, h, seed, stride, r, c, center, dr,
         unnest([-1, 0, 1]) AS dc
  FROM nb
), box AS (
  SELECT media_id, r, c, center,
         sum((seed * 31 + ((h - 1 - r - dr) * stride + (c + dc) * 3) * 7) % 256
           + (seed * 31 + ((h - 1 - r - dr) * stride + (c + dc) * 3 + 1) * 7) % 256
           + (seed * 31 + ((h - 1 - r - dr) * stride + (c + dc) * 3 + 2) * 7) % 256
         ) AS b
  FROM nbc GROUP BY 1, 2, 3, 4
), lapt AS (
  SELECT media_id, abs(9 * center - b) AS lap FROM box
)
SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_interior,
       CAST(sum(CASE WHEN lap >= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_edges,
       CAST(sum(lap) AS BIGINT) AS resp_sum
FROM lapt GROUP BY 1
"""


@_q("mm_conv_edges", _MM_CONV_ORACLE)
def mm_conv_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP payloads -> pixel decode -> 3x3 integer convolution
    (see block comment); the Laplacian response, edge count and
    interior size per image, exact int64 end-to-end."""
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        conv3x3_edges,
        make_bmp,
    )

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "image",
                        "payload": bytearray(
                            make_bmp(4 + mid % 29, 3 + mid % 17, seed=mid)
                        ),
                        "mime": "image/bmp",
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return conv3x3_edges(media, threshold=256)


# --- mm_resize: nearest-neighbor resample to a fixed raster -------------------
#
# The spec's 'resize' verb as a value-checked pass: every image
# resamples to a fixed 4x4 raster (the fixed-input-shape step before
# an embedding model), cell (oy, ox) = source pixel
# (oy*H div 4, ox*W div 4) — the integer floor mapping, exact for
# down- AND up-sampling (fixture heights start at 3). The oracle
# reconstructs each sampled pixel's three channel BYTES from the
# make_bmp generator formula at the mapped coordinates (constructed
# expectation — mm_conv_edges' pattern), so decode + bottom-up row
# unflip + resample are all proven byte-exact, no image library on
# either side. Scale: one narrow mapInPandas (decode + one numpy
# fancy-index per payload), 16 rows per image, zero shuffles.

_MM_RESIZE_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         4 + doc_id % 29 AS w,
         3 + doc_id % 17 AS h,
         doc_id AS seed,
         (((4 + doc_id % 29) * 3 + 3) // 4) * 4 AS stride
  FROM documents
), cy AS (
  SELECT media_id, w, h, seed, stride, unnest(range(0, 4)) AS oy FROM m
), cell AS (
  SELECT media_id, w, h, seed, stride, oy, unnest(range(0, 4)) AS ox
  FROM cy
), mapped AS (
  SELECT media_id, oy, ox, seed,
         (h - 1 - (oy * h // 4)) * stride + (ox * w // 4) * 3 AS base
  FROM cell
)
SELECT media_id, CAST(oy AS BIGINT) AS oy, CAST(ox AS BIGINT) AS ox,
       CAST((seed * 31 + base * 7) % 256 AS BIGINT) AS b,
       CAST((seed * 31 + (base + 1) * 7) % 256 AS BIGINT) AS g,
       CAST((seed * 31 + (base + 2) * 7) % 256 AS BIGINT) AS r
FROM mapped
"""


@_q("mm_resize", _MM_RESIZE_ORACLE)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize to 4x4 over real BMP payloads
    (operators/multimodal.resize_nearest; see block comment)."""
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        make_bmp,
        resize_nearest,
    )

    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "image",
                        "payload": bytearray(
                            make_bmp(4 + mid % 29, 3 + mid % 17, seed=mid)
                        ),
                        "mime": "image/bmp",
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return resize_nearest(media, out=4)


# --- P20: unigram-LM tokenizer training (SentencePiece EM) --------------------
#
# Completes the tokenizer-TRAINING family next to p18/p19's BPE:
# Kudo 2018's unigram trainer in the repo's exact-arithmetic form —
# seed candidate pieces (all substrings, length <= 4), scores =
# round(ln(count/total)·10^6) BIGINT micro-nats quantized BEFORE any
# DP sum, one full EM round (E0 Viterbi re-segmentation -> M-step
# piece re-count with the ADD-ONE-PER-CHARACTER coverage guarantee
# (the E1 DP must always have an admissible arc — measured: without
# it E1 throws on corpora whose M-step drops an interior substring)
# -> E1), reporting every vocabulary word's final segmentation. 15
# of 31 corpus words end multi-piece at the gate scale (the length-4
# piece cap is what forces real segmentation on this short-word
# corpus). The oracle restates the ENTIRE trainer — candidate
# counts, both score tables, BOTH Viterbi passes as 8 unrolled
# chars-remaining DP levels with (score DESC, length DESC)
# tie-breaks, and both path walks — as ~40 chained MATERIALIZED
# CTEs (materialization load-bearing: the cumulative DP tables are
# referenced by up to 4 later levels each, and naive inlining is
# exponential — the ann_mmr_rerank lesson).
#
# Scale shape (the SentencePiece production layout): the WORD table
# is the distributed side (one map-side-combined count shuffle, then
# an embarrassingly parallel per-word O(len·L) DP in an Arrow
# batch); the PIECE table is vocab-bounded metadata that broadcasts
# into the kernel — collected here exactly as a trainer holds its
# piece table in memory, with seed top-K pruning as the documented
# knob when the candidate table itself needs bounding.

_P20_MAXLEN = 8   # corpus max word length (asserted in the query)
_P20_MAXPL = 4    # piece-length cap; forces segmentation of long words


def _p20_dp_chain(tag: str, sc: str) -> str:
    out = [f""",
acc{tag}0 AS (SELECT word, 0 AS d, CAST(0 AS BIGINT) AS best, 0 AS pl
              FROM wc)"""]
    for d in range(1, _P20_MAXLEN + 1):
        mp = min(_P20_MAXPL, d)
        out.append(f""",
lv{tag}{d} AS MATERIALIZED (
  SELECT word, {d} AS d, best, pl FROM (
    SELECT w.word, sc.s + pr.best AS best, p.pl,
           row_number() OVER (PARTITION BY w.word
             ORDER BY sc.s + pr.best DESC, p.pl DESC) AS rn
    FROM wc w
    JOIN (VALUES (1),(2),(3),(4)) p(pl) ON p.pl <= {mp}
    JOIN acc{tag}{d - 1} pr ON pr.word = w.word AND pr.d = {d} - p.pl
    JOIN {sc} sc ON sc.piece = substring(w.word, w.len - {d} + 1, p.pl)
    WHERE w.len >= {d})
  WHERE rn = 1
), acc{tag}{d} AS MATERIALIZED (
  SELECT * FROM acc{tag}{d - 1} UNION ALL SELECT * FROM lv{tag}{d}
)""")
    return "".join(out)


def _p20_walk_chain(tag: str) -> str:
    out = [f""",
walk{tag}0 AS (SELECT word, cnt, len, len AS d FROM wc)"""]
    for k in range(1, _P20_MAXLEN + 1):
        out.append(f""",
walk{tag}{k} AS MATERIALIZED (
  SELECT w.word, w.cnt, w.len, w.d - r.pl AS d,
         {k} AS k, substring(w.word, w.len - w.d + 1, r.pl) AS piece
  FROM walk{tag}{k - 1} w JOIN acc{tag}{_P20_MAXLEN} r
    ON r.word = w.word AND r.d = w.d
  WHERE w.d > 0
)""")
    unions = " UNION ALL ".join(
        f"SELECT word, cnt, k, piece FROM walk{tag}{k}"
        for k in range(1, _P20_MAXLEN + 1)
    )
    out.append(f""",
pieces{tag} AS MATERIALIZED ({unions})""")
    return "".join(out)


def _p20_oracle_sql() -> str:
    return f"""
WITH wc AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         CAST(length(word) AS BIGINT) AS len
  FROM (SELECT unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL)
  WHERE word <> '' GROUP BY 1
), wpos AS MATERIALIZED (
  SELECT word, cnt, len, unnest(range(1, len + 1)) AS i FROM wc
), cand0 AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT substring(word, CAST(i AS INT), CAST(pl AS INT)) AS piece, cnt
    FROM wpos, (VALUES (1),(2),(3),(4)) p(pl)
    WHERE i + pl - 1 <= len) GROUP BY 1
), sc0 AS MATERIALIZED (
  SELECT piece,
         CAST(round(ln(CAST(n AS DOUBLE) / (SELECT sum(n) FROM cand0))
                    * 1000000) AS BIGINT) AS s
  FROM cand0
){_p20_dp_chain("a", "sc0")}{_p20_walk_chain("a")},
used AS MATERIALIZED (
  SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM piecesa GROUP BY 1
), chars AS (
  SELECT DISTINCT substring(word, CAST(i AS INT), 1) AS piece FROM wpos
), cand1 AS MATERIALIZED (
  SELECT COALESCE(u.piece, c.piece) AS piece,
         COALESCE(u.n, 0)
           + CASE WHEN c.piece IS NOT NULL THEN 1 ELSE 0 END AS n
  FROM used u FULL OUTER JOIN chars c ON c.piece = u.piece
), sc1 AS MATERIALIZED (
  SELECT piece,
         CAST(round(ln(CAST(n AS DOUBLE) / (SELECT sum(n) FROM cand1))
                    * 1000000) AS BIGINT) AS s
  FROM cand1
){_p20_dp_chain("b", "sc1")}{_p20_walk_chain("b")}
SELECT word, cnt, CAST(count(*) AS BIGINT) AS n_pieces,
       string_agg(piece, '|' ORDER BY k) AS seg
FROM piecesb GROUP BY word, cnt
"""


@_q("p20_unigram_em", _p20_oracle_sql())
@releases_unread_cuts
def p20_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unigram-LM EM round over the corpus vocabulary; output =
    every word's post-EM Viterbi segmentation (see block comment)."""
    import math

    import pandas as pd

    from information_extraction_spark.kernels.tokenizer import (
        unigram_viterbi,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wc = cut(  # E0, M and E1 all read it
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    max_len = wc.agg(F.max(F.length("word"))).collect()[0][0]
    if max_len > _P20_MAXLEN:
        raise ValueError(
            f"corpus word length {max_len} exceeds the oracle's"
            f" {_P20_MAXLEN}-level DP unroll"
        )
    # Candidate seed counts: in-row substring expansion, one bounded
    # piece-key shuffle, then the vocab-bounded piece table collects
    # (the trainer's in-memory model; top-K seed pruning is the knob
    # at larger vocabularies).
    pieces = F.expr(
        f"flatten(transform(sequence(1, length(word)),"
        f" i -> transform(sequence(1, least({_P20_MAXPL},"
        f"   length(word) - i + 1)),"
        f" pl -> struct(substring(word, i, pl) AS piece, cnt AS cnt))))"
    )

    def collect_scores(cand_df: DataFrame) -> dict:
        rows = cand_df.collect()
        total = sum(r["n"] for r in rows)
        return {
            r["piece"]: round(math.log(r["n"] / total) * 1_000_000)
            for r in rows
        }

    cand0 = (
        wc.select(F.explode(pieces).alias("p"))
        .groupBy(F.col("p.piece").alias("piece"))
        .agg(F.sum("p.cnt").cast("long").alias("n"))
    )
    s0 = collect_scores(cand0)

    def seg_udf(scores: dict):
        def run(batches):
            for pdf in batches:
                out = {"word": [], "cnt": [], "k": [], "piece": []}
                for w, c in zip(pdf["word"], pdf["cnt"]):
                    for k, piece in enumerate(
                        unigram_viterbi(str(w), scores, _P20_MAXPL), 1
                    ):
                        out["word"].append(w)
                        out["cnt"].append(int(c))
                        out["k"].append(k)
                        out["piece"].append(piece)
                yield pd.DataFrame(out)

        return run

    schema = "word string, cnt long, k int, piece string"
    seg0 = wc.mapInPandas(seg_udf(s0), schema=schema)
    used = seg0.groupBy("piece").agg(F.sum("cnt").cast("long").alias("n"))
    chars = (
        wc.select(
            F.explode(F.split("word", "(?!^)(?=.)")).alias("piece")
        )
        .filter(F.col("piece") != "")
        .distinct()
        .withColumn("cn", F.lit(1).cast("long"))
    )
    cand1 = used.join(chars, "piece", "full_outer").select(
        "piece",
        (
            F.coalesce("n", F.lit(0)) + F.coalesce("cn", F.lit(0))
        ).alias("n"),
    )
    s1 = collect_scores(cand1)
    seg1 = wc.mapInPandas(seg_udf(s1), schema=schema)
    return seg1.groupBy("word", "cnt").agg(
        F.count("*").cast("long").alias("n_pieces"),
        F.concat_ws("|", F.array_sort(F.collect_list(F.struct("k", "piece")))
                    .getField("piece")).alias("seg"),
    )


# --- MM-VAD: voice-activity segments over the energy windows -----------------------
#
# The composition a speech-curation pipeline actually ships: the
# per-window energies (mm_audio_energy's value-checked feature) gate
# at each media's own mean (relative gate — absolute thresholds
# break across recordings with different gain; strict >, restated as
# the cross-multiplication energy·n_windows > sum_energy so nothing
# divides) and consecutive active windows compress into segments via
# gaps-and-islands (operators/multimodal.vad_segments). The oracle
# nests mm_audio_energy's constructed-expectation energy CTE — every
# PCM sample recomputed from the make_wav generator formula — then
# restates gate + islands + rollup in SQL.

_MM_VAD_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id,
         50 + doc_id % 101 AS n_frames,
         1 + (doc_id // 5) % 2 AS channels
  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
), j AS (
  SELECT media_id, channels,
         unnest(range(0, n_frames * channels)) AS s
  FROM m
), v AS (
  SELECT media_id,
         CAST(s // (25 * channels) AS BIGINT) AS window_idx,
         ((media_id * 17 + (2 * s) * 13) % 256)
           + 256 * ((media_id * 17 + (2 * s + 1) * 13) % 256) AS raw
  FROM j
), e AS (
  SELECT media_id, window_idx,
         CAST(sum(CASE WHEN raw >= 32768
                  THEN (raw - 65536) * (raw - 65536)
                  ELSE raw * raw END) AS BIGINT) AS energy
  FROM v GROUP BY 1, 2
), tot AS (
  SELECT media_id, CAST(sum(energy) AS BIGINT) AS sum_e,
         CAST(count(*) AS BIGINT) AS n_w
  FROM e GROUP BY 1
), act AS (
  SELECT e.media_id, e.window_idx, e.energy,
         e.window_idx - row_number() OVER (
           PARTITION BY e.media_id ORDER BY e.window_idx) AS grp
  FROM e JOIN tot USING (media_id)
  WHERE e.energy * tot.n_w > tot.sum_e
)
SELECT media_id,
       CAST(min(window_idx) AS BIGINT) AS seg_start,
       CAST(max(window_idx) AS BIGINT) AS seg_end,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(energy) AS BIGINT) AS seg_energy
FROM act GROUP BY media_id, grp
"""


@_q("mm_vad_segments", _MM_VAD_ORACLE)
def mm_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        audio_energy_windows,
        make_wav,
        vad_segments,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1))
        .select(F.col("doc_id").alias("media_id"))
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "audio",
                        "payload": bytearray(
                            make_wav(
                                50 + mid % 101,
                                sample_rate=8000 + (mid % 8) * 1000,
                                channels=1 + (mid // 5) % 2,
                                seed=mid,
                            )
                        ),
                        "mime": None,
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA.fields])

    media = ids.mapInPandas(build, schema=MEDIA)
    return vad_segments(audio_energy_windows(media, window_frames=25))


# --- PNG/JPEG header-level dimensions WITHOUT codec libraries
# (round-5 verdict #6): PNG width/height live in the IHDR chunk and
# JPEG's in the SOFn marker — both pure-Python parseable
# (operators/multimodal.parse_png/parse_jpeg). Payloads are REAL
# format-conformant bytes (CRC-correct PNG chunks, marker-walked
# JPEG) built deterministically from doc_id; the oracle recomputes
# the dimensions arithmetically from the same formulas (the
# constructed-expectation pattern of mm_codec_features). n_bytes is
# deliberately NOT emitted: the PNG IDAT length is a zlib-compressed
# size, not SQL arithmetic.

_MM_PNGJPEG_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 57
            ELSE 16 + doc_id % 241 END AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 5 + (doc_id // 2) % 31
            ELSE 9 + (doc_id // 4) % 123 END AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS n_frames
FROM documents WHERE text IS NOT NULL
"""


@_q("mm_png_jpeg_dims", _MM_PNGJPEG_ORACLE)
def mm_png_jpeg_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG/JPEG payloads → native header parse (no fake path,
    no codec library): a narrow mapInPandas builds format-conformant
    bytes per media_id, extract_features(deterministic_fake=False)
    decodes them via the IHDR / SOFn walks."""
    import pandas as pd

    from information_extraction_spark.operators.multimodal import (
        MEDIA,
        extract_features,
        make_jpeg,
        make_png,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("media_id"))
    )

    def build(batches):
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid % 2 == 0:
                    payload = make_png(
                        8 + mid % 57, 5 + (mid // 2) % 31, seed=mid
                    )
                else:
                    payload = make_jpeg(
                        16 + mid % 241, 9 + (mid // 4) % 123, seed=mid
                    )
                rows.append(
                    {
                        "media_id": mid,
                        "kind": "image",
                        "payload": bytearray(payload),
                        "mime": None,
                        "source": "synthetic",
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA.fields]
            )

    media = ids.mapInPandas(build, schema=MEDIA)
    feats = extract_features(media, deterministic_fake=False)
    return feats.select(
        "media_id",
        F.when(F.col("media_id") % 2 == 0, F.lit("png"))
        .otherwise(F.lit("jpeg"))
        .alias("fmt"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
    )
