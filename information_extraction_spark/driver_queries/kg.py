"""KG-construction queries over the driver test tables.

``kg_classify`` is oracle-checked against a full DuckDB SQL
reimplementation of the KB derivation + substring semantics — this
proves the Python kernel agrees with a declarative engine on the
classification contract. The flagship ``kg_extract_triples`` /
``kg_spo_lists`` queries have *materialized* value oracles: the span
tagging/decode semantics (overwrite order, BIESO) are not faithfully
SQL-expressible, so the pure-Python direct-path reference extractor
(kernels/extraction.reference_extract over classify_predicates +
bieso_tags + decode_bieso — a different code path from the Spark
kernels' KnowledgeBase batch/fused implementations, parity-pinned by
pytest against the reference's own worked examples) is evaluated
driver-side over an independently Python-derived transcript/KB and
written to a golden parquet that the DuckDB oracle reads back. The
query function writes the golden eagerly before returning its (lazy)
DataFrame, so the oracle table always reflects the sf_dir under test.
"""

from __future__ import annotations

import math
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_spark.operators.extract import (
    broadcast_kb,
    classify_stage,
    fanout_predicates,
)
from information_extraction_spark.operators.checkpoint import (
    cut,
    releases_unread_cuts,
)
from information_extraction_spark.functions.exact import exact_muldiv
from information_extraction_spark.operators.linking import canonical_mapping
from information_extraction_spark.plans.pipeline import extract_triples
from information_extraction_spark.sources.from_documents import (
    N_PREDICATES,
    TURN_WORDS,
    kb_from_documents,
    read_documents,
    transcripts_from_documents,
)

from information_extraction_spark.driver_queries._registry import _q


_KG_CLASSIFY_ORACLE = """
WITH words AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY w) - 1 AS BIGINT) AS idx
  FROM words WHERE length(w) >= 2
), vc AS (SELECT count(*) AS v FROM vocab),
toks AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT unnest(
    list_filter(
      list_transform(list_zip(ws, ws[2:]),
                     p -> CASE WHEN p[2] IS NULL THEN NULL
                               ELSE p[1] || ' ' || p[2] END),
      x -> x IS NOT NULL)) AS bigram
  FROM toks
), bgc AS (
  SELECT bigram, count(*) AS c FROM bg GROUP BY bigram
), bigrams AS (
  SELECT bigram,
         CAST(row_number() OVER (ORDER BY c DESC, bigram) - 1 AS BIGINT) AS idx
  FROM bgc QUALIFY idx < 200
), bc AS (SELECT count(*) AS b FROM bigrams),
kb AS (
  SELECT DISTINCT printf('rel%02d', k) AS predicate, v.w AS s, bgm.bigram AS o
  FROM generate_series(0, 49) gk(k)
  CROSS JOIN generate_series(0, 11) gi(i)
  CROSS JOIN vc CROSS JOIN bc
  JOIN vocab v ON v.idx = (7 * k + 3 * i) % vc.v
  JOIN bigrams bgm ON bgm.idx = (11 * k + 5 * i + 1) % bc.b
)
SELECT d.doc_id, kb.predicate
FROM documents d
JOIN kb ON contains(lower(d.text), lower(kb.s))
       AND contains(lower(d.text), lower(kb.o))
GROUP BY d.doc_id, kb.predicate
"""


@_q("kg_classify", _KG_CLASSIFY_ORACLE)
def kg_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-1 predicate classification kernel, oracle-checked: fired
    predicates (score 1.0) per document."""
    docs = (
        read_documents(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism * 2, "doc_id")
        .select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            "text",
        )
    )
    kb, _ = kb_from_documents(spark, sf_dir)
    classified = classify_stage(docs, broadcast_kb(spark, kb))
    fired = fanout_predicates(classified).filter(F.col("score") >= 0.999)
    return fired.select(
        F.col("conv_id").cast("long").alias("doc_id"), "predicate"
    )


# --- Flagship golden oracle -------------------------------------------------
#
# The golden is recomputed in pure Python from the raw documents table
# (its own turn-splitting, vocabulary, bigram and KB arithmetic — no
# Spark operators involved except serializing the result), then run
# through the DIRECT single-sentence reference extractor.
#
# Paths are PER-SF (keyed by the sf_dir basename) so concurrent runs
# at different scales (a pytest at sf0.001 alongside the driver gate
# at sf0.01) never clobber each other's golden. Each golden-based
# query registers its oracle as a pure function of sf_dir that names
# the golden's path; running the query writes the golden there.
# Same-sf concurrent writers produce byte-identical content (the
# derivation is deterministic), so the only residual race is a read
# during parquet commit.

import tempfile as _tempfile


def _golden_dir_name() -> str:
    """Pure path computation — NO filesystem side effects, so the
    oracle SQL functions can embed this path before any golden is
    written."""
    return os.path.join(
        _tempfile.gettempdir(), f"ie_spark_golden_u{os.getuid()}"
    )


def _ensure_golden_dir() -> str:
    """Create + verify the per-uid private golden directory (mode
    0700, ownership checked) so a world-writable /tmp cannot be used
    by another user to pre-create/poison a golden path. uid-scoped,
    not pid-scoped, because the oracle SQL string may be executed by a
    separate DuckDB process from the one that materialized the golden.
    Called at golden MATERIALIZATION time only — never at import
    (an unusable dir must fail the queries that need it, not the
    whole registry)."""
    d = _golden_dir_name()
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"golden dir {d} is owned by uid {st.st_uid}, not "
            f"{os.getuid()} — refusing to use a foreign directory"
        )
    os.chmod(d, 0o700)
    return d


def _golden_path(kind: str, sf_dir: str) -> str:
    import hashlib

    # basename for readability + a hash of the CANONICAL full path so
    # two different corpora sharing a basename (regenerated checkouts)
    # can never clobber each other's golden, while equivalent
    # spellings (trailing slashes, symlinks, relative paths) of the
    # same corpus resolve to the same file.
    real = os.path.realpath(sf_dir.rstrip("/") or "/")
    base = os.path.basename(real) or "sf"
    tag = hashlib.md5(real.encode()).hexdigest()[:8]
    return os.path.join(
        _golden_dir_name(), f"{kind}_{base}_{tag}.parquet"
    )


_GOLDEN_WRITTEN: dict[str, bool] = {}


def _write_golden_once(df: DataFrame, path: str) -> None:
    """Write a content-hash-named golden ATOMICALLY: stage to a
    pid-suffixed temp dir, os.rename into place, and skip entirely if
    a complete golden (_SUCCESS present) already exists. The hash in
    the file name makes same-name ⇒ same content, so skipping is
    sound — and two CONCURRENT check processes no longer race a
    mode("overwrite") delete window against a reader (observed once:
    a parallel targeted check transiently deleted the triples golden
    mid-sweep and one DuckDB read found an empty dir). The rename
    loser just removes its temp dir."""
    import shutil as _shutil

    if os.path.isdir(path) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        # another process won the race with a complete golden.
        _shutil.rmtree(tmp, ignore_errors=True)


_TRIPLE_COLS = (
    "conv_id string, turn_idx int, text string, predicate string, "
    "subject string, object string, subject_type string, "
    "object_type string"
)


def _python_golden_rows(spark: SparkSession, sf_dir: str):
    """Driver-side reimplementation of transcripts_from_documents +
    kb_from_documents + the per-sentence pipeline, via the direct
    (non-KnowledgeBase) kernels. Oracle-scale only (sf<=0.01)."""
    from information_extraction_spark.kernels.extraction import (
        reference_extract,
    )
    from information_extraction_spark.sources.from_documents import (
        ENTRIES_PER_PREDICATE,
        N_BIGRAMS,
        N_PREDICATES,
        TURN_WORDS,
    )

    doc_rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    texts = [r["text"] for r in doc_rows if r["text"] is not None]

    vocab = sorted(
        {w for t in texts for w in t.split(" ") if len(w) >= 2}
    )
    bg: Counter[str] = Counter()
    for t in texts:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            bg[a + " " + b] += 1
    bigrams = [
        g
        for g, _ in sorted(bg.items(), key=lambda kv: (-kv[1], kv[0]))[
            :N_BIGRAMS
        ]
    ]
    v, b = len(vocab), len(bigrams)
    kb_entries: set[tuple[str, str, str]] = set()
    schema_types: dict[str, tuple[str, str]] = {}
    for k in range(N_PREDICATES):
        pred = f"rel{k:02d}"
        schema_types[pred] = (f"T{k % 7}", f"U{k % 5}")
        for i in range(ENTRIES_PER_PREDICATE):
            kb_entries.add(
                (
                    pred,
                    vocab[(7 * k + 3 * i) % v],
                    bigrams[(11 * k + 5 * i + 1) % b],
                )
            )
    # Pair ORDER matters (BIESO overwrite: later pairs overwrite
    # earlier tags), so mirror kb_from_documents exactly: the KB table
    # is built from sorted(set(rows)), i.e. per-predicate pairs arrive
    # sorted by (subject, object).
    kb_by_predicate: dict[str, list[tuple[str, str]]] = {}
    for pred, s, o in sorted(kb_entries):
        kb_by_predicate.setdefault(pred, []).append((s, o))

    rows = []
    for r in doc_rows:
        if r["text"] is None:
            continue
        words = r["text"].split(" ")
        conv_id = f"doc{r['doc_id']}.0"
        for t in range(math.ceil(len(words) / TURN_WORDS)):
            turn_text = " ".join(
                words[t * TURN_WORDS : (t + 1) * TURN_WORDS]
            )
            if not turn_text:
                continue
            for s, p, o, st, ot in reference_extract(
                turn_text, kb_by_predicate, schema_types
            ):
                rows.append((conv_id, t, turn_text, p, s, o, st, ot))
    return rows


def _triples_oracle_sql(sf_dir: str) -> str:
    return (
        "\nSELECT conv_id, turn_idx, text, predicate, subject, object,\n"
        "       subject_type, object_type\n"
        f"FROM read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')\n"
    )


def _spo_oracle_sql(sf_dir: str) -> str:
    return (
        "\nSELECT conv_id, turn_idx, spo_json\n"
        f"FROM read_parquet('{_golden_path('spo', sf_dir)}/*.parquet')\n"
    )


def _ensure_golden(spark: SparkSession, sf_dir: str) -> None:
    if _GOLDEN_WRITTEN.get(sf_dir):
        return
    _ensure_golden_dir()
    rows = _python_golden_rows(spark, sf_dir)
    golden = spark.createDataFrame(rows, _TRIPLE_COLS)
    _write_golden_once(golden, _golden_path("triples", sf_dir))
    # spo_list shape: the VALUES are grouped/sorted in Python; only the
    # JSON serialization is delegated to Spark's to_json so formatting
    # matches the query side byte-for-byte.
    by_turn: dict[tuple[str, int, str], list] = {}
    for conv_id, t, text, p, s, o, st, ot in rows:
        by_turn.setdefault((conv_id, t, text), []).append(
            (p, s, o, st, ot)
        )
    spo_rows = [
        (cid, t, sorted(spos)) for (cid, t, _), spos in by_turn.items()
    ]
    spo_schema = (
        "conv_id string, turn_idx int, spo_list array<struct<"
        "predicate:string,subject:string,object:string,"
        "subject_type:string,object_type:string>>"
    )
    _write_golden_once(
        spark.createDataFrame(spo_rows, spo_schema).select(
            "conv_id", "turn_idx", F.to_json("spo_list").alias("spo_json")
        ),
        _golden_path("spo", sf_dir),
    )
    _GOLDEN_WRITTEN[sf_dir] = True


@_q("kg_extract_triples", _triples_oracle_sql)
def kg_extract_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline over transcripts derived from the
    documents table (classify → fan out → tag → decode → assemble)."""
    _ensure_golden(spark, sf_dir)
    transcripts = transcripts_from_documents(spark, sf_dir)
    kb, schemas = kb_from_documents(spark, sf_dir)
    return extract_triples(spark, transcripts, kb, schemas)


@_q("kg_spo_lists", _spo_oracle_sql)
def kg_spo_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn spo_list JSON rows (the reference's output shape,
    produce_submit_json_file.py:298-313)."""
    from information_extraction_spark.operators.extract import (
        collect_spo_lists,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return collect_spo_lists(triples).select(
        "conv_id", "turn_idx", F.to_json("spo_list").alias("spo_json")
    )


# --- Driver-visible tensor (NN) extraction --------------------------------
#
# §2.9's pluggable tensor path, oracle-checked end-to-end: seeded
# BiLSTM-CRF weights + vocab are SAVED to an npz checkpoint, reloaded
# via nn_extract_triples_from_checkpoint (broadcast, P8-P11 framing,
# memoized forwards, stock decode/assemble), and the result is
# value-compared against a DRIVER-SIDE golden computed by one big
# sequential numpy pass with no Spark, no memo, and different batch
# composition — so partitioning/batching/memoization errors in the
# Spark plumbing cannot cancel out. Doc subset (doc_id % 50 == 0)
# keeps the golden cheap at oracle scales.

_NN_DOC_MOD = 50
_NN_MAX_SEQ = 64


def _nn_model_inputs(chars: list[str]):
    """Deterministic (vocab, predicates, weights) shared by the query
    and the golden — a stand-in for a fine-tuned artifact."""
    from information_extraction_spark.kernels import nn

    vocab = nn.build_char_vocab(chars)
    predicates = [f"rel{k:02d}" for k in range(N_PREDICATES)]
    for p in predicates:
        vocab[p] = len(vocab)
    weights = nn.with_crf(
        nn.init_weights(len(vocab), n_predicates=N_PREDICATES, seed=11),
        seed=3,
    )
    return vocab, predicates, weights


def _python_nn_golden_rows(spark: SparkSession, sf_dir: str):
    """Driver-side sequential reimplementation of the NN extraction
    flow (classify → fan out → tag → decode → assemble) over the same
    deterministic model. Oracle-scale only (collects the documents
    table, like the flagship golden)."""
    import numpy as np

    from information_extraction_spark.kernels import nn
    from information_extraction_spark.kernels.extraction import decode_bieso
    from information_extraction_spark.kernels.tokenizer import (
        frame_with_special_tokens,
        index_tokens,
        predicate_conditioned_frame,
    )
    from information_extraction_spark.operators.extract import (
        FALLBACK_K,
        MIN_ENTITY_LEN,
        THRESHOLD,
    )

    doc_rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    chars = sorted(
        {c for r in doc_rows if r["text"] is not None for c in r["text"]}
    )
    vocab, predicates, weights = _nn_model_inputs(chars)
    types = {
        f"rel{k:02d}": (f"T{k % 7}", f"U{k % 5}")
        for k in range(N_PREDICATES)
    }

    turns: list[tuple[str, int, str]] = []
    for r in doc_rows:
        if r["text"] is None or r["doc_id"] % _NN_DOC_MOD != 0:
            continue
        words = r["text"].split(" ")
        conv_id = f"doc{r['doc_id']}.0"
        for t in range(math.ceil(len(words) / TURN_WORDS)):
            tt = " ".join(words[t * TURN_WORDS : (t + 1) * TURN_WORDS])
            if tt:
                turns.append((conv_id, t, tt))

    b = len(turns)
    ids = np.zeros((b, _NN_MAX_SEQ), dtype=np.int64)
    mask = np.zeros((b, _NN_MAX_SEQ), dtype=np.int64)
    for i, (_c, _t, txt) in enumerate(turns):
        toks, _seg, m = frame_with_special_tokens(list(txt), _NN_MAX_SEQ)
        ids[i] = index_tokens(toks, vocab, unk_id=nn.UNK_ID)
        mask[i] = m
    probs = nn.classify_logits(weights, ids, mask)

    units: list[tuple[str, int, str, str]] = []
    for i, (conv_id, t, txt) in enumerate(turns):
        scored = sorted(
            zip(predicates, probs[i].astype(float)),
            key=lambda kv: (-kv[1], kv[0]),
        )
        above = [(p, s) for p, s in scored if s > THRESHOLD]
        if not above:
            above = scored[:FALLBACK_K]
        for p, _s in above:
            units.append((conv_id, t, txt, p))

    pred_index = {p: i for i, p in enumerate(predicates)}
    half = (_NN_MAX_SEQ - 3) // 2
    rows = []
    for lo in range(0, len(units), 4096):
        chunk = units[lo : lo + 4096]
        n = len(chunk)
        uids = np.zeros((n, _NN_MAX_SEQ), dtype=np.int64)
        segs = np.zeros((n, _NN_MAX_SEQ), dtype=np.int64)
        lens = np.zeros(n, dtype=np.int64)
        for r_, (_c, _t, txt, p) in enumerate(chunk):
            toks, seg, m = predicate_conditioned_frame(
                list(txt), p, pred_index[p] % (nn.MAX_SEG - 1), _NN_MAX_SEQ
            )
            uids[r_] = index_tokens(toks, vocab, unk_id=nn.UNK_ID)
            segs[r_] = seg
            lens[r_] = sum(m)
        mat = nn.tag_ids_crf(weights, uids, segs, lens)
        for r_, (conv_id, t, txt, p) in enumerate(chunk):
            h = min(len(txt), half)
            tags = [nn.TAGS[x] for x in mat[r_, 1 : h + 1]]
            tags += ["O"] * (len(txt) - h)
            subs, objs = decode_bieso(tags, txt)
            subs = sorted({s for s in subs if len(s) >= MIN_ENTITY_LEN})
            objs = sorted({o for o in objs if len(o) >= MIN_ENTITY_LEN})
            st, ot = types[p]
            for s in subs:
                for o in objs:
                    rows.append((conv_id, t, txt, p, s, o, st, ot))
    return rows


def _nn_oracle_sql(sf_dir: str) -> str:
    return (
        "\nSELECT conv_id, turn_idx, text, predicate, subject, object,\n"
        "       subject_type, object_type\n"
        f"FROM read_parquet('{_golden_path('nn', sf_dir)}/*.parquet')\n"
    )


def _ensure_nn_golden(spark: SparkSession, sf_dir: str) -> None:
    key = f"nn::{sf_dir}"
    if _GOLDEN_WRITTEN.get(key):
        return
    _ensure_golden_dir()
    rows = _python_nn_golden_rows(spark, sf_dir)
    _write_golden_once(
        spark.createDataFrame(rows, _TRIPLE_COLS),
        _golden_path("nn", sf_dir),
    )
    _GOLDEN_WRITTEN[key] = True


@_q("kg_nn_extract", _nn_oracle_sql)
def kg_nn_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tensor seam end-to-end AND driver-visible: deterministic
    BiLSTM-CRF weights + corpus char vocab are saved to an npz
    checkpoint, reloaded, broadcast, and run through the NN extraction
    DAG (operators/nn_inference.py) over the doc_id % 50 transcript
    subset; value-checked against the sequential driver-side golden."""
    from information_extraction_spark.kernels import nn
    from information_extraction_spark.operators.nn_inference import (
        nn_extract_triples_from_checkpoint,
    )

    _ensure_nn_golden(spark, sf_dir)
    # Distinct corpus chars: a bounded alphabet dim (the one driver
    # collect this query needs besides the checkpoint itself).
    chars = sorted(
        r["c"]
        for r in read_documents(spark, sf_dir)
        .select(F.explode(F.split("text", "")).alias("c"))
        .distinct()
        .collect()
        if r["c"]
    )
    vocab, predicates, weights = _nn_model_inputs(chars)
    _ensure_golden_dir()
    ckpt = _golden_path("nn_ckpt", sf_dir).replace(".parquet", ".npz")
    nn.save_checkpoint(ckpt, weights, vocab)

    transcripts = transcripts_from_documents(spark, sf_dir).filter(
        F.regexp_extract("conv_id", r"^doc(\d+)\.", 1).cast("long")
        % _NN_DOC_MOD
        == 0
    )
    _, schemas = kb_from_documents(spark, sf_dir)
    return nn_extract_triples_from_checkpoint(
        spark, transcripts, schemas, ckpt
    )


_LINKING_ORACLE = """
WITH RECURSIVE vocab AS (
  SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
), v AS (
  SELECT w, row_number() OVER (ORDER BY w) - 1 AS i
  FROM vocab WHERE length(w) >= 2
), e0 AS (
  SELECT lower(a.w) AS src, lower(b.w) AS dst
  FROM v a JOIN v b ON b.i = a.i + 1
  WHERE a.i % 3 <> 2
), e AS (
  SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
), sym AS (
  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
), reach (node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
)
SELECT node AS surface, min(r) AS canonical_id
FROM reach GROUP BY node
"""


# Oracle: connected-components labels equal min-over-reachability, which
# DuckDB expresses as a recursive CTE (transitive closure is fine here:
# alias components are tiny by construction).
@_q("kg_entity_linking", _LINKING_ORACLE)
def kg_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components canonicalization over a deterministic
    alias graph synthesized from the corpus vocabulary (chains
    word[i] → word[i+1] for every third word)."""
    from information_extraction_spark.sources.from_documents import (
        alias_chain_pairs,
        vocabulary,
    )

    pairs = alias_chain_pairs(vocabulary(spark, sf_dir))
    alias_df = spark.createDataFrame(pairs, "canonical string, alias string")
    return canonical_mapping(alias_df).orderBy("surface")


@_q("kg_entity_linking_distributed", _LINKING_ORACLE)
def kg_entity_linking_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same alias graph and recursive-CTE oracle as kg_entity_linking,
    but labeled by the DISTRIBUTED star contraction
    (operators/linking._star_contraction — alternating
    large-star/small-star rounds over a shrinking edge set on the round
    driver), called directly: the leg a graph past
    ``linking.CC_DRIVER_EDGES`` takes. The result reads the labels
    cut."""
    from information_extraction_spark.operators.linking import (
        _star_contraction,
        alias_edges,
    )
    from information_extraction_spark.sources.from_documents import (
        alias_chain_pairs,
        vocabulary,
    )

    pairs = alias_chain_pairs(vocabulary(spark, sf_dir))
    alias_df = spark.createDataFrame(pairs, "canonical string, alias string")
    labels = _star_contraction(alias_edges(alias_df))
    return labels.toDF("surface", "canonical_id").orderBy("surface")


# --- Graph analytics over the MATERIALIZED triples -----------------------
#
# What a KG consumer runs the day after construction: degree
# centrality, schema co-occurrence, and neighborhood expansion over
# the (subj, pred, obj) table the pipeline writes. All three run the
# LIVE extraction pipeline end-to-end and oracle against the
# driver-side Python golden (same materialized-golden pattern as the
# flagship), so each green row re-proves extraction AND the analytic.


def _degree_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH ends AS (
  SELECT subject AS entity, predicate FROM {g}
  UNION ALL
  SELECT object AS entity, predicate FROM {g}
)
SELECT entity, CAST(count(*) AS BIGINT) AS degree,
       CAST(count(DISTINCT predicate) AS BIGINT) AS n_preds
FROM ends GROUP BY entity
ORDER BY degree DESC, entity
LIMIT 20
"""


def _cooccur_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH sp AS (SELECT DISTINCT subject, predicate FROM {g})
SELECT a.predicate AS p1, b.predicate AS p2,
       CAST(count(*) AS BIGINT) AS n_subjects
FROM sp a JOIN sp b
  ON a.subject = b.subject AND a.predicate < b.predicate
GROUP BY 1, 2
"""


def _two_hop_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
   WHERE subject <> object
  UNION
  SELECT DISTINCT object AS src, subject AS dst FROM {g}
   WHERE subject <> object
), seed AS (SELECT min(subject) AS s FROM {g}),
h1 AS (SELECT DISTINCT dst FROM e, seed WHERE src = s),
h2 AS (SELECT DISTINCT e.dst FROM e JOIN h1 ON e.src = h1.dst)
SELECT dst AS entity, CAST(1 AS INT) AS dist FROM h1
UNION ALL
SELECT dst, CAST(2 AS INT) FROM h2
 WHERE dst NOT IN (SELECT dst FROM h1)
   AND dst <> (SELECT s FROM seed)
"""


def _pagerank_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    # PageRank with a FIXED iteration count is exactly expressible as
    # chained CTEs — one per power iteration (r0 → r1 → r2 → r3), each
    # the same "(1-d) + d * Σ in-contributions" aggregation the Spark
    # loop runs. Both sides round to 6dp only at the END (intermediate
    # ranks stay full doubles), so FP associativity differences stay
    # ~1e-13 and never reach the compared digits.
    step = """
{dst} AS (
  SELECT nd.n, 0.15 + 0.85 * COALESCE(sum({src}.r / deg.d), 0.0) AS r
  FROM nodes nd
  LEFT JOIN e ON e.dst = nd.n
  LEFT JOIN deg ON deg.src = e.src
  LEFT JOIN {src} ON {src}.n = e.src
  GROUP BY nd.n
)"""
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
   WHERE subject <> object
), deg AS (
  SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src
), nodes AS (
  SELECT src AS n FROM e UNION SELECT dst FROM e
), r0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS r FROM nodes),
{step.format(src="r0", dst="r1")},
{step.format(src="r1", dst="r2")},
{step.format(src="r2", dst="r3")}
SELECT n AS entity, ROUND(r, 6) AS pr FROM r3
"""


@_q("kg_degree_topk", _degree_oracle_sql)
def kg_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 entities by degree (triple-endpoint mentions) with
    distinct-predicate breadth. One shuffle on the entity key with
    map-side partial aggregation (hot head entities combine before
    the exchange); the top-k is orderBy+limit — TakeOrderedAndProject
    (per-partition local top-20, driver merge), never a global sort.
    (degree DESC, entity) is a total order, so the 20 rows are
    deterministic."""
    triples = kg_extract_triples(spark, sf_dir)
    ends = triples.select(
        F.col("subject").alias("entity"), "predicate"
    ).unionAll(triples.select(F.col("object").alias("entity"), "predicate"))
    return (
        ends.groupBy("entity")
        .agg(
            F.count("*").cast("long").alias("degree"),
            F.countDistinct("predicate").cast("long").alias("n_preds"),
        )
        .orderBy(F.col("degree").desc(), "entity")
        .limit(20)
    )


@_q("kg_pred_cooccur", _cooccur_oracle_sql)
def kg_pred_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate co-occurrence: for each unordered predicate pair,
    how many subjects carry both. collect_set per subject (one
    shuffle; the set is bounded by the 50-relation schema) then a
    bounded pair expansion — never a self-join of the triple table on
    subject, which would square the hot-subject rows at scale."""
    triples = kg_extract_triples(spark, sf_dir)
    lists = triples.groupBy("subject").agg(
        F.collect_set("predicate").alias("ps")
    )
    return (
        lists.select(F.explode("ps").alias("p1"), "ps")
        .select("p1", F.explode("ps").alias("p2"))
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("long").alias("n_subjects"))
    )


@_q("kg_two_hop", _two_hop_oracle_sql)
@releases_unread_cuts
def kg_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood of a deterministic seed (min subject) over
    the undirected triple graph: (entity, dist∈{1,2}), distance =
    shortest hops — operators/graph.bfs_distances from the one seed,
    the seed row dropped. The endpoint projection is cut so the seed
    probe and the BFS run the extraction pipeline ONCE (at 100 TB this
    is the already-materialized graph table, read, not recomputed)."""
    from information_extraction_spark.operators.graph import (
        bfs_distances,
        triple_edges,
    )

    tri = cut(kg_extract_triples(spark, sf_dir).select("subject", "object"))
    seed = tri.agg(F.min("subject")).collect()[0][0]
    return bfs_distances(triple_edges(tri), [seed], max_hops=2).filter(
        F.col("dist") > 0
    )


# --- Negative sampling for KG-embedding training ---------------------------
#
# The training-data op a KG feeds downstream: for every positive
# triple, a corrupted-object NEGATIVE that is (a) drawn from a
# bounded candidate pool (top-16 objects by support — the frequency
# sampling TransE-style trainers use), (b) NOT a true triple, and
# (c) DETERMINISTIC — picked by argmin md5(s|p|o|cand), so reruns and
# resumed jobs emit the same negatives without any shared RNG state.
# Plan shape at 100 TB: the candidate pool is a broadcast 16-row dim
# (its TakeOrdered is a partial-agg + driver merge), the ×16
# expansion is narrow, the not-a-true-triple check is an equi-key
# anti-join on (s, p, candidate) vs (s, p, o), and the final argmin
# is one groupBy on the (s, p, o) key — no window, no global sort.


def _neg_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), cand AS (
  SELECT object AS c FROM t GROUP BY object
  ORDER BY count(*) DESC, object LIMIT 16
), expanded AS (
  SELECT t.subject, t.predicate, t.object, cand.c,
         md5(t.subject || '|' || t.predicate || '|' || t.object
             || '|' || cand.c) AS h
  FROM t CROSS JOIN cand
  WHERE cand.c <> t.object
), valid AS (
  SELECT e.* FROM expanded e
  LEFT JOIN t ON t.subject = e.subject AND t.predicate = e.predicate
             AND t.object = e.c
  WHERE t.subject IS NULL
)
SELECT subject, predicate, object,
       min_by(c, h) AS neg_object,
       CAST(count(*) AS BIGINT) AS n_candidates
FROM valid GROUP BY subject, predicate, object
"""


def negative_samples(t: DataFrame, pool_size: int = 16) -> DataFrame:
    """Core of kg_neg_sampling over an already-distinct
    (subject, predicate, object) DataFrame. Kept separate so tests can
    drive it with hand-built triple tables (test_curation_ops)."""
    cand = (
        t.groupBy("object")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "object")
        .limit(pool_size)
        .select(F.col("object").alias("c"))
    )
    expanded = (
        t.crossJoin(F.broadcast(cand))
        .filter(F.col("c") != F.col("object"))
        .withColumn(
            "h",
            F.md5(
                F.concat_ws("|", "subject", "predicate", "object", "c")
            ),
        )
    )
    valid = expanded.join(
        t.select(
            "subject", "predicate", F.col("object").alias("c")
        ),
        ["subject", "predicate", "c"],
        "left_anti",
    )
    return valid.groupBy("subject", "predicate", "object").agg(
        F.min_by("c", "h").alias("neg_object"),
        F.count("*").cast("long").alias("n_candidates"),
    )


@_q("kg_neg_sampling", _neg_oracle_sql)
@releases_unread_cuts
def kg_neg_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corrupted-object negatives (see block comment).
    The distinct triple projection is cut (checkpoint.cut) so the live
    extraction pipeline executes once, not once per reuse (candidate
    ranking / expansion / anti-join all branch off it)."""
    triples = kg_extract_triples(spark, sf_dir)
    t = cut(triples.select("subject", "predicate", "object").distinct())
    return negative_samples(t, pool_size=16)


@_q("kg_pagerank", _pagerank_oracle_sql)
def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (k=3, d=0.85) PageRank over the directed
    entity graph of the materialized triples — the canonical
    ITERATIVE KG analytic (the CC merge is the other one). The edge
    table is materialized once with out-degree attached and only
    scanned per iteration; the node-sized rank vector is what
    shuffles; lineage is cut per iteration (operators/graph.py). The
    oracle is the same three power steps as chained DuckDB CTEs, both
    sides rounding to 6dp only at the end."""
    from information_extraction_spark.operators.graph import (
        pagerank,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    ranks = pagerank(triple_edges(triples), iterations=3, damping=0.85)
    return ranks.select("entity", F.round("rank", 6).alias("pr"))


# --- Triple support + incremental merge -------------------------------------
#
# The two steps between raw per-sentence extraction and a graph table
# a consumer trusts: (1) support aggregation — the same fact asserted
# by many turns/conversations collapses to one row carrying its
# evidence counts (at sf0.01 the 17,426 raw assertions collapse to
# 4,202 distinct triples, avg support ≈ 4.1 — the multiplicity is
# real, not fixture-trivial); (2) incremental merge — a new batch of
# extractions lands in an existing graph via an insert-only MERGE on
# the (s, p, o) key (the emulated-Iceberg `MERGE INTO ... WHEN NOT
# MATCHED THEN INSERT`). Both oracles read the flagship golden, so a
# green row re-proves extraction AND the aggregation/merge semantics.


def _support_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
SELECT subject, predicate, object,
       CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(min(turn_idx) AS INT) AS first_turn
FROM {g}
GROUP BY subject, predicate, object
"""


def _merge_oracle_sql(sf_dir: str) -> str:
    # Base graph = triples extracted from EVEN doc ids, incoming batch
    # = odd doc ids (parity from the conv_id the pipeline mints —
    # 'doc<id>.0'). 695 of the odd side's 3,519 distinct triples are
    # genuinely new vs the even base at sf0.01; the rest are the
    # cross-document re-assertions the merge must suppress.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT subject, predicate, object,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) % 2 AS par
  FROM {g}
), base AS (
  SELECT DISTINCT subject, predicate, object FROM t WHERE par = 0
), inc AS (
  SELECT DISTINCT subject, predicate, object FROM t WHERE par = 1
)
SELECT subject, predicate, object, 'base' AS origin FROM base
UNION ALL
SELECT subject, predicate, object, 'new' AS origin
FROM (SELECT * FROM inc EXCEPT SELECT * FROM base)
"""


@_q("kg_triple_support", _support_oracle_sql)
def kg_triple_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-triple support evidence over the live pipeline's output
    (operators/graph.triple_support): one map-side-combined shuffle on
    the full (s, p, o) key."""
    from information_extraction_spark.operators.graph import (
        triple_support,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return triple_support(triples)


@_q("kg_incremental_merge", _merge_oracle_sql)
@releases_unread_cuts
def kg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only MERGE of an incoming extraction batch (odd doc ids)
    into an existing base graph (even doc ids): the merged table with
    each row's origin ('base' row already present / 'new' inserted by
    the batch). The parity projection is cut (checkpoint.cut) so the
    live pipeline executes once, not once per branch (base / incoming both
    read it)."""
    from information_extraction_spark.operators.graph import (
        merge_new_triples,
    )

    triples = kg_extract_triples(spark, sf_dir)
    spo = cut(
        triples.select(
            "subject",
            "predicate",
            "object",
            (
                F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long")
                % 2
            ).alias("par"),
        )
    )
    key = ["subject", "predicate", "object"]
    base = spo.filter(F.col("par") == 0).select(*key).distinct()
    incoming = spo.filter(F.col("par") == 1).select(*key)
    new = merge_new_triples(base, incoming)
    return base.withColumn("origin", F.lit("base")).unionAll(
        new.withColumn("origin", F.lit("new"))
    )


# --- Conflict resolution, ontology profile, provenance -----------------------
#
# The consolidation layer ABOVE support aggregation: (1) functional-
# slot conflict resolution (one winning object per (s, p), audited by
# candidate count + confidence — load-bearing on this corpus: 485 of
# 494 (s, p) slots at sf0.01 carry >1 candidate object, 34 of them
# tied on (support, n_convs) so the lexicographic tie-break is
# exercised too); (2) the ontology profile a schema curator reads
# (per typed predicate: volume + endpoint cardinalities +
# functionality ratio); (3) per-triple provenance pointers back into
# the transcript table, k-bounded so no hot fact ever collects
# unbounded state. All three oracle against the flagship golden.


def _resolve_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH sup AS (
  SELECT subject, predicate, object,
         CAST(count(*) AS BIGINT) AS support,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM {g} GROUP BY 1, 2, 3
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY subject, predicate
             ORDER BY support DESC, n_convs DESC, object DESC) AS rn,
         CAST(count(*) OVER (PARTITION BY subject, predicate) AS BIGINT)
             AS n_candidates,
         CAST(sum(support) OVER (PARTITION BY subject, predicate)
             AS DOUBLE) AS total
  FROM sup
)
SELECT subject, predicate, object, support, n_convs, n_candidates,
       ROUND(support / total, 4) AS confidence
FROM ranked WHERE rn = 1
"""


def _profile_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT subject, predicate, object, subject_type, object_type,
         CAST(count(*) AS BIGINT) AS support
  FROM {g} GROUP BY 1, 2, 3, 4, 5
)
SELECT predicate, subject_type, object_type,
       CAST(sum(support) AS BIGINT) AS n_assertions,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(count(DISTINCT subject) AS BIGINT) AS n_subjects,
       CAST(count(DISTINCT object) AS BIGINT) AS n_objects,
       ROUND(count(*) / CAST(count(DISTINCT subject) AS DOUBLE), 4)
           AS functionality
FROM t GROUP BY 1, 2, 3
"""


def _provenance_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH ev AS (
  SELECT subject, predicate, object,
         printf('%s#%010d', conv_id, turn_idx) AS e
  FROM {g}
)
SELECT subject, predicate, object,
       CAST(count(*) AS BIGINT) AS n_evidence,
       array_to_string((list(e ORDER BY e))[1:5], '|') AS evidence
FROM ev GROUP BY 1, 2, 3
"""


@_q("kg_functional_resolve", _resolve_oracle_sql)
def kg_functional_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-slot conflict resolution over the live pipeline's
    output (operators/graph.resolve_functional): struct-ordered max,
    two map-side-combined shuffles, no window sort."""
    from information_extraction_spark.operators.graph import (
        resolve_functional,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return resolve_functional(triples)


@_q("kg_pred_profile", _profile_oracle_sql)
def kg_pred_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology profile per typed predicate
    (operators/graph.predicate_profile)."""
    from information_extraction_spark.operators.graph import (
        predicate_profile,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return predicate_profile(triples)


@_q("kg_provenance", _provenance_oracle_sql)
def kg_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-triple k-bounded provenance pointers
    (operators/graph.triple_provenance, k=5)."""
    from information_extraction_spark.operators.graph import (
        triple_provenance,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return triple_provenance(triples, k=5)


# --- Temporal extent + per-conversation yield --------------------------------
#
# Two more consumers of the (conv_id, turn_idx) provenance key: the
# triple validity window (join BACK to the transcript table for the
# assertion timestamps — the Spark side does the real join; the
# oracle exploits the fixture's deterministic ts = origin +
# doc_id*3600s + turn_idx*30s to stay a pure-SQL check over the
# golden), and the per-conversation extraction-yield monitor (the
# oracle recomputes n_turns from the documents table with the same
# ceil(words/12) rule as transcripts_from_documents). Both queries
# emit RELATIVE seconds / plain counts only — no timestamp columns,
# so an oracle harness in any session timezone compares equal.

from information_extraction_spark.sources.from_documents import (
    TS_ORIGIN as _TS_ORIGIN,
)


def _temporal_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT subject, predicate, object,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) * 3600
           + turn_idx * 30 AS sec
  FROM {g}
)
SELECT subject, predicate, object,
       CAST(min(sec) AS BIGINT) AS valid_from_s,
       CAST(max(sec) AS BIGINT) AS valid_to_s
FROM t GROUP BY 1, 2, 3
"""


def _slot_changes_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT subject, predicate, object,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) * 3600
           + turn_idx * 30 AS sec
  FROM {g}
), firsts AS (
  SELECT subject, predicate, object,
         CAST(min(sec) AS BIGINT) AS changed_at_s
  FROM t GROUP BY 1, 2, 3
), v AS (
  SELECT subject, predicate, object, changed_at_s,
         CAST(row_number() OVER w AS BIGINT) AS version,
         lag(object) OVER w AS prev_object,
         CAST(count(*) OVER (
             PARTITION BY subject, predicate) AS BIGINT) AS n_versions
  FROM firsts
  WINDOW w AS (PARTITION BY subject, predicate
               ORDER BY changed_at_s, object)
)
SELECT subject, predicate, version, object, prev_object,
       changed_at_s, n_versions
FROM v WHERE n_versions >= 2
"""


def _conv_stats_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH convs AS (
  SELECT 'doc' || CAST(doc_id AS VARCHAR) || '.0' AS conv_id,
         -- coalesce mirrors transcripts_from_documents: NULL text
         -- derives exactly one empty turn
         CAST(ceil(len(string_split(coalesce(text, ''), ' ')) / 12.0)
             AS BIGINT) AS n_turns
  FROM documents
), y AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_assertions,
         CAST(count(DISTINCT (subject, predicate, object)) AS BIGINT)
             AS n_triples,
         CAST(count(DISTINCT predicate) AS BIGINT) AS n_predicates
  FROM {g} GROUP BY 1
)
SELECT c.conv_id, c.n_turns,
       COALESCE(y.n_assertions, 0) AS n_assertions,
       COALESCE(y.n_triples, 0) AS n_triples,
       COALESCE(y.n_predicates, 0) AS n_predicates
FROM convs c LEFT JOIN y USING (conv_id)
"""


def _temporal_conflict_oracle_sql(sf_dir: str) -> str:
    # temporal_extent's rollup reused as a CTE, then the interval-
    # overlap self-join restated: distinct objects of one (s, p)
    # slot whose [from, to] windows intersect (closed intervals,
    # object_a < object_b canonical order).
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT subject, predicate, object,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) * 3600
           + turn_idx * 30 AS sec
  FROM {g}
), ext AS (
  SELECT subject, predicate, object,
         CAST(min(sec) AS BIGINT) AS f, CAST(max(sec) AS BIGINT) AS t
  FROM t GROUP BY 1, 2, 3
)
SELECT a.subject, a.predicate,
       a.object AS object_a, b.object AS object_b,
       greatest(a.f, b.f) AS overlap_from_s,
       least(a.t, b.t) AS overlap_to_s,
       least(a.t, b.t) - greatest(a.f, b.f) AS overlap_s
FROM ext a JOIN ext b
  ON a.subject = b.subject AND a.predicate = b.predicate
 AND a.object < b.object
 AND a.f <= b.t AND b.f <= a.t
"""


# --- Partitioned graph sink, consumed ----------------------------------------
#
# write_graph's partitioning story made driver-visible end-to-end:
# the extracted triples are materialized ONCE as the pred_bucket-
# partitioned graph table (write-once: its metadata file marks a
# completed write), then a single-predicate consumer reads it
# through read_graph_predicate — the bucket filter prunes to 1 of 16
# partition directories at the scan (pytest asserts via scan
# metrics) and the values must equal the golden filtered to that
# predicate. Previously the sink's
# correctness was pytest-only (VERDICT r02/r03 noted the pattern for
# IVF; this closes it for the graph table itself).

_GRAPH_SCAN_PRED = "rel17"  # 463/454 rows at sf0.001/sf0.01 — load-bearing


def graph_table_path(sf_dir: str) -> str:
    return _golden_path("graph_table", sf_dir).replace(
        ".parquet", "_bucketed.parquet"
    )


def write_graph_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the live pipeline's triples through write_graph
    (pred_bucket partitioning + salted writer shuffle) write-once: the
    table's own metadata file, which write_graph writes after the
    data, marks a completed write."""
    import os

    from information_extraction_spark.sources.tables import (
        GRAPH_META,
        write_graph,
    )

    _ensure_golden_dir()
    path = graph_table_path(sf_dir)
    if os.path.exists(os.path.join(path, GRAPH_META)):
        return path
    triples = kg_extract_triples(spark, sf_dir).select(
        "conv_id", "turn_idx", "subject", "predicate", "object"
    )
    write_graph(triples, path)
    return path


def _graph_scan_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
SELECT conv_id, turn_idx, subject, predicate, object
FROM {g} WHERE predicate = '{_GRAPH_SCAN_PRED}'
"""


@_q("kg_graph_pred_scan", _graph_scan_oracle_sql)
def kg_graph_pred_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the partitioned graph table once, then consume it with a
    single-predicate pruned read (sources/tables.read_graph_predicate
    — PartitionFilters on pred_bucket, predicate pushed to row
    groups); values must equal the golden restricted to the
    predicate."""
    from information_extraction_spark.sources.tables import (
        read_graph_predicate,
    )

    path = write_graph_table(spark, sf_dir)
    return read_graph_predicate(spark, path, _GRAPH_SCAN_PRED).select(
        "conv_id", "turn_idx", "subject", "predicate", "object"
    )


# --- Incremental ER: new batch probed against a persisted slot index --------
#
# The incremental counterpart of kg_er_candidates, same shape as
# dd_incremental_lsh: the BASE graph's capped slot index (even doc
# ids, subject degrees denormalized onto the rows, stop-keys split
# out) is materialized ONCE behind a meta sidecar; each arriving
# batch (odd doc ids) is blocked against it with the batch side
# broadcast — the indexed base is never re-shuffled.


def _er_index_paths(sf_dir: str) -> tuple[str, str, str]:
    base = _golden_path("er_slot_index", sf_dir)
    return (
        base.replace(".parquet", "_slots.parquet"),
        base.replace(".parquet", "_stop.parquet"),
        base.replace(".parquet", "_slots.parquet") + ".meta.json",
    )


def write_er_slot_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the even-parity base graph's ER slot index
    (operators/linking.build_er_slot_index) write-once behind a meta
    sidecar committed AFTER both parquet writes — a completed build
    is reused so repeat probes time the probe, not the rebuild."""
    import json
    import os

    from information_extraction_spark.operators.linking import (
        build_er_slot_index,
    )

    _ensure_golden_dir()
    slots_path, stop_path, meta_path = _er_index_paths(sf_dir)
    if os.path.exists(meta_path):
        return slots_path, stop_path
    triples = kg_extract_triples(spark, sf_dir)
    base = triples.filter(
        F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long") % 2 == 0
    )
    index, stop = build_er_slot_index(base, max_slot_freq=1000)
    index.write.mode("overwrite").parquet(slots_path)
    stop.write.mode("overwrite").parquet(stop_path)
    with open(meta_path, "w") as fh:
        json.dump({"max_slot_freq": 1000, "split": "even-doc"}, fh)
    return slots_path, stop_path


def _incremental_er_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT DISTINCT subject AS s, predicate AS p, object AS o,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) % 2
             AS par
  FROM {g}
), base AS (
  SELECT DISTINCT s, p, o FROM t WHERE par = 0
), newb AS (
  SELECT DISTINCT s, p, o FROM t WHERE par = 1
), stop AS (
  SELECT p, o FROM base GROUP BY 1, 2 HAVING count(*) > 1000
), bk AS (
  SELECT * FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM stop WHERE stop.p = b.p AND stop.o = b.o)
), nk AS (
  SELECT * FROM newb n
  WHERE NOT EXISTS (SELECT 1 FROM stop WHERE stop.p = n.p AND stop.o = n.o)
), db AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n FROM bk GROUP BY 1
), dn AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n FROM nk GROUP BY 1
), pairs AS (
  SELECT b.s AS sb, n.s AS sn, CAST(count(*) AS BIGINT) AS shared
  FROM bk b JOIN nk n ON b.p = n.p AND b.o = n.o AND b.s <> n.s
  GROUP BY 1, 2
)
SELECT sb AS s_base, sn AS s_new, shared,
       ROUND(shared / CAST(db.n + dn.n - shared AS DOUBLE), 4) AS jaccard
FROM pairs
JOIN db ON db.s = pairs.sb
JOIN dn ON dn.s = pairs.sn
WHERE ROUND(shared / CAST(db.n + dn.n - shared AS DOUBLE), 4) >= 0.5
"""


@_q("kg_incremental_er", _incremental_er_oracle_sql)
def kg_incremental_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the odd-doc batch against the persisted even-doc slot
    index (operators/linking.er_probe): batch slots + stop-keys
    broadcast, the indexed base streamed — never re-blocked.
    Load-bearing: 252 of 270 cross-side pairs survive tau=0.5 at
    sf0.01."""
    from information_extraction_spark.operators.linking import er_probe

    slots_path, stop_path = write_er_slot_index(spark, sf_dir)
    triples = kg_extract_triples(spark, sf_dir)
    new_batch = triples.filter(
        F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long") % 2 == 1
    )
    return er_probe(
        spark.read.parquet(slots_path),
        spark.read.parquet(stop_path),
        new_batch,
        tau=0.5,
    )


# --- Conversation-level dedup by extracted content ---------------------------
#
# The last dedup granularity: span (dd_dup_spans) -> document (dd_*)
# -> CONVERSATION. Two transcripts whose extracted triple sets
# overlap heavily are re-ingests/forwards/template copies even when
# the surface text differs; the blocked set-Jaccard machinery is
# linking.er_candidates' one level up (blocking key = the full
# (s, p, o) triple; stop-triples above max_triple_freq=8 leave
# intersection AND union). Load-bearing at sf0.001: 27 pairs survive
# tau=0.5 out of ~12k blocked candidates.


def _conv_dedup_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT DISTINCT conv_id, subject, predicate, object FROM {g}
), keep AS (
  SELECT subject, predicate, object FROM t
  GROUP BY 1, 2, 3 HAVING count(*) <= 8
), blocked AS (
  SELECT t.* FROM t JOIN keep USING (subject, predicate, object)
), deg AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n FROM blocked GROUP BY 1
), pairs AS (
  SELECT a.conv_id AS c1, b.conv_id AS c2,
         CAST(count(*) AS BIGINT) AS shared
  FROM blocked a JOIN blocked b
    ON a.subject = b.subject AND a.predicate = b.predicate
   AND a.object = b.object AND a.conv_id < b.conv_id
  GROUP BY 1, 2
)
SELECT c1, c2, shared,
       ROUND(shared / CAST(d1.n + d2.n - shared AS DOUBLE), 4) AS jaccard
FROM pairs
JOIN deg d1 ON d1.conv_id = pairs.c1
JOIN deg d2 ON d2.conv_id = pairs.c2
WHERE ROUND(shared / CAST(d1.n + d2.n - shared AS DOUBLE), 4) >= 0.5
"""


@_q("kg_conv_dedup", _conv_dedup_oracle_sql)
def kg_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate conversation pairs by triple-set Jaccard
    (operators/graph.conv_dedup: (s,p,o)-blocked equi-join, stop-
    triple cap 8, tau 0.5)."""
    from information_extraction_spark.operators.graph import conv_dedup

    triples = kg_extract_triples(spark, sf_dir)
    return conv_dedup(triples, tau=0.5, max_triple_freq=8)


def _type_infer_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH votes AS (
  SELECT subject AS entity, subject_type AS etype FROM {g}
  UNION ALL
  SELECT object, object_type FROM {g}
), c AS (
  SELECT entity, etype, CAST(count(*) AS BIGINT) AS votes
  FROM votes GROUP BY 1, 2
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY entity
             ORDER BY votes DESC, etype DESC) AS rn,
         CAST(sum(votes) OVER (PARTITION BY entity) AS BIGINT)
             AS n_votes,
         CAST(count(*) OVER (PARTITION BY entity) AS BIGINT) AS n_types
  FROM c
)
SELECT entity, etype, votes, n_votes, n_types,
       ROUND(votes / CAST(n_votes AS DOUBLE), 4) AS share
FROM ranked WHERE rn = 1
"""


@_q("kg_type_infer", _type_infer_oracle_sql)
def kg_type_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant entity type by assertion votes
    (operators/graph.infer_entity_types); load-bearing: 30 of 228
    entities at sf0.01 carry conflicting type votes."""
    from information_extraction_spark.operators.graph import (
        infer_entity_types,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return infer_entity_types(triples)


def _er_oracle_sql(sf_dir: str) -> str:
    # Same filtered-universe semantics as operators/linking.py:
    # er_candidates — stop-slots ((p,o) keys above max_slot_freq)
    # leave both intersection and union; jaccard rounds to 4dp BEFORE
    # the tau filter on both sides.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH slots AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), keep AS (
  SELECT predicate, object FROM slots
  GROUP BY 1, 2 HAVING count(*) <= 1000
), blocked AS (
  SELECT s.* FROM slots s JOIN keep USING (predicate, object)
), deg AS (
  SELECT subject, CAST(count(*) AS BIGINT) AS n FROM blocked GROUP BY 1
), pairs AS (
  SELECT a.subject AS s1, b.subject AS s2,
         CAST(count(*) AS BIGINT) AS shared
  FROM blocked a JOIN blocked b
    ON a.predicate = b.predicate AND a.object = b.object
   AND a.subject < b.subject
  GROUP BY 1, 2
)
SELECT s1, s2, shared,
       ROUND(shared / CAST(d1.n + d2.n - shared AS DOUBLE), 4) AS jaccard
FROM pairs
JOIN deg d1 ON d1.subject = pairs.s1
JOIN deg d2 ON d2.subject = pairs.s2
WHERE ROUND(shared / CAST(d1.n + d2.n - shared AS DOUBLE), 4) >= 0.5
"""


@_q("kg_er_candidates", _er_oracle_sql)
def kg_er_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-entity candidate pairs by shared (predicate, object)
    slots (operators/linking.er_candidates: blocked equi-join on the
    slot key, stop-slot cap, slot-set Jaccard >= 0.5). Load-bearing:
    126 of 135 blocked pairs survive the threshold at sf0.01."""
    from information_extraction_spark.operators.linking import (
        er_candidates,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return er_candidates(triples, tau=0.5, max_slot_freq=1000)


@_q("kg_temporal_extent", _temporal_oracle_sql)
def kg_temporal_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple validity windows via the real provenance join back to
    the transcript table (operators/graph.temporal_extent); bounds in
    seconds since the corpus origin so the result is
    timezone-portable."""
    from information_extraction_spark.operators.graph import (
        temporal_extent,
    )
    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    triples = kg_extract_triples(spark, sf_dir)
    transcripts = transcripts_from_documents(spark, sf_dir)
    return temporal_extent(triples, transcripts, origin=_TS_ORIGIN)


@_q("kg_temporal_conflict", _temporal_conflict_oracle_sql)
def kg_temporal_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simultaneous-contradiction detection over functional slots
    (operators/graph.temporal_conflicts): distinct objects of one
    (subject, predicate) whose validity windows overlap — the
    conflicts neither slot_changes' correction timeline nor
    kg_functional_resolve's single winner accounts for. Slot-co-keyed
    self-join over temporal_extent's at-most-one-row-per-(s,p,o)
    rollup; see the operator docstring for the scale shape."""
    from information_extraction_spark.operators.graph import (
        temporal_conflicts,
    )
    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    triples = kg_extract_triples(spark, sf_dir)
    transcripts = transcripts_from_documents(spark, sf_dir)
    return temporal_conflicts(triples, transcripts, origin=_TS_ORIGIN)


@_q("kg_slot_changes", _slot_changes_oracle_sql)
def kg_slot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-slot object-version history (operators/graph.
    slot_changes): per (subject, predicate) with >1 distinct object,
    the time-ordered versions with previous object and
    first-assertion second — the correction-vs-change timeline
    kg_functional_resolve's single winner discards."""
    from information_extraction_spark.operators.graph import (
        slot_changes,
    )
    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    triples = kg_extract_triples(spark, sf_dir)
    transcripts = transcripts_from_documents(spark, sf_dir)
    return slot_changes(triples, transcripts, origin=_TS_ORIGIN)


_ROLE_PROFILE_ORACLE = """
WITH docs AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS words
  FROM documents
), base AS (
  SELECT doc_id, words,
         CAST(ceil(len(words) / 12.0) AS BIGINT) AS n_turns FROM docs
), turns AS (
  SELECT doc_id, unnest(range(n_turns)) AS turn_idx, words FROM base
), per AS (
  SELECT 'doc' || CAST(doc_id AS VARCHAR) || '.0' AS conv_id,
         CASE CAST(turn_idx % 3 AS INT)
              WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         CASE WHEN turn_idx % 3 = 2 THEN 'search' ELSE 'none' END AS tool,
         len(list_filter(
             words[CAST(turn_idx * 12 + 1 AS INT)
                   :CAST(turn_idx * 12 + 12 AS INT)],
             w -> len(w) >= 1)) AS n_tok
  FROM turns
)
SELECT role, tool,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_turn_tokens
FROM per GROUP BY 1, 2
"""


@_q("kg_role_profile", _ROLE_PROFILE_ORACLE)
def kg_role_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(role, tool) transcript profile — the first consumer of
    the transcript table's role/tool columns (the input contract is
    (conv_id, turn_idx, role, text, tool, ts)): turn volume, distinct
    conversations, token mass, and the longest turn per speaker role
    and tool annotation. The ingest-monitoring cut an agent-transcript
    warehouse runs before extraction (are tool turns present? is the
    assistant side carrying the token mass?).

    Scale shape: token counting is a narrow in-row filter over the
    split array (no explode — a turn never becomes per-token rows);
    the profile is ONE map-side-combined shuffle on the bounded
    (role, tool) key; countDistinct(conv_id) expands via Expand keyed
    on (role, tool, conv_id), so the hot 3-row group key never
    concentrates raw turn volume on 3 reducers.

    The oracle re-derives the turn split from documents with the same
    ceil(words/12) rule as transcripts_from_documents and replays the
    role/tool assignment arithmetically.
    """
    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    t = transcripts_from_documents(spark, sf_dir)
    n_tok = F.size(
        F.filter(F.split("text", " "), lambda w: F.length(w) >= 1)
    )
    return (
        t.select(
            "conv_id",
            "role",
            F.coalesce("tool", F.lit("none")).alias("tool"),
            n_tok.alias("n_tok"),
        )
        .groupBy("role", "tool")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.max("n_tok").cast("long").alias("max_turn_tokens"),
        )
    )


def _role_yield_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
SELECT CASE CAST(turn_idx % 3 AS INT)
            WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
            ELSE 'tool' END AS role,
       CAST(count(*) AS BIGINT) AS n_assertions,
       CAST(count(DISTINCT (subject, predicate, object)) AS BIGINT)
           AS n_triples,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(DISTINCT predicate) AS BIGINT) AS n_predicates
FROM {g} GROUP BY 1
"""


@_q("kg_role_yield", _role_yield_oracle_sql)
def kg_role_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction yield by speaker role: which side of the
    conversation the triples actually come from — per role, the
    assertion count, distinct triples/predicates, and conversations
    contributing. The monitor that tells an agent-transcript pipeline
    whether it is mining the user's statements or the assistant's
    (and whether tool-output turns yield structured facts at all).

    Scale shape: role is recovered from the triple's own provenance
    key (turn_idx) with the transcript contract's cycle rule — an
    in-row CASE, no join back to the transcript table; the profile is
    ONE shuffle on the 3-value role key with the multi-DISTINCTs
    expanding via Expand keyed on (role, value), so raw assertion
    volume never lands on 3 reducers.
    """
    triples = kg_extract_triples(spark, sf_dir)
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
        (F.col("turn_idx") % 3) + 1,
    )
    return (
        triples.select(
            role.alias("role"),
            "conv_id",
            "subject",
            "predicate",
            "object",
        )
        .groupBy("role")
        .agg(
            F.count("*").cast("long").alias("n_assertions"),
            F.countDistinct("subject", "predicate", "object")
            .cast("long")
            .alias("n_triples"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.countDistinct("predicate").cast("long").alias(
                "n_predicates"
            ),
        )
    )


@_q("kg_conv_stats", _conv_stats_oracle_sql)
def kg_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation extraction yield
    (operators/graph.conversation_stats)."""
    from information_extraction_spark.operators.graph import (
        conversation_stats,
    )
    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    triples = kg_extract_triples(spark, sf_dir)
    transcripts = transcripts_from_documents(spark, sf_dir)
    return conversation_stats(transcripts, triples)


# --- ER merge application ----------------------------------------------------
#
# kg_er_candidates PROPOSES duplicate-entity pairs; this APPLIES them:
# connected components over the above-threshold pairs, subjects
# rewritten to their component's minimum member, support
# re-aggregated. The oracle recomputes the pairs (same CTEs as
# _er_oracle_sql), closes them with a recursive CTE (the
# dd_dup_clusters pattern — pairs are bounded, 126 at sf0.01), and
# rewrites the golden identically.


def _er_merge_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH RECURSIVE slots AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), keep AS (
  SELECT predicate, object FROM slots
  GROUP BY 1, 2 HAVING count(*) <= 1000
), blocked AS (
  SELECT s.* FROM slots s JOIN keep USING (predicate, object)
), deg AS (
  SELECT subject, CAST(count(*) AS BIGINT) AS n FROM blocked GROUP BY 1
), pairs AS (
  SELECT a.subject AS s1, b.subject AS s2,
         CAST(count(*) AS BIGINT) AS shared
  FROM blocked a JOIN blocked b
    ON a.predicate = b.predicate AND a.object = b.object
   AND a.subject < b.subject
  GROUP BY 1, 2
), edges AS (
  SELECT s1, s2 FROM pairs
  JOIN deg d1 ON d1.subject = pairs.s1
  JOIN deg d2 ON d2.subject = pairs.s2
  WHERE ROUND(shared / CAST(d1.n + d2.n - shared AS DOUBLE), 4) >= 0.5
), sym AS (
  SELECT s1 AS a, s2 AS b FROM edges
  UNION SELECT s2, s1 FROM edges
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
)
SELECT COALESCE(c.component, t.subject) AS subject,
       t.predicate, t.object,
       CAST(count(*) AS BIGINT) AS support,
       CAST(count(DISTINCT t.conv_id) AS BIGINT) AS n_convs,
       CAST(count(DISTINCT t.subject) AS BIGINT) AS n_surfaces
FROM {g} t LEFT JOIN comp c ON c.node = t.subject
GROUP BY 1, 2, 3
"""


@_q("kg_er_merge", _er_merge_oracle_sql)
def kg_er_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the ER candidate decisions to the graph
    (operators/linking.apply_er_merge): CC over the tau=0.5 pairs,
    broadcast label rewrite, support re-aggregation. n_surfaces > 1
    marks the rows the merge actually changed."""
    from information_extraction_spark.operators.linking import (
        apply_er_merge,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return apply_er_merge(triples, tau=0.5, max_slot_freq=1000)


# --- SHACL-style validation over the induced ontology ------------------------


def _cardinality_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH slots AS (
  SELECT subject, predicate,
         CAST(count(DISTINCT object) AS BIGINT) AS n_obj
  FROM {g} GROUP BY 1, 2
)
SELECT predicate,
       CAST(count(*) AS BIGINT) AS n_slots,
       CAST(sum(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       CAST(max(n_obj) AS BIGINT) AS max_objects,
       ROUND(sum(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS violation_rate
FROM slots GROUP BY predicate
"""


@_q("kg_cardinality_check", _cardinality_oracle_sql)
def kg_cardinality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-cardinality-1 (functional) violation profile per predicate
    (operators/graph.cardinality_profile) — the go/no-go table for
    resolve_functional."""
    from information_extraction_spark.operators.graph import (
        cardinality_profile,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return cardinality_profile(triples)


def _type_violations_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH votes AS (
  SELECT subject AS entity, subject_type AS etype FROM {g}
  UNION ALL
  SELECT object, object_type FROM {g}
), c AS (
  SELECT entity, etype, CAST(count(*) AS BIGINT) AS votes
  FROM votes GROUP BY 1, 2
), dom AS (
  SELECT entity, etype AS inferred FROM (
    SELECT entity, etype,
           row_number() OVER (PARTITION BY entity
               ORDER BY votes DESC, etype DESC) AS rn
    FROM c) WHERE rn = 1
), sides AS (
  SELECT subject AS entity, predicate, subject_type AS declared,
         'subject' AS side FROM {g}
  UNION ALL
  SELECT object, predicate, object_type, 'object' FROM {g}
), per AS (
  SELECT entity, predicate, declared, side,
         CAST(count(*) AS BIGINT) AS n
  FROM sides GROUP BY 1, 2, 3, 4
)
SELECT predicate, side, declared, inferred,
       CAST(sum(n) AS BIGINT) AS n_assertions,
       CAST(count(*) AS BIGINT) AS n_entities
FROM per JOIN dom USING (entity)
WHERE declared <> inferred
GROUP BY 1, 2, 3, 4
"""


@_q("kg_type_violations", _type_violations_oracle_sql)
def kg_type_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/range validation against the induced ontology
    (operators/graph.type_violations): assertions whose declared
    endpoint type disagrees with the entity's dominant inferred type,
    rolled up per violation class."""
    from information_extraction_spark.operators.graph import (
        type_violations,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return type_violations(triples)


def _neighbor_sample_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH ed AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), r AS (
  SELECT subject, predicate, object,
         CAST(row_number() OVER (PARTITION BY subject
             ORDER BY md5(subject || '|' || predicate || '|' || object))
             AS INT) AS rk,
         CAST(count(*) OVER (PARTITION BY subject) AS BIGINT) AS degree
  FROM ed
)
SELECT subject, predicate, object, rk, degree FROM r WHERE rk <= 4
"""


@_q("kg_neighbor_sample", _neighbor_sample_oracle_sql)
def kg_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-fanout (4) neighbor sampling for GNN
    mini-batch prep (operators/graph.neighbor_sample): one exchange
    on subject shared by the rank window, the degree window, and the
    fanout filter."""
    from information_extraction_spark.operators.graph import (
        neighbor_sample,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return neighbor_sample(triples, fanout=4)


def _ppr_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    step = """{dst} AS (
  SELECT nd.n,
         CASE WHEN nd.n IN (SELECT n FROM seeds) THEN 0.15 ELSE 0.0 END
         + 0.85 * COALESCE(sum({src}.r / deg.d), 0.0) AS r
  FROM nodes nd
  LEFT JOIN e ON e.dst = nd.n
  LEFT JOIN deg ON deg.src = e.src
  LEFT JOIN {src} ON {src}.n = e.src
  GROUP BY nd.n)"""
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), deg AS (
  SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src
), nodes AS (
  SELECT src AS n FROM e UNION SELECT dst FROM e
), seeds AS (
  SELECT n FROM nodes ORDER BY n LIMIT 5
), r0 AS (
  SELECT n, CASE WHEN n IN (SELECT n FROM seeds)
                 THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS r
  FROM nodes),
{step.format(src="r0", dst="r1")},
{step.format(src="r1", dst="r2")},
{step.format(src="r2", dst="r3")}
SELECT n AS entity, ROUND(r, 6) AS pr FROM r3
"""


@_q("kg_pagerank_personalized", _ppr_oracle_sql)
def kg_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) from the 5
    lexicographically-smallest entities: teleport mass lands only on
    the seed set, so ranks measure relevance TO those seeds
    (operators/graph.pagerank with seeds). Same 3 power iterations /
    chained-CTE oracle shape as kg_pagerank; 6dp rounding only at
    the end."""
    from information_extraction_spark.operators.graph import (
        pagerank,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = triple_edges(triples)
    # The personalization set is bounded by definition — a bounded
    # driver pick of the 5 smallest nodes (matches the oracle's
    # ORDER BY n LIMIT 5).
    seeds = [
        r["n"]
        for r in edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct()
        .orderBy("n")
        .limit(5)
        .collect()
    ]
    ranks = pagerank(edges, iterations=3, damping=0.85, seeds=seeds)
    return ranks.select(
        "entity", F.round("rank", 6).alias("pr")
    )


def _hits_oracle_sql(sf_dir: str) -> str:
    # HITS as chained CTEs, one authority + one hub half-step per
    # iteration. Scores are integer micro-units so every cross-row
    # reduction (per-node contribution sum, global normalizer) is an
    # exact BIGINT sum; the only FP ops are one double division of
    # two exact integers and one round-half-away per half-step —
    # single IEEE operations identical in DuckDB and Spark.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    astep = """{a}r AS (
  SELECT e.dst AS n, CAST(sum({h}.s) AS BIGINT) AS r
  FROM e JOIN {h} ON {h}.n = e.src GROUP BY e.dst),
{a} AS (
  SELECT n, CAST(round(CAST(r AS DOUBLE) * 1000000.0 /
       CAST((SELECT CAST(sum(r) AS BIGINT) FROM {a}r) AS DOUBLE))
       AS BIGINT) AS s
  FROM {a}r)"""
    hstep = """{h}r AS (
  SELECT e.src AS n, CAST(sum({a}.s) AS BIGINT) AS r
  FROM e JOIN {a} ON {a}.n = e.dst GROUP BY e.src),
{h} AS (
  SELECT n, CAST(round(CAST(r AS DOUBLE) * 1000000.0 /
       CAST((SELECT CAST(sum(r) AS BIGINT) FROM {h}r) AS DOUBLE))
       AS BIGINT) AS s
  FROM {h}r)"""
    steps = ",\n".join(
        astep.format(a=f"a{i}", h=f"h{i - 1}")
        + ",\n"
        + hstep.format(h=f"h{i}", a=f"a{i}")
        for i in range(1, 4)
    )
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), nodes AS (
  SELECT src AS n FROM e UNION SELECT dst FROM e
), h0 AS (
  SELECT n, CAST(1000000 AS BIGINT) AS s FROM nodes
),
{steps}
SELECT nd.n AS entity,
       round(COALESCE(h3.s, 0) / 1e6, 6) AS hub,
       round(COALESCE(a3.s, 0) / 1e6, 6) AS auth
FROM nodes nd
LEFT JOIN h3 ON h3.n = nd.n
LEFT JOIN a3 ON a3.n = nd.n
"""


@_q("kg_hits", _hits_oracle_sql)
def kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the materialized entity graph
    (operators/graph.hits, 3 iterations, sum-normalized per
    half-step). THE centrality for this corpus's bipartite extraction
    graph: subjects (never objects) score as hubs, object phrases as
    authorities — the mutual-reinforcement structure PageRank's
    uniform teleport flattens, and the reason triangle counting was
    skipped as structurally vacuous. Integer micro-unit scores keep
    both engines in exact lockstep (see operator docstring)."""
    from information_extraction_spark.operators.graph import (
        hits,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return hits(triple_edges(triples), iterations=3)


# --- Snapshot time travel, driver-visible ------------------------------------
#
# The emulated-Iceberg snapshot layer (operators/checkpoint.py:
# immutable snap=<id> dirs, O_EXCL id claims, read_as_of) was
# pytest-only; this query materializes TWO snapshots of a
# per-predicate count stage — snapshot 1 over the even-doc half,
# snapshot 2 over the full corpus — then reads the FIRST back via
# read_as_of. Time travel is load-bearing: the latest snapshot's
# counts differ (full vs half corpus), so a reader that ignored the
# as-of id and took the latest would fail the oracle, which
# recomputes the even-half counts from the golden.


def _tt_paths(sf_dir: str) -> tuple[str, str]:
    base = _golden_path("time_travel", sf_dir).replace(".parquet", "_ckpt")
    return base, base + ".meta.json"


def write_time_travel_snapshots(spark: SparkSession, sf_dir: str) -> int:
    """Write the two-snapshot history once (meta sidecar committed
    after both snapshots) and return the FIRST snapshot's id."""
    import json
    import os

    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    _ensure_golden_dir()
    ckpt_dir, meta_path = _tt_paths(sf_dir)
    if os.path.exists(meta_path):
        # Tolerant load: a torn sidecar (crash mid-write before the
        # atomic-rename fix, ENOSPC) must read as a cache MISS, not
        # brick the query until manual cleanup.
        try:
            with open(meta_path) as fh:
                return int(json.load(fh)["first_snapshot_id"])
        except (ValueError, KeyError):
            os.unlink(meta_path)
    triples = kg_extract_triples(spark, sf_dir)
    par = F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long") % 2
    counts = lambda df: df.groupBy("predicate").agg(  # noqa: E731
        F.count("*").cast("long").alias("n_assertions")
    )
    m1 = CheckpointManager(
        spark, ckpt_dir, run_id="history", params={"universe": "even"}
    )
    m1.stage(counts(triples.filter(par == 0)), "pred_counts")
    # The first snapshot is the latest one carrying m1's params_hash —
    # NOT snapshots()[-1]: if an earlier run died after writing the
    # full-corpus snapshot but before committing the sidecar, a rerun
    # skips m1's (already complete) write and [-1] would be the
    # full-corpus id, permanently failing the even-half oracle.
    first_id = max(
        sid
        for sid, _, ph in m1.snapshots("pred_counts")
        if ph == m1.params_hash
    )
    m2 = CheckpointManager(
        spark, ckpt_dir, run_id="history", params={"universe": "all"}
    )
    m2.stage(counts(triples), "pred_counts")
    # Atomic sidecar commit: temp file + rename, like the streaming
    # state's _committed pointer — this sidecar's CONTENT is parsed,
    # unlike the existence-only graph/ER sidecars.
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"first_snapshot_id": first_id}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, meta_path)
    return first_id


def _time_travel_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
SELECT predicate, CAST(count(*) AS BIGINT) AS n_assertions
FROM {g}
WHERE CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) % 2 = 0
GROUP BY predicate
"""


@_q("w9_time_travel", _time_travel_oracle_sql)
def w9_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the FIRST snapshot of a two-snapshot stage history via
    read_as_of (operators/checkpoint.py) — values must equal the
    even-half counts even though a newer full-corpus snapshot is the
    stage's latest."""
    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    first_id = write_time_travel_snapshots(spark, sf_dir)
    ckpt_dir, _ = _tt_paths(sf_dir)
    m = CheckpointManager(spark, ckpt_dir, run_id="history", params={})
    return m.read_as_of("pred_counts", first_id)


# --- W30: snapshot retention GC (Iceberg expire_snapshots) -------------------
#
# The lifecycle half of the snapshot story w9_time_travel reads: a
# lake table that only ever ACCUMULATES snapshots is a storage leak,
# so production tables run expire_snapshots on a retention schedule.
# This query materializes a THREE-snapshot history of a per-language
# count stage (universes: every third doc, two thirds, full corpus),
# expires all but the newest two, and reads back the survivors via
# read_as_of. Load-bearing checks inside the query body: the expired
# snapshot's directory is GONE from disk, read_as_of(expired) raises,
# the kept snapshots still time-travel, and the id claim files
# survive so snapshot ids stay monotonic after GC. The oracle
# recomputes the two surviving universes straight from documents —
# pure SQL, no golden.


def _se_paths(sf_dir: str) -> tuple[str, str]:
    base = _golden_path("snapshot_expire", sf_dir).replace(
        ".parquet", "_ckpt"
    )
    return base, base + ".meta.json"


def _write_expire_history(spark: SparkSession, sf_dir: str) -> None:
    """Stage the 3-snapshot history once and expire the oldest
    (write-once via the atomic meta sidecar, w9 pattern). A rerun
    after a crash mid-history is safe: completed stages are skipped
    by params_hash and expire_snapshots is idempotent."""
    import json
    import os

    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    _ensure_golden_dir()
    ckpt_dir, meta_path = _se_paths(sf_dir)
    if os.path.exists(meta_path):
        try:
            with open(meta_path) as fh:
                json.load(fh)
            return
        except ValueError:
            os.unlink(meta_path)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = lambda df: df.groupBy("lang").agg(  # noqa: E731
        F.count("*").cast("long").alias("n_docs")
    )
    universes = [
        ("third", F.col("doc_id") % 3 == 0),
        ("two_thirds", F.col("doc_id") % 3 <= 1),
        ("all", F.lit(True)),
    ]
    for name, pred in universes:
        m = CheckpointManager(
            spark, ckpt_dir, run_id="history", params={"universe": name}
        )
        m.stage(counts(docs.filter(pred)), "lang_counts")
    gc = CheckpointManager(spark, ckpt_dir, run_id="history", params={})
    expired = gc.expire_snapshots("lang_counts", keep_last=2)
    if expired not in ([1], []):
        raise RuntimeError(f"unexpected expired ids {expired}")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"expired": expired}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, meta_path)


_W30_ORACLE = """
SELECT CAST(2 AS BIGINT) AS snapshot_id, lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents WHERE doc_id % 3 <= 1 GROUP BY lang
UNION ALL
SELECT CAST(3 AS BIGINT) AS snapshot_id, lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang
"""


@_q("w30_snapshot_expire", _W30_ORACLE)
def w30_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of the GC'd snapshot history, read via read_as_of —
    values must equal the two-thirds and full-corpus counts, and the
    expired snapshot must be both unreadable and physically gone."""
    import os

    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    _write_expire_history(spark, sf_dir)
    ckpt_dir, _ = _se_paths(sf_dir)
    m = CheckpointManager(spark, ckpt_dir, run_id="history", params={})
    if os.path.isdir(os.path.join(ckpt_dir, "history", "lang_counts@snap1")):
        raise RuntimeError("expired snapshot dir still on disk")
    if not os.path.isfile(
        os.path.join(ckpt_dir, "_snapshot_claims", "snap-1.claim")
    ):
        raise RuntimeError("expired id claim must survive GC")
    try:
        m.read_as_of("lang_counts", 1)
    except ValueError:
        pass
    else:
        raise RuntimeError("read_as_of(expired) must raise")
    parts = [
        m.read_as_of("lang_counts", sid).withColumn(
            "snapshot_id", F.lit(sid).cast("long")
        )
        for sid in (2, 3)
    ]
    out = parts[0].unionByName(parts[1])
    return out.select("snapshot_id", "lang", "n_docs")


def _graph_diff_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH t AS (
  SELECT DISTINCT subject, predicate, object,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) % 2
             AS par
  FROM {g}
), base AS (
  SELECT DISTINCT subject, predicate, object FROM t WHERE par = 0
), newg AS (
  SELECT DISTINCT subject, predicate, object FROM t WHERE par = 1
)
SELECT n.*, 'added' AS status FROM newg n
WHERE NOT EXISTS (SELECT 1 FROM base b
                  WHERE b.subject = n.subject
                    AND b.predicate = n.predicate
                    AND b.object = n.object)
UNION ALL
SELECT b.*, 'removed' AS status FROM base b
WHERE NOT EXISTS (SELECT 1 FROM newg n
                  WHERE n.subject = b.subject
                    AND n.predicate = b.predicate
                    AND n.object = b.object)
"""


@_q("kg_graph_diff", _graph_diff_oracle_sql)
def kg_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided snapshot diff (operators/graph.graph_diff) between
    the even-doc and odd-doc graph halves — added AND removed rows,
    the completion of kg_incremental_merge's insert-only half."""
    from information_extraction_spark.operators.graph import graph_diff

    triples = kg_extract_triples(spark, sf_dir)
    par = F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long") % 2
    return graph_diff(
        triples.filter(par == 0), triples.filter(par == 1)
    )


def _lpa_oracle_sql(sf_dir: str) -> str:
    # Synchronous LPA as chained CTEs: one (entity, label) count +
    # one row_number argmax (cnt DESC, label ASC) per iteration —
    # an independent restatement of the struct-min argmax.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    step = """c{i} AS (
  SELECT u.dst AS entity, l{p}.label, CAST(count(*) AS BIGINT) AS cnt
  FROM u JOIN l{p} ON u.src = l{p}.entity GROUP BY 1, 2),
l{i} AS (
  SELECT entity, label FROM (
    SELECT entity, label,
           row_number() OVER (PARTITION BY entity
                              ORDER BY cnt DESC, label) AS rn
    FROM c{i}) WHERE rn = 1)"""
    steps = ",\n".join(step.format(i=i, p=i - 1) for i in range(1, 4))
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), l0 AS (
  SELECT DISTINCT src AS entity, src AS label FROM u
),
{steps}
SELECT entity, label AS community FROM l3
"""


@_q("kg_label_propagation", _lpa_oracle_sql)
def kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the undirected
    entity graph (operators/graph.label_propagation, 3 iterations,
    neighbor-majority with lexicographic tie-break) — the cheap
    community detector alongside the CC merge / PageRank / HITS
    analytics. Fixed iterations make the output a deterministic
    function of the graph (synchronous LPA oscillates on bipartite
    structure — determinism, not convergence, is the contract a
    parity-checked stage needs)."""
    from information_extraction_spark.operators.graph import (
        label_propagation,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return label_propagation(triple_edges(triples), iterations=3)


def _bfs_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), nodes AS (
  SELECT DISTINCT src AS n FROM u
), seeds AS (
  SELECT n FROM nodes ORDER BY n LIMIT 5
), v0 AS (
  SELECT n, CAST(0 AS INT) AS dist FROM seeds
), n1 AS (
  SELECT DISTINCT u.dst AS n FROM u JOIN v0 ON u.src = v0.n
  EXCEPT SELECT n FROM v0
), v1 AS (
  SELECT * FROM v0 UNION ALL SELECT n, CAST(1 AS INT) FROM n1
), n2 AS (
  SELECT DISTINCT u.dst AS n FROM u JOIN n1 ON u.src = n1.n
  EXCEPT SELECT n FROM v1
), v2 AS (
  SELECT * FROM v1 UNION ALL SELECT n, CAST(2 AS INT) FROM n2
), n3 AS (
  SELECT DISTINCT u.dst AS n FROM u JOIN n2 ON u.src = n2.n
  EXCEPT SELECT n FROM v2
)
SELECT n AS entity, dist FROM v2
UNION ALL SELECT n, CAST(3 AS INT) FROM n3
"""


@_q("kg_bfs_distances", _bfs_oracle_sql)
def kg_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (<= 3) from the 5
    lexicographically-smallest entities over the UNDIRECTED entity
    graph (operators/graph.bfs_distances) — kg_two_hop's single-seed
    directed expansion generalized to a seed set with minimum-distance
    semantics. Per hop only the FRONTIER joins the edge table, and a
    LeftAnti against visited drops re-reached nodes (both sides
    unbounded at warehouse scale — nothing broadcasts by assumption).
    Seed pick matches the PPR rule (ORDER BY n LIMIT 5)."""
    from information_extraction_spark.operators.graph import (
        bfs_distances,
        triple_edges,
        undirected_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = triple_edges(triples)
    seeds = [
        r["src"]
        for r in undirected_edges(edges)
        .select("src")
        .distinct()
        .orderBy("src")
        .limit(5)
        .collect()
    ]
    return bfs_distances(edges, seeds, max_hops=3)


def _compaction_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"SELECT subject, predicate, object FROM {g}"


@_q("w11_compaction", _compaction_oracle_sql)
@releases_unread_cuts
def w11_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction driven end-to-end (operators/
    maintenance.compact_parquet_dir — the Iceberg rewriteDataFiles
    analogue): the live extraction's triples are staged as 64 tiny
    files (a streaming-ingest-shaped layout), compacted into
    size-targeted files sorted within each file by (predicate,
    subject), and read back. The oracle is the full golden multiset —
    compaction must preserve content EXACTLY (row multiplicity
    included) while fixing layout; the file-count/sort-order claims
    are pinned in test_maintenance. target_bytes is scaled so the
    tiny test table still exercises a real many-to-few rewrite."""
    import shutil

    from information_extraction_spark.operators.maintenance import (
        _dir_bytes_files,
        compact_parquet_dir,
    )

    triples = kg_extract_triples(spark, sf_dir)
    run = _tempfile.mkdtemp(prefix="ie_compact_")
    try:
        frag = os.path.join(run, "frag")
        dst = os.path.join(run, "compacted")
        triples.select("subject", "predicate", "object").repartition(
            64
        ).write.parquet(frag)
        # ~4 output files at sf0.01 (the golden is KBs, not GBs —
        # divide the real 128 MiB default down so the rewrite is
        # genuinely many-to-few instead of everything-to-one).
        src_bytes, _ = _dir_bytes_files(frag)
        compact_parquet_dir(
            spark,
            frag,
            dst,
            target_bytes=max(1, src_bytes // 4),
            sort_cols=("predicate", "subject"),
        )
        out = cut(spark.read.parquet(dst))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return out


def _ra_oracle_sql(sf_dir: str) -> str:
    # Same capped-universe semantics as linking.resource_alloc_pairs:
    # hub objects above max_obj_deg leave the graph entirely; the
    # score is pure BIGINT ppm on both engines.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject, object FROM {g}
), deg AS (
  SELECT object, CAST(count(*) AS BIGINT) AS d
  FROM e GROUP BY 1 HAVING count(*) <= 1000
), se AS (
  SELECT e.subject, e.object, CAST(1000000 // deg.d AS BIGINT) AS ppm
  FROM e JOIN deg USING (object)
)
SELECT a.subject AS s1, b.subject AS s2,
       CAST(count(*) AS BIGINT) AS n_shared,
       CAST(sum(a.ppm) AS BIGINT) AS ra_ppm
FROM se a JOIN se b ON a.object = b.object AND a.subject < b.subject
GROUP BY 1, 2
"""


@_q("kg_resource_alloc", _ra_oracle_sql)
def kg_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction over the materialized
    subject→object graph (operators/linking.resource_alloc_pairs):
    subject pairs sharing objects, scored Σ 10^6 div d(o) — the
    KG-completion primitive ranking which unconnected entity pairs
    most plausibly deserve an edge. Blocked equi-join on the object
    key with a hub-degree cap; integer-ppm score keeps both engines
    exact."""
    from information_extraction_spark.operators.linking import (
        resource_alloc_pairs,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return resource_alloc_pairs(triples, max_obj_deg=1000, min_shared=1)


def _agreement_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    n = f"read_parquet('{_golden_path('nn', sf_dir)}/*.parquet')"
    return f"""
WITH r AS (
  SELECT DISTINCT conv_id, turn_idx, predicate FROM {g}
  WHERE CAST(regexp_extract(conv_id, '^doc(\\d+)\\.', 1) AS BIGINT)
        % {_NN_DOC_MOD} = 0
), nn AS (
  SELECT DISTINCT conv_id, turn_idx, predicate FROM {n}
), j AS (
  SELECT COALESCE(r.predicate, nn.predicate) AS predicate,
         (r.conv_id IS NOT NULL) AS in_r,
         (nn.conv_id IS NOT NULL) AS in_nn
  FROM r FULL OUTER JOIN nn
    ON r.conv_id = nn.conv_id AND r.turn_idx = nn.turn_idx
   AND r.predicate = nn.predicate
)
SELECT predicate,
       CAST(sum(CASE WHEN in_r AND in_nn THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(sum(CASE WHEN in_r AND NOT in_nn THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rules_only,
       CAST(sum(CASE WHEN in_nn AND NOT in_r THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nn_only,
       CAST(sum(CASE WHEN in_r AND in_nn THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS jaccard_ppm
FROM j GROUP BY 1
"""


@_q("a13_extractor_agreement", _agreement_oracle_sql)
def a13_extractor_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-extractor agreement audit: the rule-based pipeline vs the
    BiLSTM-CRF NN extractor on the SAME transcript subset (the NN
    query's doc_id % 50 slice), per predicate — both/rules-only/
    nn-only DETECTION counts ((conv, turn, predicate) granularity)
    and set-Jaccard in integer ppm. The QA table that decides whether
    a model swap is safe (the reference's dual-model comparison
    workflow, re-expressed as one query). Granularity note: with the
    synthetic deterministic checkpoint the NN's exact SPANS never
    coincide with the rule-based ones (span-level n_both is
    identically zero — measured, not assumed), so the driver-visible
    audit keys on detection, where all three cells are populated
    (102 rules / 183 nn / 12 both at sf0.01); a real trained
    checkpoint would tighten the key back to the full (s, p, o).
    Scale shape: both sides collapse to DISTINCT detection keys first
    (map-side partial distinct), the FULL OUTER join runs on the
    shared 3-column key — co-keyed shuffles at detection cardinality,
    never event cardinality — and the predicate rollup is map-side
    combined; nothing broadcasts by assumption."""
    key = ["conv_id", "turn_idx", "predicate"]
    rules = (
        kg_extract_triples(spark, sf_dir)
        .filter(
            F.regexp_extract("conv_id", r"^doc(\d+)\.", 1).cast("long")
            % _NN_DOC_MOD
            == 0
        )
        .select(*key)
        .distinct()
        .withColumn("in_r", F.lit(True))
    )
    nn = (
        kg_nn_extract(spark, sf_dir)
        .select(*key)
        .distinct()
        .withColumn("in_nn", F.lit(True))
    )
    j = rules.join(nn, key, "full_outer").select(
        "predicate",
        F.coalesce("in_r", F.lit(False)).alias("in_r"),
        F.coalesce("in_nn", F.lit(False)).alias("in_nn"),
    )
    return j.groupBy("predicate").agg(
        F.sum(F.when(F.col("in_r") & F.col("in_nn"), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.sum(F.when(F.col("in_r") & ~F.col("in_nn"), 1).otherwise(0))
        .cast("long")
        .alias("n_rules_only"),
        F.sum(F.when(F.col("in_nn") & ~F.col("in_r"), 1).otherwise(0))
        .cast("long")
        .alias("n_nn_only"),
        exact_muldiv(
            "sum(CASE WHEN in_r AND in_nn THEN 1 ELSE 0 END)", "count(*)", 1_000_000
        ).alias("jaccard_ppm"),
    )


# --- A21: McNemar paired significance over the extractor-agreement table ------
#
# a13 counts the disagreement cells; this decides whether the
# disagreement is SIGNIFICANT or sampling noise — the paired test
# for "is extractor B actually different from extractor A on the
# same inputs" (McNemar 1947, the standard model-swap gate; only the
# discordant cells b, c carry information). Continuity-corrected
# statistic as exact ppm: chi2_ppm = max(|b-c|-1, 0)^2 * 10^6 div
# (b+c), guarded for b+c=0; significant = chi2_ppm above the
# chi^2(1, 0.05) critical value 3.841459 scaled to ppm. Everything
# derives from a13's per-predicate rollup — predicate-bounded rows,
# in-row arithmetic, zero extra shuffles.

_CHI2_05_PPM = 3841459


def _mcnemar_oracle_sql(sf_dir: str) -> str:
    return f"""
WITH agreement AS ({_agreement_oracle_sql(sf_dir)})
SELECT predicate,
       CAST(n_rules_only + n_nn_only AS BIGINT) AS n_disagree,
       CAST(greatest(abs(n_rules_only - n_nn_only) - 1, 0)
            * greatest(abs(n_rules_only - n_nn_only) - 1, 0)
            * 1000000
            // greatest(n_rules_only + n_nn_only, 1) AS BIGINT)
         AS chi2_ppm,
       CAST(CASE WHEN greatest(abs(n_rules_only - n_nn_only) - 1, 0)
                      * greatest(abs(n_rules_only - n_nn_only) - 1, 0)
                      * 1000000
                      // greatest(n_rules_only + n_nn_only, 1)
                      > {_CHI2_05_PPM}
                 THEN 1 ELSE 0 END AS BIGINT) AS significant
FROM agreement
"""


@_q("a21_mcnemar", _mcnemar_oracle_sql)
def a21_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate McNemar test over a13's agreement cells: is the
    rules-vs-NN disagreement significant at alpha=0.05, in exact
    ppm integers."""
    agree = a13_extractor_agreement(spark, sf_dir)
    dev = "greatest(abs(n_rules_only - n_nn_only) - 1, 0)"
    chi2 = exact_muldiv(
        [dev, dev], "greatest(n_rules_only + n_nn_only, 1)", 1_000_000
    )
    return agree.select(
        "predicate",
        (F.col("n_rules_only") + F.col("n_nn_only"))
        .cast("long")
        .alias("n_disagree"),
        chi2.alias("chi2_ppm"),
        F.when(chi2 > _CHI2_05_PPM, 1).otherwise(0).cast("long").alias(
            "significant"
        ),
    )


# --- A22: Benjamini-Hochberg FDR over the per-predicate McNemar tests ---------
#
# a21 tests each predicate at raw alpha=0.05 — across the 50-relation
# schema that's 50 simultaneous tests, and ~2.5 false "significant
# disagreement" flags are EXPECTED under the null. The standard fix a
# model-swap gate actually ships is BH (Benjamini-Hochberg 1995)
# step-up control of the false-discovery rate: sort p ascending,
# reject ranks 1..k for the largest k with p_(k) <= k*alpha/m. The
# cross-engine trick: p is monotone decreasing in the chi2 statistic,
# so "p_i <= i*alpha/m" is exactly "chi2_i >= chi2crit(i*alpha/m)" —
# and the 50 per-rank critical values are driver-side Python
# constants (functions/stats.py, Acklam inverse-normal) embedded as
# the SAME integer-ppm literals in the Spark plan and the oracle
# VALUES table. No exp/ln/erf in either engine. m is pinned to the
# FULL schema size (50): predicates absent from the agreement table
# carry p=1 and can never extend the rejection prefix, so computing
# over present rows with m=50 is exactly BH over all 50 hypotheses.
# Scale shape: everything runs on a21's predicate-bounded (<=50 row)
# rollup — the global rank window and the step-up max are explicitly
# small-table ops on an already-reduced result, and the crit table
# joins via broadcast.

_BH_M = 50
_BH_TABLE = None  # filled lazily; stats import kept off the hot path


def _bh_table() -> list[tuple[int, int]]:
    global _BH_TABLE
    if _BH_TABLE is None:
        from information_extraction_spark.functions.stats import bh_crit_ppm

        _BH_TABLE = bh_crit_ppm(_BH_M, alpha=0.05)
    return _BH_TABLE


def _bh_fdr_oracle_sql(sf_dir: str) -> str:
    vals = ", ".join(f"({i}, {c})" for i, c in _bh_table())
    return f"""
WITH mc AS ({_mcnemar_oracle_sql(sf_dir)}),
crit(bh_rank, crit_ppm) AS (VALUES {vals}),
ranked AS (
  SELECT predicate, chi2_ppm,
         CAST(row_number() OVER (ORDER BY chi2_ppm DESC, predicate)
              AS BIGINT) AS bh_rank
  FROM mc
), raw AS (
  SELECT r.predicate, r.chi2_ppm, r.bh_rank,
         CAST(c.crit_ppm AS BIGINT) AS crit_ppm,
         CASE WHEN r.chi2_ppm >= c.crit_ppm THEN 1 ELSE 0 END AS rr
  FROM ranked r JOIN crit c ON c.bh_rank = r.bh_rank
), k AS (
  SELECT coalesce(max(CASE WHEN rr = 1 THEN bh_rank END), 0) AS kmax
  FROM raw
)
SELECT predicate, chi2_ppm, bh_rank, crit_ppm,
       CAST(rr AS BIGINT) AS raw_reject,
       CAST(CASE WHEN bh_rank <= kmax THEN 1 ELSE 0 END AS BIGINT)
         AS significant_fdr
FROM raw, k
"""


@_q("a22_bh_fdr", _bh_fdr_oracle_sql)
def a22_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FDR-controlled model-swap gate: BH step-up over the 50
    per-predicate McNemar statistics (see block comment — per-rank
    chi2 critical values are shared Python-computed ppm literals;
    the step-up runs entirely on the predicate-bounded rollup)."""
    from pyspark.sql import Window

    mc = a21_mcnemar(spark, sf_dir).select("predicate", "chi2_ppm")
    crit = spark.createDataFrame(
        _bh_table(), schema="bh_rank long, crit_ppm long"
    )
    w = Window.orderBy(F.col("chi2_ppm").desc(), "predicate")
    ranked = mc.withColumn(
        "bh_rank", F.row_number().over(w).cast("long")
    ).join(F.broadcast(crit), "bh_rank")
    raw = ranked.withColumn(
        "raw_reject",
        F.when(F.col("chi2_ppm") >= F.col("crit_ppm"), 1)
        .otherwise(0)
        .cast("long"),
    )
    kmax = F.max(
        F.when(F.col("raw_reject") == 1, F.col("bh_rank"))
    ).over(Window.partitionBy())
    return raw.select(
        "predicate",
        "chi2_ppm",
        "bh_rank",
        "crit_ppm",
        "raw_reject",
        F.when(F.col("bh_rank") <= F.coalesce(kmax, F.lit(0)), 1)
        .otherwise(0)
        .cast("long")
        .alias("significant_fdr"),
    )


def _rule_mining_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH so AS (
  SELECT DISTINCT subject, object, predicate FROM {g}
), body AS (
  SELECT predicate, CAST(count(*) AS BIGINT) AS n_body
  FROM so GROUP BY 1
), rules AS (
  SELECT a.predicate AS p_body, b.predicate AS p_head,
         CAST(count(*) AS BIGINT) AS support
  FROM so a JOIN so b
    ON a.subject = b.subject AND a.object = b.object
   AND a.predicate <> b.predicate
  GROUP BY 1, 2
)
SELECT r.p_body, r.p_head, r.support, body.n_body,
       CAST(r.support * 1000000 // body.n_body AS BIGINT)
         AS confidence_ppm
FROM rules r JOIN body ON body.predicate = r.p_body
WHERE r.support >= 2
"""


@_q("kg_rule_mining", _rule_mining_oracle_sql)
def kg_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style horn-rule mining over the materialized graph:
    directional implications p_body(x,y) => p_head(x,y) with support
    (entity pairs asserting both) and confidence = support /
    |pairs asserting p_body| in integer ppm — the KG-completion
    signal that proposes new edges wherever a high-confidence body
    fires without its head. Scale shape: the pair table collapses to
    DISTINCT (s, o, predicate) first; predicates per pair are
    schema-bounded (<= 50), so the rule expansion is a bounded
    collect_set explosion keyed on the (s, o) pair — never a triple-
    table self-join whose hot pairs square (same discipline as
    kg_pred_cooccur, different key). Body counts ride a second
    map-side-combined shuffle at predicate cardinality and broadcast
    into the confidence join."""
    triples = kg_extract_triples(spark, sf_dir)
    so = triples.select("subject", "object", "predicate").distinct()
    body = so.groupBy("predicate").agg(
        F.count("*").cast("long").alias("n_body")
    )
    per_pair = so.groupBy("subject", "object").agg(
        F.collect_set("predicate").alias("ps")
    )
    rules = (
        per_pair.select(F.explode("ps").alias("p_body"), "ps")
        .select("p_body", F.explode("ps").alias("p_head"))
        .filter(F.col("p_body") != F.col("p_head"))
        .groupBy("p_body", "p_head")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    return rules.join(
        F.broadcast(body.withColumnRenamed("predicate", "p_body")),
        "p_body",
    ).select(
        "p_body",
        "p_head",
        "support",
        "n_body",
        exact_muldiv("support", "n_body", 1_000_000).alias("confidence_ppm"),
    )


def _rule_apply_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH so AS (
  SELECT DISTINCT subject, object, predicate FROM {g}
), body AS (
  SELECT predicate, CAST(count(*) AS BIGINT) AS n_body
  FROM so GROUP BY 1
), rules AS (
  SELECT a.predicate AS p_body, b.predicate AS p_head,
         CAST(count(*) AS BIGINT) AS support
  FROM so a JOIN so b
    ON a.subject = b.subject AND a.object = b.object
   AND a.predicate <> b.predicate
  GROUP BY 1, 2
), conf AS (
  SELECT r.p_body, r.p_head,
         CAST(r.support * 1000000 // body.n_body AS BIGINT) AS c_ppm
  FROM rules r JOIN body ON body.predicate = r.p_body
  WHERE r.support >= 2
    AND r.support * 1000000 // body.n_body >= 500000
), fired AS (
  SELECT so.subject, so.object, conf.p_head, conf.c_ppm
  FROM so JOIN conf ON conf.p_body = so.predicate
), missing AS (
  SELECT f.* FROM fired f
  LEFT JOIN so ON so.subject = f.subject AND so.object = f.object
             AND so.predicate = f.p_head
  WHERE so.predicate IS NULL
)
SELECT subject, object, p_head AS predicate,
       CAST(max(c_ppm) AS BIGINT) AS best_confidence_ppm,
       CAST(count(*) AS BIGINT) AS n_rules_firing
FROM missing GROUP BY 1, 2, 3
"""


@_q("kg_rule_apply", _rule_apply_oracle_sql)
def kg_rule_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The completion step over kg_rule_mining's rules: wherever a
    rule with confidence >= 0.5 fires (its body edge exists) but the
    head edge is MISSING, propose the head edge, ranked by the best
    firing rule's confidence (and how many distinct rules propose
    it). Scale shape: the bounded rule table (<= 50x50) broadcasts
    into the edge scan; the head-existence check is a LeftAnti join
    on the (s, o, p) key — both sides edge-cardinality, co-keyed, no
    broadcast assumed; the final rollup is map-side combined. This is
    the anti-join-after-inference shape every materialized-view /
    completion pipeline runs: propose only what is absent."""
    triples = kg_extract_triples(spark, sf_dir)
    so = triples.select("subject", "object", "predicate").distinct()
    body = so.groupBy("predicate").agg(
        F.count("*").cast("long").alias("n_body")
    )
    per_pair = so.groupBy("subject", "object").agg(
        F.collect_set("predicate").alias("ps")
    )
    rules = (
        per_pair.select(F.explode("ps").alias("p_body"), "ps")
        .select("p_body", F.explode("ps").alias("p_head"))
        .filter(F.col("p_body") != F.col("p_head"))
        .groupBy("p_body", "p_head")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    conf = (
        rules.join(
            body.withColumnRenamed("predicate", "p_body"), "p_body"
        )
        .withColumn(
            "c_ppm",
            exact_muldiv("support", "n_body", 1_000_000),
        )
        .filter(F.col("c_ppm") >= 500000)
        .select("p_body", "p_head", "c_ppm")
    )
    fired = so.join(
        F.broadcast(conf), so.predicate == conf.p_body
    ).select("subject", "object", "p_head", "c_ppm")
    existing = so.select(
        "subject", "object", F.col("predicate").alias("p_head")
    )
    missing = fired.join(
        existing, ["subject", "object", "p_head"], "left_anti"
    )
    return missing.groupBy(
        "subject", "object", F.col("p_head").alias("predicate")
    ).agg(
        F.max("c_ppm").cast("long").alias("best_confidence_ppm"),
        F.count("*").cast("long").alias("n_rules_firing"),
    )


# --- Entity co-mention graph + k-core + translational scoring -------------
#
# Three post-construction consumers that need a REAL entity-entity
# graph or an embedding seam. The triple graph on this corpus is
# bipartite (subjects never appear as objects), so chain joins and
# triangle-ish analytics over it are structurally vacuous — the
# co-mention graph (subjects asserted in the same conversation) is
# the standard way KG pipelines obtain an entity-entity topology, and
# k-core over it is the noise filter.


def _comention_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH cs AS (
  SELECT DISTINCT conv_id, subject FROM {g}
), small AS (
  SELECT conv_id FROM cs GROUP BY 1 HAVING count(*) <= 64
), k AS (
  SELECT cs.conv_id, cs.subject FROM cs JOIN small USING (conv_id)
)
SELECT a.subject AS e1, b.subject AS e2,
       CAST(count(DISTINCT a.conv_id) AS BIGINT) AS n_convs
FROM k a JOIN k b
  ON a.conv_id = b.conv_id AND a.subject < b.subject
GROUP BY 1, 2
"""


@_q("kg_comention", _comention_oracle_sql)
def kg_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention graph (operators/graph.comention_pairs):
    pairs of distinct subjects asserted in the same conversation with
    conversation-evidence counts — the relation-discovery signal KG
    construction mines when no schema predicate connects two entities,
    and the entity-entity topology the bipartite triple graph cannot
    provide. Capped self-equi-join on conv_id (a conversation with
    > 64 distinct subjects exits the universe — quadratic fanout,
    zero signal), map-side-combined rollups on both sides."""
    from information_extraction_spark.operators.graph import (
        comention_pairs,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return comention_pairs(triples, max_conv_entities=64)


def _kcore_oracle_sql(sf_dir: str) -> str:
    # 3 peel rounds as chained CTEs over the co-mention edge base:
    # per round a degree count and a both-endpoints semi filter — an
    # independent restatement of the Spark loop's semi-joins.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    step = """d{i} AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u{p} GROUP BY 1),
k{i} AS (SELECT src FROM d{i} WHERE d >= 2),
u{i} AS (
  SELECT u.src, u.dst FROM u{p} u
  WHERE u.src IN (SELECT src FROM k{i})
    AND u.dst IN (SELECT src FROM k{i}))"""
    steps = ",\n".join(step.format(i=i, p=i - 1) for i in range(1, 4))
    return f"""
WITH cs AS (
  SELECT DISTINCT conv_id, subject FROM {g}
), small AS (
  SELECT conv_id FROM cs GROUP BY 1 HAVING count(*) <= 64
), kk AS (
  SELECT cs.conv_id, cs.subject FROM cs JOIN small USING (conv_id)
), e AS (
  SELECT DISTINCT a.subject AS src, b.subject AS dst
  FROM kk a JOIN kk b
    ON a.conv_id = b.conv_id AND a.subject <> b.subject
), u0 AS (SELECT src, dst FROM e),
{steps}
SELECT src AS entity, CAST(count(*) AS BIGINT) AS degree
FROM u3 GROUP BY 1
"""


@_q("kg_kcore", _kcore_oracle_sql)
def kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round 2-core peel (operators/graph.kcore_peel, 3 rounds)
    over the co-mention entity graph: iteratively drops entities whose
    current co-mention degree falls below 2 — the dense-subgraph
    noise filter separating well-attested entities from one-off
    extraction artifacts. Per round: one map-side-combined degree
    count plus two semi-joins on already-keyed endpoints; cut per
    round on the round driver."""
    from information_extraction_spark.operators.graph import (
        comention_pairs,
        kcore_peel,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = comention_pairs(triples, max_conv_entities=64).select(
        F.col("e1").alias("src"), F.col("e2").alias("dst")
    )
    return kcore_peel(edges, k=2, rounds=3)


# --- GraphSAGE mean-aggregation layer (GNN message passing) -------------------
#
# The message-passing primitive GNN-over-KG pipelines stack: per
# entity, own hashed d=4 features + the exact integer mean of its
# neighbors' features (operators/graph.sage_mean_agg). With hashed
# features the neighbor message is computed IN-ROW on the edge — no
# feature join — so the layer is the undirected closure plus ONE
# map-side-combined shuffle on the node key.


def _sage_feat_sql(expr: str, i: int) -> str:
    from information_extraction_spark.functions.hashing import h48_sql

    return f"({h48_sql(expr + chr(39) + '#g' + str(i) + chr(39))} % 1000)"


def _sage_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    fs = [_sage_feat_sql("src || ", i) for i in range(4)]
    ms = [_sage_feat_sql("dst || ", i) for i in range(4)]
    sum_cols = ", ".join(
        f"CAST(sum({ms[i]}) AS BIGINT) AS sm{i}" for i in range(4)
    )
    f_cols = ", ".join(f"CAST({fs[i]} AS BIGINT) AS f{i}" for i in range(4))
    m_cols = ", ".join(
        f"CAST(sm{i} // degree AS BIGINT) AS m{i}" for i in range(4)
    )
    return f"""
WITH e0 AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
), und AS (
  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
), agg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS degree, {sum_cols}
  FROM und GROUP BY src
)
SELECT src AS entity, {f_cols}, {m_cols}, degree FROM agg
"""


@_q("kg_gcn_agg", _sage_oracle_sql)
def kg_gcn_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One GraphSAGE mean-agg layer over the subject->object entity
    graph; exact-BIGINT neighbor means, in-row hashed features."""
    from information_extraction_spark.operators.graph import sage_mean_agg

    triples = kg_extract_triples(spark, sf_dir)
    edges = triples.select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    ).distinct()
    return sage_mean_agg(edges)


# --- Community conductance (cut-quality audit) --------------------------------
#
# kg_modularity audits community DENSITY; conductance audits the CUT:
# phi(S) = cut(S) / min(vol(S), 2m - vol(S)). Exact ppm integers; the
# LPA chain is the same nested CTE the modularity oracle reuses.


def _conductance_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH lpa AS ({_lpa_oracle_sql(sf_dir)}),
e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
), mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM canon
), u AS (
  SELECT a AS src FROM canon UNION ALL SELECT b FROM canon
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), vol AS (
  SELECT l.community,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg.d) AS BIGINT) AS volume
  FROM deg JOIN lpa l ON deg.src = l.entity GROUP BY 1
), cutc AS (
  SELECT community, CAST(count(*) AS BIGINT) AS cut_edges FROM (
    SELECT unnest([la.community, lb.community]) AS community
    FROM canon
    JOIN lpa la ON canon.a = la.entity
    JOIN lpa lb ON canon.b = lb.entity
    WHERE la.community <> lb.community
  ) GROUP BY 1
)
SELECT v.community, v.n_nodes,
       CAST(coalesce(c.cut_edges, 0) AS BIGINT) AS cut_edges,
       v.volume,
       CAST(coalesce(c.cut_edges, 0) * 1000000
            // greatest(least(v.volume, 2 * mm.m - v.volume), 1)
            AS BIGINT) AS conductance_ppm
FROM vol v LEFT JOIN cutc c ON v.community = c.community CROSS JOIN mm
"""


@_q("kg_conductance", _conductance_oracle_sql)
def kg_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance of the 3-iteration LPA communities
    (operators/graph.conductance) — exact ppm; low phi marks safe
    canonicalization blocks, phi near 1 marks boundary-dominated
    communities that must not drive merges."""
    from information_extraction_spark.operators.graph import (
        conductance,
        label_propagation,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = triple_edges(triples)
    return conductance(edges, label_propagation(edges, iterations=3))


# --- Landmark distance oracle (ALT sketch + pair estimation audit) ------------
#
# The pattern big-graph systems use when pairwise shortest paths are
# unaffordable: k landmark BFS sketches, then any pair's distance is
# estimated in O(k) from the two sketch rows. The query audits the
# estimator over a deterministic md5 sample of entities; in
# production the probe is a per-pair co-keyed sketch lookup — the
# landmark-keyed pair join below is bounded to the audit sample
# (filtered BEFORE the join).


def _landmark_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), lms AS (
  SELECT src AS lm FROM deg ORDER BY d DESC, src LIMIT 4
), v0 AS (
  SELECT lm AS n, lm, CAST(0 AS INT) AS dist FROM lms
), n1 AS (
  SELECT DISTINCT u.dst AS n, v0.lm FROM u JOIN v0 ON u.src = v0.n
  EXCEPT SELECT n, lm FROM v0
), v1 AS (
  SELECT * FROM v0 UNION ALL SELECT n, lm, CAST(1 AS INT) FROM n1
), n2 AS (
  SELECT DISTINCT u.dst AS n, n1.lm FROM u JOIN n1 ON u.src = n1.n
  EXCEPT SELECT n, lm FROM v1
), v2 AS (
  SELECT * FROM v1 UNION ALL SELECT n, lm, CAST(2 AS INT) FROM n2
), n3 AS (
  SELECT DISTINCT u.dst AS n, n2.lm FROM u JOIN n2 ON u.src = n2.n
  EXCEPT SELECT n, lm FROM v2
), sk AS (
  SELECT * FROM v2 UNION ALL SELECT n, lm, CAST(3 AS INT) FROM n3
), samp AS (
  SELECT * FROM sk WHERE substring(md5(n), 1, 1) = '0'
)
SELECT a.n AS e1, b.n AS e2,
       CAST(min(a.dist + b.dist) AS BIGINT) AS est_dist
FROM samp a JOIN samp b ON a.lm = b.lm AND a.n < b.n
GROUP BY 1, 2
"""


@_q("kg_landmark_dist", _landmark_oracle_sql)
def kg_landmark_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distance estimates (min over 4 degree-picked landmark
    sketches of d(u,l)+d(l,v), hops <= 3) for the deterministic
    md5-sampled entity subset (operators/graph.landmark_distances)."""
    from information_extraction_spark.operators.graph import (
        landmark_distances,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    sk = landmark_distances(triple_edges(triples), n_landmarks=4, max_hops=3)
    samp = sk.filter(F.substring(F.md5("entity"), 1, 1) == "0")
    a = samp.select(
        F.col("entity").alias("e1"), "lm", F.col("dist").alias("d1")
    )
    b = samp.select(
        F.col("entity").alias("e2"), "lm", F.col("dist").alias("d2")
    )
    return (
        a.join(b, "lm")
        .filter(F.col("e1") < F.col("e2"))
        .groupBy("e1", "e2")
        .agg(
            F.min(F.col("d1") + F.col("d2")).cast("long").alias("est_dist")
        )
    )


def _transe_components_sql(expr: str) -> list[str]:
    from information_extraction_spark.functions.hashing import h48_sql

    out = []
    for i in range(4):
        inner = expr + " || '#" + str(i) + "'"
        out.append(f"({h48_sql(inner)} % 1000)")
    return out


def _transe_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    s = _transe_components_sql("t.subject")
    p = _transe_components_sql("t.predicate")
    o = _transe_components_sql("t.object")
    ns = _transe_components_sql("t.neg_object")
    pos = " + ".join(
        f"({s[i]} + {p[i]} - {o[i]}) * ({s[i]} + {p[i]} - {o[i]})"
        for i in range(4)
    )
    neg = " + ".join(
        f"({s[i]} + {p[i]} - {ns[i]}) * ({s[i]} + {p[i]} - {ns[i]})"
        for i in range(4)
    )
    return f"""
WITH tr AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), cand AS (
  SELECT predicate, object AS neg_object FROM (
    SELECT predicate, object,
           row_number() OVER (PARTITION BY predicate
                              ORDER BY md5(object), object) AS rn
    FROM (SELECT DISTINCT predicate, object FROM tr)
  ) WHERE rn = 1
), t AS (
  SELECT tr.subject, tr.predicate, tr.object, cand.neg_object
  FROM tr JOIN cand USING (predicate)
)
SELECT t.subject, t.predicate, t.object, t.neg_object,
       CAST({pos} AS BIGINT) AS pos_score,
       CAST({neg} AS BIGINT) AS neg_score,
       CAST(({neg}) - ({pos}) AS BIGINT) AS margin
FROM t
"""


@_q("kg_transe_score", _transe_oracle_sql)
def kg_transe_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Translational (TransE, Bordes et al. 2013) triple scoring over
    deterministic feature-hash embeddings: every entity/predicate maps
    to a d=4 integer vector via the portable 48-bit md5 hash (the
    feature-hashing trick — in a trained pipeline this inline hash is
    replaced by a broadcast or co-keyed join against the learned
    embedding table; the hash keeps the seam exact cross-engine), and
    each distinct triple is scored ||e_s + r_p - e_o||^2 in pure
    BIGINT against a per-predicate corrupted negative (the min-md5
    object of that predicate — kg_neg_sampling's deterministic-pick
    rule), emitting the margin a KG-embedding trainer would rank on.

    Scale shape: the embedding 'lookup' is a narrow projection (no
    join, no shuffle); the only aggregations are the triple distinct
    and the 50-row per-predicate argmin, which broadcasts back onto
    the fact side."""
    from information_extraction_spark.functions.hashing import h48

    triples = kg_extract_triples(spark, sf_dir)
    tr = triples.select("subject", "predicate", "object").distinct()

    def comp(col, i):
        return (h48(F.concat(col, F.lit(f"#{i}"))) % 1000).cast("long")

    cand = (
        tr.select("predicate", "object")
        .distinct()
        .groupBy("predicate")
        .agg(
            F.min(
                F.struct(
                    F.md5("object").alias("h"),
                    F.col("object").alias("o"),
                )
            ).alias("m")
        )
        .select("predicate", F.col("m.o").alias("neg_object"))
    )
    t = tr.join(F.broadcast(cand), "predicate")
    pos = sum(
        (
            comp(F.col("subject"), i)
            + comp(F.col("predicate"), i)
            - comp(F.col("object"), i)
        )
        ** 2
        for i in range(4)
    )
    neg = sum(
        (
            comp(F.col("subject"), i)
            + comp(F.col("predicate"), i)
            - comp(F.col("neg_object"), i)
        )
        ** 2
        for i in range(4)
    )
    return t.select(
        "subject",
        "predicate",
        "object",
        "neg_object",
        pos.cast("long").alias("pos_score"),
        neg.cast("long").alias("neg_score"),
        (neg - pos).cast("long").alias("margin"),
    )


def _triangles_oracle_sql(sf_dir: str) -> str:
    # Id-ordered triangle enumeration over the co-mention edge base —
    # deliberately NOT the Spark plan's degree-ordered orientation
    # (the triangle set is orientation-invariant, so the simple
    # id-ordered restatement checks the optimized plan exactly).
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH cs AS (
  SELECT DISTINCT conv_id, subject FROM {g}
), small AS (
  SELECT conv_id FROM cs GROUP BY 1 HAVING count(*) <= 64
), kk AS (
  SELECT cs.conv_id, cs.subject FROM cs JOIN small USING (conv_id)
), e AS (
  SELECT DISTINCT a.subject AS e1, b.subject AS e2
  FROM kk a JOIN kk b
    ON a.conv_id = b.conv_id AND a.subject < b.subject
), tri AS (
  SELECT t1.e1 AS a, t1.e2 AS b, t2.e2 AS c
  FROM e t1
  JOIN e t2 ON t2.e1 = t1.e2
  JOIN e t3 ON t3.e1 = t1.e1 AND t3.e2 = t2.e2
), pern AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT a AS entity FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY 1
), deg AS (
  SELECT entity, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT e1 AS entity FROM e UNION ALL SELECT e2 FROM e)
  GROUP BY 1
)
SELECT d.entity, d.degree,
       CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
       CAST(CASE WHEN d.degree >= 2
                 THEN 2 * 1000000 * COALESCE(p.triangles, 0)
                      // (d.degree * (d.degree - 1))
                 ELSE 0 END AS BIGINT) AS lcc_ppm
FROM deg d LEFT JOIN pern p USING (entity)
"""


@_q("kg_triangles", _triangles_oracle_sql)
def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle count + local clustering coefficient over
    the co-mention graph (operators/graph.triangle_counts): wedges
    enumerated on the DEGREE-ORDERED orientation (compact-forward —
    out-degree bounded O(sqrt(m)) under hub skew, so the wedge
    self-join never concentrates a power-law hub's deg^2 pairs on one
    reducer), closed by an equi-join on the (u, v) edge key; the
    id-ordered DuckDB oracle checks the orientation-invariant result
    exactly. LCC in integer ppm (floor), degree-1 nodes pinned to 0."""
    from information_extraction_spark.operators.graph import (
        comention_pairs,
        triangle_counts,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = comention_pairs(triples, max_conv_entities=64).select(
        F.col("e1").alias("src"), F.col("e2").alias("dst")
    )
    return triangle_counts(edges)


def _jaccard_nb_oracle_sql(sf_dir: str) -> str:
    # Same hub-capped universe as linking.jaccard_neighbor_pairs:
    # degrees AND pairs both come from the capped edge set, union
    # size via d1 + d2 - shared; pure BIGINT ppm.
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject, object FROM {g}
), cap AS (
  SELECT e.subject, e.object FROM e
  JOIN (SELECT object FROM e GROUP BY 1 HAVING count(*) <= 1000) k
  USING (object)
), ds AS (
  SELECT subject, CAST(count(*) AS BIGINT) AS d FROM cap GROUP BY 1
), p AS (
  SELECT a.subject AS s1, b.subject AS s2,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM cap a JOIN cap b ON a.object = b.object AND a.subject < b.subject
  GROUP BY 1, 2
)
SELECT p.s1, p.s2, p.n_shared,
       CAST((p.n_shared * 1000000) // (d1.d + d2.d - p.n_shared)
            AS BIGINT) AS jaccard_ppm
FROM p JOIN ds d1 ON p.s1 = d1.subject
JOIN ds d2 ON p.s2 = d2.subject
"""


@_q("kg_jaccard_neighbors", _jaccard_nb_oracle_sql)
def kg_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the materialized
    subject→object graph (operators/linking.jaccard_neighbor_pairs):
    the size-normalized companion to kg_resource_alloc — |N(a)∩N(b)| /
    |N(a)∪N(b)| in integer ppm, union size derived from per-subject
    degrees (never a materialized union), pairs blocked on the object
    key with the hub cap, degrees computed over the SAME capped
    universe."""
    from information_extraction_spark.operators.linking import (
        jaccard_neighbor_pairs,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return jaccard_neighbor_pairs(triples, max_obj_deg=1000, min_shared=1)


def _pred_implication_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), np AS (
  SELECT predicate, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1
), ov AS (
  SELECT a.predicate AS p, b.predicate AS q,
         CAST(count(*) AS BIGINT) AS n_overlap
  FROM e a JOIN e b
    ON a.subject = b.subject AND a.object = b.object
   AND a.predicate <> b.predicate
  GROUP BY 1, 2
)
SELECT ov.p, ov.q, ov.n_overlap,
       CAST((ov.n_overlap * 1000000) // np.n AS BIGINT) AS imp_ppm
FROM ov JOIN np ON ov.p = np.predicate
"""


@_q("kg_pred_implication", _pred_implication_oracle_sql)
def kg_pred_implication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate implication/subsumption mining over the materialized
    graph — the ontology-induction step that finds directed predicate
    pairs (p -> q) whose edge sets overlap on the same (subject,
    object) pairs: a high imp_ppm = |pairs of p also asserted under
    q| / |p| flags q as a superproperty (or systematic co-assertion)
    of p. (The reverse-direction variant — (s,p,o) vs (o,q,s) — is
    structurally empty on this schema: subject and object
    vocabularies are disjoint, measured 0 overlap at every sf, so the
    catalog carries the same-direction miner that has real support.)

    Scale shape: ONE equi-join of the distinct edge table with itself
    on the (subject, object) pair key — edge-cardinality shuffles
    only — then a |P|²-bounded aggregate; per-predicate totals
    broadcast back. Exact BIGINT ppm."""
    triples = kg_extract_triples(spark, sf_dir)
    e = triples.select("subject", "predicate", "object").distinct()
    np_ = e.groupBy("predicate").agg(
        F.count("*").cast("long").alias("n")
    )
    a = e.select("subject", "object", F.col("predicate").alias("p"))
    b = e.select("subject", "object", F.col("predicate").alias("q"))
    ov = (
        a.join(b, ["subject", "object"])
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return ov.join(
        F.broadcast(np_.withColumnRenamed("predicate", "p")), "p"
    ).select(
        "p",
        "q",
        "n_overlap",
        exact_muldiv("n_overlap", "n", 1_000_000).alias("imp_ppm"),
    )


def _metapath_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
)
SELECT a.predicate AS p1, b.predicate AS p2,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT (a.subject, b.subject)) AS BIGINT)
         AS n_endpoint_pairs
FROM e a JOIN e b
  ON a.object = b.object AND a.subject < b.subject
GROUP BY 1, 2
"""


@_q("kg_metapath_profile", _metapath_oracle_sql)
def kg_metapath_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-path statistics of the materialized graph: the V-shaped
    2-step pattern s1 -p1-> m <-p2- s2 through a shared object — how
    many concrete paths each (p1, p2) pattern has and how many
    DISTINCT (s1, s2) endpoint pairs it connects. This is the
    schema-level profile that ranks meta-paths for PRA-style relation
    features; kg_resource_alloc is its instance-level consumer (same
    co-object join, entity-granular). The chain-shaped variant
    (a.object = b.subject) is structurally EMPTY on this schema —
    object and subject vocabularies are disjoint in surface form
    (measured 0 at every sf; kg_two_hop goes undirected for the same
    reason) — so the catalog carries the V-pattern that has support.
    Endpoint pairs are ordered s1 < s2, making each unordered edge
    pair count exactly once, deterministically.

    Scale shape: ONE equi-join of the distinct edge table with itself
    on the shared-object key (edge-cardinality shuffle; hub caps live
    in the instance-level consumers), then a |P|²-bounded aggregate
    whose count-distinct runs as the two-phase partial-distinct
    expand — no per-group set collection."""
    triples = kg_extract_triples(spark, sf_dir)
    e = triples.select("subject", "predicate", "object").distinct()
    a = e.select(
        F.col("subject").alias("s1"),
        F.col("predicate").alias("p1"),
        "object",
    )
    b = e.select(
        F.col("subject").alias("s2"),
        F.col("predicate").alias("p2"),
        "object",
    )
    return (
        a.join(b, "object")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("p1", "p2")
        .agg(
            F.count("*").cast("long").alias("n_paths"),
            F.countDistinct("s1", "s2")
            .cast("long")
            .alias("n_endpoint_pairs"),
        )
    )


# --- Ontology subproperty closure + inference --------------------------------
#
# Schema-level reasoning over the 50-relation ontology: predicates
# chain into subproperty hierarchies (here the deterministic rule
# relk ⊑ rel(k-7) — each predicate's parent is the previous predicate
# of its subject-type class T{k%7}; rel00..rel06 are roots, depth 8),
# and every assertion of a subproperty is implicitly an assertion of
# each ancestor. The query emits, per predicate: its own assertion
# count, the INFERRED count (self + all descendants — what a
# SPARQL-entailment consumer of the graph would see), and the size of
# its descendant cone.
#
# Scale shape: the ontology is METADATA — a bounded dim (49 edges) —
# so the fact table collapses to per-predicate counts FIRST (one
# map-side-combined shuffle over 50 groups at any corpus size), and
# all closure work (3 path-doubling self-joins covering depth 2^3=8)
# runs on the tiny pair table; every join there broadcasts. The big
# data is never joined to the closure — only the 50-row aggregate is.
#
# The DuckDB oracle computes the closure independently via
# WITH RECURSIVE over the same derived edge rule (reference parity:
# the reference's schema file is a static predicate list —
# data/all_50_schemas — with no hierarchy; the subproperty rule here
# is the deterministic sandbox stand-in for an ontology dim).


def _ontology_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH RECURSIVE direct AS (
  SELECT predicate, CAST(count(*) AS BIGINT) AS direct_n
  FROM {g} GROUP BY 1
), edges AS (
  SELECT 'rel' || lpad(CAST(k AS VARCHAR), 2, '0') AS des,
         'rel' || lpad(CAST(k - 7 AS VARCHAR), 2, '0') AS anc
  FROM generate_series(7, 49) t(k)
), closure(des, anc) AS (
  SELECT predicate, predicate FROM direct
  UNION
  SELECT c.des, e.anc FROM closure c JOIN edges e ON c.anc = e.des
), inferred AS (
  SELECT c.anc AS predicate,
         CAST(sum(d.direct_n) AS BIGINT) AS inferred_n,
         CAST(count(*) AS BIGINT) AS n_cone
  FROM closure c JOIN direct d ON c.des = d.predicate
  GROUP BY 1
)
SELECT i.predicate, coalesce(d.direct_n, 0) AS direct_n,
       i.inferred_n, i.n_cone
FROM inferred i LEFT JOIN direct d USING (predicate)
"""


@_q("kg_ontology_closure", _ontology_oracle_sql)
def kg_ontology_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    triples = kg_extract_triples(spark, sf_dir)
    direct = triples.groupBy("predicate").agg(
        F.count("*").cast("long").alias("direct_n")
    )
    edges = spark.createDataFrame(
        [(f"rel{k:02d}", f"rel{k - 7:02d}") for k in range(7, N_PREDICATES)],
        "des string, anc string",
    )
    # Path doubling (operators/graph.transitive_closure): 3 rounds
    # cover the depth-8 chains; fixed iteration count ==
    # deterministic output for a bounded ontology.
    from information_extraction_spark.operators.graph import (
        transitive_closure,
    )

    paths = transitive_closure(edges, doubling_rounds=3)
    identity = direct.select(
        F.col("predicate").alias("des"), F.col("predicate").alias("anc")
    )
    closure = paths.unionByName(identity).distinct()
    inferred = (
        closure.join(
            F.broadcast(direct),
            closure.des == direct.predicate,
        )
        .groupBy("anc")
        .agg(
            F.sum("direct_n").cast("long").alias("inferred_n"),
            F.count("*").cast("long").alias("n_cone"),
        )
    )
    return inferred.join(
        F.broadcast(direct),
        inferred.anc == direct.predicate,
        "left",
    ).select(
        F.col("anc").alias("predicate"),
        F.coalesce(F.col("direct_n"), F.lit(0)).cast("long").alias("direct_n"),
        "inferred_n",
        "n_cone",
    )


# --- Deletion-request propagation (right-to-be-forgotten) --------------------
#
# The privacy op a production KG MUST support: a set of conversations
# is deleted at the source (GDPR/CCPA requests), and the graph has to
# answer — per triple — whether any evidence survives. A triple whose
# ONLY supporting conversations are deleted must be removed; one with
# surviving evidence is retained with decremented support counts.
# Exactly the provenance-aware cascade that doc-level deletes in a
# lake (Iceberg row-level DELETE) do NOT give you, because triples
# aggregate across conversations.
#
# Scale shape: deletion requests are a DIM (thousands of ids against
# a 10^12-turn corpus) → broadcast LEFT SEMI flag onto the assertion
# table, then ONE map-side-combined shuffle on (s, p, o) computing
# (total, removed) as conditional sums in the same pass — never two
# scans, never a second join. Output carries the audit columns an
# erasure report needs.

_FORGET_MOD = 17  # delete doc_id % 17 == 3 (~6% of conversations)


def _forget_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH a AS (
  SELECT subject, predicate, object, conv_id, n_convs_removed.deleted AS del
  FROM (
    SELECT subject, predicate, object, conv_id,
           CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT)
             % {_FORGET_MOD} = 3 AS deleted
    FROM {g}
  ) n_convs_removed
)
SELECT subject, predicate, object,
       CAST(count(*) AS BIGINT) AS support_before,
       CAST(sum(CASE WHEN del THEN 1 ELSE 0 END) AS BIGINT)
         AS support_removed,
       CAST(sum(CASE WHEN del THEN 0 ELSE 1 END) AS BIGINT)
         AS support_after,
       CASE WHEN sum(CASE WHEN del THEN 0 ELSE 1 END) = 0
            THEN 'delete' ELSE 'retain' END AS action
FROM a
GROUP BY 1, 2, 3
HAVING sum(CASE WHEN del THEN 1 ELSE 0 END) > 0
"""


@_q("kg_forget_propagate", _forget_oracle_sql)
def kg_forget_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    triples = kg_extract_triples(spark, sf_dir)
    # The deletion-request dim, built as an explicit table (the shape
    # real requests arrive in) — broadcast onto the assertion stream.
    requests = (
        triples.select("conv_id")
        .distinct()
        .filter(
            F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long")
            % _FORGET_MOD
            == 3
        )
        .withColumn("deleted", F.lit(True))
    )
    flagged = triples.join(
        F.broadcast(requests), "conv_id", "left"
    ).withColumn("del", F.coalesce("deleted", F.lit(False)))
    return (
        flagged.groupBy("subject", "predicate", "object")
        .agg(
            F.count("*").cast("long").alias("support_before"),
            F.sum(F.col("del").cast("long"))
            .cast("long")
            .alias("support_removed"),
            F.sum((~F.col("del")).cast("long"))
            .cast("long")
            .alias("support_after"),
        )
        .filter(F.col("support_removed") > 0)
        .withColumn(
            "action",
            F.when(F.col("support_after") == 0, F.lit("delete")).otherwise(
                F.lit("retain")
            ),
        )
    )


# --- Schema evolution read (mergeSchema across snapshot generations) ----------
#
# The lake-format concern w9_time_travel does not cover: a graph
# table whose WRITER EVOLVED — generation 1 wrote (s, p, o, support),
# generation 2 added an n_convs column — must stay readable as ONE
# table, old files yielding NULL for the added column (Iceberg/Delta
# schema evolution; plain-parquet Spark expresses it as a mergeSchema
# read). The query proves the union read end-to-end: per predicate,
# row counts per generation column-presence, and aggregates where the
# evolved column is NULL-tolerant.
#
# Scale shape: mergeSchema costs a footer-schema union at planning
# time (per-file, driver-side — at warehouse scale you PIN the merged
# schema in a catalog instead of re-deriving it per query, which is
# exactly what the .meta.json sidecar stands in for); the scan itself
# stays one pass, columns pruned to the three the aggregate needs.


def _evolve_paths(sf_dir: str) -> tuple[str, str]:
    base = _golden_path("schema_evolve", sf_dir)
    return (
        base.replace(".parquet", "_g1.parquet"),
        base.replace(".parquet", "_g2.parquet"),
    )


@releases_unread_cuts
def write_evolved_snapshots(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the two generations write-once behind a meta
    sidecar committed after BOTH writes: g1 = even-parity support
    table (no n_convs), g2 = odd-parity with the added column."""
    import json
    import os

    from information_extraction_spark.operators.graph import triple_support

    _ensure_golden_dir()
    g1, g2 = _evolve_paths(sf_dir)
    meta = g1 + ".meta.json"
    if os.path.exists(meta):
        return g1, g2
    triples = kg_extract_triples(spark, sf_dir)
    spo = cut(
        triples.withColumn(
            "par",
            F.regexp_extract("conv_id", r"doc(\d+)", 1).cast("long") % 2,
        )
    )
    sup_even = triple_support(spo.filter(F.col("par") == 0))
    sup_odd = triple_support(spo.filter(F.col("par") == 1))
    sup_even.select("subject", "predicate", "object", "support").write.mode(
        "overwrite"
    ).parquet(g1)
    sup_odd.select(
        "subject", "predicate", "object", "support", "n_convs"
    ).write.mode("overwrite").parquet(g2)
    with open(meta, "w") as fh:
        json.dump({"generations": 2, "added": ["n_convs"]}, fh)
    return g1, g2


def _evolve_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH spo AS (
  SELECT subject, predicate, object, conv_id,
         CAST(regexp_extract(conv_id, 'doc(\\d+)', 1) AS BIGINT) % 2 AS par
  FROM {g}
), sup AS (
  SELECT predicate, par,
         CAST(count(*) AS BIGINT) AS support,
         CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
  FROM spo GROUP BY subject, predicate, object, par
)
SELECT predicate,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_evolved_rows,
       CAST(sum(support) AS BIGINT) AS sum_support,
       CAST(sum(CASE WHEN par = 1 THEN n_convs ELSE 0 END) AS BIGINT)
         AS sum_n_convs
FROM sup
GROUP BY 1
"""


@_q("w24_schema_evolve", _evolve_oracle_sql)
def w24_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    g1, g2 = write_evolved_snapshots(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(g1, g2)
    return merged.groupBy("predicate").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("n_convs").isNotNull().cast("long"))
        .cast("long")
        .alias("n_evolved_rows"),
        F.sum("support").cast("long").alias("sum_support"),
        F.sum(F.coalesce("n_convs", F.lit(0)))
        .cast("long")
        .alias("sum_n_convs"),
    )


# --- KG-embedding ranking evaluation (MRR / Hits@k) ---------------------------
#
# The consumer that closes the embedding-training loop
# (kg_transe_score emits margins, kg_neg_sampling emits corrupted
# negatives — this evaluates): for every distinct triple, rank the
# TRUE object among a fixed candidate pool (the top-16 most-supported
# objects) by TransE distance ||e_s + r_p - e_c||^2, then report
# per-predicate MRR and Hits@{1,3,10} — the standard link-prediction
# protocol (filtered-candidates variant with a bounded pool; the full
# protocol ranks against ALL entities, which at warehouse scale is
# exactly this plan with the pool sharded instead of broadcast).
#
# Scale shape: the pool is a BOUNDED dim (TakeOrdered top-16,
# broadcast); scoring is pure per-row arithmetic after a 16x narrow
# expansion (no shuffle to score); the rank collapses back with one
# map-side-combined aggregate on the triple key and the report is a
# 50-group aggregate. Determinism: scores are exact BIGINTs from the
# 48-bit md5 feature hash; score ties rank by candidate string; MRR
# is the exact integer floor(sum(1e6 div rank) div n).


def _embeval_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    s = _transe_components_sql("t.subject")
    p = _transe_components_sql("t.predicate")
    o = _transe_components_sql("t.object")
    c = _transe_components_sql("pool.cand")
    so = " + ".join(
        f"({s[i]} + {p[i]} - {o[i]}) * ({s[i]} + {p[i]} - {o[i]})"
        for i in range(4)
    )
    sc = " + ".join(
        f"({s[i]} + {p[i]} - {c[i]}) * ({s[i]} + {p[i]} - {c[i]})"
        for i in range(4)
    )
    return f"""
WITH tr AS (
  SELECT DISTINCT subject, predicate, object FROM {g}
), pool AS (
  SELECT object AS cand FROM (
    SELECT object, row_number() OVER (ORDER BY count(*) DESC, object)
             AS rn
    FROM tr GROUP BY object
  ) WHERE rn <= 16
), ranked AS (
  SELECT t.subject, t.predicate, t.object,
         1 + sum(CASE WHEN pool.cand <> t.object AND
                      (({sc}) < ({so}) OR
                       (({sc}) = ({so}) AND pool.cand < t.object))
                 THEN 1 ELSE 0 END) AS rnk
  FROM tr t CROSS JOIN pool
  GROUP BY t.subject, t.predicate, t.object
)
SELECT predicate,
       CAST(count(*) AS BIGINT) AS n_triples,
       CAST(sum(1000000 // rnk) // count(*) AS BIGINT) AS mrr_ppm,
       CAST(sum(CASE WHEN rnk <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits1,
       CAST(sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits3,
       CAST(sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits10
FROM ranked
GROUP BY 1
"""


@_q("kg_embedding_eval", _embeval_oracle_sql)
def kg_embedding_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.functions.hashing import h48

    triples = kg_extract_triples(spark, sf_dir)
    tr = triples.select("subject", "predicate", "object").distinct()

    def comp(col, i):
        return (h48(F.concat(col, F.lit(f"#{i}"))) % 1000).cast("long")

    def dist(subj, pred, obj):
        return sum(
            (
                (comp(subj, i) + comp(pred, i) - comp(obj, i))
                * (comp(subj, i) + comp(pred, i) - comp(obj, i))
            )
            for i in range(4)
        )

    pool = (
        tr.groupBy("object")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("object"))
        .limit(16)
        .select(F.col("object").alias("cand"))
    )
    scored = tr.withColumn(
        "so", dist(F.col("subject"), F.col("predicate"), F.col("object"))
    )
    expanded = scored.crossJoin(F.broadcast(pool)).withColumn(
        "sc", dist(F.col("subject"), F.col("predicate"), F.col("cand"))
    )
    better = (
        (F.col("cand") != F.col("object"))
        & (
            (F.col("sc") < F.col("so"))
            | ((F.col("sc") == F.col("so")) & (F.col("cand") < F.col("object")))
        )
    ).cast("long")
    ranked = (
        expanded.groupBy("subject", "predicate", "object")
        .agg((F.lit(1) + F.sum(better)).cast("long").alias("rnk"))
    )
    return ranked.groupBy("predicate").agg(
        F.count("*").cast("long").alias("n_triples"),
        F.expr("CAST(sum(1000000 div rnk) div count(*) AS BIGINT)").alias(
            "mrr_ppm"
        ),
        F.sum((F.col("rnk") <= 1).cast("long")).cast("long").alias("hits1"),
        F.sum((F.col("rnk") <= 3).cast("long")).cast("long").alias("hits3"),
        F.sum((F.col("rnk") <= 10).cast("long")).cast("long").alias("hits10"),
    )


# --- Deterministic random walks (walk-corpus generation) ----------------------
#
# The DeepWalk/node2vec ingestion primitive: a fixed-length walk from
# every entity over the subject→object edge set, feeding skip-gram
# embedding training. "Random" is a deterministic md5 draw — successor
# at step t from node v = argmin over out-neighbors o of
# h48(v || '#t#' || o) (ties to the smaller o) — so retries, reruns
# and both engines reproduce the identical corpus (the same
# reproducibility discipline as ta_weighted_sample). Walks run over
# the UNDIRECTED edge set (subject→object plus its reverse, the
# kg_bfs_distances/kg_label_propagation convention): the extraction
# graph is bipartite — objects never re-occur as subjects — so a
# directed walk would die after one hop (measured: every h2 NULL);
# undirected, step 2 hops back to a (generally different) subject
# sharing the object. Scale shape: the
# walk frontier is ONE row per start; each step is an equi-join on
# the current node key against the distinct edge table followed by a
# struct-min aggregate (map-side combined; never a per-node window
# over the full adjacency), so a 3-step walk costs 3 bounded
# join+agg rounds regardless of graph size. Dead ends carry NULL
# through remaining hops via LEFT joins.

_WALK_STEPS = 3


def _walks_oracle_sql(sf_dir: str) -> str:
    from information_extraction_spark.functions.hashing import h48_sql

    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    h1 = h48_sql("w.start || '#1#' || e.o")
    h2 = h48_sql("s1.h1 || '#2#' || e.o")
    h3 = h48_sql("s2.h2 || '#3#' || e.o")
    return f"""
WITH de AS (
  SELECT DISTINCT subject AS s, object AS o FROM {g}
), e AS (
  SELECT s, o FROM de UNION SELECT o AS s, s AS o FROM de
), w AS (
  SELECT DISTINCT subject AS start FROM {g}
), s1 AS (
  SELECT w.start, e.o AS h1
  FROM w JOIN e ON e.s = w.start
  QUALIFY row_number() OVER (
    PARTITION BY w.start ORDER BY {h1}, e.o) = 1
), s2 AS (
  SELECT s1.start, s1.h1, e.o AS h2
  FROM s1 LEFT JOIN e ON e.s = s1.h1
  QUALIFY row_number() OVER (
    PARTITION BY s1.start ORDER BY {h2}, e.o) = 1
), s3 AS (
  SELECT s2.start, s2.h1, s2.h2, e.o AS h3
  FROM s2 LEFT JOIN e ON e.s = s2.h2
  QUALIFY row_number() OVER (
    PARTITION BY s2.start ORDER BY {h3}, e.o) = 1
)
SELECT start, h1, h2, h3 FROM s3
"""


@_q("kg_random_walks", _walks_oracle_sql)
def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.graph import (
        deterministic_walks,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = triples.select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    ).distinct()
    return deterministic_walks(edges, steps=_WALK_STEPS).select(
        "start", "h1", "h2", "h3"
    )


# --- Sorted-neighborhood ER blocking ------------------------------------------
#
# The second classic blocking scheme next to kg_er_candidates' hash
# blocking (Hernández & Stolfo, SIGMOD'95): sort every entity by a
# normalized key and emit candidate pairs within a fixed window of
# the sort order — catches near-misses that land in DIFFERENT hash
# blocks (typo in the blocking field) because lexicographic neighbors
# stay adjacent. Scale shape: the global sort is functions/ranking.
# stable_rank's two-phase range shuffle (never a single-partition
# row_number window); the w-window self-join is an EQUI-join on
# rank + d for d in 1..w-1 (probe side exploded w-1×) — the same
# bucket-probe trick as the dedup band joins, no range-join
# nested loop. Pair scoring attaches thresholded Levenshtein.

_SN_WINDOW = 4  # candidate pairs within 3 sort positions


def _sn_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH ents AS (
  SELECT subject AS e FROM {g} UNION SELECT object FROM {g}
), k AS (
  SELECT e,
         regexp_replace(lower(e), '[^a-z0-9]', '', 'g') || '#' || e AS sk
  FROM ents
), r AS (
  SELECT e, row_number() OVER (ORDER BY sk) - 1 AS rnk FROM k
)
SELECT a.e AS ea, b.e AS eb,
       CAST(b.rnk - a.rnk AS BIGINT) AS gap,
       CAST(levenshtein(a.e, b.e) AS BIGINT) AS lev
FROM r a JOIN r b
  ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {_SN_WINDOW - 1}
"""


@_q("kg_er_sorted_neighborhood", _sn_oracle_sql)
def kg_er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.linking import (
        sorted_neighborhood_pairs,
    )

    triples = kg_extract_triples(spark, sf_dir)
    ents = (
        triples.select(F.col("subject").alias("e"))
        .unionByName(triples.select(F.col("object").alias("e")))
        .distinct()
    )
    return sorted_neighborhood_pairs(ents, window=_SN_WINDOW)


# --- ER blocking recall audit ---------------------------------------------------
#
# The QA composition over kg_er_sorted_neighborhood (the
# ann_recall_audit pattern pointed at entity resolution): ground
# truth = every entity pair within Levenshtein 3 — computed with the
# SAME lossless length-band blocking as dd_edit_distance (lev >=
# |len diff|, band width 5, probe ±1), so the truth side is complete
# by construction, not sampled — each truth pair flagged with whether
# the w=4 sorted window surfaced it. Orientation is normalized to
# (least, greatest) on both sides: the window orders pairs by SORT
# rank, the truth by raw string order, and the two disagree exactly
# when normalization reorders (measured). Exposing the window's
# misses IS the audit's purpose — production tuning raises w or adds
# a second pass on the reversed key until recall holds.


def _er_audit_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH ents AS (
  SELECT subject AS e FROM {g} UNION SELECT object FROM {g}
), truth AS (
  SELECT a.e AS ea, b.e AS eb,
         CAST(levenshtein(a.e, b.e) AS BIGINT) AS lev
  FROM ents a JOIN ents b
    ON a.e < b.e AND abs(length(a.e) - length(b.e)) <= 3
  WHERE levenshtein(a.e, b.e) <= 3
), k AS (
  SELECT e,
         regexp_replace(lower(e), '[^a-z0-9]', '', 'g') || '#' || e AS sk
  FROM ents
), r AS (
  SELECT e, row_number() OVER (ORDER BY sk) - 1 AS rnk FROM k
), sn AS (
  SELECT least(a.e, b.e) AS x, greatest(a.e, b.e) AS y
  FROM r a JOIN r b ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {_SN_WINDOW - 1}
)
SELECT t.ea, t.eb, t.lev, (sn.x IS NOT NULL) AS in_window
FROM truth t LEFT JOIN sn ON sn.x = t.ea AND sn.y = t.eb
"""


@_q("kg_er_blocking_audit", _er_audit_oracle_sql)
@releases_unread_cuts
def kg_er_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.linking import (
        sorted_neighborhood_pairs,
    )

    triples = kg_extract_triples(spark, sf_dir)
    ents = cut(  # feeds both the truth join and the window
        triples.select(F.col("subject").alias("e"))
        .unionByName(triples.select(F.col("object").alias("e")))
        .distinct()
    )
    # truth: lossless length-band blocking (band width 3 >= max lev).
    d = ents.withColumn("ln", F.length("e"))
    bucket = F.floor(F.col("ln") / 3)
    a = d.withColumn(
        "bkt", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    ).alias("a")
    b = d.withColumn("bkt", bucket).alias("b")
    truth = (
        a.join(
            b,
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.e") < F.col("b.e"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= 3),
        )
        .select(
            F.col("a.e").alias("ea"),
            F.col("b.e").alias("eb"),
            F.levenshtein(F.col("a.e"), F.col("b.e"), 3)
            .cast("long")
            .alias("lev"),
        )
        .filter(F.col("lev") >= 0)
    )
    sn = sorted_neighborhood_pairs(ents, window=_SN_WINDOW).select(
        F.least("ea", "eb").alias("x"),
        F.greatest("ea", "eb").alias("y"),
    )
    return truth.join(
        sn,
        (truth["ea"] == sn["x"]) & (truth["eb"] == sn["y"]),
        "left",
    ).select(
        "ea", "eb", "lev", F.col("x").isNotNull().alias("in_window")
    )


# --- SPARQL-style star join (conjunctive BGP) -----------------------------------
#
# The canonical KG consumer query: a basic graph pattern
# { ?s <pA> ?oa . ?s <pB> ?ob } — subjects asserting BOTH of the two
# hottest predicates, with every (oa, ob) combination (standard
# SPARQL bag semantics from the join). The predicates are derived
# from the corpus (top-2 by assertion count, ties lexicographic; a
# 2-row TakeOrdered collect). Scale shape: with the pred_bucket-
# partitioned graph table each triple pattern is a PARTITION-PRUNED
# single-predicate scan (kg_graph_pred_scan proved the pruning); the
# star join then shuffles two already-pruned pattern scans on the
# shared subject key — the worst-case full-table scan per pattern
# never happens.


def _star_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH pa AS (
  SELECT predicate FROM {g} GROUP BY predicate
  ORDER BY count(*) DESC, predicate LIMIT 1
), pb AS (
  -- the predicate CO-OCCURRING on the most subjects with pa (the
  -- hottest alone may share zero subjects with the 2nd hottest —
  -- measured at sf0.01, where that pairing is empty).
  SELECT b.predicate
  FROM (SELECT DISTINCT subject FROM {g}
        WHERE predicate = (SELECT predicate FROM pa)) a
  JOIN (SELECT DISTINCT subject, predicate FROM {g}
        WHERE predicate <> (SELECT predicate FROM pa)) b
    ON a.subject = b.subject
  GROUP BY b.predicate
  ORDER BY count(*) DESC, b.predicate LIMIT 1
),
ta AS (
  SELECT DISTINCT subject, object AS oa FROM {g}
  WHERE predicate = (SELECT predicate FROM pa)
), tb AS (
  SELECT DISTINCT subject, object AS ob FROM {g}
  WHERE predicate = (SELECT predicate FROM pb)
)
SELECT ta.subject, (SELECT predicate FROM pa) AS pred_a, ta.oa,
       (SELECT predicate FROM pb) AS pred_b, tb.ob
FROM ta JOIN tb ON ta.subject = tb.subject
"""


@_q("kg_star_join", _star_oracle_sql)
@releases_unread_cuts
def kg_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    triples = kg_extract_triples(spark, sf_dir)
    t = cut(triples.select("subject", "predicate", "object"))
    pa = (
        t.groupBy("predicate")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "predicate")
        .limit(1)
        .collect()[0]["predicate"]
    )
    # pb: the predicate co-occurring on the most subjects with pa —
    # the hottest pair of predicates can share ZERO subjects
    # (measured at sf0.01); co-occurrence keeps the BGP non-empty
    # whenever any subject asserts two predicates.
    subs_a = t.filter(F.col("predicate") == pa).select("subject").distinct()
    pb = (
        t.filter(F.col("predicate") != pa)
        .select("subject", "predicate")
        .distinct()
        .join(subs_a, "subject")
        .groupBy("predicate")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "predicate")
        .limit(1)
        .collect()[0]["predicate"]
    )
    # each pattern is a predicate-pruned scan (partition-pruned on the
    # materialized pred_bucket layout) collapsed to DISTINCT bindings.
    ta = (
        t.filter(F.col("predicate") == pa)
        .select("subject", F.col("object").alias("oa"))
        .distinct()
    )
    tb = (
        t.filter(F.col("predicate") == pb)
        .select("subject", F.col("object").alias("ob"))
        .distinct()
    )
    return ta.join(tb, "subject").select(
        "subject",
        F.lit(pa).alias("pred_a"),
        "oa",
        F.lit(pb).alias("pred_b"),
        "ob",
    )


# --- Skip-gram pair extraction from the walk corpus -----------------------------
#
# The step DeepWalk actually trains on: each walk path
# [start, h1, h2, h3] becomes (center, context) pairs within a
# ±2-position window — the skip-gram training table fed to the
# embedding trainer (emb_linreg_gd's gradient loop is the training
# seam). Pure within-row expansion over the walk table (positions
# array → pair comb inside the row, a narrow Expand) followed by one
# map-side-combined count shuffle on the pair key; the walk table is
# one row per start, so this never touches edge cardinality.

_SKIPGRAM_WINDOW = 2


def _skipgram_oracle_sql(sf_dir: str) -> str:
    base = _walks_oracle_sql(sf_dir)
    # wrap the walks readout: explode positions, pair within window.
    return f"""
WITH walks AS ({base}),
pos AS (
  SELECT start, unnest(['0#' || start,
                        '1#' || h1,
                        '2#' || h2,
                        '3#' || h3]) AS tagged
  FROM walks
), p AS (
  SELECT start,
         CAST(string_split(tagged, '#')[1] AS BIGINT) AS i,
         string_split(tagged, '#')[2] AS node
  FROM pos WHERE string_split(tagged, '#')[2] IS NOT NULL
           AND string_split(tagged, '#')[2] <> ''
)
SELECT a.node AS center, b.node AS context,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p a JOIN p b
  ON a.start = b.start AND a.i <> b.i
 AND abs(a.i - b.i) <= {_SKIPGRAM_WINDOW}
GROUP BY 1, 2
"""


@_q("kg_skipgram_pairs", _skipgram_oracle_sql)
def kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    walks = kg_random_walks(spark, sf_dir)
    path = F.array("start", "h1", "h2", "h3")
    # within-row pair expansion: for each (i, j), |i-j| <= window,
    # i != j, both non-null — a narrow per-row transform, no join.
    pairs = []
    n = 4
    for i in range(n):
        for j in range(n):
            if i != j and abs(i - j) <= _SKIPGRAM_WINDOW:
                pairs.append(
                    F.struct(
                        path.getItem(i).alias("center"),
                        path.getItem(j).alias("context"),
                    )
                )
    exploded = walks.select(
        F.explode(F.array(*pairs)).alias("pr")
    ).select("pr.center", "pr.context")
    return (
        exploded.filter(
            F.col("center").isNotNull() & F.col("context").isNotNull()
        )
        .groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# --- Degree distribution (power-law QA) ------------------------------------------
#
# The graph-shape audit next to kg_degree_topk's heavy hitters: the
# LOG-BINNED degree histogram over the undirected entity graph —
# the standard check that a constructed KG has the long-tail shape
# (and, operationally, the sizing input for the skew machinery: the
# top bin IS the salting candidate list). floor(log2(d)) is exact in
# IEEE for every representable d (powers of two are exact, others
# floor safely), so both engines bin identically without integer
# gymnastics. One degree shuffle + one 10-row bin rollup.

def _degree_dist_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH de AS (
  SELECT DISTINCT subject AS a, object AS b FROM {g}
), und AS (
  SELECT a, b FROM de UNION SELECT b, a FROM de
), deg AS (
  SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1
)
SELECT CAST(floor(log2(d)) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(min(d) AS BIGINT) AS min_deg,
       CAST(max(d) AS BIGINT) AS max_deg
FROM deg GROUP BY 1
"""


@_q("kg_degree_distribution", _degree_dist_oracle_sql)
def kg_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.graph import (
        undirected_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = triples.select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    ).distinct()
    deg = (
        undirected_edges(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("d"))
    )
    return (
        deg.withColumn("bin", F.floor(F.log2("d")).cast("long"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_entities"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
        )
    )


# --- Weighted shortest paths (fixed-round Bellman-Ford) -----------------------------
#
# kg_bfs_distances' weighted sibling: bounded-hop MIN-PLUS proximity
# over the undirected entity graph, the feature behind "how strongly
# connected are these two entities" when edges carry costs. Weights
# derive portably from the canonical edge pair (1 + h48(a|b) % 9, so
# both orientations share one weight and both engines recompute it
# bit-for-bit); seeds are the 5 lexicographically-smallest entities
# (the PPR/BFS rule); 3 relaxation rounds = exact shortest distance
# over <= 3-edge paths. Unlike BFS, relaxation must RE-OFFER known
# nodes (a longer-hop path can be cheaper — the test pins one), so
# the full dist vector joins the edges each round: operators/
# graph.bellman_ford.


def _sssp_oracle_sql(sf_dir: str) -> str:
    from information_extraction_spark.functions.hashing import h48_sql

    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    w = h48_sql("least(src, dst) || '|' || greatest(src, dst)")
    steps = []
    for i in range(1, 4):
        steps.append(
            f""", v{i} AS (
  SELECT n, CAST(min(d) AS BIGINT) AS dist FROM (
    SELECT n, dist AS d FROM v{i - 1}
    UNION ALL
    SELECT u.dst AS n, v{i - 1}.dist + u.w AS d
    FROM u JOIN v{i - 1} ON u.src = v{i - 1}.n
  ) GROUP BY 1
)"""
        )
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst, CAST(1 + {w} % 9 AS BIGINT) AS w
  FROM (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
), nodes AS (
  SELECT DISTINCT src AS n FROM u
), seeds AS (
  SELECT n FROM nodes ORDER BY n LIMIT 5
), v0 AS (
  SELECT n, CAST(0 AS BIGINT) AS dist FROM seeds
){''.join(steps)}
SELECT n AS entity, dist FROM v3
"""


@_q("kg_sssp_weighted", _sssp_oracle_sql)
def kg_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round multi-source Bellman-Ford from the 5 smallest entities
    (see block comment); operators/graph.bellman_ford does the
    min-plus loop."""
    from information_extraction_spark.functions.hashing import h48
    from information_extraction_spark.operators.graph import (
        bellman_ford,
        triple_edges,
        undirected_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    und = undirected_edges(triple_edges(triples))
    w = (
        1
        + h48(
            F.concat(
                F.least("src", "dst"), F.lit("|"), F.greatest("src", "dst")
            )
        )
        % 9
    ).cast("long")
    weighted = und.withColumn("w", w)
    seeds = [
        r["src"]
        for r in und.select("src").distinct().orderBy("src").limit(5).collect()
    ]
    return bellman_ford(weighted, seeds, rounds=3)


def _modularity_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    # The LPA chain is reused verbatim as a nested-WITH CTE, then the
    # exact-integer modularity terms recompute from the same golden:
    # q_num = 4*m*L_c - D_c^2, q_den = 4*m^2 (no floats).
    return f"""
WITH lpa AS ({_lpa_oracle_sql(sf_dir)}),
e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
), mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM canon
), u AS (
  SELECT a AS src FROM canon UNION ALL SELECT b FROM canon
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), dsum AS (
  SELECT l.community,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(deg.d) AS BIGINT) AS degree_sum
  FROM deg JOIN lpa l ON deg.src = l.entity GROUP BY 1
), intra AS (
  SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
  FROM canon
  JOIN lpa la ON canon.a = la.entity
  JOIN lpa lb ON canon.b = lb.entity
  WHERE la.community = lb.community
  GROUP BY 1
)
SELECT d.community, d.n_nodes,
       CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       d.degree_sum,
       CAST(4 * mm.m * coalesce(i.intra_edges, 0)
            - d.degree_sum * d.degree_sum AS BIGINT) AS q_num,
       CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
FROM dsum d LEFT JOIN intra i ON d.community = i.community CROSS JOIN mm
"""


@_q("kg_modularity", _modularity_oracle_sql)
def kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-quality audit: Newman modularity of the 3-iteration
    LPA communities over the undirected entity graph
    (operators/graph.modularity — exact BIGINT q_num/q_den per
    community, Q = sum(q_num)/q_den). The go/no-go between LPA and
    the CC merge: communities with q_num <= 0 are no better than the
    degree-random baseline and should not drive canonicalization."""
    from information_extraction_spark.operators.graph import (
        label_propagation,
        modularity,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    edges = triple_edges(triples)
    return modularity(edges, label_propagation(edges, iterations=3))


# --- KG-WL: structural conversation fingerprints (WL kernel) -------------------
#
# kg_conv_dedup is content-keyed (shared triples); this is the
# STRUCTURE-keyed complement — Weisfeiler-Leman refinement over each
# conversation's predicate-labeled extraction graph, entity names
# excluded by construction (labels start from a constant), so
# templated/scripted dialogs collapse to one fingerprint even when
# every entity differs. See operators/graph.wl_fingerprints for the
# algorithm and the co-keyed scale shape. Both engines hash with the
# portable 48-bit md5 and serialize multisets as lexicographically
# sorted comma-joins — bit-equal fingerprints, value-checked.


def _wl_oracle_sql(sf_dir: str) -> str:
    from information_extraction_spark.functions.hashing import h48_sql

    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    rounds = []
    prev = "l0"
    for r in (1, 2):
        rounds.append(
            f"""
, m{r} AS (
  SELECT conv_id, node, string_agg(msg, ',' ORDER BY msg) AS ms
  FROM (
    SELECT e.conv_id, e.s AS node,
           'o:' || e.p || ':' || CAST(l.lbl AS VARCHAR) AS msg
    FROM e JOIN {prev} l ON l.conv_id = e.conv_id AND l.node = e.o
    UNION ALL
    SELECT e.conv_id, e.o AS node,
           'i:' || e.p || ':' || CAST(l.lbl AS VARCHAR) AS msg
    FROM e JOIN {prev} l ON l.conv_id = e.conv_id AND l.node = e.s
  ) GROUP BY 1, 2
), pre{r} AS (
  SELECT l.conv_id, l.node,
         CAST(l.lbl AS VARCHAR) || '|' || m.ms AS cat
  FROM {prev} l JOIN m{r} m
    ON m.conv_id = l.conv_id AND m.node = l.node
), l{r} AS (
  SELECT conv_id, node, {h48_sql('cat')} AS lbl FROM pre{r}
)"""
        )
        prev = f"l{r}"
    chain = "".join(rounds)
    return f"""
WITH e AS (
  SELECT DISTINCT conv_id, subject AS s, predicate AS p, object AS o
  FROM {g}
), n AS (
  SELECT DISTINCT conv_id, node FROM (
    SELECT conv_id, s AS node FROM e
    UNION SELECT conv_id, o FROM e)
), l0 AS (
  SELECT conv_id, node, {h48_sql("'wl0'")} AS lbl FROM n
){chain}, cats AS (
  SELECT conv_id,
         string_agg(CAST(lbl AS VARCHAR), ','
                    ORDER BY CAST(lbl AS VARCHAR)) AS cat,
         CAST(count(*) AS BIGINT) AS n_nodes
  FROM {prev} GROUP BY 1
), fp AS (
  SELECT conv_id, CAST({h48_sql('cat')} AS BIGINT) AS wl_fp, n_nodes
  FROM cats
), ne AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_edges FROM e GROUP BY 1
)
SELECT fp.conv_id, fp.wl_fp, fp.n_nodes, ne.n_edges,
       CAST(count(*) OVER (PARTITION BY fp.wl_fp) AS BIGINT) AS fp_group
FROM fp JOIN ne ON ne.conv_id = fp.conv_id
"""


@_q("kg_wl_kernel", _wl_oracle_sql)
def kg_wl_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation WL structural fingerprint + dup-group size
    (operators/graph.wl_fingerprints, 2 refinement rounds)."""
    from information_extraction_spark.operators.graph import (
        wl_fingerprints,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return wl_fingerprints(triples, rounds=2)


# --- Shortest-path counting (Brandes forward pass) -----------------------------
#
# kg_landmark_dist sketches DISTANCES; this adds SIGMA — the number
# of distinct shortest paths from each of the 2 top-degree sources
# (exact BIGINT, the Brandes 2001 forward pass). sigma = 1 flags
# single-fragile-path reachability; high sigma flags redundantly
# connected hubs — the connectivity-robustness signal entity
# canonicalization consults before merging through a bridge. See
# operators/graph.shortest_path_counts for the multi-source one-pass
# scale shape. Oracle = per-hop chained CTEs with the same
# sum-over-predecessors recurrence (NOT EXISTS anti-join per hop,
# the landmark oracle's pattern extended with the sigma aggregate).


def _sp_counts_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    hops = []
    for h in (1, 2, 3):
        p = h - 1
        hops.append(f"""
, c{h} AS (
  SELECT u.dst AS n, f.s, CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM u JOIN f{p} f ON u.src = f.n GROUP BY 1, 2
), n{h} AS (
  SELECT c.n, c.s, c.sigma FROM c{h} c
  WHERE NOT EXISTS (SELECT 1 FROM v{p} v WHERE v.n = c.n AND v.s = c.s)
), v{h} AS (
  SELECT * FROM v{p}
  UNION ALL SELECT n, s, CAST({h} AS INT) AS dist, sigma FROM n{h}
), f{h} AS (SELECT n, s, sigma FROM n{h})""")
    chain = "".join(hops)
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), ss AS (
  SELECT src AS s FROM deg ORDER BY d DESC, src LIMIT 2
), v0 AS (
  SELECT s AS n, s, CAST(0 AS INT) AS dist, CAST(1 AS BIGINT) AS sigma
  FROM ss
), f0 AS (SELECT n, s, sigma FROM v0){chain}
SELECT n AS entity, s AS sp_src, CAST(dist AS BIGINT) AS dist, sigma
FROM v3
"""


@_q("kg_path_counts", _sp_counts_oracle_sql)
def kg_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shortest-path counts (dist + sigma) from the 2 top-degree
    sources, hops <= 3 (operators/graph.shortest_path_counts)."""
    from information_extraction_spark.operators.graph import (
        shortest_path_counts,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return shortest_path_counts(
        triple_edges(triples), n_sources=2, max_hops=3
    )


# --- Truth discovery (source-reliability data fusion) ------------------------
#
# The fusion layer kg_functional_resolve's raw support vote lacks:
# Sums-style mutual reinforcement (Pasternack & Roth COLING'10, the
# shape Knowledge Vault runs as "source trustworthiness x extraction
# confidence"). Sources = conversations; one belief->trust->belief
# sweep in exact BIGINT ppm (per-half-step renormalization by the
# global max via a broadcast 1-row aggregate). A minority object
# asserted by conversations whose OTHER facts are widely corroborated
# can now out-rank a raw-count majority — measured at sf0.01: the
# winner DIFFERS from resolve_functional's raw support vote on 80 of
# the 485 conflict slots (the point of the operator). Oracle =
# the same three half-steps as chained CTEs with identical integer
# arithmetic; scale shape in operators/graph.truth_discovery.


def _truth_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT conv_id AS source, subject, predicate, object FROM {g}
), b1r AS (
  SELECT subject, predicate, object,
         CAST(count(*) AS BIGINT) * 1000000 AS braw
  FROM e GROUP BY 1, 2, 3
), b1 AS (
  SELECT subject, predicate, object,
         CAST(braw * 1000000 // (SELECT max(braw) FROM b1r) AS BIGINT) AS b
  FROM b1r
), t1r AS (
  SELECT e.source, CAST(sum(b1.b) AS BIGINT) AS traw
  FROM e JOIN b1 USING (subject, predicate, object) GROUP BY 1
), t1 AS (
  SELECT source,
         CAST(traw * 1000000 // (SELECT max(traw) FROM t1r) AS BIGINT) AS t
  FROM t1r
), b2r AS (
  SELECT subject, predicate, object, CAST(sum(t1.t) AS BIGINT) AS braw
  FROM e JOIN t1 USING (source) GROUP BY 1, 2, 3
), b2 AS (
  SELECT subject, predicate, object,
         CAST(braw * 1000000 // (SELECT max(braw) FROM b2r) AS BIGINT) AS b
  FROM b2r
), ranked AS (
  SELECT b2.*,
         row_number() OVER (PARTITION BY subject, predicate
             ORDER BY b DESC, object ASC) AS rn,
         count(*) OVER (PARTITION BY subject, predicate) AS nc
  FROM b2
)
SELECT subject, predicate, object AS resolved_object, b AS belief_ppm,
       CAST(nc AS BIGINT) AS n_candidates
FROM ranked WHERE rn = 1 AND nc >= 2
"""


@_q("kg_truth_discovery", _truth_oracle_sql)
def kg_truth_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sums-style truth discovery over the live pipeline's assertion
    edges (see block comment; operators/graph.truth_discovery)."""
    from information_extraction_spark.operators.graph import (
        truth_discovery,
    )

    triples = kg_extract_triples(spark, sf_dir)
    assertions = triples.select(
        F.col("conv_id").alias("source"),
        "subject",
        "predicate",
        "object",
    )
    return truth_discovery(assertions, rounds=1)


# --- Pivot-sampled betweenness (Brandes backward accumulation) ---------------
#
# Completes kg_path_counts: the forward pass's (dist, sigma) feeds
# the Brandes backward recurrence delta(v) = SUM over DAG successors
# w of sigma_v/sigma_w * (1 + delta(w)), accumulated from 2
# high-degree pivots (Brandes & Pich 2007 pivot sampling — exact
# betweenness is all-sources, infeasible at scale; production ranks
# bridges by a pivot sample). Integer-exact: per-term
# floor(sigma_v * (10^6 + delta_ppm_w) / sigma_w) — order-independent
# sums, identical in both engines. High bc_ppm marks the BRIDGE
# entities whose removal disconnects corroboration paths — the
# complement of kg_path_counts' sigma-fragility view. Scale shape in
# operators/graph.betweenness_pivots.


def _betweenness_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    fwd = []
    for h in (1, 2, 3):
        p = h - 1
        fwd.append(f"""
, c{h} AS (
  SELECT u.dst AS n, f.s, CAST(sum(f.sigma) AS BIGINT) AS sigma
  FROM u JOIN f{p} f ON u.src = f.n GROUP BY 1, 2
), n{h} AS (
  SELECT c.n, c.s, c.sigma FROM c{h} c
  WHERE NOT EXISTS (SELECT 1 FROM v{p} v WHERE v.n = c.n AND v.s = c.s)
), v{h} AS (
  SELECT * FROM v{p}
  UNION ALL SELECT n, s, CAST({h} AS INT) AS dist, sigma FROM n{h}
), f{h} AS (SELECT n, s, sigma FROM n{h})""")
    bwd = ["""
, dl3 AS (
  SELECT n, s, sigma, CAST(0 AS BIGINT) AS delta FROM v3 WHERE dist = 3
)"""]
    for d in (2, 1, 0):
        n = d + 1
        bwd.append(f"""
, cc{d} AS (
  SELECT v.n, v.s,
         CAST(sum((v.sigma * (1000000 + w.delta)) // w.sigma) AS BIGINT)
           AS delta
  FROM v3 v JOIN u ON u.src = v.n
  JOIN dl{n} w ON w.n = u.dst AND w.s = v.s
  WHERE v.dist = {d} GROUP BY 1, 2
), dl{d} AS (
  SELECT v.n, v.s, v.sigma,
         CAST(coalesce(c.delta, 0) AS BIGINT) AS delta
  FROM v3 v LEFT JOIN cc{d} c ON c.n = v.n AND c.s = v.s
  WHERE v.dist = {d}
)""")
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), ss AS (
  SELECT src AS s FROM deg ORDER BY d DESC, src LIMIT 2
), v0 AS (
  SELECT s AS n, s, CAST(0 AS INT) AS dist, CAST(1 AS BIGINT) AS sigma
  FROM ss
), f0 AS (SELECT n, s, sigma FROM v0){"".join(fwd)}{"".join(bwd)}
SELECT n AS entity, CAST(sum(delta) AS BIGINT) AS bc_ppm,
       CAST(count(*) AS BIGINT) AS n_pivots
FROM (
  SELECT * FROM dl0 UNION ALL SELECT * FROM dl1
  UNION ALL SELECT * FROM dl2 UNION ALL SELECT * FROM dl3
)
WHERE n <> s GROUP BY n
"""


@_q("kg_betweenness", _betweenness_oracle_sql)
def kg_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled approximate betweenness from the 2 top-degree
    pivots, hops <= 3 (operators/graph.betweenness_pivots)."""
    from information_extraction_spark.operators.graph import (
        betweenness_pivots,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return betweenness_pivots(
        triple_edges(triples), n_sources=2, max_hops=3
    )


# --- A23: Cohen's kappa over the extractor pair -------------------------------
#
# a13 counts agreement cells, a21/a22 test marginal homogeneity; this
# is the third standard inter-annotator statistic — CHANCE-CORRECTED
# agreement (Cohen 1960), the number labeling teams actually quote.
# Decision universe (closed, golden-derivable): the (conv, turn)
# units where EITHER extractor detected ANY predicate — per predicate
# each extractor made a yes/no call on every unit, so n00 = N -
# n11 - n10 - n01 falls out arithmetically and no unit×predicate
# cross-join is ever materialized. kappa = (po - pe)/(1 - pe)
# restated integer-exact: kappa_ppm = ((n11+n00)·N - pe_num)·10^6
# div (N² - pe_num) with pe_num = yes_r·yes_n + no_r·no_n — pure
# BIGINT (N² ≤ 10^8 here; ppm product ≤ 10^14), greatest-guard on
# the degenerate all-yes denominator. Scale: a13's co-keyed
# detection join + ONE predicate-bounded rollup + a broadcast scalar.


def _kappa_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    n = f"read_parquet('{_golden_path('nn', sf_dir)}/*.parquet')"
    return f"""
WITH r AS (
  SELECT DISTINCT conv_id, turn_idx, predicate FROM {g}
  WHERE CAST(regexp_extract(conv_id, '^doc(\\d+)\\.', 1) AS BIGINT)
        % {_NN_DOC_MOD} = 0
), nn AS (
  SELECT DISTINCT conv_id, turn_idx, predicate FROM {n}
), units AS (
  SELECT CAST(count(*) AS BIGINT) AS nu FROM (
    SELECT DISTINCT conv_id, turn_idx FROM (
      SELECT conv_id, turn_idx FROM r
      UNION ALL SELECT conv_id, turn_idx FROM nn))
), j AS (
  SELECT COALESCE(r.predicate, nn.predicate) AS predicate,
         (r.conv_id IS NOT NULL) AS in_r,
         (nn.conv_id IS NOT NULL) AS in_nn
  FROM r FULL OUTER JOIN nn
    ON r.conv_id = nn.conv_id AND r.turn_idx = nn.turn_idx
   AND r.predicate = nn.predicate
), cells AS (
  SELECT predicate,
         CAST(sum(CASE WHEN in_r AND in_nn THEN 1 ELSE 0 END) AS BIGINT)
           AS n11,
         CAST(sum(CASE WHEN in_r AND NOT in_nn THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(sum(CASE WHEN in_nn AND NOT in_r THEN 1 ELSE 0 END)
              AS BIGINT) AS n01
  FROM j GROUP BY 1
), k AS (
  SELECT predicate, n11, n10, n01, nu - n11 - n10 - n01 AS n00,
         (n11 + n10) * (n11 + n01)
           + (nu - n11 - n10) * (nu - n11 - n01) AS pe_num,
         nu
  FROM cells CROSS JOIN units
)
SELECT predicate, n11, n10, n01, CAST(n00 AS BIGINT) AS n00,
       CAST(((n11 + n00) * nu - pe_num) * 1000000
            // greatest(nu * nu - pe_num, 1) AS BIGINT) AS kappa_ppm
FROM k
"""


@_q("a23_cohen_kappa", _kappa_oracle_sql)
@releases_unread_cuts
def a23_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate Cohen's kappa between the rule-based and NN
    extractors in exact ppm (see block comment)."""
    key = ["conv_id", "turn_idx", "predicate"]
    rules = cut(  # feeds the unit universe AND the join
        kg_extract_triples(spark, sf_dir)
        .filter(
            F.regexp_extract("conv_id", r"^doc(\d+)\.", 1).cast("long")
            % _NN_DOC_MOD
            == 0
        )
        .select(*key)
        .distinct()
        .withColumn("in_r", F.lit(True))
    )
    nn = cut(
        kg_nn_extract(spark, sf_dir)
        .select(*key)
        .distinct()
        .withColumn("in_nn", F.lit(True))
    )
    units = F.broadcast(
        rules.select("conv_id", "turn_idx")
        .unionAll(nn.select("conv_id", "turn_idx"))
        .distinct()
        .agg(F.count("*").cast("long").alias("nu"))
    )
    j = rules.join(nn, key, "full_outer").select(
        "predicate",
        F.coalesce("in_r", F.lit(False)).alias("in_r"),
        F.coalesce("in_nn", F.lit(False)).alias("in_nn"),
    )
    cells = j.groupBy("predicate").agg(
        F.sum(F.when(F.col("in_r") & F.col("in_nn"), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when(F.col("in_r") & ~F.col("in_nn"), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when(F.col("in_nn") & ~F.col("in_r"), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
    )
    k = cells.crossJoin(units).select(
        "predicate",
        "n11",
        "n10",
        "n01",
        (F.col("nu") - F.col("n11") - F.col("n10") - F.col("n01")).alias(
            "n00"
        ),
        (
            (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
            + (F.col("nu") - F.col("n11") - F.col("n10"))
            * (F.col("nu") - F.col("n11") - F.col("n01"))
        ).alias("pe_num"),
        "nu",
    )
    return k.select(
        "predicate",
        "n11",
        "n10",
        "n01",
        F.col("n00").cast("long").alias("n00"),
        exact_muldiv(
            "(n11 + n00) * nu - pe_num", "greatest(nu * nu - pe_num, 1L)", 1_000_000
        ).alias("kappa_ppm"),
    )


# --- W32: orphan-file GC (Iceberg remove_orphan_files) ------------------------
#
# The OTHER maintenance leg next to w30's retention GC: a writer that
# crashes between its data write and its manifest commit leaves a
# fully-written snapshot directory no reader will ever reference —
# invisible to expire_snapshots (which walks the manifest) and a pure
# storage leak. This query stages TWO committed snapshots of a
# per-language count, PLANTS a crashed-writer dir (`@snap99` with
# real parquet inside, no manifest row) plus its id claim, then runs
# CheckpointManager.remove_orphans and proves: the orphan dir is
# physically gone, its claim SURVIVES (the crashed id is never
# re-minted), and both committed snapshots still read_as_of with
# exact values. The oracle recomputes both surviving universes from
# documents plus the literal orphan count — pure SQL, no golden.
# Scale: manifest and directory listing are metadata-sized; the only
# data motion is the two bounded count stages.


def _orphan_paths(sf_dir: str) -> tuple[str, str]:
    base = _golden_path("orphan_files", sf_dir).replace(
        ".parquet", "_ckpt"
    )
    return base, base + ".meta.json"


def _write_orphan_history(spark: SparkSession, sf_dir: str) -> None:
    """Stage 2 committed snapshots + 1 planted orphan, then GC —
    write-once via the atomic meta sidecar (w30 pattern)."""
    import json
    import os

    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    _ensure_golden_dir()
    ckpt_dir, meta_path = _orphan_paths(sf_dir)
    if os.path.exists(meta_path):
        try:
            with open(meta_path) as fh:
                json.load(fh)
            return
        except ValueError:
            os.unlink(meta_path)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = lambda df: df.groupBy("lang").agg(  # noqa: E731
        F.count("*").cast("long").alias("n_docs")
    )
    for name, pred in [
        ("half", F.col("doc_id") % 2 == 0),
        ("all", F.lit(True)),
    ]:
        m = CheckpointManager(
            spark, ckpt_dir, run_id="orun", params={"universe": name}
        )
        m.stage(counts(docs.filter(pred)), "lang_counts")
    # Crashed writer: data landed, manifest append never happened.
    gc = CheckpointManager(spark, ckpt_dir, run_id="orun", params={})
    orphan_dir = os.path.join(ckpt_dir, "orun", "lang_counts@snap99")
    counts(docs).coalesce(1).write.mode("overwrite").parquet(orphan_dir)
    claims = os.path.join(ckpt_dir, "_snapshot_claims")
    os.makedirs(claims, exist_ok=True)
    with open(os.path.join(claims, "snap-99.claim"), "w"):
        pass
    removed = gc.remove_orphans("lang_counts")
    if removed != [99]:
        raise RuntimeError(f"unexpected orphan removal {removed}")
    if os.path.isdir(orphan_dir):
        raise RuntimeError("orphan dir must be gone")
    if not os.path.isfile(os.path.join(claims, "snap-99.claim")):
        raise RuntimeError("orphan id claim must survive GC")
    # Idempotency: a second sweep finds nothing.
    if gc.remove_orphans("lang_counts") != []:
        raise RuntimeError("orphan GC must be idempotent")
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"removed": removed}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, meta_path)


_W32_ORACLE = """
SELECT CAST(1 AS BIGINT) AS snapshot_id, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(1 AS BIGINT) AS n_orphans_removed
FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
UNION ALL
SELECT CAST(2 AS BIGINT) AS snapshot_id, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(1 AS BIGINT) AS n_orphans_removed
FROM documents GROUP BY lang
"""


@_q("w32_orphan_files", _W32_ORACLE)
def w32_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Committed snapshots surviving the orphan sweep, read via
    read_as_of, each row carrying the orphan-removal count (see
    block comment)."""
    from information_extraction_spark.operators.checkpoint import (
        CheckpointManager,
    )

    _write_orphan_history(spark, sf_dir)
    ckpt_dir, _ = _orphan_paths(sf_dir)
    m = CheckpointManager(spark, ckpt_dir, run_id="orun", params={})
    parts = [
        m.read_as_of("lang_counts", sid).withColumn(
            "snapshot_id", F.lit(sid).cast("long")
        )
        for sid in (1, 2)
    ]
    out = parts[0].unionByName(parts[1])
    return out.select(
        "snapshot_id",
        "lang",
        "n_docs",
        F.lit(1).cast("long").alias("n_orphans_removed"),
    )


# --- A24: power analysis for the McNemar gate --------------------------------
#
# a21 decides whether today's extractor disagreement is significant;
# THIS answers the labeling team's follow-up — "how many annotated
# units until the gate has 80% power?" Connor 1987's paired-test
# normal approximation per predicate: with discordance psi = (b+c)/N
# and effect delta = (b-c)/N, required pairs =
# ceil((z_{.975}·sqrt(psi) + z_{.8}·sqrt(psi - delta²))² / delta²).
# z quantiles come from the repo's Acklam inverse-normal
# (functions/stats.py, a22's discipline) and are embedded as the
# SAME 6dp literals in the Spark plan and the oracle — neither
# engine evaluates erf. Doubles appear ONLY in this one identically-
# grouped expression (same products, same order), so both engines
# produce the identical IEEE value and the identical ceil; b == c
# slots (zero observed effect) report the -1 sentinel.
# powered_now = 1 marks predicates whose CURRENT N already suffices
# — the gate's actionable output. Scale: pure arithmetic over the
# a23 cells rollup (predicate-bounded) + the broadcast unit scalar.

_Z_A2 = 1.959964  # Phi^-1(0.975), Acklam (stats.py), pinned 6dp
_Z_B = 0.841621   # Phi^-1(0.8)


def _power_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    n = f"read_parquet('{_golden_path('nn', sf_dir)}/*.parquet')"
    return f"""
WITH r AS (
  SELECT DISTINCT conv_id, turn_idx, predicate FROM {g}
  WHERE CAST(regexp_extract(conv_id, '^doc(\\d+)\\.', 1) AS BIGINT)
        % {_NN_DOC_MOD} = 0
), nn AS (
  SELECT DISTINCT conv_id, turn_idx, predicate FROM {n}
), units AS (
  SELECT CAST(count(*) AS BIGINT) AS nu FROM (
    SELECT DISTINCT conv_id, turn_idx FROM (
      SELECT conv_id, turn_idx FROM r
      UNION ALL SELECT conv_id, turn_idx FROM nn))
), j AS (
  SELECT COALESCE(r.predicate, nn.predicate) AS predicate,
         (r.conv_id IS NOT NULL) AS in_r,
         (nn.conv_id IS NOT NULL) AS in_nn
  FROM r FULL OUTER JOIN nn
    ON r.conv_id = nn.conv_id AND r.turn_idx = nn.turn_idx
   AND r.predicate = nn.predicate
), cells AS (
  SELECT predicate,
         CAST(sum(CASE WHEN in_r AND NOT in_nn THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN in_nn AND NOT in_r THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM j GROUP BY 1
), base AS (
  SELECT predicate, b, c, nu,
         CAST(b + c AS DOUBLE) / nu AS psi,
         CAST(b - c AS DOUBLE) / nu AS delta
  FROM cells CROSS JOIN units
)
SELECT predicate, b, c, nu AS n_pairs,
       CAST((b + c) * 1000000 // nu AS BIGINT) AS psi_ppm,
       CAST((b - c) * 1000000 // nu AS BIGINT) AS delta_ppm,
       CASE WHEN b = c THEN CAST(-1 AS BIGINT)
            ELSE CAST(ceil(
              ({_Z_A2} * sqrt(psi) + {_Z_B} * sqrt(psi - delta * delta))
              * ({_Z_A2} * sqrt(psi) + {_Z_B} * sqrt(psi - delta * delta))
              / (delta * delta)) AS BIGINT) END AS required_pairs,
       CAST(CASE WHEN b <> c AND nu >= ceil(
              ({_Z_A2} * sqrt(psi) + {_Z_B} * sqrt(psi - delta * delta))
              * ({_Z_A2} * sqrt(psi) + {_Z_B} * sqrt(psi - delta * delta))
              / (delta * delta)) THEN 1 ELSE 0 END AS BIGINT)
         AS powered_now
FROM base
"""


@_q("a24_power_analysis", _power_oracle_sql)
@releases_unread_cuts
def a24_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate required-sample-size for the McNemar gate at
    alpha=0.05 / power 0.8 (see block comment)."""
    key = ["conv_id", "turn_idx", "predicate"]
    rules = cut(
        kg_extract_triples(spark, sf_dir)
        .filter(
            F.regexp_extract("conv_id", r"^doc(\d+)\.", 1).cast("long")
            % _NN_DOC_MOD
            == 0
        )
        .select(*key)
        .distinct()
        .withColumn("in_r", F.lit(True))
    )
    nn = cut(
        kg_nn_extract(spark, sf_dir)
        .select(*key)
        .distinct()
        .withColumn("in_nn", F.lit(True))
    )
    units = F.broadcast(
        rules.select("conv_id", "turn_idx")
        .unionAll(nn.select("conv_id", "turn_idx"))
        .distinct()
        .agg(F.count("*").cast("long").alias("nu"))
    )
    j = rules.join(nn, key, "full_outer").select(
        "predicate",
        F.coalesce("in_r", F.lit(False)).alias("in_r"),
        F.coalesce("in_nn", F.lit(False)).alias("in_nn"),
    )
    cells = j.groupBy("predicate").agg(
        F.sum(F.when(F.col("in_r") & ~F.col("in_nn"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(F.col("in_nn") & ~F.col("in_r"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    base = cells.crossJoin(units).withColumn(
        "psi", F.expr("CAST(b + c AS DOUBLE) / nu")
    ).withColumn("delta", F.expr("CAST(b - c AS DOUBLE) / nu"))
    req = (
        f"ceil(({_Z_A2} * sqrt(psi) + {_Z_B} * sqrt(psi - delta * delta))"
        f" * ({_Z_A2} * sqrt(psi) + {_Z_B} * sqrt(psi - delta * delta))"
        f" / (delta * delta))"
    )
    return base.select(
        "predicate",
        "b",
        "c",
        F.col("nu").alias("n_pairs"),
        exact_muldiv("b + c", "nu", 1_000_000).alias("psi_ppm"),
        exact_muldiv("b - c", "nu", 1_000_000).alias("delta_ppm"),
        F.expr(
            f"CASE WHEN b = c THEN CAST(-1 AS BIGINT)"
            f" ELSE CAST({req} AS BIGINT) END"
        ).alias("required_pairs"),
        F.expr(
            f"CAST(CASE WHEN b <> c AND nu >= {req} THEN 1 ELSE 0 END"
            f" AS BIGINT)"
        ).alias("powered_now"),
    )


# --- Push-style personalized PageRank with conservation certificate -----------
#
# kg_pagerank_personalized runs the POWER method (touches every
# edge every iteration); this is the LOCAL alternative production
# graph systems use for seed-centric queries — Andersen-Chung-Lang
# push, synchronous deterministic variant, exact ppb integers with
# division dust accumulated instead of silently dropped, so
# settled + residual + dust == 10^9 EXACTLY after any round count.
# The `conserved` flag in every row IS that arithmetic certificate,
# and residual+dust bounds the distance to the true PPR vector (the
# ACL guarantee). Scale shape in operators/graph.ppr_push: per-round
# work proportional to the pusher FRONTIER, not the graph.


def _ppr_push_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    rounds = []
    for t in range(3):
        rounds.append(f"""
, push{t} AS MATERIALIZED (
  SELECT s.node, s.p, s.r, d.deg FROM st{t} s
  JOIN deg d ON d.src = s.node WHERE s.r > 1000
), st{t + 1} AS MATERIALIZED (
  SELECT node, CAST(sum(p) AS BIGINT) AS p, CAST(sum(r) AS BIGINT) AS r
  FROM (
    SELECT node, p, r FROM st{t} WHERE r <= 1000
    UNION ALL
    SELECT node, p + (r * 15) // 100, CAST(0 AS BIGINT) FROM push{t}
    UNION ALL
    SELECT u.dst, CAST(0 AS BIGINT),
           (pu.r - (pu.r * 15) // 100) // pu.deg
    FROM push{t} pu JOIN u ON u.src = pu.node
  ) GROUP BY 1
), dust{t} AS (
  SELECT CAST(coalesce(sum((r - (r * 15) // 100) % deg), 0) AS BIGINT)
    AS d
  FROM push{t}
)""")
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), u AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM u GROUP BY 1
), sd AS (
  SELECT src AS seed FROM deg ORDER BY deg DESC, src LIMIT 1
), st0 AS (
  SELECT seed AS node, CAST(0 AS BIGINT) AS p,
         CAST(1000000000 AS BIGINT) AS r
  FROM sd
){"".join(rounds)}
, tot AS (
  SELECT CAST(sum(p) AS BIGINT) AS settled,
         CAST(sum(r) AS BIGINT) AS resid
  FROM st3
), dustall AS (
  SELECT d0.d + d1.d + d2.d AS dust FROM dust0 d0, dust1 d1, dust2 d2
), top AS (
  SELECT node, p, r,
         row_number() OVER (ORDER BY p DESC, node) AS rank
  FROM st3
)
SELECT CAST(rank AS BIGINT) AS rank, node AS entity, p AS p_ppb,
       r AS r_ppb, tot.settled AS total_settled,
       tot.resid AS total_residual, dustall.dust AS total_dust,
       CAST(CASE WHEN tot.settled + tot.resid + dustall.dust
                      = 1000000000 THEN 1 ELSE 0 END AS BIGINT)
         AS conserved
FROM top, tot, dustall WHERE rank <= 20
"""


@_q("kg_ppr_push", _ppr_push_oracle_sql)
def kg_ppr_push(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous ACL push PPR, 3 rounds, exact-ppb conservation
    certificate (operators/graph.ppr_push)."""
    from information_extraction_spark.operators.graph import (
        ppr_push,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return ppr_push(triple_edges(triples), rounds=3)


# --- KG-LOUVAIN: synchronous Louvain move phase --------------------------------
#
# The modularity-OPTIMIZING community step the catalog measured
# (kg_modularity) but never ran: from singletons every node
# simultaneously joins the argmax-gain neighbor community when the
# exact scaled gain 2m·w_ij − deg_i·deg_j is positive. See
# operators/graph.louvain_move for the determinism contract (the
# synchronous variant; sequential Louvain is visit-order-dependent
# and can never agree across engines). The oracle decorrelates the
# struct-argmax as max-gain + join-back + min-neighbor — an
# independent formulation of the same tie rule.


def _louvain_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
), mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM canon
), u AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL SELECT b, a FROM canon
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), cand AS (
  SELECT u.src AS i, u.dst AS j,
         CAST(2 * mm.m - di.d * dj.d AS BIGINT) AS gain
  FROM u CROSS JOIN mm
  JOIN deg di ON di.src = u.src
  JOIN deg dj ON dj.src = u.dst
), best AS (
  SELECT i, max(gain) AS best_gain FROM cand GROUP BY 1
), pick AS (
  SELECT c.i, b.best_gain, min(c.j) AS j
  FROM cand c JOIN best b ON c.i = b.i AND c.gain = b.best_gain
  GROUP BY c.i, b.best_gain
)
SELECT i AS entity,
       CASE WHEN best_gain > 0 THEN j ELSE i END AS community,
       CAST(best_gain AS BIGINT) AS best_gain,
       CAST(CASE WHEN best_gain > 0 THEN 1 ELSE 0 END AS BIGINT) AS moved
FROM pick
"""


@_q("kg_louvain_move", _louvain_oracle_sql)
def kg_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain move phase from singletons over the
    undirected entity graph (operators/graph.louvain_move): exact
    BIGINT modularity gains, strict-positivity move rule, smallest-
    neighbor ties."""
    from information_extraction_spark.operators.graph import (
        louvain_move,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return louvain_move(triple_edges(triples))


# --- KG-MOTIF: directed triad census over mention precedence -------------------
#
# Feed-forward (transitive) vs cyclic closed triads — but NOT over
# the subject→object edges: that graph is strictly bipartite here
# (subjects and objects are disjoint name spaces; measured zero
# directed 2-paths — a census over it is structurally degenerate).
# The directed graph with real composition is MENTION PRECEDENCE
# (operators/graph.precedence_edges): a → b when a's first mention
# precedes b's within some conversation. Cross-conversation
# disagreement produces reciprocal edges, removed by the census's
# asymmetric filter (66% of precedence pairs are contested at the
# gate scale — the census counts only uncontested order). FFLs =
# transitively consistent narrative order; cycles = global order
# violations assembled from three conversations none of which
# disagrees pairwise — the signal a timeline builder must resolve.


def _motif_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH men AS (
  SELECT conv_id, subject AS e, min(turn_idx) AS t FROM {g} GROUP BY 1, 2
  UNION ALL
  SELECT conv_id, object AS e, min(turn_idx) AS t FROM {g} GROUP BY 1, 2
), fm AS (
  SELECT conv_id, e, min(t) AS t FROM men GROUP BY 1, 2
), keep AS (
  SELECT conv_id FROM fm GROUP BY 1 HAVING count(*) <= 64
), prec AS (
  SELECT DISTINCT a.e AS src, b.e AS dst
  FROM fm a
  JOIN fm b ON a.conv_id = b.conv_id AND a.t < b.t
  JOIN keep k ON k.conv_id = a.conv_id
), asym AS (
  SELECT p.src, p.dst FROM prec p
  WHERE NOT EXISTS (SELECT 1 FROM prec r
                    WHERE r.src = p.dst AND r.dst = p.src)
), deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT src AS n FROM asym UNION ALL SELECT dst FROM asym)
  GROUP BY 1
), mid AS (
  SELECT n FROM deg WHERE d <= 256
), w AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM asym w1
  JOIN mid ON mid.n = w1.dst
  JOIN asym w2 ON w2.src = w1.dst
  WHERE w1.src <> w2.dst
), ffl AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM w
  WHERE EXISTS (SELECT 1 FROM asym x WHERE x.src = w.a AND x.dst = w.c)
), cyc AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM w
  WHERE a < b AND a < c
    AND EXISTS (SELECT 1 FROM asym x WHERE x.src = w.c AND x.dst = w.a)
), nw AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM w
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM asym) AS n_edges_asym,
       nw.n AS n_wedges, ffl.n AS n_ffl, cyc.n AS n_cycle,
       CAST(CASE WHEN nw.n > 0
                 THEN (ffl.n + cyc.n) * 1000000 // nw.n
                 ELSE 0 END AS BIGINT) AS closure_ppm
FROM ffl, cyc, nw
"""


@_q("kg_motif_census", _motif_oracle_sql)
def kg_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed triad census (FFL vs cycle) over the asymmetric
    mention-precedence graph (operators/graph.motif_census over
    precedence_edges)."""
    from information_extraction_spark.operators.graph import (
        motif_census,
        precedence_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return motif_census(
        precedence_edges(triples, max_conv_entities=64), max_mid_deg=256
    )


# --- KG-LOUVAIN-2: full two-level Louvain pass ---------------------------------
#
# The level the round-1 theorem hides: on the AGGREGATED community
# graph the strict-positivity guard finally binds (3 of 5 supernodes
# move, 2 stay on negative gains at the gate scale). Level-1
# communities = connected components of the move-phase pointer
# graph; the oracle nests the full move-phase chain, closes the
# pointers with a recursive min-label CTE (the
# linking.connected_components contract), aggregates, and replays
# the level-2 argmax. See operators/graph.louvain_levels.


def _louvain_levels_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    return f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
), mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM canon
), u AS (
  SELECT a AS src, b AS dst FROM canon
  UNION ALL SELECT b, a FROM canon
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM u GROUP BY 1
), cand AS (
  SELECT u.src AS i, u.dst AS j,
         CAST(2 * mm.m - di.d * dj.d AS BIGINT) AS gain
  FROM u CROSS JOIN mm
  JOIN deg di ON di.src = u.src
  JOIN deg dj ON dj.src = u.dst
), best AS (
  SELECT i, max(gain) AS best_gain FROM cand GROUP BY 1
), pick AS (
  SELECT c.i, b.best_gain, min(c.j) AS j
  FROM cand c JOIN best b ON c.i = b.i AND c.gain = b.best_gain
  GROUP BY c.i, b.best_gain
), pe AS (
  SELECT i AS pa, CASE WHEN best_gain > 0 THEN j ELSE i END AS pb
  FROM pick
  WHERE i <> CASE WHEN best_gain > 0 THEN j ELSE i END
), und AS (
  SELECT pa, pb FROM pe UNION SELECT pb, pa FROM pe
), nodes AS (
  SELECT DISTINCT src AS n FROM u
), reach(n, l) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT u2.pb, r.l FROM reach r JOIN und u2 ON u2.pa = r.n
), lab AS (
  SELECT n AS entity, min(l) AS community FROM reach GROUP BY 1
), ag AS (
  SELECT la.community AS ca, lb.community AS cb
  FROM canon
  JOIN lab la ON canon.a = la.entity
  JOIN lab lb ON canon.b = lb.entity
), inter AS (
  SELECT least(ca, cb) AS c, greatest(ca, cb) AS d,
         CAST(count(*) AS BIGINT) AS w
  FROM ag WHERE ca <> cb GROUP BY 1, 2
), intra AS (
  SELECT ca AS c, CAST(count(*) AS BIGINT) AS iw
  FROM ag WHERE ca = cb GROUP BY 1
), undw AS (
  SELECT c, d, w FROM inter
  UNION ALL SELECT d, c, w FROM inter
), extdeg AS (
  SELECT c, CAST(sum(w) AS BIGINT) AS ext FROM undw GROUP BY 1
), members AS (
  SELECT community AS c, CAST(count(*) AS BIGINT) AS n_members
  FROM lab GROUP BY 1
), sig AS (
  SELECT m2.c, m2.n_members,
         CAST(coalesce(e2.ext, 0) + 2 * coalesce(i2.iw, 0) AS BIGINT)
           AS sigma,
         CAST(coalesce(i2.iw, 0) AS BIGINT) AS intra_edges
  FROM members m2
  LEFT JOIN extdeg e2 USING (c)
  LEFT JOIN intra i2 USING (c)
), g2 AS (
  SELECT undw.c, undw.d,
         CAST(2 * mm.m * undw.w - sc.sigma * sd.sigma AS BIGINT) AS gain
  FROM undw CROSS JOIN mm
  JOIN sig sc ON sc.c = undw.c
  JOIN sig sd ON sd.c = undw.d
), b2 AS (
  SELECT c, max(gain) AS best_gain FROM g2 GROUP BY 1
), p2 AS (
  SELECT g2.c, b2.best_gain, min(g2.d) AS d
  FROM g2 JOIN b2 ON g2.c = b2.c AND g2.gain = b2.best_gain
  GROUP BY g2.c, b2.best_gain
)
SELECT s.c AS community, s.n_members, s.sigma, s.intra_edges,
       CASE WHEN coalesce(p2.best_gain, 0) > 0 THEN p2.d ELSE s.c END
         AS target,
       CAST(coalesce(p2.best_gain, 0) AS BIGINT) AS best_gain,
       CAST(CASE WHEN coalesce(p2.best_gain, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS moved
FROM sig s LEFT JOIN p2 ON p2.c = s.c
"""


@_q("kg_louvain_levels", _louvain_levels_oracle_sql)
def kg_louvain_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Louvain: move phase → pointer-graph CC → aggregated
    graph → level-2 move decision where the positivity guard binds
    (operators/graph.louvain_levels)."""
    from information_extraction_spark.operators.graph import (
        louvain_levels,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    return louvain_levels(triple_edges(triples))


# --- KG-LOUVAIN-FULL: Louvain to convergence with certificate ------------------
#
# Completes the kg_louvain_move (one phase) / kg_louvain_levels (two
# levels) family: guarded-star contraction looped until no community
# has a positive-gain neighbor, with an exact-BIGINT per-level
# modularity certificate q_after = q_before + Σ ΔQ asserted in the
# q_cert column. The synchronous pointer-CLOSURE merge is provably
# non-monotone (see operators/graph.louvain_converge docstring); the
# disjoint-star variant keeps monotonicity a theorem, which is what
# makes a convergence loop certifiable across two engines. The
# oracle unrolls _LOUVAIN_FULL_LEVELS level blocks (post-convergence
# blocks are stable identity no-ops) and emits rows up to the first
# no-move level — exactly the rows the engine loop executes.

_LOUVAIN_FULL_LEVELS = 8


def _louvain_full_level_sql(p: int) -> str:
    n = p + 1
    return f""", gain{n} AS MATERIALIZED (
  SELECT u.c, u.d,
         CAST(2 * mm.m * u.w - sc.sigma * sd.sigma AS BIGINT) AS gain
  FROM undw{p} u CROSS JOIN mm
  JOIN sigt{p} sc ON sc.c = u.c
  JOIN sigt{p} sd ON sd.c = u.d
), bst{n} AS (
  SELECT c, max(gain) AS bg FROM gain{n} GROUP BY 1
), ptr{n} AS MATERIALIZED (
  SELECT g.c, b.bg, min(g.d) AS d
  FROM gain{n} g JOIN bst{n} b ON g.c = b.c AND g.gain = b.bg
  WHERE b.bg > 0 GROUP BY g.c, b.bg
), mu{n} AS MATERIALIZED (
  SELECT p1.c AS a, p1.d AS b
  FROM ptr{n} p1 JOIN ptr{n} p2 ON p1.d = p2.c AND p2.d = p1.c
  WHERE p1.c < p1.d
), ctr{n} AS MATERIALIZED (
  SELECT DISTINCT d AS c FROM ptr{n} p
  WHERE NOT EXISTS (SELECT 1 FROM mu{n} m WHERE m.b = p.d)
), sat{n} AS MATERIALIZED (
  SELECT p.c, p.d, p.bg FROM ptr{n} p
  WHERE NOT EXISTS (SELECT 1 FROM ctr{n} x WHERE x.c = p.c)
    AND EXISTS (SELECT 1 FROM ctr{n} y WHERE y.c = p.d)
), memb{n} AS MATERIALIZED (
  SELECT d AS grp, c AS node FROM sat{n}
  UNION ALL
  SELECT DISTINCT d AS grp, d AS node FROM sat{n}
), gsig{n} AS (
  SELECT mb.grp, CAST(sum(s.sigma) AS BIGINT) AS ssum,
         CAST(sum(s.sigma * s.sigma) AS BIGINT) AS ssq
  FROM memb{n} mb JOIN sigt{p} s ON s.c = mb.node GROUP BY 1
), gwin{n} AS (
  SELECT ma.grp, CAST(sum(u.w) AS BIGINT) AS w_in
  FROM undw{p} u
  JOIN memb{n} ma ON ma.node = u.c
  JOIN memb{n} mb2 ON mb2.node = u.d AND mb2.grp = ma.grp
  WHERE u.c < u.d GROUP BY 1
), gdec{n} AS MATERIALIZED (
  SELECT g.grp,
         CAST(4 * mm.m * coalesce(w.w_in, 0)
              - (g.ssum * g.ssum - g.ssq) AS BIGINT) AS dq_full
  FROM gsig{n} g CROSS JOIN mm
  LEFT JOIN gwin{n} w ON w.grp = g.grp
), gbp{n} AS (
  SELECT s.d AS grp, min(s.c) AS c, s.bg
  FROM sat{n} s
  JOIN (SELECT d, max(bg) AS mb FROM sat{n} GROUP BY 1) t
    ON t.d = s.d AND s.bg = t.mb
  GROUP BY s.d, s.bg
), moves{n} AS MATERIALIZED (
  SELECT s.c AS node, s.d AS nc
  FROM sat{n} s JOIN gdec{n} gd ON gd.grp = s.d
  WHERE gd.dq_full > 0
  UNION ALL
  SELECT bp.c AS node, bp.grp AS nc
  FROM gbp{n} bp JOIN gdec{n} gd ON gd.grp = bp.grp
  WHERE gd.dq_full <= 0
), dq{n} AS (
  SELECT CAST(coalesce(sum(CASE WHEN gd.dq_full > 0 THEN gd.dq_full
                           ELSE 2 * bp.bg END), 0) AS BIGINT) AS dq,
         CAST(coalesce(sum(CASE WHEN gd.dq_full > 0 THEN 0 ELSE 1 END), 0)
              AS BIGINT) AS n_fallback
  FROM gdec{n} gd LEFT JOIN gbp{n} bp ON bp.grp = gd.grp
), lab{n} AS MATERIALIZED (
  SELECT cm.c AS c, coalesce(mv.nc, cm.c) AS nc
  FROM comm{p} cm LEFT JOIN moves{n} mv ON mv.node = cm.c
), nm{n} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_moved FROM moves{n}
), comm{n} AS MATERIALIZED (
  SELECT DISTINCT nc AS c FROM lab{n}
), intra{n} AS MATERIALIZED (
  SELECT nc AS c, CAST(sum(v) AS BIGINT) AS iw FROM (
    SELECT l.nc AS nc, i.iw AS v
    FROM intra{p} i JOIN lab{n} l ON l.c = i.c
    UNION ALL
    SELECT la.nc, u.w
    FROM undw{p} u
    JOIN lab{n} la ON la.c = u.c
    JOIN lab{n} lb ON lb.c = u.d
    WHERE la.nc = lb.nc AND u.c < u.d
  ) GROUP BY 1
), undw{n} AS MATERIALIZED (
  SELECT la.nc AS c, lb.nc AS d, CAST(sum(u.w) AS BIGINT) AS w
  FROM undw{p} u
  JOIN lab{n} la ON la.c = u.c
  JOIN lab{n} lb ON lb.c = u.d
  WHERE la.nc <> lb.nc GROUP BY 1, 2
)"""


def _louvain_full_state_sql(k: int) -> str:
    return f""", sigt{k} AS MATERIALIZED (
  SELECT cm.c,
         CAST(coalesce(e2.ext, 0) + 2 * coalesce(i2.iw, 0) AS BIGINT)
           AS sigma,
         CAST(coalesce(i2.iw, 0) AS BIGINT) AS iw
  FROM comm{k} cm
  LEFT JOIN (SELECT c, CAST(sum(w) AS BIGINT) AS ext
             FROM undw{k} GROUP BY 1) e2 ON e2.c = cm.c
  LEFT JOIN intra{k} i2 ON i2.c = cm.c
), q{k} AS (
  SELECT CAST(4 * mm.m * coalesce(sum(iw), 0)
              - sum(sigma * sigma) AS BIGINT) AS q
  FROM sigt{k} CROSS JOIN mm GROUP BY mm.m
)"""


def _louvain_full_oracle_sql(sf_dir: str) -> str:
    g = f"read_parquet('{_golden_path('triples', sf_dir)}/*.parquet')"
    levels = _LOUVAIN_FULL_LEVELS
    parts = [f"""
WITH e AS (
  SELECT DISTINCT subject AS src, object AS dst FROM {g}
  WHERE subject <> object
), canon AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e
), mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM canon
), undw0 AS (
  SELECT a AS c, b AS d, CAST(1 AS BIGINT) AS w FROM canon
  UNION ALL SELECT b, a, CAST(1 AS BIGINT) FROM canon
), intra0 AS (
  SELECT a AS c, CAST(0 AS BIGINT) AS iw FROM canon WHERE 1 = 0
), comm0 AS (
  SELECT DISTINCT c FROM (
    SELECT a AS c FROM canon UNION ALL SELECT b AS c FROM canon)
)"""]
    for k in range(levels + 1):
        parts.append(_louvain_full_state_sql(k))
        if k < levels:
            parts.append(_louvain_full_level_sql(k))
    rows = "\n  UNION ALL\n".join(
        f"""  SELECT {k} AS lvl,
         (SELECT n_moved FROM nm{k}) AS n_moved,
         (SELECT CAST(count(*) AS BIGINT) FROM comm{k}) AS n_communities,
         (SELECT q FROM q{k - 1}) AS q_before,
         (SELECT q FROM q{k}) AS q_after,
         (SELECT dq FROM dq{k}) AS dq_pred,
         (SELECT n_fallback FROM dq{k}) AS n_fallback"""
        for k in range(1, levels + 1)
    )
    parts.append(f""", summary AS (
{rows}
)
SELECT CAST(lvl AS BIGINT) AS lvl, n_moved, n_communities,
       q_before, q_after,
       CAST(CASE WHEN q_after = q_before + dq_pred
                  AND q_after >= q_before
            THEN 1 ELSE 0 END AS BIGINT) AS q_cert,
       n_fallback
FROM summary s
WHERE NOT EXISTS (SELECT 1 FROM summary s2
                  WHERE s2.lvl < s.lvl AND s2.n_moved = 0)
ORDER BY lvl""")
    return "".join(parts)


@_q("kg_louvain_full", _louvain_full_oracle_sql)
def kg_louvain_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain to convergence over the undirected entity graph
    (operators/graph.louvain_converge): guarded-star contraction,
    exact-BIGINT per-level modularity certificate, rows emitted per
    executed level including the converged no-move level."""
    from information_extraction_spark.operators.graph import (
        louvain_converge,
        triple_edges,
    )

    triples = kg_extract_triples(spark, sf_dir)
    rows, _memb = louvain_converge(
        triple_edges(triples),
        max_levels=_LOUVAIN_FULL_LEVELS,
        track_membership=False,
    )
    return spark.createDataFrame(
        [
            (
                r["lvl"], r["n_moved"], r["n_communities"], r["q_before"],
                r["q_after"], r["q_cert"], r["n_fallback"],
            )
            for r in rows
        ],
        "lvl long, n_moved long, n_communities long, q_before long,"
        " q_after long, q_cert long, n_fallback long",
    )
