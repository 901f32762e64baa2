"""Training-data pipeline operators over ``documents`` /
``embeddings``: deduplication (exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine), similarity search (brute-force cosine
top-k), and text analysis (language-ID heuristic, quality scoring,
token counting, fingerprinting). Each has a DuckDB oracle.

Portability rules: hashes are md5 hex (identical in both engines);
float aggregates are computed in DOUBLE and rounded to 4 decimals;
ranks use explicit deterministic tie-breaks.

Scale notes: every dedup here is a shuffle on a short key (bucket /
band hash / blocking key) after a narrow per-row signature pass —
the LSH band join is the scale path (candidates only), with the
all-pairs variants restricted by blocking keys exactly as one would
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_spark.driver_queries._registry import _q
from information_extraction_spark.functions.exact import exact_muldiv
from information_extraction_spark.operators.checkpoint import (
    cut,
    iterate,
    releases_unread_cuts,
)


def _spread(spark: SparkSession, df: DataFrame, key: str) -> DataFrame:
    """The test tables arrive as one small parquet split; per-row-heavy
    operators (signatures, self-joins) need the rows spread across
    cores first (partition count must track cores for CPU-bound work,
    not bytes)."""
    return df.repartition(spark.sparkContext.defaultParallelism * 2, key)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- MinHash + LSH near-dup candidates ---------------------------------------

_MINHASH_ORACLE = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), mh AS (
  SELECT doc_id,
         min(md5(shingle || '#1')) || min(md5(shingle || '#2')) AS k1,
         min(md5(shingle || '#3')) || min(md5(shingle || '#4')) AS k2
  FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS da, b.doc_id AS db
FROM mh a JOIN mh b
  ON a.doc_id < b.doc_id AND (a.k1 = b.k1 OR a.k2 = b.k2)
"""


def _lsh_bands(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int = 2,
    rows_per_band: int = 2,
) -> DataFrame:
    """(doc_id, band, key, prev) LSH band rows: 5-char shingles →
    ``n_bands × rows_per_band`` min-hash signature → unpivot. Shared
    by the pair queries (salted self-join) and the clustering query
    (bucket-star edges).

    The band key is the CONCATENATION of ``rows_per_band`` min-hashes,
    so a bucket holds only docs agreeing on all of them — bucket width
    shrinks exponentially with r. (b, r) tunes the standard LSH
    S-curve: candidate probability at Jaccard s is 1-(1-s^r)^b, with
    threshold ≈ (1/b)^(1/r) — (b=2, r=2) ≈ 0.71, (b=4, r=2) = 0.50.
    More bands buy recall at lower similarity for b× band rows and
    correspondingly more candidate pairs; a 100 TB pipeline tunes this
    per corpus. ``prev`` carries the band's PREFIX keys (bands
    1..band-1) so the pair join can apply first-band-wins dedup for
    any b — band 1 carries an empty array, so the extra shuffle bytes
    scale with how late the band is, not with b for every row."""
    return _bands_of(
        _spread(spark, _docs(spark, sf_dir), "doc_id"),
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    )


def _bands_of(
    d: DataFrame, n_bands: int = 2, rows_per_band: int = 2
) -> DataFrame:
    """`_lsh_bands` over an arbitrary (doc_id, text) DataFrame —
    the full-corpus queries pass the whole documents table; the
    incremental path signs only the base corpus (index build) or only
    the new batch (probe), with IDENTICAL hashing so their band keys
    collide across the two runs."""
    positions = F.when(
        F.length("text") >= 5, F.sequence(F.lit(1), F.length("text") - 4)
    ).otherwise(F.array().cast("array<int>"))
    sh = (
        d.withColumn("pos", F.explode(positions))
        .select("doc_id", F.expr("substring(text, pos, 5)").alias("shingle"))
        .dropDuplicates(["doc_id", "shingle"])
    )

    def minhash(i: int):
        return F.min(F.md5(F.concat("shingle", F.lit(f"#{i}"))))

    mh = sh.groupBy("doc_id").agg(
        *[
            F.concat(
                *[minhash(b * rows_per_band + j + 1) for j in range(rows_per_band)]
            ).alias(f"k{b + 1}")
            for b in range(n_bands)
        ]
    )
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b + 1).alias("band"),
                        F.col(f"k{b + 1}").alias("key"),
                        (
                            F.array(*[F.col(f"k{j + 1}") for j in range(b)])
                            if b
                            else F.array().cast("array<string>")
                        ).alias("prev"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "bh.band", "bh.key", "bh.prev")


def _earlier_band_collides(n_bands: int, left: str = "a", right: str = "b"):
    """FIRST-band-wins dedup predicate: true iff some band EARLIER
    than this row's own also collides, so only the earliest colliding
    band emits the pair — no distinct shuffle. Guard each term with
    `i < band`: a band-1 row's empty `prev` array would otherwise
    contribute NULL == NULL → NULL, and a NULL join condition silently
    drops the pair. `false AND NULL` is false, so the guarded OR is
    false (never NULL) for band 1. Compiled to a FLAT OR of element
    equalities so it stays inside whole-stage codegen."""
    hit = F.lit(False)
    for i in range(1, n_bands):
        hit = hit | (
            (F.lit(i) < F.col(f"{left}.band"))
            & (
                F.col(f"{left}.prev").getItem(i - 1)
                == F.col(f"{right}.prev").getItem(i - 1)
            )
        )
    return hit


def _lsh_candidate_pairs(
    spark: SparkSession, bands: DataFrame, n_bands: int = 2
) -> DataFrame:
    # LSH banding proper: equi-join the band rows on the band bucket.
    # A direct `k1=k1 OR k2=k2 OR …` join cannot hash (OR of
    # equalities) and plans as a nested-loop — quadratic at scale.
    # Real corpora have monster buckets (this test corpus has a
    # ~2k-doc near-dup cluster), so the self-join is SALTED
    # (functions/skew.py pattern): the probe side keeps one
    # deterministic salt, the build side replicates to every salt, and
    # one hot bucket's pair generation spreads over n_salt tasks.
    # Pairs colliding in several bands dedup via FIRST-band-wins: band
    # b emits a pair only if no earlier band's keys also collide — a
    # per-pair predicate, no distinct shuffle. Works for any n_bands
    # because the rows carry their `prev` prefix-key array; the check
    # is compiled to a FLAT OR of element equalities at plan time
    # (stays inside whole-stage codegen — the slice/zip_with/exists
    # higher-order form it replaces fell out of codegen and tripled
    # the join's post-match filter cost).
    #
    # Salt width trades replication of the build side (all rows x
    # n_salt) against per-task pair generation in the hottest bucket;
    # 8 caps the replication while a ~2.5k-doc bucket still spreads to
    # ~400k comparisons per task. Tying it to defaultParallelism made
    # the whole join 32x-replicated on wide machines for no extra
    # balance.
    n_salt = min(8, spark.sparkContext.defaultParallelism)
    a = bands.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).cast("int")
    ).alias("a")
    b = bands.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).alias("b")
    earlier_band_collides = _earlier_band_collides(n_bands)
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & ~earlier_band_collides,
    ).select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))


@_q("dd_minhash_lsh", _MINHASH_ORACLE)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_candidate_pairs(spark, _lsh_bands(spark, sf_dir))


# Alternate banding config (b=4, r=2): S-curve threshold drops from
# ~0.71 to 0.50 Jaccard — higher recall at lower similarity, paid for
# with 2× band rows and a wider candidate set. Same salted join, same
# first-band-wins dedup; the oracle is the 4-way OR over the same
# min-hash family (hash indices 1..8).
_MINHASH_B4_ORACLE = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), mh AS (
  SELECT doc_id,
         min(md5(shingle || '#1')) || min(md5(shingle || '#2')) AS k1,
         min(md5(shingle || '#3')) || min(md5(shingle || '#4')) AS k2,
         min(md5(shingle || '#5')) || min(md5(shingle || '#6')) AS k3,
         min(md5(shingle || '#7')) || min(md5(shingle || '#8')) AS k4
  FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS da, b.doc_id AS db
FROM mh a JOIN mh b
  ON a.doc_id < b.doc_id
 AND (a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3 OR a.k4 = b.k4)
"""


@_q("dd_minhash_lsh_b4", _MINHASH_B4_ORACLE)
def dd_minhash_lsh_b4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_candidate_pairs(
        spark, _lsh_bands(spark, sf_dir, n_bands=4, rows_per_band=2),
        n_bands=4,
    )


# --- INCREMENTAL near-dup: new batch vs a persisted band index ---------------
#
# The shape every 100 TB ingest actually runs: the corpus's LSH band
# rows are materialized ONCE as a persisted index, and each arriving
# batch is deduped against it WITHOUT re-signing or re-shuffling the
# corpus — sign the batch, broadcast its band rows, and stream the
# index scan past the in-memory hash map (zero shuffle, zero sort on
# the 100 TB side; the scan is embarrassingly parallel). After the
# probe, appending the batch's band rows to the index keeps it
# current — the index is append-only because signatures are a pure
# function of immutable doc text. If a batch ever outgrows the
# broadcast threshold, the fallback is the salted band equi-join the
# self-join path uses (shuffling only batch-sized data per band key).
#
# The deterministic batch split (doc_id % 7 == 0 → "new", rest →
# "base") stands in for an arrival-time predicate; both engines
# compute it identically.


def lsh_index_path(sf_dir: str) -> str:
    from information_extraction_spark.driver_queries.kg import _golden_path

    return _golden_path("lsh_index", sf_dir).replace(
        ".parquet", "_bands.parquet"
    )


def write_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the BASE corpus's band rows (doc_id, band, key,
    prev) as the persisted near-dup index. Write-once behind a meta
    sidecar committed AFTER the parquet write, exactly like
    `write_ivf_index`: a completed build is reused so repeat probes
    time the probe, not an index rebuild; a missing/partial sidecar
    (interrupted build) triggers a clean rebuild."""
    import json
    import os

    from information_extraction_spark.driver_queries.kg import (
        _ensure_golden_dir,
    )

    _ensure_golden_dir()
    path = lsh_index_path(sf_dir)
    meta_path = path + ".meta.json"
    if os.path.exists(meta_path):
        return path
    base = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 != 0)
    _bands_of(_spread(spark, base, "doc_id")).write.mode(
        "overwrite"
    ).parquet(path)
    with open(meta_path, "w") as fh:
        json.dump({"n_bands": 2, "rows_per_band": 2, "split": "mod7"}, fh)
    return path


_INCREMENTAL_ORACLE = """
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), mh AS (
  SELECT doc_id,
         min(md5(shingle || '#1')) || min(md5(shingle || '#2')) AS k1,
         min(md5(shingle || '#3')) || min(md5(shingle || '#4')) AS k2
  FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS da, b.doc_id AS db
FROM mh a JOIN mh b
  ON a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
 AND (a.k1 = b.k1 OR a.k2 = b.k2)
"""


@_q("dd_incremental_lsh", _INCREMENTAL_ORACLE)
def dd_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an arriving batch against the persisted corpus index:
    (da=base doc, db=new doc) candidate pairs. The batch side is
    signed fresh and BROADCAST; the index side is a plain parquet
    scan — no shuffle or salt needed (a broadcast hash join has no
    per-key partition skew: every scan task streams its split past
    the same in-memory map). First-band-wins keeps multi-band
    collisions single, same as the self-join path. Base and new doc
    sets are disjoint by the split predicate, so no id-ordering
    constraint is needed."""
    path = write_lsh_index(spark, sf_dir)
    base = spark.read.parquet(path).alias("a")
    new_docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    new_bands = _bands_of(_spread(spark, new_docs, "doc_id")).alias("b")
    return base.join(
        F.broadcast(new_bands),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & ~_earlier_band_collides(2),
    ).select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))


# --- Near-dup CLUSTERS: LSH pairs → connected components → keep-one ----------
#
# The full training-data dedup shape: candidate pairs from the salted
# LSH band join above, transitively closed into clusters (a doc
# LSH-matching A and B puts all three in one cluster even if A/B
# never collide directly), one canonical representative kept per
# cluster (min doc_id — the curation "keep-first" rule). Composes the
# oracle-checked dd_minhash_lsh pair generation with
# operators/linking.relabel, which labels each doc with its cluster's
# minimum doc_id (the oracle pads ids into strings for its own CTE).

_DUP_CLUSTERS_ORACLE = """
WITH RECURSIVE sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), mh AS (
  SELECT doc_id,
         min(md5(shingle || '#1')) || min(md5(shingle || '#2')) AS k1,
         min(md5(shingle || '#3')) || min(md5(shingle || '#4')) AS k2
  FROM sh GROUP BY doc_id
), p AS (
  SELECT lpad(CAST(a.doc_id AS VARCHAR), 10, '0') AS src,
         lpad(CAST(b.doc_id AS VARCHAR), 10, '0') AS dst
  FROM mh a JOIN mh b
    ON a.doc_id < b.doc_id AND (a.k1 = b.k1 OR a.k2 = b.k2)
), sym AS (
  SELECT src, dst FROM p UNION SELECT dst AS src, src AS dst FROM p
), reach (node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
), comp AS (
  SELECT node, min(r) AS c FROM reach GROUP BY node
)
SELECT d.doc_id,
       CAST(coalesce(comp.c, lpad(CAST(d.doc_id AS VARCHAR), 10, '0'))
            AS BIGINT) AS cluster_id,
       d.doc_id = CAST(coalesce(comp.c,
                                lpad(CAST(d.doc_id AS VARCHAR), 10, '0'))
                       AS BIGINT) AS keep
FROM documents d
LEFT JOIN comp ON lpad(CAST(d.doc_id AS VARCHAR), 10, '0') = comp.node
"""


@_q("dd_dup_clusters", _DUP_CLUSTERS_ORACLE)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.linking import relabel

    # Clustering does NOT need the materialized all-pairs collision
    # list (O(k²) edges for a k-doc bucket — a 2.5k-doc near-dup
    # bucket is 3M edges): docs sharing a bucket are connected
    # through ANY common member, so per (band, key) bucket a STAR to
    # the bucket's min doc (one hash aggregate + one equi-join)
    # yields identical components with edges LINEAR in bucket size.
    # The oracle still closes over the all-pairs graph — equality of
    # the two formulations is exactly what the value check proves.
    # The band rows feed both the hub aggregate and the join; cache
    # for the duration of the relabel call (which holds its labels on
    # the driver before returning, so no lineage to `bands` survives
    # the unpersist). The label table is one row per doc in a near-dup
    # EDGE — a small fraction of the corpus — and relabel broadcasts
    # it, so the corpus never shuffles.
    bands = _lsh_bands(spark, sf_dir).cache()
    try:
        hubs = bands.groupBy("band", "key").agg(
            F.min("doc_id").alias("hub")
        )
        edges = (
            bands.join(hubs, ["band", "key"])
            .filter(F.col("doc_id") != F.col("hub"))
            .select(F.col("hub").alias("src"), F.col("doc_id").alias("dst"))
            .dropDuplicates()
        )
        out = relabel(
            _docs(spark, sf_dir).select("doc_id"), edges, cluster_id="doc_id"
        )
    finally:
        bands.unpersist()
    return out.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


# --- SimHash (16-bit) ---------------------------------------------------------

_SIMHASH_ORACLE = """
WITH w AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents
), v AS (
  SELECT doc_id, word,
         (strpos('0123456789abcdef', substring(md5(word), 1, 1)) - 1) * 4096
       + (strpos('0123456789abcdef', substring(md5(word), 2, 1)) - 1) * 256
       + (strpos('0123456789abcdef', substring(md5(word), 3, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substring(md5(word), 4, 1)) - 1) AS v16
  FROM w
), bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (v16 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM v CROSS JOIN generate_series(0, 15) g(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


@_q("dd_simhash", _SIMHASH_ORACLE)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _docs(spark, sf_dir), "doc_id")
    w = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).dropDuplicates(["doc_id", "word"])
    hexpos = (
        "(locate(substring(md5(word), {k}, 1), '0123456789abcdef') - 1)"
    )
    v16 = F.expr(
        f"{hexpos.format(k=1)} * 4096 + {hexpos.format(k=2)} * 256 + "
        f"{hexpos.format(k=3)} * 16 + {hexpos.format(k=4)}"
    )
    bits_df = spark.range(0, 16).select(F.col("id").cast("int").alias("b"))
    bits = (
        w.withColumn("v16", v16)
        .crossJoin(F.broadcast(bits_df))
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("(v16 >> b) & 1 = 1"), 1).otherwise(-1)
            ).alias("s")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, F.expr("shiftleft(1, b)")).otherwise(0))
        .cast("long")
        .alias("simhash")
    )


# --- n-gram Jaccard near-dup (blocked all-pairs) ------------------------------

_JACCARD_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(string_split(text, ' ')) AS ws
  FROM documents
), p AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         len(list_intersect(a.ws, b.ws)) AS i,
         len(a.ws) AS na, len(b.ws) AS nb
  FROM t a JOIN t b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= 20
   -- implied by jaccard >= 0.8 (m/M >= 0.8), prunes before intersect
   AND least(len(a.ws), len(b.ws)) * 1.0
       / greatest(len(a.ws), len(b.ws)) >= 0.8
)
SELECT da, db, round(i * 1.0 / (na + nb - i), 4) AS jaccard
FROM p WHERE i * 1.0 / (na + nb - i) >= 0.8
"""


@_q("dd_ngram_jaccard", _JACCARD_ORACLE)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "n_chars",
        F.array_distinct(F.split("text", " ")).alias("ws"),
    )
    d = d.withColumn("nw", F.size("ws"))
    d = _spread(spark, d, "doc_id")  # one parquet split → 1 join task otherwise
    # Blocking: |n_chars diff| <= 20 implies floor(n_chars/20) buckets
    # differ by at most 1, so probing each row against buckets
    # {b-1, b, b+1} is lossless. This turns a per-language quadratic
    # nested-loop join (lang is the only equi key, ~O(n²/|langs|)) into
    # a fine-grained equi-join on (lang, bucket) — the shape that holds
    # at 100 TB, where each (lang, 20-char-band) block is small and the
    # shuffle partitions by block key.
    bucket = F.floor(F.col("n_chars") / 20)
    a = d.withColumn(
        "bkt", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    ).alias("a")
    b = d.withColumn("bkt", bucket).alias("b")
    size_ratio = (
        F.least(F.col("a.nw"), F.col("b.nw"))
        * 1.0
        / F.greatest(F.col("a.nw"), F.col("b.nw"))
    )
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 20)
        # implied by jaccard >= 0.8 (m/M >= 0.8) — prunes cheaply
        & (size_ratio >= 0.8),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.size(F.array_intersect("a.ws", "b.ws")).alias("i"),
        F.col("a.nw").alias("na"),
        F.col("b.nw").alias("nb"),
    )
    jac = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    from information_extraction_spark.functions.barrier import (
        pushdown_barrier,
    )

    # Barrier: without it the expensive jaccard predicate is pushed
    # into the join condition, where array_intersect would run (twice)
    # on every candidate pair instead of only on survivors of the
    # cheap prunes (rationale: functions/barrier.py).
    return pairs.filter(pushdown_barrier(jac >= 0.8)).select(
        "da", "db", F.round(jac, 4).alias("jaccard")
    )


# --- Embedding-cosine near-dup (label-blocked) --------------------------------

_EMB_COS_ORACLE = """
WITH p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
), u AS (
  SELECT va, vb, CAST(unnest(ea) AS DOUBLE) AS xa,
         CAST(unnest(eb) AS DOUBLE) AS xb
  FROM p
), c AS (
  SELECT va, vb,
         sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))) AS cos
  FROM u GROUP BY va, vb
)
SELECT va, vb, round(cos, 4) AS cos4 FROM c WHERE round(cos, 4) >= 0.3
"""


def _dot(x, y):
    prod = F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


@_q("dd_embedding_cosine", _EMB_COS_ORACLE)
def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are per-ROW, so hoist them above the self-join — computing
    # sqrt(dot(e,e)) inside the pair expression would redo an O(dim)
    # scan per PAIR (quadratic work for a linear quantity).
    e = _spread(spark, _emb(spark, sf_dir), "vec_id").withColumn(
        "nrm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        F.col("a.embedding").alias("ea"),
        F.col("b.embedding").alias("eb"),
        F.col("a.nrm").alias("na"),
        F.col("b.nrm").alias("nb"),
    )
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cos4", F.round(cos, 4))
        .filter(F.col("cos4") >= 0.3)
        .select("va", "vb", "cos4")
    )


# --- Brute-force cosine top-k (ANN baseline) ----------------------------------

_ANN_ORACLE = """
WITH q AS (
  SELECT embedding AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), p AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
), c AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS cos6
  FROM p GROUP BY vec_id
)
SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos6, 4) AS cos4 FROM (
  SELECT vec_id, cos6,
         row_number() OVER (ORDER BY cos6 DESC, vec_id) AS rnk
  FROM c) t
WHERE rnk <= 10
"""


@_q("ann_cosine_topk", _ANN_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = _emb(spark, sf_dir)
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    qvec = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])
    # The query norm is a constant — compute it driver-side instead of
    # re-evaluating an O(dim) aggregate per scanned row.
    qnorm = math.sqrt(sum(float(v) * float(v) for v in qrow["embedding"]))
    qid = qrow["vec_id"]
    cos = _dot(F.col("embedding"), qvec) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm)
    )
    scored = (
        e.filter(F.col("vec_id") != qid)
        .withColumn("cos6", F.round(cos, 6))
        .select("vec_id", "cos6")
    )
    # Distributed partial top-k: orderBy().limit(k) compiles to
    # TakeOrderedAndProject (each partition keeps its local top-10,
    # the driver merges) — no global single-partition WindowExec, the
    # shape that survives 100x scale. Ranking the 10 survivors is a
    # driver-side constant.
    top = (
        scored.withColumn("cos4", F.round("cos6", 4))  # HALF_UP, as SQL
        .orderBy(F.col("cos6").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    rows = [(r["vec_id"], i + 1, r["cos4"]) for i, r in enumerate(top)]
    return spark.createDataFrame(
        rows, "vec_id long, rnk long, cos4 double"
    )


_STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"
# Single source of truth for the Python side of the stopword set —
# the SQL tuple above mirrors it and both are exercised by the
# ta_langid / ta_quality / curate_corpus oracles.
STOP = ["the", "a", "of", "and", "to", "in", "is"]


def _doc_token_stats(d: DataFrame) -> DataFrame:
    """Per-document token statistics (the ta_quality aggregation) —
    shared by ta_quality and curate_corpus so the curation gates can
    never drift from the oracle-checked primitive."""
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return w.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("word").alias("n_distinct"),
        F.round(F.avg(F.length("word")), 4).alias("avg_word_len"),
        F.round(
            F.sum(F.when(F.col("word").isin(STOP), 1).otherwise(0))
            * 1.0
            / F.count("*"),
            4,
        ).alias("stop_ratio"),
        F.round(F.countDistinct("word") * 1.0 / F.count("*"), 4).alias(
            "distinct_ratio"
        ),
    )


# --- Corpus curation (composite training-data stage) --------------------------
#
# The shape a real pretraining-data pipeline runs per shard: language
# gate → quality gates (token stats) → exact near-dup collapse
# (fingerprint groupBy, keep the lowest doc_id) → curated ids +
# per-doc stats. One narrow stats pass, one shuffle on the md5
# fingerprint (the dedup key), one partitioned-window pick — every
# stage is the scale-safe primitive already oracle-checked on its own
# (ta_langid / ta_quality / ta_fingerprint / a5_dedup_exact); this
# query value-checks their COMPOSITION.

_CURATE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         round(sum(CASE WHEN word IN {_STOPWORDS} THEN 1 ELSE 0 END)
               * 1.0 / count(*), 4) AS stop_ratio,
         round(count(DISTINCT word) * 1.0 / count(*), 4)
           AS distinct_ratio
  FROM w GROUP BY doc_id
), gated AS (
  SELECT d.doc_id, md5(d.text) AS fp, s.n_tokens, s.stop_ratio,
         s.distinct_ratio
  FROM documents d JOIN s USING (doc_id)
  WHERE s.stop_ratio >= 0.08          -- language gate ('en' heuristic)
    AND s.n_tokens BETWEEN 20 AND 2000  -- length gates
    AND s.distinct_ratio >= 0.3       -- repetition gate
), deduped AS (
  SELECT doc_id, fp, n_tokens, stop_ratio, distinct_ratio,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies
  FROM gated
)
SELECT doc_id, fp, n_tokens, stop_ratio, distinct_ratio, n_copies
FROM deduped WHERE rn = 1
"""


@_q("curate_corpus", _CURATE_ORACLE)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _spread(spark, _docs(spark, sf_dir), "doc_id")
    s = _doc_token_stats(d).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stop_ratio",
        "distinct_ratio",
    )
    gated = (
        d.join(s, "doc_id")
        .filter(
            (F.col("stop_ratio") >= 0.08)
            & F.col("n_tokens").between(20, 2000)
            & (F.col("distinct_ratio") >= 0.3)
        )
        .select(
            "doc_id",
            F.md5("text").alias("fp"),
            "n_tokens",
            "stop_ratio",
            "distinct_ratio",
        )
    )
    # Dedup window partitions on the fingerprint — the same shuffle
    # key the groupBy-based a5 variant uses; never a global window.
    fp_w = Window.partitionBy("fp")
    pick = Window.partitionBy("fp").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(pick))
        .withColumn("n_copies", F.count("*").over(fp_w).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "fp", "n_tokens", "stop_ratio", "distinct_ratio",
            "n_copies",
        )
    )


# --- IVF-probe ANN (the second scale path next to ann_lsh_bucketed) -----------
#
# Inverted-file search: a small coarse quantizer (here: the 8
# lowest-vec_id embeddings stand in for k-means centroids — the
# TRAINING of the quantizer is out of scope, the assignment/probe
# query shape is what must scale), every vector assigned to its
# nearest centroid (one narrow pass + a vec_id-PARTITIONED window —
# never global), the query probes its nprobe=2 nearest lists, and
# exact cosine runs only over the probed lists' members with the same
# TakeOrderedAndProject top-k as the brute-force baseline. At 100 TB
# the assignment is a write-time bucketing (partition the vector
# table BY cid) so a probe scans nprobe partitions — partition
# pruning, no shuffle at query time. That write-time half is
# IMPLEMENTED below: write_ivf_index materializes the cid-partitioned
# table and ann_ivf_pruned_probe's scan reads exactly nprobe
# partitions (metric-asserted in tests/test_dedup_queries.py).

_IVF_ORACLE = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  ORDER BY vec_id LIMIT 8
), qid AS (SELECT min(vec_id) AS q FROM embeddings),
qv AS (
  SELECT vec_id, embedding AS qe FROM embeddings
  WHERE vec_id = (SELECT q FROM qid)
), ac AS (
  SELECT e.vec_id, c.cid, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(c.ce) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN cent c
), a0 AS (
  SELECT vec_id, cid,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cos6
  FROM ac GROUP BY vec_id, cid
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos6 DESC, cid) AS rn
    FROM a0) t WHERE rn = 1
), probe AS (
  SELECT cid FROM (
    SELECT a0.cid,
           row_number() OVER (ORDER BY a0.cos6 DESC, a0.cid) AS rn
    FROM a0 WHERE a0.vec_id = (SELECT q FROM qid)) t
  WHERE rn <= 2
), cand AS (
  SELECT a.vec_id FROM assign a JOIN probe p USING (cid)
  WHERE a.vec_id <> (SELECT q FROM qid)
), pr AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN qv q
), c AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cos6
  FROM pr GROUP BY vec_id
)
SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, round(cos6, 4) AS cos4
FROM (SELECT vec_id, cos6,
             row_number() OVER (ORDER BY cos6 DESC, vec_id) AS rnk
      FROM c) t
WHERE rnk <= 10
"""


@_q("ann_ivf_probe", _IVF_ORACLE)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The embeddings table feeds THREE driver-blocking jobs (probe,
    # assignment, rescore); cache the spread table for the duration of
    # the query so the scan + repartition run once, and unpersist
    # before returning — the result below is driver-collected rows, so
    # no lineage escapes this function.
    e = _spread(spark, _emb(spark, sf_dir), "vec_id").cache()
    try:
        return _ivf_probe_jobs(spark, e)
    finally:
        # Every job below is driver-blocking and the final result is
        # collected rows, so no lineage escapes the unpersist — and an
        # exception mid-query must not leave the cache pinned in a
        # long-lived bench/oracle session.
        e.unpersist()


def _ivf_quantize(spark: SparkSession, e: DataFrame):
    """Shared IVF front half: (cent_rows, assign, probe_cids).

    Quantizer = first 8 vectors by id, read from the (cached) table.
    Assignment: one narrow pass over the broadcast 8-row quantizer,
    argmax per vector via max(struct(cos6, -cid)) — a HASH aggregate
    with map-side partial combine instead of a window (which would
    add a sort on every (vec_id, cos) row). Rounded to 6dp BEFORE
    ranking so both engines break ties identically; the struct's
    -cid gives the same desc-cos/asc-cid tie-break as the window it
    replaces. Probe: the query's 2 nearest lists — an 8-row
    driver-side sort over the SAME engine-computed scores."""
    cent_rows = e.orderBy("vec_id").limit(8).collect()
    qid = cent_rows[0]["vec_id"]
    cent = spark.createDataFrame(
        [(r["vec_id"], list(map(float, r["embedding"]))) for r in cent_rows],
        "cid long, ce array<double>",
    )
    cos_c = _dot(F.col("embedding"), F.col("ce")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("ce"), F.col("ce")))
    )
    a0 = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", F.round(cos_c, 6).alias("cos6")
    )
    assign = a0.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("cos6"), (-F.col("cid")).alias("ncid"))
        ).alias("m")
    ).select("vec_id", (-F.col("m.ncid")).alias("cid"))
    probe = [
        r["cid"]
        for r in a0.filter(F.col("vec_id") == qid)
        .orderBy(F.col("cos6").desc(), "cid")
        .limit(2)
        .collect()
    ]
    return cent_rows, assign, probe


def _query_cos(qrow):
    """Cosine of each row's ``embedding`` against the fixed query
    vector; the query norm is a driver-side constant."""
    import math

    qvec = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])
    qnorm = math.sqrt(sum(float(v) * float(v) for v in qrow["embedding"]))
    return _dot(F.col("embedding"), qvec) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm)
    )


def _ivf_probe_jobs(spark: SparkSession, e: DataFrame) -> DataFrame:
    cent_rows, assign, probe = _ivf_quantize(spark, e)
    qid = cent_rows[0]["vec_id"]
    cand = assign.filter(
        F.col("cid").isin(probe) & (F.col("vec_id") != qid)
    ).select("vec_id")
    cos_q = _query_cos(cent_rows[0])
    # cand is two inverted lists' ids — broadcast it so the rescore
    # join never shuffles the embeddings side.
    top = (
        e.join(F.broadcast(cand), "vec_id")
        .withColumn("cos6", F.round(cos_q, 6))
        .withColumn("cos4", F.round("cos6", 4))
        .orderBy(F.col("cos6").desc(), "vec_id")
        .limit(10)
        .collect()
    )
    rows = [(r["vec_id"], i + 1, r["cos4"]) for i, r in enumerate(top)]
    return spark.createDataFrame(
        rows, "vec_id long, rnk long, cos4 double"
    )


def ivf_index_path(sf_dir: str) -> str:
    from information_extraction_spark.driver_queries.kg import _golden_path

    return _golden_path("ivf_index", sf_dir).replace(
        ".parquet", "_cidpart.parquet"
    )


def write_ivf_index(spark: SparkSession, sf_dir: str):
    """The WRITE-TIME half of the IVF story: materialize the vector
    table cid-PARTITIONED (one directory per inverted list), so a
    probe becomes a partition-pruned scan of nprobe directories — no
    shuffle, no full-table scan at query time. Returns
    (index_path, query_row, probe_cids).

    Write-once/probe-many, like the real thing: the index is a pure
    function of the immutable source table, so a completed build
    (marked by a meta sidecar written AFTER the parquet commit) is
    reused and a repeat call is a pure read — the probe query then
    times the probe, not an index rebuild. A missing/partial sidecar
    (interrupted build) triggers a clean rebuild."""
    import json
    import os

    from information_extraction_spark.driver_queries.kg import (
        _ensure_golden_dir,
    )

    _ensure_golden_dir()
    path = ivf_index_path(sf_dir)
    meta_path = path + ".meta.json"
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        return path, meta["query_row"], meta["probe"]
    e = _spread(spark, _emb(spark, sf_dir), "vec_id").cache()
    try:
        cent_rows, assign, probe = _ivf_quantize(spark, e)
        e.join(assign, "vec_id").write.partitionBy("cid").mode(
            "overwrite"
        ).parquet(path)
    finally:
        e.unpersist()
    query_row = {
        "vec_id": int(cent_rows[0]["vec_id"]),
        "embedding": [float(v) for v in cent_rows[0]["embedding"]],
    }
    with open(meta_path, "w") as fh:
        json.dump(
            {"query_row": query_row, "probe": [int(c) for c in probe]}, fh
        )
    return path, query_row, probe


@_q("ann_ivf_pruned_probe", _IVF_ORACLE)
def ann_ivf_pruned_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_probe's claim, made physical: the probe runs against
    the cid-partitioned index table and the scan PRUNES to the
    nprobe=2 probed partitions (PartitionFilters at the source —
    plan-asserted in tests/test_dedup_queries.py and dumped in
    PLANS.md). Same oracle as ann_ivf_probe: pruning must not change
    a single result row."""
    from pyspark.sql import Window

    path, query_row, probe = write_ivf_index(spark, sf_dir)
    qid = query_row["vec_id"]
    idx = spark.read.parquet(path)
    pruned = idx.filter(
        F.col("cid").isin([int(c) for c in probe])
        & (F.col("vec_id") != qid)
    )
    top10 = (
        pruned.withColumn("cos6", F.round(_query_cos(query_row), 6))
        .select("vec_id", "cos6")
        # TakeOrderedAndProject: per-partition local top-10, driver
        # merge — never a global sort.
        .orderBy(F.col("cos6").desc(), "vec_id")
        .limit(10)
    )
    # Ranking the 10 survivors: the window is global but post-limit
    # (10 rows), a constant-size step.
    w = Window.orderBy(F.col("cos6").desc(), "vec_id")
    return top10.select(
        "vec_id",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.round("cos6", 4).alias("cos4"),
    )


# --- Text analysis ------------------------------------------------------------

_LANGID_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), r AS (
  SELECT doc_id,
         sum(CASE WHEN word IN {_STOPWORDS} THEN 1 ELSE 0 END) * 1.0
           / count(*) AS ratio
  FROM w GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN ratio >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang,
       round(ratio, 4) AS stop_ratio
FROM r
"""


@_q("ta_langid", _LANGID_ORACLE)
def ta_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    r = w.groupBy("doc_id").agg(
        (
            F.sum(F.when(F.col("word").isin(STOP), 1).otherwise(0))
            * 1.0
            / F.count("*")
        ).alias("ratio")
    )
    return r.select(
        "doc_id",
        F.when(F.col("ratio") >= 0.08, "en").otherwise("other").alias(
            "pred_lang"
        ),
        F.round("ratio", 4).alias("stop_ratio"),
    )


_QUALITY_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT word) AS BIGINT) AS n_distinct,
         round(avg(length(word)), 4) AS avg_word_len,
         round(sum(CASE WHEN word IN {_STOPWORDS} THEN 1 ELSE 0 END) * 1.0
               / count(*), 4) AS stop_ratio,
         round(count(DISTINCT word) * 1.0 / count(*), 4) AS distinct_ratio
  FROM w GROUP BY doc_id)
SELECT * FROM s
"""


@_q("ta_quality", _QUALITY_ORACLE)
def ta_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_token_stats(_docs(spark, sf_dir))


_TOKEN_COUNT_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
         AS re_tokens
FROM documents
"""


@_q("ta_token_count", _TOKEN_COUNT_ORACLE)
def ta_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("re_tokens"),
    )


_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
                           ' ')) AS fingerprint
FROM documents
"""


@_q("ta_fingerprint", _FINGERPRINT_ORACLE)
def ta_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("fingerprint"),
    )


# --- Deterministic train/val/test split ---------------------------------------
#
# The split every training pipeline needs: assign each document to
# train/val/test by a HASH of its id, never by position or random() —
# reruns, backfills, and late-arriving shards land in the same split
# forever, and the assignment needs no coordination (no global sort,
# no shuffle at all: one narrow projection). Bucket = first two md5
# hex digits → [0, 256); test < 13 (~5%), val < 26 (~5%), train rest.

_HEX = "0123456789abcdef"


def _hex_val_sql(expr: str, k: int) -> str:
    """Portable hex-digit → int for digit k (1-based) of md5(expr)."""
    return f"(strpos('{_HEX}', substring(md5({expr}), {k}, 1)) - 1)"


_SPLIT_ORACLE = f"""
SELECT doc_id,
       CAST({_hex_val_sql('CAST(doc_id AS VARCHAR)', 1)} * 16
            + {_hex_val_sql('CAST(doc_id AS VARCHAR)', 2)} AS INT) AS bucket,
       CASE WHEN {_hex_val_sql('CAST(doc_id AS VARCHAR)', 1)} * 16
                 + {_hex_val_sql('CAST(doc_id AS VARCHAR)', 2)} < 13 THEN 'test'
            WHEN {_hex_val_sql('CAST(doc_id AS VARCHAR)', 1)} * 16
                 + {_hex_val_sql('CAST(doc_id AS VARCHAR)', 2)} < 26 THEN 'val'
            ELSE 'train' END AS split
FROM documents
"""


@_q("ta_split", _SPLIT_ORACLE)
def ta_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket split assignment. Narrow (zero-shuffle) projection;
    at 100 TB this is a free extra column on an existing scan, and the
    split is stable under re-partitioning, re-ordering, and appends —
    the property random()/monotonically_increasing_id splits lack."""
    d = _docs(spark, sf_dir)
    # locate(dynamic_char, const_string) needs expr() — F.locate only
    # accepts a literal substring argument.
    v = F.expr(
        f"(locate(substring(md5(cast(doc_id as string)), 1, 1), '{_HEX}') - 1) * 16"
        f" + (locate(substring(md5(cast(doc_id as string)), 2, 1), '{_HEX}') - 1)"
    ).cast("int")
    return d.select(
        "doc_id",
        v.alias("bucket"),
        F.when(v < 13, "test").when(v < 26, "val").otherwise("train").alias(
            "split"
        ),
    )


# --- Data-mixture rates (domain/language re-weighting) -------------------------
#
# The pretraining-mix op: given per-language token mass, compute the
# per-language KEEP RATE that moves the corpus toward a uniform
# target mixture (rate = min(1, fair_share / lang_tokens)). One
# groupBy on a low-cardinality key (map-side combine does nearly all
# the work), then a broadcast of the 1-row totals — the per-doc pass
# that APPLIES the rate is ta_split's narrow projection with the rate
# joined in (broadcast, bounded by #languages).

_MIX_ORACLE = """
WITH per_doc AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), per_lang AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
  FROM per_doc GROUP BY lang
), tot AS (
  SELECT CAST(sum(lang_tokens) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS n_langs
  FROM per_lang
)
SELECT p.lang, p.n_docs, p.lang_tokens,
       round(p.lang_tokens / t.total, 4) AS share,
       round(least(1.0, (t.total / t.n_langs) / p.lang_tokens), 4)
         AS keep_rate
FROM per_lang p CROSS JOIN tot t
"""


@_q("ta_domain_mix", _MIX_ORACLE)
def ta_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    per_lang = (
        d.select(
            "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("lang_tokens"),
        )
    )
    tot = per_lang.agg(
        F.sum("lang_tokens").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_langs"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "lang_tokens",
        F.round(F.col("lang_tokens") / F.col("total"), 4).alias("share"),
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("total") / F.col("n_langs")) / F.col("lang_tokens"),
            ),
            4,
        ).alias("keep_rate"),
    )


# --- PII-style redaction --------------------------------------------------------
#
# The scrub pass a web corpus runs before training: regex-replace
# emails and long opaque ids, count what was removed. The synthetic
# documents contain no PII-shaped tokens (checked), so the fixture
# INJECTS them deterministically from doc_id — on ~3/4 of docs an
# email, on ~1/2 a 32-hex id (md5-digit gates), so the counts vary
# per row and the regexes are load-bearing on both engines. Narrow
# per-row pass, zero shuffles; Java regex and RE2 agree on these
# patterns (character classes, bounded repeats, \\b).

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_HEXID_RE = "\\b[0-9a-f]{32}\\b"

_REDACT_ORACLE = f"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN {_hex_val_sql('CAST(doc_id AS VARCHAR)', 1)} < 12
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END
         || CASE WHEN {_hex_val_sql('CAST(doc_id AS VARCHAR)', 2)} < 8
                 THEN ' session ' || md5(CAST(doc_id AS VARCHAR)) || ' end'
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '{_HEXID_RE}')) AS BIGINT)
         AS n_hex_ids,
       regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_HEXID_RE}', '<ID>', 'g') AS redacted
FROM injected
"""


@_q("ta_redact", _REDACT_ORACLE)
def ta_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    h1 = F.expr(f"locate(substring(md5(cast(doc_id as string)), 1, 1), '{_HEX}') - 1")
    h2 = F.expr(f"locate(substring(md5(cast(doc_id as string)), 2, 1), '{_HEX}') - 1")
    t = F.concat(
        F.col("text"),
        F.when(
            h1 < 12,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            h2 < 8,
            F.concat(F.lit(" session "), F.md5(F.col("doc_id").cast("string")), F.lit(" end")),
        ).otherwise(""),
    )
    inj = d.select("doc_id", t.alias("t"))
    return inj.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_HEXID_RE), 0))
        .cast("long")
        .alias("n_hex_ids"),
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"),
            _HEXID_RE,
            "<ID>",
        ).alias("redacted"),
    )


# --- Train/eval decontamination -------------------------------------------------
#
# The overlap check every serious pretraining pipeline runs before
# training: does any evaluation document share a long n-gram with the
# training split? (The GPT-3/PaLM reports document exactly this
# 8-to-13-gram scan.) Split = the same md5-bucket rule as ta_split
# (eval = test+val buckets, < 26/256); n-gram = word 8-gram, hashed to
# md5 so the join key is fixed-width (never ship raw 8-grams through a
# shuffle). At sf0.01 this is load-bearing: 5 of 69 eval docs hit the
# train split (270 distinct contaminated grams) — near-dup docs that
# landed on opposite sides of the hash split.
#
# Scale shape: the eval side is SMALL by construction (benchmarks are
# thousands of docs; train is the 100 TB side), so the eval gram set is
# BROADCAST and the train corpus streams past it in one narrow pass —
# no shuffle of the train side at all. The per-doc distinct-hit count
# then aggregates join output bounded by |eval grams| x train
# multiplicity, grouped on the (tiny) eval doc id. The train side is
# deliberately NOT pre-distinct'ed: that would be a corpus-wide
# shuffle; countDistinct after the broadcast join does the same dedup
# on the small side.

_CONTAM_EVAL = (
    f"{_hex_val_sql('CAST(doc_id AS VARCHAR)', 1)} * 16"
    f" + {_hex_val_sql('CAST(doc_id AS VARCHAR)', 2)} < 26"
)

_CONTAM_ORACLE = f"""
WITH split AS (
  SELECT doc_id, text, {_CONTAM_EVAL} AS is_eval FROM documents
), grams AS (
  SELECT doc_id, is_eval,
         unnest(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1),
           i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))
         )) AS g
  FROM split
), ev AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE is_eval
), tr AS (
  SELECT DISTINCT g FROM grams WHERE NOT is_eval
), n_ev AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM ev GROUP BY doc_id
), hits AS (
  SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM ev JOIN tr USING (g) GROUP BY ev.doc_id
)
SELECT s.doc_id,
       COALESCE(n_ev.n_grams, 0) AS n_grams,
       COALESCE(hits.n_hits, 0) AS n_hits,
       CAST(COALESCE(hits.n_hits, 0) > 0 AS INT) AS contaminated
FROM split s
LEFT JOIN n_ev USING (doc_id)
LEFT JOIN hits USING (doc_id)
WHERE s.is_eval
"""


@_q("ta_contamination", _CONTAM_ORACLE)
def ta_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    is_eval = (
        F.expr(
            f"(locate(substring(md5(cast(doc_id as string)), 1, 1), '{_HEX}') - 1) * 16"
            f" + (locate(substring(md5(cast(doc_id as string)), 2, 1), '{_HEX}') - 1)"
        )
        < 26
    )
    words = F.split("text", " ")
    positions = F.when(
        F.size(words) >= 8, F.sequence(F.lit(1), F.size(words) - 7)
    ).otherwise(F.array().cast("array<int>"))
    split = d.select("doc_id", is_eval.alias("is_eval"), "text")
    grams = split.withColumn("pos", F.explode(positions)).select(
        "doc_id",
        "is_eval",
        F.md5(F.concat_ws(" ", F.slice(words, F.col("pos"), 8))).alias("g"),
    )
    ev = (
        grams.filter("is_eval").select("doc_id", "g").distinct()
    )
    tr = grams.filter(~F.col("is_eval")).select("g")
    n_ev = ev.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    # Broadcast the (small) eval gram set; the train side streams past
    # it unshuffled. countDistinct dedups the train multiplicity on the
    # already-small join output.
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").cast("long").alias("n_hits"))
    )
    # Both per-eval-doc aggregates are bounded by the (small) eval
    # side but arrive as aggregation outputs with no stats — hint the
    # broadcast explicitly or the final assembly pays two SMJ
    # exchanges on the doc_id key.
    return (
        split.filter("is_eval")
        .select("doc_id")
        .join(F.broadcast(n_ev), "doc_id", "left")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


# --- Unigram-LM perplexity scoring ----------------------------------------------
#
# The CCNet-style quality gate: score each document by the mean
# negative log-likelihood (nats) of its tokens under a unigram LM
# fitted on the WHOLE corpus — rare-token-soup documents score high
# and get filtered. (CCNet uses a KenLM 5-gram; the unigram variant is
# the same pipeline shape with an exactly-SQL-expressible model, which
# is what makes it value-oracle-checkable here.)
#
# Scale shape: the LM build is one map-side-combined groupBy on the
# token; the scoring join is token → (count) against a VOCAB-BOUNDED
# table (Heaps' law: ~millions of types for 100 TB of tokens), so it
# broadcasts — the corpus streams past the model in one narrow pass,
# then aggregates per doc_id. Float discipline: both engines average
# full doubles and round to 4dp only at the end; perplexity
# exponentiates the UNROUNDED mean.

_PPL_ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), lm AS (
  SELECT word, CAST(count(*) AS DOUBLE) AS c FROM w GROUP BY word
), tot AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM w
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(lm.c / tot.n)), 4) AS xent,
       round(exp(avg(-ln(lm.c / tot.n))), 4) AS ppl
FROM w JOIN lm USING (word) CROSS JOIN tot
GROUP BY w.doc_id
"""


@_q("ta_perplexity", _PPL_ORACLE)
def ta_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _docs(spark, sf_dir), "doc_id")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    lm = w.groupBy("word").agg(F.count("*").cast("double").alias("c"))
    tot = lm.agg(F.sum("c").alias("n"))
    nll = -F.log(F.col("c") / F.col("n"))
    return (
        w.join(F.broadcast(lm), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(nll), 4).alias("xent"),
            F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
        )
    )


# --- K-means clustering over the embedding table ------------------------------
#
# The training-data pipeline's clustering primitive (topic/domain
# clustering for curation and cluster-balanced sampling): Lloyd's
# k-means, fixed iterations, deterministic init (the k smallest
# vec_ids), centroid components rounded to 6dp each update so the
# order-sensitive double sums agree across engines. The oracle chains
# one (assign, update) CTE pair per iteration — the same
# fixed-iteration-as-chained-CTEs pattern as kg_pagerank.


def _kmeans_oracle_sql(
    k: int = 8,
    iterations: int = 3,
    dim: int = 64,
    round_dp: int = 6,
    final_select: str | None = None,
) -> str:
    """Chained Lloyd CTEs; ``final_select`` (referencing ``e`` and the
    final centroid CTE ``c{iterations}``) overrides the default
    assignment readout — silhouette reads ALL centroid distances."""
    d2 = (
        "list_sum(list_transform(list_zip(e.v, c.c),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    parts = [
        f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), c0 AS (
  -- the k SMALLEST vec_ids relabeled 0..k-1 in id order — the
  -- operator's documented init contract; no dense-0 id assumption
  SELECT CAST(rn - 1 AS INT) AS cid, v AS c FROM (
    SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
  WHERE rn <= {k}
)"""
    ]
    for i in range(iterations):
        parts.append(
            f""", a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM (SELECT e.vec_id, e.v, c.cid, {d2} AS d
          FROM e CROSS JOIN c{i} c))
  WHERE rn = 1
), c{i + 1} AS (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM c{i} p LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c FROM (
      SELECT cid, i, round(avg(v[i]), {round_dp}) AS m
      FROM a{i} CROSS JOIN generate_series(1, {dim}) g(i)
      GROUP BY cid, i)
    GROUP BY cid) n ON n.cid = p.cid
)"""
        )
    if final_select is None:
        final_select = f"""
SELECT vec_id, cid, ROUND(d, 4) AS dist2 FROM (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM (SELECT e.vec_id, c.cid, {d2} AS d
        FROM e CROSS JOIN c{iterations} c))
WHERE rn = 1"""
    parts.append(final_select)
    return "".join(parts)


_KMEANS_ORACLE = _kmeans_oracle_sql()


@_q("emb_kmeans", _KMEANS_ORACLE)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means assignments over the embedding
    table (operators/clustering.lloyd_kmeans: literal-broadcast
    centroids → zero-shuffle assignment; one map-side-combined
    (cid, pos) shuffle per update; k×dim bounded collects)."""
    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    return lloyd_kmeans(
        _spread(spark, _emb(spark, sf_dir), "vec_id"), k=8, iterations=3
    )


# mean_dist2 sums the 4dp-quantized distances as INTEGERS (×10⁴) so
# the group sum is order-independent and exact in both engines — a
# plain avg() of doubles differs at ~1e-12 by summation order, which
# is enough to straddle a 4dp rounding boundary (observed 0.9383 vs
# 0.9382 at sf0.001).
_CLUSTER_SAMPLE_ORACLE = f"""
SELECT cid,
       CAST(count(*) AS BIGINT) AS n_vecs,
       ROUND(sum(CAST(round(dist2 * 10000) AS BIGINT)) / 10000.0
             / count(*), 4) AS mean_dist2,
       ROUND(LEAST(1.0, 50.0 / count(*)), 4) AS keep_rate
FROM ({_kmeans_oracle_sql()})
GROUP BY cid
"""


@_q("emb_cluster_sample", _CLUSTER_SAMPLE_ORACLE)
def emb_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling plan over the k-means assignments:
    per cluster — size, cohesion (mean squared distance), and the
    keep rate that caps every cluster at 50 sampled vectors (the
    de-biasing step between clustering and training-set assembly;
    same uniform-target shape as ta_domain_mix but over LEARNED
    clusters). One extra map-side-combined k-group shuffle above
    emb_kmeans."""
    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    assigned = lloyd_kmeans(
        _spread(spark, _emb(spark, sf_dir), "vec_id"), k=8, iterations=3
    )
    return assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_vecs"),
        # integer-exact mean of the 4dp-quantized distances — see the
        # oracle note above (order-independent across both engines)
        F.round(
            F.sum(F.round(F.col("dist2") * 10000).cast("long"))
            / F.lit(10000.0)
            / F.count("*"),
            4,
        ).alias("mean_dist2"),
        F.round(
            F.least(F.lit(1.0), F.lit(50.0) / F.count("*")), 4
        ).alias("keep_rate"),
    )


# --- Product quantization ADC top-k -------------------------------------------


def _pq_oracle_sql(
    m: int = 8, dsub: int = 8, n_cw: int = 16, k: int = 10
) -> str:
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    return f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), sub AS (
  SELECT s FROM generate_series(0, {m - 1}) g(s)
), cw AS (
  -- codewords from the n_cw SMALLEST vec_ids relabeled 0..n_cw-1
  -- (pq_codebooks' contract; no dense-0 id assumption)
  SELECT sub.s, CAST(h.rn - 1 AS INT) AS cid,
         h.v[(sub.s*{dsub}+1):(sub.s*{dsub}+{dsub})] AS c
  FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM e) h
  CROSS JOIN sub WHERE h.rn <= {n_cw}
), q AS (
  -- query = the smallest vec_id's vector (ann_cosine_topk convention)
  SELECT sub.s, h.v[(sub.s*{dsub}+1):(sub.s*{dsub}+{dsub})] AS qs
  FROM (SELECT v FROM e ORDER BY vec_id LIMIT 1) h CROSS JOIN sub
), dtab AS (
  SELECT cw.s, cw.cid, {d2.format(a="q.qs", b="cw.c")} AS d
  FROM cw JOIN q USING (s)
), assign AS (
  SELECT vec_id, s, cid FROM (
    SELECT e.vec_id, cw.s, cw.cid,
           row_number() OVER (PARTITION BY e.vec_id, cw.s ORDER BY
             {d2.format(
                 a="e.v[(cw.s*" + str(dsub) + "+1):(cw.s*"
                 + str(dsub) + "+" + str(dsub) + ")]",
                 b="cw.c",
             )}, cw.cid) AS rn
    FROM e CROSS JOIN cw)
  WHERE rn = 1
), adc AS (
  SELECT a.vec_id,
         ROUND(list_sum(list(dtab.d ORDER BY a.s)), 6) AS adc6
  FROM assign a JOIN dtab ON dtab.s = a.s AND dtab.cid = a.cid
  GROUP BY a.vec_id
)
SELECT vec_id,
       CAST(row_number() OVER (ORDER BY adc6, vec_id) AS INT) AS rank,
       ROUND(adc6, 4) AS adc
FROM adc WHERE vec_id <> (SELECT min(vec_id) FROM e)
QUALIFY rank <= {k}
"""


_PQ_ORACLE = _pq_oracle_sql()


@_q("ann_pq_adc", _PQ_ORACLE)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization asymmetric-distance top-10
    (operators/clustering.pq_adc_topk): 8 sub-spaces x 16
    data-sampled codewords, query = vec_id 0 (the ann_cosine_topk
    convention), ADC rounded to 6dp before ranking. ONE narrow scan
    (per-row argmin encode + table lookups) into
    TakeOrderedAndProject — the PQ promise: no shuffle, scan cost
    only."""
    from information_extraction_spark.operators.clustering import (
        pq_adc_topk,
    )

    e = _spread(spark, _emb(spark, sf_dir), "vec_id")
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    return pq_adc_topk(
        e,
        list(qrow["embedding"]),
        m=8,
        n_codewords=16,
        k=10,
        exclude_id=qrow["vec_id"],
    )


# --- Exact length quantiles (monitoring table) --------------------------------
#
# Per-language exact token-count quantiles. The scale-honest EXACT
# method: n_tokens is an integer with bounded cardinality, so the
# corpus collapses to a (lang, n_tokens, cnt) histogram in ONE
# map-side-combined shuffle — an exact, mergeable sketch — and the
# interpolated quantiles are computed from that bounded histogram
# driver-side (quantile_cont semantics: h = p(n-1), linear between
# order stats). Spark's exact percentile() aggregator would buffer
# every value per group — a non-starter at 100 TB; percentile_approx
# is the unbounded-metric fallback but is not oracle-comparable.

_LENQ_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), r AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         sum(CASE WHEN word IN {_STOPWORDS} THEN 1 ELSE 0 END) * 1.0
           / count(*) AS ratio
  FROM w GROUP BY doc_id
), lab AS (
  SELECT CASE WHEN ratio >= 0.08 THEN 'en' ELSE 'other' END AS pred_lang,
         n_tokens
  FROM r
)
SELECT pred_lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50,
       ROUND(quantile_cont(n_tokens, 0.9), 4) AS p90,
       ROUND(quantile_cont(n_tokens, 0.99), 4) AS p99
FROM lab GROUP BY pred_lang
"""


@_q("ta_length_quantiles", _LENQ_ORACLE)
def ta_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    d = _docs(spark, sf_dir)
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    per = (
        w.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (
                F.sum(F.when(F.col("word").isin(STOP), 1).otherwise(0))
                * 1.0
                / F.count("*")
            ).alias("ratio"),
        )
        .select(
            F.when(F.col("ratio") >= 0.08, "en")
            .otherwise("other")
            .alias("pred_lang"),
            "n_tokens",
        )
    )
    hist = (
        per.groupBy("pred_lang", "n_tokens")
        .agg(F.count("*").cast("long").alias("cnt"))
        .collect()  # bounded: distinct (lang, integer token count)
    )
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for r in hist:
        by_lang.setdefault(r["pred_lang"], []).append(
            (r["n_tokens"], r["cnt"])
        )

    def _round4(x: float) -> float:  # HALF_UP, like ROUND / F.round
        return math.floor(x * 10**4 + 0.5) / 10**4

    rows = []
    for lang, items in sorted(by_lang.items()):
        items.sort()
        n = sum(c for _, c in items)

        def order_stat(i: int) -> float:
            acc = 0
            for v, c in items:
                acc += c
                if i < acc:
                    return float(v)
            return float(items[-1][0])

        def q(p: float) -> float:
            h = p * (n - 1)
            lo = int(math.floor(h))
            f = h - lo
            xlo = order_stat(lo)
            return xlo if f == 0.0 else xlo + f * (order_stat(lo + 1) - xlo)

        rows.append((lang, n, _round4(q(0.5)), _round4(q(0.9)), _round4(q(0.99))))
    return spark.createDataFrame(
        rows,
        "pred_lang string, n_docs long, p50 double, p90 double, p99 double",
    )


# --- K-means-blocked embedding near-dup ---------------------------------------
#
# dd_embedding_cosine blocks on the GIVEN label column; this variant
# blocks on the LEARNED k-means cluster — the shape a pipeline runs
# when no label exists (SemDeDup-style: cluster, then pair only
# within clusters). Same cosine arithmetic and threshold as the
# label-blocked query; the recall trade (a near-dup pair split across
# clusters is missed) is inherent to learned blocking and is the
# price of never running an unblocked self-join.

_EMB_COS_KMEANS_ORACLE = f"""
WITH km AS (
  SELECT vec_id, cid FROM ({_kmeans_oracle_sql()})
), p AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a
  JOIN km ka ON ka.vec_id = a.vec_id
  JOIN km kb ON kb.cid = ka.cid
  JOIN embeddings b ON b.vec_id = kb.vec_id AND a.vec_id < b.vec_id
), u AS (
  SELECT va, vb, CAST(unnest(ea) AS DOUBLE) AS xa,
         CAST(unnest(eb) AS DOUBLE) AS xb
  FROM p
), c AS (
  SELECT va, vb,
         sum(xa * xb) / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))) AS cos
  FROM u GROUP BY va, vb
)
SELECT va, vb, round(cos, 4) AS cos4 FROM c WHERE round(cos, 4) >= 0.3
"""


@_q("dd_embedding_cosine_kmeans", _EMB_COS_KMEANS_ORACLE)
def dd_embedding_cosine_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs blocked on the learned k-means cluster instead
    of the label column (operators/clustering.lloyd_kmeans feeds the
    blocking key); cosine arithmetic identical to
    dd_embedding_cosine — norms hoisted above the self-join."""
    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    e0 = _spread(spark, _emb(spark, sf_dir), "vec_id")
    assigned = lloyd_kmeans(e0, k=8, iterations=3).select("vec_id", "cid")
    e = e0.join(assigned, "vec_id").withColumn(
        "nrm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        pairs.withColumn("cos4", F.round(cos, 4))
        .filter(F.col("cos4") >= 0.3)
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            "cos4",
        )
    )


# --- Intra-corpus duplicated-span scoring --------------------------------------
#
# The Lee et al. (2022) "Deduplicating Training Data" signal at span
# granularity: per document, how much of it consists of word 8-grams
# that also appear in ANOTHER document (the cross-doc boilerplate /
# template mass near-dup doc-level dedup misses). Same 8-gram
# derivation as ta_contamination, applied corpus-internally. A full
# suffix-array finds arbitrary-length spans; the fixed-width hashed
# window is the distributable version whose state is one shuffle key.
#
# Scale shape: distinct per (doc, gram) at gram volume (map-side
# combined — ONE wide pass over the corpus), gram-frequency agg and
# the dup-filter join co-keyed on the gram hash (exchange reused),
# then two doc-keyed aggregates joined back at doc cardinality.
# Load-bearing: ~1,000 of ~23k grams at sf0.01 are genuinely
# duplicated across documents.

_SELFSIM_ORACLE = """
WITH grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1),
           i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))
         )) AS g
  FROM documents
), freq AS (
  SELECT g, count(*) AS n FROM grams GROUP BY g
), per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY 1
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
  FROM grams JOIN freq USING (g) WHERE freq.n >= 2 GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_grams, 0) AS n_grams,
       COALESCE(hits.n_dup, 0) AS n_dup,
       CASE WHEN COALESCE(per.n_grams, 0) > 0
            THEN ROUND(COALESCE(hits.n_dup, 0)
                       / CAST(per.n_grams AS DOUBLE), 4)
            ELSE 0.0 END AS dup_ratio
FROM documents d
LEFT JOIN per USING (doc_id)
LEFT JOIN hits USING (doc_id)
"""


@_q("ta_selfsim_spans", _SELFSIM_ORACLE)
def ta_selfsim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _docs(spark, sf_dir), "doc_id")
    words = F.split("text", " ")
    positions = F.when(
        F.size(words) >= 8, F.sequence(F.lit(1), F.size(words) - 7)
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        d.withColumn("pos", F.explode(positions))
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(words, F.col("pos"), 8))
            ).alias("g"),
        )
        .distinct()
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("g")
    )
    per = grams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    hits = (
        grams.join(dup, "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_dup"))
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_dup", F.lit(0))
                    / F.col("n_grams").cast("double"),
                    4,
                ),
            )
            .otherwise(0.0)
            .alias("dup_ratio"),
        )
    )


# --- PQ with TRAINED codebooks -------------------------------------------------
#
# ann_pq_adc's codebooks are data-sampled; this is the full Jégou
# PQ: an independent Lloyd k-means per sub-space trains the
# codebooks (operators/clustering.train_pq_codebooks — all m
# sub-space k-means fused into one distributed pass per iteration),
# then the identical zero-shuffle ADC scan. The oracle chains m
# sub-space kmeans CTE blocks (the emb_kmeans pattern, sliced) and
# re-derives the ADC from the TRAINED codewords.


def _pq_trained_oracle_sql(
    m: int = 8,
    dsub: int = 8,
    n_cw: int = 16,
    iters: int = 1,
    k: int = 10,
    round_dp: int = 6,
) -> str:
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    parts = [
        """
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
)"""
    ]
    for s in range(m):
        lo, hi = s * dsub + 1, s * dsub + dsub
        parts.append(
            f""", e{s} AS (
  SELECT vec_id, v[{lo}:{hi}] AS v FROM e
), c{s}_0 AS (
  SELECT CAST(rn - 1 AS INT) AS cid, v AS c FROM (
    SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM e{s})
  WHERE rn <= {n_cw}
)"""
        )
        for i in range(iters):
            step = d2.format(a="e.v", b="c.c")
            parts.append(
                f""", a{s}_{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM (SELECT e.vec_id, e.v, c.cid, {step} AS d
          FROM e{s} e CROSS JOIN c{s}_{i} c))
  WHERE rn = 1
), c{s}_{i + 1} AS (
  SELECT p.cid, COALESCE(n.c, p.c) AS c
  FROM c{s}_{i} p LEFT JOIN (
    SELECT cid, list(mn ORDER BY i) AS c FROM (
      SELECT cid, i, round(avg(v[i]), {round_dp}) AS mn
      FROM a{s}_{i} CROSS JOIN generate_series(1, {dsub}) g(i)
      GROUP BY cid, i)
    GROUP BY cid) n ON n.cid = p.cid
)"""
            )
    union = "\n  UNION ALL ".join(
        f"SELECT {s} AS s, cid, c FROM c{s}_{iters}" for s in range(m)
    )
    parts.append(
        f""", cw AS (
  {union}
), q AS (
  SELECT g.s, h.v[(g.s*{dsub}+1):(g.s*{dsub}+{dsub})] AS qs
  FROM (SELECT v FROM e ORDER BY vec_id LIMIT 1) h
  CROSS JOIN generate_series(0, {m - 1}) g(s)
), dtab AS (
  SELECT cw.s, cw.cid, {d2.format(a="q.qs", b="cw.c")} AS d
  FROM cw JOIN q USING (s)
), assign AS (
  SELECT vec_id, s, cid FROM (
    SELECT e.vec_id, cw.s, cw.cid,
           row_number() OVER (PARTITION BY e.vec_id, cw.s ORDER BY
             {d2.format(
                 a="e.v[(cw.s*" + str(dsub) + "+1):(cw.s*"
                 + str(dsub) + "+" + str(dsub) + ")]",
                 b="cw.c",
             )}, cw.cid) AS rn
    FROM e CROSS JOIN cw)
  WHERE rn = 1
), adc AS (
  SELECT a.vec_id,
         ROUND(list_sum(list(dtab.d ORDER BY a.s)), 6) AS adc6
  FROM assign a JOIN dtab ON dtab.s = a.s AND dtab.cid = a.cid
  GROUP BY a.vec_id
)
SELECT vec_id,
       CAST(row_number() OVER (ORDER BY adc6, vec_id) AS INT) AS rank,
       ROUND(adc6, 4) AS adc
FROM adc WHERE vec_id <> (SELECT min(vec_id) FROM e)
QUALIFY rank <= {k}
"""
    )
    return "".join(parts)


_PQ_TRAINED_ORACLE = _pq_trained_oracle_sql()


@_q("ann_pq_trained", _PQ_TRAINED_ORACLE)
def ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-10 with Lloyd-TRAINED codebooks: m=8 sub-space
    k-means (k=16, 1 iteration) fused into one distributed pass
    (operators/clustering.train_pq_codebooks), then the zero-shuffle
    ADC scan shared with ann_pq_adc."""
    from information_extraction_spark.operators.clustering import (
        pq_adc_topk_with_codebooks,
        train_pq_codebooks,
    )

    e = _spread(spark, _emb(spark, sf_dir), "vec_id")
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    cbs = train_pq_codebooks(e, m=8, n_codewords=16, iterations=1)
    return pq_adc_topk_with_codebooks(
        e,
        list(qrow["embedding"]),
        cbs,
        k=10,
        exclude_id=qrow["vec_id"],
    )


# --- IVF-PQ: coarse pruning + ADC rescore --------------------------------------
#
# The production ANN architecture (Jégou et al. §IV, IVFADC): the
# coarse quantizer prunes to nprobe=2 inverted lists, and only those
# candidates are scored — with the PQ distance table, not the full
# vectors. Composes the oracle-checked IVF front half (cosine cell
# argmax, probe list) with the oracle-checked ADC scan; candidates
# broadcast to the scan exactly as in ann_ivf_probe, so the
# embeddings side never shuffles and the ADC pass stays narrow.

_IVF_PQ_ORACLE = """
WITH cent AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  ORDER BY vec_id LIMIT 8
), qid AS (SELECT min(vec_id) AS q FROM embeddings),
ac AS (
  SELECT e.vec_id, c.cid, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(c.ce) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN cent c
), a0 AS (
  SELECT vec_id, cid,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cos6
  FROM ac GROUP BY vec_id, cid
), cell AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos6 DESC, cid) AS rn
    FROM a0) t WHERE rn = 1
), probe AS (
  SELECT cid FROM (
    SELECT a0.cid,
           row_number() OVER (ORDER BY a0.cos6 DESC, a0.cid) AS rn
    FROM a0 WHERE a0.vec_id = (SELECT q FROM qid)) t
  WHERE rn <= 2
), cand AS (
  SELECT a.vec_id FROM cell a JOIN probe p USING (cid)
  WHERE a.vec_id <> (SELECT q FROM qid)
), e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), sub AS (
  SELECT s FROM generate_series(0, 7) g(s)
), cw AS (
  SELECT sub.s, CAST(h.rn - 1 AS INT) AS cid,
         h.v[(sub.s*8+1):(sub.s*8+8)] AS c
  FROM (SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM e) h
  CROSS JOIN sub WHERE h.rn <= 16
), qv AS (
  SELECT sub.s, h.v[(sub.s*8+1):(sub.s*8+8)] AS qs
  FROM (SELECT v FROM e ORDER BY vec_id LIMIT 1) h CROSS JOIN sub
), dtab AS (
  SELECT cw.s, cw.cid,
         list_sum(list_transform(list_zip(qv.qs, cw.c),
                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
  FROM cw JOIN qv USING (s)
), codes AS (
  SELECT vec_id, s, cid FROM (
    SELECT ec.vec_id, cw.s, cw.cid,
           row_number() OVER (PARTITION BY ec.vec_id, cw.s ORDER BY
             list_sum(list_transform(
               list_zip(ec.v[(cw.s*8+1):(cw.s*8+8)], cw.c),
               p -> (p[1]-p[2])*(p[1]-p[2]))), cw.cid) AS rn
    FROM (SELECT e.* FROM e JOIN cand USING (vec_id)) ec
    CROSS JOIN cw)
  WHERE rn = 1
), adc AS (
  SELECT a.vec_id,
         ROUND(list_sum(list(dtab.d ORDER BY a.s)), 6) AS adc6
  FROM codes a JOIN dtab ON dtab.s = a.s AND dtab.cid = a.cid
  GROUP BY a.vec_id
)
SELECT vec_id,
       CAST(row_number() OVER (ORDER BY adc6, vec_id) AS INT) AS rank,
       ROUND(adc6, 4) AS adc
FROM adc
QUALIFY rank <= 10
"""


@_q("ann_ivf_pq", _IVF_PQ_ORACLE)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC): probe the query's nprobe=2 coarse cells, then
    ADC-score ONLY those candidates against the PQ distance table —
    the compose of _ivf_quantize's pruning and
    pq_adc_topk_with_codebooks' zero-shuffle scan (candidates
    broadcast; embeddings never shuffle)."""
    from information_extraction_spark.operators.clustering import (
        pq_adc_topk_with_codebooks,
        pq_codebooks,
    )

    e = _spread(spark, _emb(spark, sf_dir), "vec_id").cache()
    try:
        cent_rows, assign, probe = _ivf_quantize(spark, e)
        qid = cent_rows[0]["vec_id"]
        cand = assign.filter(
            F.col("cid").isin(probe) & (F.col("vec_id") != qid)
        ).select("vec_id")
        head = e.orderBy("vec_id").limit(16).collect()
        cbs = pq_codebooks(
            [list(map(float, r["embedding"])) for r in head], 8, 8
        )
        cand_vectors = e.join(F.broadcast(cand), "vec_id")
        return pq_adc_topk_with_codebooks(
            cand_vectors,
            list(map(float, cent_rows[0]["embedding"])),
            cbs,
            k=10,
        )
    finally:
        e.unpersist()


# --- SemDeDup: keep-one over the learned-blocking near-dup pairs --------------
#
# The APPLY step completing the embedding-dedup family (the analogue
# of dd_dup_clusters for dd_embedding_cosine_kmeans): near-dup pairs
# → connected components → every vector labeled with its cluster's
# minimum member and a keep flag (keep exactly the representative;
# singletons keep themselves).

_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE prs AS (
  {_EMB_COS_KMEANS_ORACLE.replace(chr(10), chr(10) + "  ")}
), edges AS (
  SELECT lpad(CAST(va AS VARCHAR), 10, '0') AS a,
         lpad(CAST(vb AS VARCHAR), 10, '0') AS b
  FROM prs
), sym AS (
  SELECT a, b FROM edges UNION SELECT b, a FROM edges
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE r.a <> s.b
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
)
SELECT e.vec_id,
       CAST(COALESCE(CAST(c.component AS BIGINT), e.vec_id) AS BIGINT)
           AS cluster,
       CAST(CASE WHEN COALESCE(CAST(c.component AS BIGINT), e.vec_id)
                      = e.vec_id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM embeddings e
LEFT JOIN comp c ON c.node = lpad(CAST(e.vec_id AS VARCHAR), 10, '0')
"""


@_q("dd_semdedup_keep", _SEMDEDUP_ORACLE)
def dd_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-one: connected components over the k-means-
    blocked cosine pairs, every vector labeled (cluster, keep) by
    ``relabel``, which broadcasts the vectors-in-pairs label table
    onto the full table."""
    from information_extraction_spark.operators.linking import relabel

    pairs = dd_embedding_cosine_kmeans(spark, sf_dir)
    out = relabel(
        _emb(spark, sf_dir).select("vec_id"),
        pairs.select(F.col("va").alias("src"), F.col("vb").alias("dst")),
        cluster="vec_id",
    )
    return out.withColumn(
        "keep", (F.col("cluster") == F.col("vec_id")).cast("int")
    )


# --- TF-IDF keyword extraction + BM25 retrieval --------------------------------
#
# The retrieval/curation pair every corpus pipeline carries: per-doc
# salient terms (TF-IDF top-k — keyword tagging, topic labeling) and
# query-conditioned ranking (BM25 — the dedup-against-eval and
# "find documents like this" primitive). Tokenization is the corpus
# convention (whitespace split, ta_quality's): both sides tokenize
# identically.
#
# Scale shape: the document-frequency table is VOCAB-bounded (Heaps'
# law), so it broadcasts; the corpus streams past it in one narrow
# pass. TF-IDF's per-doc top-k is a row_number window partitioned by
# doc_id — bounded per-partition state, one shuffle on doc_id (the
# natural co-location key: tf is already grouped by it). BM25's
# query-term set is TINY by definition (a query), so scoring is a
# broadcast semi-join — the corpus never shuffles; only the
# doc-sized contribution table aggregates.
#
# Float discipline: idf = ln(ratio) on identical doubles in both
# engines (ta_perplexity precedent); BM25's per-doc sum crosses rows,
# so each term contribution is quantized to 6dp INTEGER micro-units
# first and summed exactly (the ×10^dp rule), then rounded to 4dp.

_TFIDF_ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM w
), tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM w GROUP BY doc_id, word
), df AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
  FROM scored
)
SELECT doc_id, word, tf, df, tfidf, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5
"""


@_q("ta_tfidf_topk", _TFIDF_ORACLE)
@releases_unread_cuts
def ta_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (idf = ln(N/df), raw tf).

    The df table is vocab-bounded → broadcast; tf's groupBy(doc_id,
    word) is the only corpus-sized shuffle and the row_number window
    reuses its doc_id clustering. Rank ties break on the rounded
    score then word, so the 5 rows are deterministic cross-engine."""
    from pyspark.sql import Window

    w = _spread(spark, _docs(spark, sf_dir), "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = w.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("tf")
    )
    tf = cut(tf)  # df + scoring both branch off tf
    df_ = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n = tf.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("df")
                ),
                4,
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("tfidf").desc(), "word"
        )
    )
    return scored.withColumn("rk", rk).filter(F.col("rk") <= 5)


def _bm25_oracle_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), dl AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS tot_len FROM dl
), q AS (
  SELECT word FROM w WHERE word NOT IN {_STOPWORDS}
  GROUP BY word ORDER BY count(*) DESC, word LIMIT 3
), tf AS (
  SELECT w.doc_id, w.word, CAST(count(*) AS BIGINT) AS tf
  FROM w JOIN q USING (word) GROUP BY w.doc_id, w.word
), df AS (
  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
), contrib AS (
  SELECT tf.doc_id,
         CAST(round(1000000.0 * (
           ln((CAST(s.n_docs AS DOUBLE) - df.df + 0.5)
              / (df.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                * CAST(s.n_docs AS DOUBLE) / s.tot_len))
         )) AS BIGINT) AS c
  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats s
), scored AS (
  SELECT doc_id, round(CAST(sum(c) AS BIGINT) / 1e6, 4) AS bm25,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, bm25, n_terms,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rk
FROM scored
QUALIFY rk <= 20
"""


_BM25_ORACLE = _bm25_oracle_sql()


@_q("ta_bm25", _BM25_ORACLE)
@releases_unread_cuts
def ta_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, Lucene +1 idf) top-20 documents for a
    deterministic query: the corpus's 3 most frequent non-stopword
    terms (ties break lexicographically).

    1/(1-b+b·dl/avgdl) is computed as dl·N/tot_len so avgdl never
    exists as a rounded intermediate — one double expression chain on
    exact integers, identical in both engines. Per-term contributions
    quantize to integer micro-units before the per-doc sum (the
    ×10^dp rule: cross-row double addition is order-dependent).
    Top-20 is TakeOrderedAndProject on (score DESC, doc_id), never a
    global sort."""
    from pyspark.sql import Window

    w = _spread(spark, _docs(spark, sf_dir), "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    w = cut(w)  # doc lengths, query pick, tf all branch
    dl = w.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_len"),
    )
    q = (
        w.filter(~F.col("word").isin(STOP))
        .groupBy("word")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), "word")
        .limit(3)
        .select("word")
    )
    tf = (
        w.join(F.broadcast(q), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    denom = F.col("tf") + 1.2 * (
        0.25
        + 0.75
        * F.col("dl")
        * F.col("n_docs").cast("double")
        / F.col("tot_len")
    )
    contrib = (
        tf.join(F.broadcast(df_), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            # Grouping matches the oracle exactly: 1e6 × (idf·tf'/D).
            # IEEE double × is commutative but NOT associative — a
            # different grouping is a different ulp.
            F.round(1000000.0 * (idf * (F.col("tf") * 2.2) / denom))
            .cast("long")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.round(F.sum("c").cast("long") / 1e6, 4).alias("bm25"),
        F.count("*").cast("long").alias("n_terms"),
    )
    rk = F.row_number().over(
        Window.orderBy(F.col("bm25").desc(), "doc_id")
    )
    return (
        scored.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
        .withColumn("rk", rk)
    )


# --- PMI collocations ----------------------------------------------------------
#
# Pointwise-mutual-information bigram collocations (Church & Hanks
# 1990) — the classic phrase-mining signal over a training corpus.
# Integer-exact determinism: instead of comparing ln() outputs across
# engines (libm vs JVM StrictMath can differ in the last ULP and a
# 6dp round can straddle it), both sides emit the PMI *ratio* in
# parts-per-million via pure BIGINT arithmetic — pmi_ratio_ppm =
# (c_xy * N * 10^6) div (c_x * c_y), with N = total bigrams. PMI is
# monotone in the ratio, so ranking/thresholding semantics are
# identical; ln() is presentation, not computation. Scale shape:
# bigram shingling is a narrow in-row transform; the bigram count is
# ONE map-side-combined shuffle over 2-word keys; the unigram table
# is vocabulary-sized and broadcasts into the two endpoint joins
# (vocab >> memory would flip these to shuffle joins on the word
# key — same plan semantics). The c_xy >= 5 support floor is the
# standard collocation noise gate.

_PMI_ORACLE = """
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
), uni AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1
), bg AS (
  SELECT w AS w1, lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM w
), bgc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT CAST(sum(n_xy) AS BIGINT) AS n_bigrams FROM bgc
)
SELECT b.w1, b.w2, b.n_xy, u1.n AS n_x, u2.n AS n_y, tot.n_bigrams,
       CAST((b.n_xy * tot.n_bigrams * 1000000) // (u1.n * u2.n)
            AS BIGINT) AS pmi_ratio_ppm
FROM bgc b
JOIN uni u1 ON u1.word = b.w1
JOIN uni u2 ON u2.word = b.w2
CROSS JOIN tot
WHERE b.n_xy >= 5
"""


@_q("ta_pmi_collocations", _PMI_ORACLE)
def ta_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    uni = toks.groupBy("word").agg(F.count("*").cast("long").alias("n"))
    bigrams = docs.select(
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN"
                " transform(sequence(0, size(split(text, ' ')) - 2),"
                " i -> struct(split(text, ' ')[i] AS w1,"
                " split(text, ' ')[i+1] AS w2))"
                " ELSE array() END"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bgc = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("n_xy")
    )
    tot = bgc.agg(F.sum("n_xy").cast("long").alias("n_bigrams"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("n_x"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("n_y"))
    return (
        bgc.filter(F.col("n_xy") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_xy",
            "n_x",
            "n_y",
            "n_bigrams",
            exact_muldiv(["n_xy", "n_bigrams"], ["n_x", "n_y"], 1_000_000).alias(
                "pmi_ratio_ppm"
            ),
        )
    )


# --- Embedding outlier detection over the learned clusters ---------------------
#
# The data-cleaning step after clustering: vectors far from their
# cluster centroid are mislabeled/noise/contamination candidates
# (the SemDeDup paper's "perceptual outliers" gate). Outlier rule in
# pure integers: a vector is an outlier when its squared distance
# exceeds 1.08x its cluster's mean — evaluated as dist_q * n * 100 >
# 108 * sum_q over the x10^4-quantized distances, (1.08 is this
# fixture's ~99th percentile: i.i.d.-uniform synthetic embeddings
# concentrate distances tightly — max observed ratio 1.112 — where
# real embedding clouds spread far wider; the multiplier is the
# operator's knob, the integer evaluation is the contract), so no double accumulation ever
# reaches the comparison (the same order-independence discipline as
# emb_cluster_sample, which this composes). ratio_ppm = dist_q * n *
# 10^6 div sum_q makes the margin auditable, still BIGINT-exact.
# Scale shape: one k-row stats aggregate above the assignments,
# broadcast back into a narrow filter — nothing beyond emb_kmeans's
# own shuffles moves vector-sized data.

_EMB_OUTLIER_ORACLE = f"""
WITH a AS (
  SELECT vec_id, cid, dist2,
         CAST(round(dist2 * 10000) AS BIGINT) AS dq
  FROM ({_kmeans_oracle_sql()})
), s AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dq) AS BIGINT) AS sum_q
  FROM a GROUP BY cid
)
SELECT a.vec_id, a.cid, a.dist2,
       ROUND(s.sum_q / 10000.0 / s.n, 4) AS mean_dist2,
       CAST(a.dq * s.n * 1000000 // s.sum_q AS BIGINT) AS ratio_ppm
FROM a JOIN s USING (cid)
WHERE a.dq * s.n * 100 > 108 * s.sum_q
"""


@_q("emb_outliers", _EMB_OUTLIER_ORACLE)
def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    assigned = lloyd_kmeans(
        _spread(spark, _emb(spark, sf_dir), "vec_id"), k=8, iterations=3
    ).withColumn("dq", F.round(F.col("dist2") * 10000).cast("long"))
    stats = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dq").cast("long").alias("sum_q"),
    )
    return (
        assigned.join(F.broadcast(stats), "cid")
        .filter(F.col("dq") * F.col("n") * 100 > 108 * F.col("sum_q"))
        .select(
            "vec_id",
            "cid",
            "dist2",
            F.round(
                F.col("sum_q") / F.lit(10000.0) / F.col("n"), 4
            ).alias("mean_dist2"),
            exact_muldiv(["dq", "n"], "sum_q", 1_000_000).alias("ratio_ppm"),
        )
    )


# --- Deterministic weighted sampling (the domain-mix APPLY step) ---------------
#
# ta_domain_mix computes per-language keep RATES; this op APPLIES
# them the only way a 100 TB pipeline can afford: keep doc d iff
# h48(doc_id) < rate * 2^48 — a pure narrow filter on the scan,
# reproducible forever (reruns, backfills, and late shards make
# identical keep decisions with zero coordination; rand() would
# re-roll per run and per task retry, and a task retry under rand()
# even breaks exactly-once sinks). The comparison is pure BIGINT:
# the 4dp-rounded rate becomes rate4 = round(rate*10^4) and the test
# is h48 * 10^4 < rate4 * 2^48 (both sides < 2^63). The rate table
# is language-bounded and broadcasts; the per-language kept counts
# audit that the realized fraction tracks the rate.

from information_extraction_spark.functions.hashing import (  # noqa: E402
    h48 as _h48w,
    h48_sql as _h48w_sql,
)

_WSAMPLE_ORACLE = f"""
WITH per AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(lang_tokens) AS DOUBLE) AS total,
         CAST(count(*) AS DOUBLE) AS n_langs
  FROM per
), rates AS (
  SELECT lang, n_docs,
         CAST(round(round(LEAST(1.0, (tot.total / tot.n_langs)
                                     / per.lang_tokens), 4) * 10000)
              AS BIGINT) AS rate4
  FROM per CROSS JOIN tot
), kept AS (
  SELECT d.doc_id, d.lang
  FROM documents d JOIN rates r USING (lang)
  WHERE {_h48w_sql("CAST(d.doc_id AS VARCHAR)")} * 10000
        < r.rate4 * 281474976710656
)
SELECT r.lang, r.rate4, r.n_docs,
       CAST(count(kept.doc_id) AS BIGINT) AS n_kept
FROM rates r LEFT JOIN kept ON kept.lang = r.lang
GROUP BY 1, 2, 3
"""


@_q("ta_weighted_sample", _WSAMPLE_ORACLE)
def ta_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    per = d.select(
        "lang", F.size(F.split("text", " ")).cast("long").alias("nt")
    ).groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("lang_tokens"),
    )
    tot = per.agg(
        F.sum("lang_tokens").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_langs"),
    )
    rates = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("total") / F.col("n_langs"))
                    / F.col("lang_tokens"),
                ),
                4,
            )
            * 10000
        )
        .cast("long")
        .alias("rate4"),
    )
    kept = d.join(F.broadcast(rates), "lang").filter(
        _h48w(F.col("doc_id").cast("string")) * 10000
        < F.col("rate4") * F.lit(2**48)
    )
    # LEFT join from the rate table so a language sampled to zero
    # still reports its (rate4, n_kept=0) audit row.
    kept_counts = kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept")
    )
    return rates.join(kept_counts, "lang", "left").select(
        "lang",
        "rate4",
        "n_docs",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


# --- BPE merge training (tokenizer training, fixed 3 merges) --------------------
#
# The tokenizer-TRAINING op the catalog's apply-side (p4 wordpiece,
# p8 index/pad) consumes the output of: Sennrich-style byte-pair
# encoding over the corpus vocabulary — repeatedly merge the most
# frequent adjacent symbol pair, weighted by word frequency. Three
# fixed merge rounds (fixed iteration count = the determinism
# contract, as for k-means/PageRank/LPA). Pair counting is the
# standard get_stats (ALL adjacent pairs); the merge applies a
# non-overlapping left-to-right string replace of ' l r ' -> ' lr '
# a FIXED 3 times (one application can leave a residual pair inside
# a same-char run because the match consumes the shared delimiter —
# 3 applications cover runs to length ~8; both engines implement the
# identical fixed semantics, and the unit test pins the run case).
# Scale shape: training runs on the DISTINCT-word table (vocabulary
# cardinality, not corpus cardinality — the wordcount shuffle is the
# only input-sized exchange); each round's argmax is a 1-row
# TakeOrdered collect (the same bounded driver collect as k-means
# centroids); the merge itself is a narrow map. Tie-break:
# (count DESC, left, right) — total order, both engines.

_BPE_ROUNDS = 3


def _bpe_oracle_sql() -> str:
    parts = [
        """
WITH wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1
), s0 AS (
  SELECT word, cnt,
         ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
  FROM wc
)"""
    ]
    for i in range(_BPE_ROUNDS):
        parts.append(
            f""", u{i} AS (
  SELECT word, cnt,
         unnest(string_split(trim(s), ' ')) AS sym,
         generate_subscripts(string_split(trim(s), ' '), 1) AS pos
  FROM s{i}
), p{i} AS (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT cnt, sym AS l,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r
    FROM u{i})
  WHERE r IS NOT NULL GROUP BY 1, 2
), b{i} AS (
  SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1
), s{i + 1} AS (
  SELECT word, cnt,
         replace(replace(replace(s,
           ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
           ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
           ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ')
           AS s
  FROM s{i} CROSS JOIN b{i} b
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INT) AS rank, l AS left_sym,"
        f" r AS right_sym, n AS pair_count FROM b{i}"
        for i in range(_BPE_ROUNDS)
    )
    parts.append("\n" + selects)
    return "".join(parts)


@releases_unread_cuts
def _bpe_train_state(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (final symbol-state DF,
    merge list) — p18 reports the merges, p19 the encoded words. The
    symbol state is cut per round on the round driver."""
    d = _docs(spark, sf_dir)
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    merges = []

    def step(state: DataFrame, i: int) -> DataFrame:
        syms = state.select(
            "cnt", F.split(F.trim(F.col("s")), " ").alias("a")
        )
        pairs = syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "CASE WHEN size(a) >= 2 THEN"
                    " transform(sequence(0, size(a) - 2),"
                    " i -> struct(a[i] AS l, a[i+1] AS r))"
                    " ELSE array() END"
                )
            ).alias("p"),
        ).select("cnt", "p.l", "p.r")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()[0]
        )
        merges.append((i + 1, best["l"], best["r"], best["n"]))
        # The corpus is space-tokenized words, so the learned symbols
        # never contain spaces or quotes — the literals are safe to
        # inline into the replace expression.
        new_s = F.expr(
            f"replace(replace(replace(s,"
            f" ' {best['l']} {best['r']} ', ' {best['l']}{best['r']} '),"
            f" ' {best['l']} {best['r']} ', ' {best['l']}{best['r']} '),"
            f" ' {best['l']} {best['r']} ', ' {best['l']}{best['r']} ')"
        )
        return cut(state.withColumn("s", new_s))

    s0 = F.concat(F.lit(" "), F.concat_ws(" ", F.split("word", "")), F.lit(" "))
    state = cut(wc.select("word", "cnt", s0.alias("s")))
    return iterate(state, step, _BPE_ROUNDS), merges


@_q("p18_bpe_train", _bpe_oracle_sql())
@releases_unread_cuts
def p18_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_train_state(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count long"
    )


# --- BPE encode (tokenizer application) ----------------------------------------
#
# The apply side of p18: every vocabulary word encoded through the
# trained merge table in rank order. At 100 TB this is the narrow hot
# path of tokenization — the merge table is driver-bounded (one row
# per round, exactly the k-means-centroid collect pattern), each
# application is a per-row string map with NO shuffle beyond the
# vocabulary wordcount the training already pays, and the corpus
# joins the encoded VOCABULARY (broadcast) rather than re-encoding
# every occurrence. Oracle: the identical CTE chain as p18, read out
# at the final state instead of the per-round argmax.


def _bpe_encode_oracle_sql() -> str:
    base = _bpe_oracle_sql()
    # keep the WITH chain, swap the final merge-report SELECTs for
    # the encoded-state readout.
    head = base[: base.rindex("\nSELECT CAST(1 AS INT)")]
    return head + f"""
SELECT word, trim(s) AS encoded,
       CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_symbols,
       cnt AS word_count
FROM s{_BPE_ROUNDS}
"""


@_q("p19_bpe_encode", _bpe_encode_oracle_sql())
def p19_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    state, _ = _bpe_train_state(spark, sf_dir)
    return state.select(
        "word",
        F.trim(F.col("s")).alias("encoded"),
        F.size(F.split(F.trim(F.col("s")), " ")).cast("long").alias(
            "n_symbols"
        ),
        F.col("cnt").alias("word_count"),
    )


# --- Power-iteration PCA projection -------------------------------------------
#
# Top principal direction of the mean-centered embedding table by
# fixed-round power iteration (the curation pipeline's 1-D spectral
# coordinate). The oracle chains one (dot, position-sum, normalize)
# CTE trio per round — the fixed-iteration-as-chained-CTEs pattern of
# emb_kmeans/kg_pagerank — with every cross-row sum quantized to
# integer micro-units (BIGINT adds commute; unordered double sums do
# not) and every per-row fold running in position order.


def _pca_oracle_sql(
    dim: int = 64, iterations: int = 3, round_dp: int = 6
) -> str:
    import math as _math

    v0 = round(
        _math.floor(abs(1.0 / _math.sqrt(dim)) * 10**round_dp + 0.5)
        / 10**round_dp,
        round_dp,
    )
    parts = [
        f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), nn AS (SELECT count(*) AS n FROM e),
ms AS (
  SELECT i, sum(CAST(round(v[i] * 1000000) AS BIGINT)) AS s
  FROM e CROSS JOIN generate_series(1, {dim}) g(i)
  GROUP BY i
), mean AS (
  SELECT list(round(CAST(s AS DOUBLE) / 1000000.0 / nn.n, {round_dp})
              ORDER BY i) AS m
  FROM ms, nn GROUP BY nn.n
), c AS (
  SELECT vec_id,
         list_transform(list_zip(v, (SELECT m FROM mean)),
                        p -> p[1] - p[2]) AS x
  FROM e
), v0 AS (
  SELECT list_transform(range(1, {dim + 1}),
                        i -> CAST({v0!r} AS DOUBLE)) AS v
)"""
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f""", d{t} AS (
  SELECT vec_id, x,
         list_sum(list_transform(list_zip(x, (SELECT v FROM v{t - 1})),
                                 p -> p[1] * p[2])) AS dot
  FROM c
), s{t} AS (
  SELECT i, sum(CAST(round(dot * x[i] * 1000000) AS BIGINT)) AS s
  FROM d{t} CROSS JOIN generate_series(1, {dim}) g(i)
  GROUP BY i
), u{t} AS (
  SELECT list(CAST(s AS DOUBLE) / 1000000.0 ORDER BY i) AS u FROM s{t}
), v{t} AS (
  SELECT list_transform(
           u, y -> round(y / sqrt(list_sum(list_transform(u, z -> z * z))),
                         {round_dp})) AS v
  FROM u{t}
)"""
        )
    parts.append(
        f"""
SELECT vec_id,
       ROUND(list_sum(list_transform(
               list_zip(x, (SELECT v FROM v{iterations})),
               p -> p[1] * p[2])), 4) + 0.0 AS proj
FROM c"""
    )
    return "".join(parts)


_PCA_ORACLE = _pca_oracle_sql()


@_q("emb_pca_power", _PCA_ORACLE)
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the top principal direction
    (operators/clustering.power_iteration_pca, 3 power-iteration
    rounds): the d×d covariance never materializes — each round is
    one narrow in-order dot map plus ONE map-side-combined shuffle
    keyed on the dim positions (dim groups at any corpus size) and a
    dim-scalar driver collect. Cross-row sums quantize to integer
    micro-units; iterates round half-away to 6dp; sign pinned by the
    constant positive init."""
    from information_extraction_spark.operators.clustering import (
        power_iteration_pca,
    )

    return power_iteration_pca(
        _spread(spark, _emb(spark, sf_dir), "vec_id"), dim=64, iterations=3
    )


# --- Batch gradient-descent linear regression ---------------------------------
#
# The TRAINING loop seam (not inference): fixed-round full-batch GD
# of the label column on the embedding features. Per round the oracle
# chains (residual, position-sums, weight-update, bias-update) CTEs —
# the emb_kmeans / emb_pca_power fixed-iteration playbook, with the
# bias gradient riding the same pass as a 65th aggregate.


def _linreg_oracle_sql(
    dim: int = 64, iterations: int = 3, lr: float = 0.1, round_dp: int = 6
) -> str:
    parts = [
        f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS x,
         CAST(label AS DOUBLE) AS y
  FROM embeddings
), nn AS (SELECT count(*) AS n FROM e),
w0 AS (
  SELECT i, CAST(0.0 AS DOUBLE) AS wv
  FROM generate_series(1, {dim}) g(i)
), b0 AS (SELECT CAST(0.0 AS DOUBLE) AS bv)"""
    ]
    for t in range(1, iterations + 1):
        p = t - 1
        parts.append(
            f""", d{t} AS (
  SELECT vec_id, x, y,
         list_sum(list_transform(
           list_zip(x, (SELECT list(wv ORDER BY i) FROM w{p})),
           p -> p[1] * p[2])) + (SELECT bv FROM b{p}) - y AS err
  FROM e
), s{t} AS (
  SELECT i, sum(CAST(round(err * x[i] * 1000000) AS BIGINT)) AS s
  FROM d{t} CROSS JOIN generate_series(1, {dim}) g(i)
  GROUP BY i
), sb{t} AS (
  SELECT sum(CAST(round(err * 1000000) AS BIGINT)) AS s FROM d{t}
), w{t} AS (
  SELECT w.i,
         round(w.wv - {lr!r} * (2.0 * (CAST(s.s AS DOUBLE) / 1000000.0)
                                / nn.n), {round_dp}) AS wv
  FROM w{p} w JOIN s{t} s USING (i), nn
), b{t} AS (
  SELECT round(b.bv - {lr!r} * (2.0 * (CAST(sb.s AS DOUBLE) / 1000000.0)
                                / nn.n), {round_dp}) AS bv
  FROM b{p} b, sb{t} sb, nn
)"""
        )
    parts.append(
        f"""
SELECT vec_id,
       ROUND(list_sum(list_transform(
               list_zip(x, (SELECT list(wv ORDER BY i) FROM w{iterations})),
               p -> p[1] * p[2])) + (SELECT bv FROM b{iterations}), 4)
       + 0.0 AS pred
FROM e"""
    )
    return "".join(parts)


_LINREG_ORACLE = _linreg_oracle_sql()


@_q("emb_linreg_gd", _LINREG_ORACLE)
def emb_linreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector prediction after 3 full-batch GD rounds of label on
    the embedding features (operators/clustering.linreg_gd): each
    round is one narrow residual map plus ONE map-side-combined
    shuffle keyed on the dim positions (dim+1 bounded groups — the
    bias gradient is a second aggregate on the same pass) and a
    dim+1-scalar driver collect; weights re-enter as plan literals.
    Micro-unit quantized gradient sums; half-away 6dp updates."""
    from information_extraction_spark.operators.clustering import (
        linreg_gd,
    )

    return linreg_gd(
        _spread(spark, _emb(spark, sf_dir), "vec_id"),
        dim=64,
        iterations=3,
        lr=0.1,
    )


# --- Gopher-style repetition signals -------------------------------------------
#
# The quality-filter family's repetition leg (Rae et al. 2021 §A1.1
# shape, adapted to the whitespace-token corpus): per document, the
# fraction of token occurrences whose token repeats within the doc,
# and the share of bigram slots taken by the single most frequent
# bigram. High values flag boilerplate / degenerate generations — the
# standard pre-training curation gate alongside ta_quality.
#
# Scale shape: the bigram list is built WITHIN the row by a
# higher-order transform (no self-join, no window); both count
# aggregations shuffle once on (doc_id, gram) with map-side combine
# and re-aggregate on the same doc_id key (one exchange reused). The
# top-bigram pick is deterministic under ties: max count first, then
# lexicographic min — computed as agg + filter-join-back, never a
# nondeterministic max_by.
#
# Integer discipline: both fractions are ppm via BIGINT floor
# division (Spark `div` == DuckDB `//`); docs with fewer than 2
# tokens have no bigram slots and are excluded on both sides.

_TA_REP_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), w AS (
  SELECT doc_id, unnest(ws) AS word FROM d
), wc AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM w GROUP BY 1, 2
), tok AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM wc GROUP BY 1
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM d
), bc AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
  FROM bg GROUP BY 1, 2
), bt AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
         CAST(max(c) AS BIGINT) AS max_c
  FROM bc GROUP BY 1
), top AS (
  SELECT bc.doc_id, min(bc.gram) AS top_bigram
  FROM bc JOIN bt ON bc.doc_id = bt.doc_id AND bc.c = bt.max_c
  GROUP BY 1
)
SELECT tok.doc_id, tok.n_tokens,
       (tok.dup * 1000000) // tok.n_tokens AS dup_token_ppm,
       top.top_bigram,
       (bt.max_c * 1000000) // bt.n_bigrams AS top_bigram_ppm
FROM tok JOIN bt ON tok.doc_id = bt.doc_id
JOIN top ON tok.doc_id = top.doc_id
"""


@_q("ta_repetition", _TA_REP_ORACLE)
def ta_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _spread(spark, _docs(spark, sf_dir), "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    wc = (
        d.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tok = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("dup"),
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> concat(ws[i], ' ', ws[i + 1]))"
            )
        ).alias("gram"),
    )
    bc = grams.groupBy("doc_id", "gram").agg(
        F.count("*").cast("long").alias("c")
    )
    bt = bc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.max("c").cast("long").alias("max_c"),
    )
    top = (
        bc.join(bt, "doc_id")
        .filter(F.col("c") == F.col("max_c"))
        .groupBy("doc_id")
        .agg(F.min("gram").alias("top_bigram"))
    )
    return (
        tok.join(bt, "doc_id")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            exact_muldiv("dup", "n_tokens", 1_000_000).alias("dup_token_ppm"),
            "top_bigram",
            exact_muldiv("max_c", "n_bigrams", 1_000_000).alias("top_bigram_ppm"),
        )
    )


# --- Signed random projection (Johnson-Lindenstrauss sketch) --------------------
#
# Dimensionality reduction for the embedding table: project the
# 64-dim vectors onto 16 fixed ±1 hyperplane directions — the JL /
# SimHash-style sketch that feeds cheap downstream clustering and the
# coarse leg of two-stage ANN. The sign matrix is a pure function of
# (in_dim, out_dim) via the portable h48 md5 parity, so BOTH engines
# (and any executor, any round) regenerate it bit-identically —
# nothing random at runtime, nothing shipped but 16 literal arrays.
#
# Scale shape: entirely within-row (zip_with + aggregate fold per
# output dim) — a narrow map with ZERO shuffles and no UDF; the
# posexplode only widens rows 16x after the arithmetic. Determinism:
# per-component contributions quantize to integer micro-units inside
# the row fold and the projection stays in exact BIGINT micro-units —
# a final 4dp double round would land on .5 boundaries where Spark's
# BigDecimal HALF_UP and DuckDB's binary-double round() disagree.


def _rproj_signs(in_dim: int = 64, out_dim: int = 16) -> list[list[int]]:
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:12], 16
            )
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


_RPROJ_H = _h48w_sql("CAST(i.i AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)")

_RPROJ_ORACLE = f"""
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         CAST(embedding AS DOUBLE[]) AS x
  FROM embeddings
), m AS (
  SELECT i.i AS i, j.j AS j,
         CASE WHEN {_RPROJ_H} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM generate_series(0, 63) i(i)
  CROSS JOIN generate_series(0, 15) j(j)
), c AS (
  SELECT e.vec_id, m.j,
         CAST(round(e.x[m.i + 1] * m.s * 1000000) AS BIGINT) AS cu
  FROM e CROSS JOIN m
)
SELECT vec_id, CAST(j AS INT) AS out_dim,
       CAST(sum(cu) AS BIGINT) AS proj_u6
FROM c GROUP BY 1, 2
"""


@_q("emb_rproj", _RPROJ_ORACLE)
def emb_rproj(spark: SparkSession, sf_dir: str) -> DataFrame:
    signs = _rproj_signs()
    e = _spread(spark, _emb(spark, sf_dir), "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("x"),
    )
    projs = []
    for j in range(16):
        s_lit = F.array(*[F.lit(s) for s in signs[j]])
        cu = F.zip_with(
            F.col("x"),
            s_lit,
            lambda a, b: F.round(a * b * 1000000).cast("long"),
        )
        projs.append(
            F.aggregate(cu, F.lit(0).cast("long"), lambda acc, v: acc + v)
        )
    return e.select(
        "vec_id",
        F.posexplode(F.array(*projs)).alias("out_dim", "proj_u6"),
    )


# --- Int8 symmetric embedding quantization --------------------------------------
#
# The vector-storage compressor: per-vector symmetric int8
# quantization (q_i = round(x_i * 127 / max|x|), scale kept
# alongside) — 4x smaller vectors for the ANN candidate tier, the
# same layout faiss/ScaNN storage uses. Entirely within-row: one
# narrow map, ZERO shuffles; the posexplode widens before the
# per-component rounding so that it runs in generated code (Spark
# interprets a transform lambda).
#
# Integer discipline end-to-end: components quantize to micro-units
# (xi6), the per-vector max rides array_max, and the int8 code is the
# EXACT half-away-from-zero rounding of xi6*127/m6 computed purely in
# BIGINT — sign(n) * ((|n|*254 + m6) div (2*m6)) — because a double
# x*127/maxabs would round differently across engines on .5
# boundaries. Negative operands never reach div/(//), whose
# truncate-vs-floor semantics differ between Spark and DuckDB.

_QUANT_ORACLE = """
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(round(v * 1000000) AS BIGINT)) AS xi6
  FROM embeddings
), m AS (
  SELECT vec_id, xi6,
         list_max(list_transform(xi6, v -> abs(v))) AS m6
  FROM e
), q AS (
  SELECT vec_id, m6, i.i AS dim_i,
         CASE WHEN xi6[i.i + 1] >= 0 THEN 1 ELSE -1 END
           * ((abs(xi6[i.i + 1]) * 254 + m6) // (2 * m6)) AS q
  FROM m CROSS JOIN generate_series(0, 63) i(i)
  WHERE m6 > 0
)
SELECT vec_id, CAST(dim_i AS INT) AS dim_i, CAST(q AS BIGINT) AS q,
       CAST(m6 AS BIGINT) AS m6
FROM q
"""


@_q("emb_quantize", _QUANT_ORACLE)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _spread(spark, _emb(spark, sf_dir), "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda v: F.round(v * 1000000).cast("long"),
        ).alias("xi6"),
    )
    m = e.withColumn(
        "m6", F.array_max(F.transform("xi6", lambda v: F.abs(v)))
    ).filter(F.col("m6") > 0)
    # Exact half-away rounding on the non-negative numerator (a
    # double `/` then cast would mis-truncate exact integer
    # quotients). The greatest(m6, 1) guard is for ANSI mode only:
    # Catalyst may evaluate the rounding in the SAME codegen stage as
    # the m6 > 0 filter, so the expression must be total even though
    # m6 = 0 rows never survive; for surviving rows greatest is
    # identity.
    x = m.select("vec_id", F.posexplode("xi6").alias("dim_i", "v"), "m6")
    return x.select(
        "vec_id",
        "dim_i",
        (
            F.when(F.col("v") >= 0, 1).otherwise(-1)
            * exact_muldiv(
                F.abs("v") * 254 + F.col("m6"), [2, F.greatest("m6", F.lit(1))], 1
            )
        ).alias("q"),
        "m6",
    )


# --- Shingle-set containment (PPJoin prefix-filter) ----------------------------
#
# Asymmetric near-dup: is the smaller document's shingle set (near-)
# CONTAINED in the larger's — the sub-document duplication case
# (quotes, boilerplate inclusion, re-posts with additions) that
# symmetric Jaccard under-scores: a 100-line doc fully pasted into a
# 10,000-line doc has Jaccard ~0.01 but containment 1.0.
#
# Scale path — the PPJoin/prefix-filter algorithm (Xiao et al. 2008,
# published; implemented from the paper's idea, no reference
# counterpart): containment(A→B) >= 0.8 means A misses at most
# floor(0.2|A|) of its shingles in B, so at least one of A's
# floor(0.2|A|)+1 RAREST shingles (global ascending document
# frequency, shingle as tie-break — rare tokens make candidate lists
# short) must appear in B. Candidates therefore come from an
# equi-join of A-prefixes against full shingle postings — LOSSLESS
# for the threshold (pigeonhole), linear in posting-list sizes, never
# an all-pairs join. Exact verification (array_intersect on the
# collected sets) runs only on surviving pairs behind the pushdown
# barrier. Threshold 0.6 (allowed misses floor(0.4|A|), prefix
# floor(0.4|A|)+1) — the corpus's containment distribution puts real
# pairs at 0.6-0.8 and none at 0.8 on the demo slice.
#
# Scope: single-language slice (lang = 'en', doc_id % 3 = 0) — the
# all-pairs oracle proving the blocked plan lossless is quadratic by
# nature, so the demo slice keeps it tractable; the Spark plan itself
# carries no quadratic stage. Threshold test is exact integer
# (5i >= 3*na <=> floor ppm >= 600000).

_CONTAIN_ORACLE = """
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE lang = 'en' AND doc_id % 3 = 0
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                               i -> substring(text, CAST(i AS INT), 5))) AS s
  FROM d
), sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1
), i AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.da, i.db, x.n AS na, y.n AS nb, i.i,
       CAST((i.i * 1000000) // x.n AS BIGINT) AS cont_ppm
FROM i JOIN sz x ON i.da = x.doc_id JOIN sz y ON i.db = y.doc_id
WHERE (x.n < y.n OR (x.n = y.n AND i.da < i.db)) AND i.i * 5 >= 3 * x.n
"""


@_q("dd_containment", _CONTAIN_ORACLE)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from information_extraction_spark.functions.barrier import (
        pushdown_barrier,
    )

    docs = _docs(spark, sf_dir).filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)
    )
    positions = F.when(
        F.length("text") >= 5, F.sequence(F.lit(1), F.length("text") - 4)
    ).otherwise(F.array().cast("array<int>"))
    sh = (
        _spread(spark, docs, "doc_id")
        .withColumn("pos", F.explode(positions))
        .select("doc_id", F.expr("substring(text, pos, 5)").alias("s"))
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    dfreq = sh.groupBy("s").agg(
        F.count("*").cast("long").alias("dfreq")
    )
    w = Window.partitionBy("doc_id").orderBy("dfreq", "s")
    prefix = (
        sh.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w))
        .join(sz, "doc_id")
        .filter(F.col("rn") <= exact_muldiv("n", 5, 2) + 1)
        .select(F.col("doc_id").alias("da"), "s")
    )
    cand = (
        prefix.join(
            sh.select(F.col("doc_id").alias("db"), "s"), "s"
        )
        .filter(F.col("da") != F.col("db"))
        .select("da", "db")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("s")).alias("ws")
    )
    pa = sets.select(
        F.col("doc_id").alias("da"),
        F.col("ws").alias("wa"),
        F.size("ws").cast("long").alias("na"),
    )
    pb = sets.select(
        F.col("doc_id").alias("db"),
        F.col("ws").alias("wb"),
        F.size("ws").cast("long").alias("nb"),
    )
    pairs = (
        cand.join(pa, "da")
        .join(pb, "db")
        .filter(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("da") < F.col("db")))
        )
        .withColumn(
            "i", F.size(F.array_intersect("wa", "wb")).cast("long")
        )
    )
    return pairs.filter(
        pushdown_barrier(F.col("i") * 5 >= F.col("na") * 3)
    ).select(
        "da",
        "db",
        "na",
        "nb",
        "i",
        exact_muldiv("i", "na", 1_000_000).alias("cont_ppm"),
    )


# --- Second-moment accumulation (covariance numerators) --------------------------
#
# The distributed statistics pass a whitening/PCA-preprocessing stage
# runs: exact integer accumulation of the first-8-dimension second
# moments — Σ x_i·x_j for every i <= j — plus the marginal sums and
# the count, from which covariance/correlation are one driver-side
# division away. Emitting the NUMERATORS in BIGINT micro-units (the
# ×10^dp rule) instead of finished covariances keeps both engines
# bit-exact AND keeps the partials mergeable: two corpus shards'
# moment tables combine by plain addition, the property streaming /
# incremental stats need.
#
# Scale shape: the 36 (i, j) products are built WITHIN the row by
# inline() over literal index pairs — no self-join on vec_id, no
# double explode; the only shuffle is the 36-group (plus 8 marginal)
# map-side-combined aggregate. At any corpus size the output is 36
# rows.

_MOM_PAIRS = [(i, j) for i in range(8) for j in range(8) if i <= j]

_MOMENTS_ORACLE = """
WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), p AS (
  SELECT i.i AS i, j.j AS j
  FROM generate_series(0, 7) i(i) JOIN generate_series(0, 7) j(j)
    ON i.i <= j.j
), s AS (
  SELECT p.i, p.j,
         CAST(sum(CAST(round(e.x[p.i + 1] * e.x[p.j + 1] * 1000000)
                       AS BIGINT)) AS BIGINT) AS sij6,
         CAST(count(*) AS BIGINT) AS n
  FROM e CROSS JOIN p GROUP BY 1, 2
), m AS (
  SELECT g.i AS i,
         CAST(sum(CAST(round(e.x[g.i + 1] * 1000000) AS BIGINT))
              AS BIGINT) AS s6
  FROM e CROSS JOIN generate_series(0, 7) g(i) GROUP BY 1
)
SELECT s.i, s.j, s.n, s.sij6, mi.s6 AS si6, mj.s6 AS sj6
FROM s JOIN m mi ON s.i = mi.i JOIN m mj ON s.j = mj.i
"""


@_q("emb_moments", _MOMENTS_ORACLE)
def emb_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _spread(spark, _emb(spark, sf_dir), "vec_id").select(
        F.col("embedding").cast("array<double>").alias("x")
    )
    pair_structs = ", ".join(
        f"struct({i} as i, {j} as j,"
        f" cast(round(x[{i}] * x[{j}] * 1000000) as bigint) as cij6,"
        f" cast(round(x[{i}] * 1000000) as bigint) as ci6,"
        f" cast(round(x[{j}] * 1000000) as bigint) as cj6)"
        for i, j in _MOM_PAIRS
    )
    rows = e.select(F.expr(f"inline(array({pair_structs}))"))
    return rows.groupBy("i", "j").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cij6").cast("long").alias("sij6"),
        F.sum("ci6").cast("long").alias("si6"),
        F.sum("cj6").cast("long").alias("sj6"),
    )


# --- k-NN similarity graph (learned-blocking construction) -----------------------
#
# GNN / semi-supervised prep: the top-4 cosine neighbor list of EVERY
# vector, candidates blocked on the learned k-means cluster (the
# dd_embedding_cosine_kmeans universe — never an unblocked self-join;
# the recall trade of learned blocking is inherent and documented
# there). Ranking is fully deterministic: (cos4 DESC, neighbor id
# ASC) under a row_number window keyed on the anchor — ties at equal
# rounded similarity always resolve the same way in both engines.

_KNN_GRAPH_ORACLE = f"""
WITH km AS (
  SELECT vec_id, cid FROM ({_kmeans_oracle_sql()})
), p AS (
  SELECT a.vec_id AS src, b.vec_id AS nb,
         a.embedding AS ea, b.embedding AS eb
  FROM embeddings a
  JOIN km ka ON ka.vec_id = a.vec_id
  JOIN km kb ON kb.cid = ka.cid
  JOIN embeddings b ON b.vec_id = kb.vec_id AND a.vec_id <> b.vec_id
), u AS (
  SELECT src, nb, CAST(unnest(ea) AS DOUBLE) AS xa,
         CAST(unnest(eb) AS DOUBLE) AS xb
  FROM p
), c AS (
  SELECT src, nb,
         round(sum(xa * xb)
               / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 4) AS cos4
  FROM u GROUP BY src, nb
)
SELECT src, nb, CAST(rn AS BIGINT) AS rank, cos4 FROM (
  SELECT src, nb, cos4,
         row_number() OVER (
           PARTITION BY src ORDER BY cos4 DESC, nb) AS rn
  FROM c)
WHERE rn <= 4
"""


def _knn_pairs(spark: SparkSession, sf_dir: str):
    """Within-cluster directed cosine pairs (src, nb, cos4, labels)."""
    from pyspark.sql import Window

    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    e0 = _spread(spark, _emb(spark, sf_dir), "vec_id")
    assigned = lloyd_kmeans(e0, k=8, iterations=3).select("vec_id", "cid")
    e = e0.join(assigned, "vec_id").withColumn(
        "nrm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    )
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return pairs.select(
        F.col("a.vec_id").alias("src"),
        F.col("a.label").alias("src_label"),
        F.col("b.vec_id").alias("nb"),
        F.col("b.label").alias("nb_label"),
        F.round(cos, 4).alias("cos4"),
    )


@_q("emb_knn_graph", _KNN_GRAPH_ORACLE)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        F.col("cos4").desc(), F.col("nb")
    )
    return (
        _knn_pairs(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 4)
        .select("src", "nb", "rank", "cos4")
    )


# --- k-truss cores of the k-NN graph ----------------------------------------------
#
# Dense-region extraction one notch stricter than k-core: an edge of
# the mutual-similarity graph survives a 4-truss round only while it
# sits in >= 2 triangles of the CURRENT graph, so chains and hub
# stars (which k-core keeps when degrees are high) fall away and
# what remains is overlapping-triangle cores — the "confident
# cluster seeds" of an embedding-space dedup/curation pipeline
# (cf. Cohen, "Trusses: cohesive subgraphs", 2008). Two fixed prune
# rounds are the determinism contract (kcore_peel's reasoning); the
# oracle chains the same two support+prune steps as CTEs over the
# identical kNN edge base. Load-bearing at the gate scale: 1308
# kNN-closure edges -> 178 after round 1 -> the surviving core after
# round 2, support recomputed each round on the shrunk graph. Every
# CTE read more than once is MATERIALIZED: DuckDB otherwise inlines
# it per reference, replaying the k-means + kNN chain under each of
# the triangle self-joins (out of memory at sf0.001 on a 15 GB host).

_KTRUSS_ORACLE = f"""
WITH knn AS ({_KNN_GRAPH_ORACLE}),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, nb) AS s, greatest(src, nb) AS d FROM knn
), t1 AS MATERIALIZED (
  SELECT x.s AS a, x.d AS b, y.d AS c
  FROM e0 x JOIN e0 y ON y.s = x.d JOIN e0 z ON z.s = x.s AND z.d = y.d
), s1 AS (
  SELECT s, d, CAST(count(*) AS BIGINT) AS sup FROM (
    SELECT a AS s, b AS d FROM t1
    UNION ALL SELECT b, c FROM t1
    UNION ALL SELECT a, c FROM t1)
  GROUP BY 1, 2
), e1 AS MATERIALIZED (
  SELECT e0.s, e0.d FROM e0 JOIN s1 USING (s, d) WHERE s1.sup >= 2
), t2 AS MATERIALIZED (
  SELECT x.s AS a, x.d AS b, y.d AS c
  FROM e1 x JOIN e1 y ON y.s = x.d JOIN e1 z ON z.s = x.s AND z.d = y.d
), s2 AS (
  SELECT s, d, CAST(count(*) AS BIGINT) AS sup FROM (
    SELECT a AS s, b AS d FROM t2
    UNION ALL SELECT b, c FROM t2
    UNION ALL SELECT a, c FROM t2)
  GROUP BY 1, 2
)
SELECT e1.s AS src, e1.d AS dst, s2.sup AS support
FROM e1 JOIN s2 USING (s, d) WHERE s2.sup >= 2
"""


@_q("emb_ktruss", _KTRUSS_ORACLE)
def emb_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the undirected kNN-graph closure (see block
    comment); operators/graph.ktruss_edges does the fixed-round
    support+prune loop over the degree-ordered triangle
    enumeration."""
    from information_extraction_spark.operators.graph import ktruss_edges

    knn = emb_knn_graph(spark, sf_dir)
    e = knn.select(
        F.least("src", "nb").alias("src"),
        F.greatest("src", "nb").alias("dst"),
    ).distinct()
    return ktruss_edges(e, k=4, rounds=2)


# --- Hard-negative triplet mining -------------------------------------------------
#
# Metric-learning data prep: for each anchor, the HARDEST in-cluster
# negative — the most cosine-similar vector carrying a DIFFERENT
# label (semi-hard mining à la FaceNet, done corpus-wide as one
# query). Same blocked pair universe as the k-NN graph; the argmax is
# a row_number over (cos4 DESC, nb ASC) after the label-mismatch
# filter, so ties resolve identically in both engines.

_TRIPLET_ORACLE = f"""
WITH km AS (
  SELECT vec_id, cid FROM ({_kmeans_oracle_sql()})
), p AS (
  SELECT a.vec_id AS src, a.label AS src_label,
         b.vec_id AS nb, b.label AS nb_label,
         a.embedding AS ea, b.embedding AS eb
  FROM embeddings a
  JOIN km ka ON ka.vec_id = a.vec_id
  JOIN km kb ON kb.cid = ka.cid
  JOIN embeddings b ON b.vec_id = kb.vec_id AND a.vec_id <> b.vec_id
  WHERE a.label <> b.label
), u AS (
  SELECT src, src_label, nb, nb_label,
         CAST(unnest(ea) AS DOUBLE) AS xa,
         CAST(unnest(eb) AS DOUBLE) AS xb
  FROM p
), c AS (
  SELECT src, src_label, nb, nb_label,
         round(sum(xa * xb)
               / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 4) AS cos4
  FROM u GROUP BY src, src_label, nb, nb_label
)
SELECT src, CAST(src_label AS BIGINT) AS src_label,
       nb AS hard_neg, CAST(nb_label AS BIGINT) AS neg_label, cos4
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY src ORDER BY cos4 DESC, nb) AS rn
  FROM c)
WHERE rn = 1
"""


@_q("emb_triplet_mining", _TRIPLET_ORACLE)
def emb_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(
        F.col("cos4").desc(), F.col("nb")
    )
    return (
        _knn_pairs(spark, sf_dir)
        .filter(F.col("src_label") != F.col("nb_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "src",
            F.col("src_label").cast("long").alias("src_label"),
            F.col("nb").alias("hard_neg"),
            F.col("nb_label").cast("long").alias("neg_label"),
            "cos4",
        )
    )


# --- N-gram novelty scoring -------------------------------------------------------
#
# Curation-order novelty: per document, what fraction of its word
# 8-grams has NEVER appeared in an earlier document (doc_id order —
# the crawl/ingest order a dedup-aware sampler consumes). The
# Lee et al. (2022) "what does this doc add" signal: near-1 novelty
# is fresh content, near-0 is boilerplate the corpus already holds.
#
# Scale shape: the ONLY shuffle keyed on the gram string is the
# min-doc_id-per-gram aggregate (map-side combined); novelty then
# re-aggregates on doc_id. A gram's first bearer scores it novel —
# no per-pair comparisons, no quadratic stage, exactly the
# ta_contamination gram machinery pointed inward. Distinct grams per
# doc (set semantics, like ta_selfsim_spans); docs with fewer than 8
# tokens carry no grams and are excluded on both sides. BIGINT ppm.

_NOVELTY_ORACLE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 8
), g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws) - 6),
                i -> array_to_string(ws[i:i+7], ' '))) AS gram
  FROM w
), first_seen AS (
  SELECT gram, CAST(min(doc_id) AS BIGINT) AS first_doc FROM g GROUP BY 1
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST((sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS novelty_ppm
FROM g JOIN first_seen f ON g.gram = f.gram
GROUP BY 1
"""


@_q("ta_novelty", _NOVELTY_ORACLE)
def ta_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _spread(spark, _docs(spark, sf_dir), "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 8)
    )
    g = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 8),"
                " i -> array_join(slice(ws, i + 1, 8), ' '))"
            )
        ).alias("gram"),
    ).distinct()
    first_seen = g.groupBy("gram").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    scored = g.join(first_seen, "gram").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_novel"),
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_novel",
        exact_muldiv("n_novel", "n_grams", 1_000_000).alias("novelty_ppm"),
    )


# --- Cross-document repeated spans (exact substring dedup) -----------------------
#
# The deduplicate-text-datasets semantic (Lee et al., "Deduplicating
# Training Data Makes Language Models Better"): find the maximal runs
# of text REPEATED VERBATIM across documents — boilerplate, license
# headers, syndicated passages — as candidates for span-level removal
# (where doc-level MinHash would either keep the duplication or drop
# a mostly-unique document). A position is "duplicated" when its word
# 8-gram occurs in >= 2 DISTINCT documents; consecutive duplicated
# positions merge into one span (gaps-and-islands), reported with its
# word extent (a run of k consecutive 8-grams covers k+7 words).
#
# Scale shape: gram table built in one narrow pass (md5 keys — never
# ship raw 8-grams); duplicated grams found with ONE map-side-combined
# shuffle on the gram hash (count(distinct doc) >= 2); the join back
# is the one big-big equi-join (both sides are corpus-sized — no
# broadcast assumed, unlike ta_contamination's small eval side); the
# island merge is a per-doc window over only the SURVIVING positions.
# The suffix-array original is a single-machine algorithm; the
# gram-anchor formulation is its shuffle-native equivalent (8-gram
# resolution instead of arbitrary-length suffixes).

_DUP_SPANS_ORACLE = """
WITH grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(string_split(text, ' ')[i:i+7], ' ')) AS g
  FROM documents,
       unnest(range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)) t(i)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT DISTINCT gr.doc_id, gr.pos FROM grams gr JOIN dup USING (g)
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS anchor
  FROM hits
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS start_pos,
       CAST(max(pos) AS BIGINT) AS end_pos,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) + 7 AS BIGINT) AS span_words
FROM isl
GROUP BY doc_id, anchor
"""


@_q("dd_dup_spans", _DUP_SPANS_ORACLE)
def dd_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    words = F.split("text", " ")
    positions = F.when(
        F.size(words) >= 8, F.sequence(F.lit(1), F.size(words) - 7)
    ).otherwise(F.array().cast("array<int>"))
    grams = d.withColumn("pos", F.explode(positions)).select(
        "doc_id",
        "pos",
        F.md5(F.concat_ws(" ", F.slice(words, F.col("pos"), 8))).alias("g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("g")
    )
    hits = (
        grams.join(dup, "g").select("doc_id", "pos").distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "anchor", F.col("pos") - F.row_number().over(w)
    )
    return isl.groupBy("doc_id", "anchor").agg(
        F.min("pos").cast("long").alias("start_pos"),
        F.max("pos").cast("long").alias("end_pos"),
        F.count("*").cast("long").alias("n_grams"),
        (F.count("*") + 7).cast("long").alias("span_words"),
    ).drop("anchor")


# --- Edit-distance near-dup (blocked, thresholded Levenshtein) ----------------
#
# The character-level complement to the token-level dd_ngram_jaccard:
# OCR noise, typo variants, and template fills that token Jaccard
# misses (one changed character per word kills every shingle) sit
# within a small edit distance. Blocking is the SAME lossless
# (lang, 20-char band ±1) trick — levenshtein(a,b) >= |len(a)-len(b)|,
# so distance <= 20 implies the length band differs by at most 1 —
# and the distance itself runs THRESHOLDED (Spark's 3-arg
# levenshtein, Ukkonen banding: O(k·n) per pair instead of O(n²),
# returning -1 past the cap) so a 100 TB corpus pays the quadratic DP
# only inside the k-band of surviving candidates. The barrier keeps
# even that out of the join condition (it would run twice per
# candidate as a pushed predicate).

_EDIT_ORACLE = """
WITH d AS (SELECT doc_id, lang, text, n_chars FROM documents)
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 20
WHERE levenshtein(a.text, b.text) <= 20
"""


@_q("dd_edit_distance", _EDIT_ORACLE)
def dd_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.functions.barrier import (
        pushdown_barrier,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang", "text", "n_chars")
    d = _spread(spark, d, "doc_id")
    bucket = F.floor(F.col("n_chars") / 20)
    a = d.withColumn(
        "bkt", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    ).alias("a")
    b = d.withColumn("bkt", bucket).alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # lossless prune: levenshtein >= |len diff|
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 20),
    ).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        # thresholded: bails out of the DP past 20 edits, returns -1
        F.levenshtein(F.col("a.text"), F.col("b.text"), 20)
        .cast("long")
        .alias("dist"),
    )
    return pairs.filter(pushdown_barrier(F.col("dist") >= 0))


# --- Positional-index phrase search --------------------------------------------
#
# The retrieval primitive ta_bm25's bag-of-words scoring can't
# express: exact PHRASE occurrence via positional posting lists —
# the two terms' postings equi-joined on (doc_id, pos + 1), the
# classic phrase-query plan. The phrase under test is derived from
# the corpus itself (its most frequent bigram, ties lexicographic) so
# the query is scale-independent; the argmax is one map-side-combined
# bigram count + a 1-row TakeOrdered collect (the k-means-centroid
# pattern). Scale shape: the posting lists are FILTERED to the two
# phrase terms before the join (predicate pushdown to the token
# scan), so the adjacency join moves two posting lists, not the
# corpus; at 100 TB with a materialized index this is a pruned
# two-term read.

_PHRASE_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), bg AS (
  SELECT t1.term AS w1, t2.term AS w2
  FROM tok t1 JOIN tok t2
    ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  GROUP BY 1, 2
  ORDER BY count(*) DESC, w1, w2
  LIMIT 1
)
SELECT t1.doc_id, CAST(t1.pos AS BIGINT) AS pos,
       b.w1 || ' ' || b.w2 AS phrase
FROM tok t1
JOIN bg b ON t1.term = b.w1
JOIN tok t2
  ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1 AND t2.term = b.w2
"""


@_q("ta_phrase_search", _PHRASE_ORACLE)
def ta_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    tok = _spread(spark, tok, "doc_id")
    # bigram counting via lead() — ONE doc_id shuffle with bounded
    # per-doc window state, not a corpus-sized self-join (the
    # adjacency JOIN below runs only on the two pruned posting lists).
    from pyspark.sql import Window

    nxt = F.lead("term").over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    top = (
        tok.withColumn("w2", nxt)
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("term").alias("w1"), "w2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(1)
        .collect()[0]
    )
    w1, w2 = top["w1"], top["w2"]
    # posting lists pruned to the two phrase terms BEFORE the join.
    p1 = tok.filter(F.col("term") == w1).alias("p1")
    p2 = tok.filter(F.col("term") == w2).alias("p2")
    return p1.join(
        p2,
        (F.col("p1.doc_id") == F.col("p2.doc_id"))
        & (F.col("p2.pos") == F.col("p1.pos") + 1),
    ).select(
        F.col("p1.doc_id").alias("doc_id"),
        F.col("p1.pos").cast("long").alias("pos"),
        F.lit(f"{w1} {w2}").alias("phrase"),
    )


# --- Matryoshka prefix rerank (two-stage ANN) -----------------------------------
#
# The multi-stage retrieval ladder modern embedding stacks run
# (Kusupati et al., "Matryoshka Representation Learning", NeurIPS'22):
# a COARSE pass scores only the first 16 of 64 dimensions — with
# prefix-sliced columnar storage that is a 4× narrower scan — keeps
# the top-32 candidates (TakeOrderedAndProject, the partial-top-k
# shape), and an EXACT full-dimension pass rescores just those 32 to
# the final top-5. Complements the recall-driven ANN family
# (LSH buckets, IVF, PQ): here the index is the representation
# itself. Both stages break ties by vec_id on 6dp-rounded scores (the
# ann_cosine_topk determinism contract). The candidate set is a
# bounded 32-row driver collect, exactly the k-means-centroid
# pattern; the rescore is a pruned 32-row scan, never a second pass
# over the table.

_PREFIX_DIMS = 16
_COARSE_K = 32
_FINAL_K = 5

_PREFIX_RERANK_ORACLE = f"""
WITH q AS (
  SELECT embedding AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), p16 AS (
  SELECT e.vec_id,
         CAST(unnest(e.embedding[1:{_PREFIX_DIMS}]) AS DOUBLE) AS x,
         CAST(unnest(q.qe[1:{_PREFIX_DIMS}]) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
), c16 AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS coarse6
  FROM p16 GROUP BY vec_id
), cand AS (
  SELECT vec_id, coarse6,
         row_number() OVER (ORDER BY coarse6 DESC, vec_id) AS crnk
  FROM c16 QUALIFY crnk <= {_COARSE_K}
), pf AS (
  SELECT e.vec_id, cand.coarse6,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
), cf AS (
  SELECT vec_id, min(coarse6) AS coarse6,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cos6
  FROM pf GROUP BY vec_id
)
SELECT vec_id, CAST(rnk AS BIGINT) AS rnk,
       round(cos6, 4) AS cos4, round(coarse6, 4) AS coarse4
FROM (
  SELECT vec_id, cos6, coarse6,
         row_number() OVER (ORDER BY cos6 DESC, vec_id) AS rnk
  FROM cf) t
WHERE rnk <= {_FINAL_K}
"""


@_q("ann_prefix_rerank", _PREFIX_RERANK_ORACLE)
def ann_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = _emb(spark, sf_dir)
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    qfull = [float(v) for v in qrow["embedding"]]
    qpre = qfull[:_PREFIX_DIMS]
    qid = qrow["vec_id"]
    qn_full = math.sqrt(sum(v * v for v in qfull))
    qn_pre = math.sqrt(sum(v * v for v in qpre))
    qvec_full = F.array(*[F.lit(v) for v in qfull])
    qvec_pre = F.array(*[F.lit(v) for v in qpre])
    pre = F.slice(F.col("embedding"), 1, _PREFIX_DIMS)
    coarse = _dot(pre, qvec_pre) / (
        F.sqrt(_dot(pre, pre)) * F.lit(qn_pre)
    )
    cands = (
        e.filter(F.col("vec_id") != qid)
        .withColumn("coarse6", F.round(coarse, 6))
        # 4dp via Spark's HALF_UP round (as SQL) — a driver-side
        # python round() is banker's and straddles .5 boundaries.
        .withColumn("coarse4", F.round("coarse6", 4))
        .select("vec_id", "coarse6", "coarse4")
        .orderBy(F.col("coarse6").desc(), "vec_id")
        .limit(_COARSE_K)
        .collect()
    )
    cand_ids = [r["vec_id"] for r in cands]
    coarse_by_id = {r["vec_id"]: r["coarse4"] for r in cands}
    cos = _dot(F.col("embedding"), qvec_full) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.lit(qn_full)
    )
    reranked = (
        e.filter(F.col("vec_id").isin(cand_ids))
        .withColumn("cos6", F.round(cos, 6))
        .withColumn("cos4", F.round("cos6", 4))
        .select("vec_id", "cos6", "cos4")
        .orderBy(F.col("cos6").desc(), "vec_id")
        .limit(_FINAL_K)
        .collect()
    )
    rows = [
        (r["vec_id"], i + 1, r["cos4"], coarse_by_id[r["vec_id"]])
        for i, r in enumerate(reranked)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, rnk long, cos4 double, coarse4 double"
    )


# --- Greedy sequence packing (sample packing for training batches) -----------------
#
# The op every LLM pre-training pipeline runs between curation and
# the trainer: concatenate variable-length documents into
# fixed-capacity training sequences so padding waste stays low
# (Raffel et al., T5 "packing"; GPT-style pre-training does the
# same). Semantics here are NEXT-FIT IN CORPUS ORDER — walk the
# shard's documents in doc_id order, keep appending to the open bin
# while the whitespace-token budget (256) holds, else seal it and
# start the next — because order-preserving packing is what
# curriculum-ordered corpora require (first-fit-decreasing would
# reorder documents) and because it is a one-pass O(1)-state fold.
#
# Scale shape: packing is a per-shard SEQUENTIAL fold, so the
# distributed contract is "parallel across shards, sequential
# within" — exactly `groupBy(shard).applyInPandas` (the shard key
# here is lang; a production corpus packs per input file/partition).
# One shuffle on the shard key; per-group state is one integer; the
# Arrow batch is the only Python-side cost. The recursive-CTE oracle
# replays the identical fold row by row.

_SEQ_PACK_CAPACITY = 256

_SEQ_PACK_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT coalesce(lang, '(none)') AS lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(row_number() OVER (PARTITION BY coalesce(lang, '(none)')
              ORDER BY doc_id) AS BIGINT) AS pos
  FROM documents WHERE text IS NOT NULL
), pack AS (
  SELECT lang, doc_id, n_tokens, pos,
         n_tokens AS fill, CAST(1 AS BIGINT) AS bin_id
  FROM toks WHERE pos = 1
  UNION ALL
  SELECT t.lang, t.doc_id, t.n_tokens, t.pos,
         CASE WHEN p.fill + t.n_tokens <= {_SEQ_PACK_CAPACITY}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END,
         CASE WHEN p.fill + t.n_tokens <= {_SEQ_PACK_CAPACITY}
              THEN p.bin_id ELSE p.bin_id + 1 END
  FROM pack p JOIN toks t ON t.lang = p.lang AND t.pos = p.pos + 1
)
SELECT lang, doc_id, bin_id, n_tokens FROM pack
"""


def _pack_fold(pdf):
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bin_ids = []
    fill = 0
    bid = 0
    for n in pdf["n_tokens"]:
        if bid == 0 or fill + int(n) > _SEQ_PACK_CAPACITY:
            bid += 1
            fill = int(n)
        else:
            fill += int(n)
        bin_ids.append(bid)
    pdf["bin_id"] = bin_ids
    return pdf[["lang", "doc_id", "bin_id", "n_tokens"]]


@_q("ta_seq_packing", _SEQ_PACK_ORACLE)
def ta_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing per lang shard (see block comment);
    an oversize document (> capacity) seals the open bin and sits
    alone in its own, the successor always opens a fresh bin."""
    # NULL text has nothing to pack (and a NULL token count crashes
    # the fold as NaN; the oracle's recursive CASE is equally
    # undefined on NULL) — exclude it identically on both engines.
    toks = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            # NULL lang shards under a sentinel: Spark groups a NULL
            # key fine, but the oracle's recursive join on lang can
            # never extend a NULL partition (NULL <> NULL) — the
            # coalesce keeps both engines on the same shard rule.
            F.coalesce("lang", F.lit("(none)")).alias("lang"),
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias(
                "n_tokens"
            ),
        )
    )
    return toks.groupBy("lang").applyInPandas(
        _pack_fold, "lang string, doc_id long, bin_id long, n_tokens long"
    )


# --- Bigram LM perplexity (add-one smoothing) ---------------------------------------
#
# ta_perplexity's conditional upgrade: quality-scoring corpora with a
# context-aware LM separates fluent text from word salad that fools a
# unigram model (same words, scrambled order). Model: add-one-
# smoothed bigram MLE, P(w|h) = (c(h,w)+1) / (c_hist(h)+V), where
# c_hist counts h's occurrences AS a history (bigram-table marginal,
# so the model normalizes exactly) and V is the full unigram vocab.
# Per-doc xent/ppl round to 4dp — the ta_perplexity float contract.
#
# Scale shape: bigram expansion is IN-ROW (transform over the token
# array — narrow); two count shuffles (bigram key, history key) both
# map-side combined; the probability join is on the bigram key (at
# web scale a shuffle join; broadcast here where the LM fits). Docs
# with < 2 tokens have no bigram rows and drop out — documented.

_BIGRAM_LM_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bgp AS (
  SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t
), bg AS (
  SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur FROM bgp
), c2 AS (
  SELECT prev, cur, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT prev, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY 1
), v AS (
  SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((c2.c2 + 1) / (c1.c1 + v.v))), 4) AS xent,
       round(exp(avg(-ln((c2.c2 + 1) / (c1.c1 + v.v)))), 4) AS ppl
FROM bg
JOIN c2 USING (prev, cur)
JOIN c1 USING (prev)
CROSS JOIN v
GROUP BY bg.doc_id
"""


@_q("ta_bigram_lm", _BIGRAM_LM_ORACLE)
def ta_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(spark, _docs(spark, sf_dir), "doc_id")
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    pairs = F.when(
        F.size("ws") >= 2,
        F.expr(
            "transform(sequence(0, size(ws) - 2),"
            " i -> struct(ws[i] AS prev, ws[i + 1] AS cur))"
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    bg = t.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    c2 = bg.groupBy("prev", "cur").agg(
        F.count("*").cast("double").alias("c2")
    )
    c1 = bg.groupBy("prev").agg(F.count("*").cast("double").alias("c1"))
    v = (
        t.select(F.explode("ws").alias("word"))
        .agg(F.countDistinct("word").cast("double").alias("v"))
    )
    nll = -F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v")))
    return (
        bg.join(F.broadcast(c2), ["prev", "cur"])
        .join(F.broadcast(c1), "prev")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(nll), 4).alias("xent"),
            F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
        )
    )


# --- Greedy k-center coreset (farthest-point traversal) -----------------------------
#
# Exemplar selection for training-data curation: pick k points so no
# pool point is far from a pick — the 2-approximation to the k-center
# objective (Gonzalez 1985), used to choose coreset exemplars /
# annotation seeds / eval probes from an embedding space. Unlike the
# bounded-collect rerankers, THIS loop is the genuinely distributed
# form: the pool keeps a per-point running min-distance column;
# each of the k steps is (a) one TakeOrdered(1) argmax — the farthest
# point — and (b) one NARROW pass folding the new center into the
# running min (center ships as a 64-literal array; cut per step on
# the round driver). No pairwise matrix, no driver-side pool.
#
# Determinism contract: squared-L2 distances round to 6dp before any
# comparison, argmax ties break on vec_id asc, the seed is the
# smallest vec_id — the same fixed-arithmetic reasoning as
# emb_kmeans. At 100 TB the pool seam is documented: run the
# traversal over kmeans centroids or a stratified sample, not raw
# rows (k passes over the full corpus would be k scans).

_CORESET_K = 8


def _coreset_oracle_sql(k: int = _CORESET_K) -> str:
    d = (
        "round(list_sum(list_transform(list_zip({a}.v, {b}.v),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))), 6)"
    )
    parts = [
        """
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
), s0 AS (
  SELECT vec_id, v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)
), m0 AS (
  SELECT e.vec_id, e.v, """
        + d.format(a="e", b="s")
        + """ AS md
  FROM e CROSS JOIN s0 s
)"""
    ]
    for i in range(1, k):
        parts.append(
            f""", p{i} AS (
  SELECT vec_id, v, md FROM m{i - 1} ORDER BY md DESC, vec_id LIMIT 1
), m{i} AS (
  SELECT m.vec_id, m.v, least(m.md, """
            + d.format(a="m", b="p")
            + f""") AS md
  FROM m{i - 1} m CROSS JOIN p{i} p
)"""
        )
    sel = [
        "SELECT CAST(0 AS BIGINT) AS step, vec_id,"
        " CAST(NULL AS DOUBLE) AS d6 FROM s0"
    ]
    for i in range(1, k):
        sel.append(
            f"SELECT CAST({i} AS BIGINT) AS step, vec_id, md AS d6 FROM p{i}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL ".join(sel)


def _sq_l2_to(center: list) -> "F.Column":
    lits = F.array(*[F.lit(float(x)) for x in center])
    return F.round(
        F.aggregate(
            F.zip_with(F.col("v"), lits, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


@_q("emb_coreset", _coreset_oracle_sql())
@releases_unread_cuts
def emb_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed farthest-point traversal (see block comment): k
    TakeOrdered(1) argmaxes, each followed by a narrow running-min
    fold of the new center, cut on the round driver."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    first = e.orderBy("vec_id").limit(1).collect()[0]
    sel = [(0, int(first["vec_id"]), None)]

    def step(st: DataFrame, i: int) -> DataFrame:
        top = st.orderBy(F.desc("md"), "vec_id").limit(1).collect()[0]
        sel.append((i + 1, int(top["vec_id"]), float(top["md"])))
        return cut(st.withColumn("md", F.least("md", _sq_l2_to(top["v"]))))

    st0 = cut(e.withColumn("md", _sq_l2_to(first["v"])))
    iterate(st0, step, _CORESET_K - 1)
    return spark.createDataFrame(sel, "step long, vec_id long, d6 double")


# --- Cluster quality: simplified silhouette over the k-means clusters --------------
#
# Per-cluster simplified silhouette (Hruschka et al.): for each
# vector, a = squared distance to its OWN centroid, b = squared
# distance to the NEAREST OTHER centroid, s = (b-a)/max(a,b). The
# centroid set is a plan literal (k x dim — the lloyd_kmeans seam),
# so the per-vector pass is a zero-shuffle narrow map computing all k
# distances in-row and sorting a k-element struct array; the ONLY
# exchange is the map-side-combined k-group rollup. Determinism: a
# and b quantize to 4dp BIGINTs first, s_ppm = ((b4-a4)*10^6) div
# max(a4,b4) (0 when both are 0 — a vector sitting ON two centroids),
# and the per-cluster mean divides the INTEGER s_ppm sum (sum order
# irrelevant). A cluster mean near +10^6 is tight and isolated; near
# 0 it overlaps its neighbor — the SemDeDup/curation go/no-go signal.

_SILHOUETTE_D2 = (
    "list_sum(list_transform(list_zip(e.v, c.c),"
    " p -> (p[1]-p[2])*(p[1]-p[2])))"
)

_SILHOUETTE_ORACLE = _kmeans_oracle_sql(
    final_select=f"""
, dists AS (
  SELECT vec_id, cid, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
  FROM (SELECT e.vec_id, c.cid, {_SILHOUETTE_D2} AS d
        FROM e CROSS JOIN c3 c)
), ab AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cid END) AS cid,
         CAST(round(max(CASE WHEN rn = 1 THEN d END) * 10000) AS BIGINT) AS a4,
         CAST(round(min(CASE WHEN rn = 2 THEN d END) * 10000) AS BIGINT) AS b4
  FROM dists WHERE rn <= 2
  GROUP BY vec_id
), s AS (
  SELECT cid,
         CASE WHEN greatest(a4, b4) = 0 THEN 0
              ELSE CAST(((b4 - a4) * 1000000) // greatest(a4, b4) AS BIGINT)
         END AS s_ppm
  FROM ab
)
SELECT cid,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(CAST(sum(s_ppm) AS BIGINT) // count(*) AS BIGINT) AS mean_s_ppm,
       CAST(min(s_ppm) AS BIGINT) AS min_s_ppm
FROM s GROUP BY cid"""
)


@_q("emb_silhouette", _SILHOUETTE_ORACLE)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.clustering import (
        lloyd_centroids,
    )

    e = _spread(spark, _emb(spark, sf_dir), "vec_id")
    cents = lloyd_centroids(e, k=8, iterations=3)
    v = e.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # All k squared distances in-row: array of (d2, cid) structs,
    # sorted — element 1 is the assignment, element 2 the nearest
    # other centroid. Zero shuffle until the k-group rollup.
    dist_structs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"),
                        F.array(*[F.lit(float(x)) for x in vec]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(cid).alias("cid"),
            )
            for cid, vec in cents
        ]
    )
    two = F.slice(F.array_sort(dist_structs), 1, 2)
    ab = v.select(
        "vec_id",
        two[0]["cid"].alias("cid"),
        F.round(two[0]["d"] * 10000).cast("long").alias("a4"),
        F.round(two[1]["d"] * 10000).cast("long").alias("b4"),
    )
    s = ab.select(
        "cid",
        F.when(F.greatest("a4", "b4") == 0, F.lit(0).cast("long"))
        .otherwise(exact_muldiv("b4 - a4", "greatest(a4, b4)", 1_000_000))
        .alias("s_ppm"),
    )
    return s.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.expr("CAST(sum(s_ppm) div count(*) AS BIGINT)").alias("mean_s_ppm"),
        F.min("s_ppm").cast("long").alias("min_s_ppm"),
    )


# --- Heaps-law vocabulary growth curve ---------------------------------------------
#
# How fast does the vocabulary grow as the corpus grows? The curve
# QA every tokenizer-training and dedup decision reads: distinct
# vocabulary vs cumulative tokens at 10 corpus checkpoints (doc_id
# deciles). The scale-honest trick is that the cumulative-distinct
# count NEVER rescans: each word contributes exactly at its FIRST
# document (min(doc_id) — one map-side-combined shuffle at token
# volume), each first-occurrence lands in one decile bucket, and the
# running sums run over the 10-row bucket table (bounded window by
# construction). Token mass per decile is a second map-side-combined
# 10-group shuffle. A corpus obeying Heaps' law shows vocab ~ K*n^b,
# b ~ 0.4-0.6; a flat tail means the corpus is saturating (heavy
# duplication) — this synthetic 31-word corpus saturates by decile 0,
# which is exactly what the curve should reveal.

_HEAPS_ORACLE = """
WITH mx AS (
  SELECT max(doc_id) + 1 AS n_docs FROM documents WHERE text IS NOT NULL
), tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents WHERE text IS NOT NULL
), firsts AS (
  SELECT word, min(doc_id) AS first_doc
  FROM tok WHERE word <> '' GROUP BY 1
), vocab_by_dec AS (
  SELECT CAST((first_doc * 10) // n_docs AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS new_words
  FROM firsts CROSS JOIN mx GROUP BY 1
), toks_by_dec AS (
  SELECT CAST((doc_id * 10) // n_docs AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM tok CROSS JOIN mx WHERE word <> '' GROUP BY 1
)
SELECT t.decile,
       CAST(sum(t.n_docs) OVER w AS BIGINT) AS docs_cum,
       CAST(sum(t.n_tokens) OVER w AS BIGINT) AS tokens_cum,
       CAST(sum(coalesce(v.new_words, 0)) OVER w AS BIGINT) AS vocab_cum
FROM toks_by_dec t LEFT JOIN vocab_by_dec v ON t.decile = v.decile
WINDOW w AS (ORDER BY t.decile ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
"""


@_q("ta_heaps_law", _HEAPS_ORACLE)
def ta_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    n_docs = docs.agg(F.max("doc_id") + 1).first()[0]  # bounded scalar
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    firsts = tok.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    vocab_by_dec = firsts.groupBy(
        exact_muldiv("first_doc", n_docs, 10).alias("decile")
    ).agg(F.count("*").cast("long").alias("new_words"))
    toks_by_dec = tok.groupBy(
        exact_muldiv("doc_id", n_docs, 10).alias("decile")
    ).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    j = toks_by_dec.join(
        F.broadcast(vocab_by_dec.withColumnRenamed("decile", "vdec")),
        F.col("decile") == F.col("vdec"),
        "left",
    )
    # Running sums over the <=10-row decile table (bounded window).
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "decile",
        F.sum("n_docs").over(w).cast("long").alias("docs_cum"),
        F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
        F.sum(F.coalesce(F.col("new_words"), F.lit(0)))
        .over(w).cast("long").alias("vocab_cum"),
    )


# --- TextRank keyword scores ---------------------------------------------------
#
# TextRank (Mihalcea & Tarau 2004): PageRank over the word
# co-occurrence graph — an undirected edge per ADJACENT token pair.
# The graph build is one narrow in-row pass (bigram structs via
# transform over the split array — no window, no shuffle) plus a
# distinct on the pair key; the vertex set is the VOCABULARY, so the
# 3 power iterations run over a vocab-bounded table no matter how
# many documents feed it (the operators/graph.pagerank loop: cut
# edge table, node-sized rank vector per round).
# Both engines round ranks to 6dp only at the end (the kg_pagerank
# float contract).

_TEXTRANK_ORACLE = """
WITH parts AS (
  SELECT string_split(text, ' ') AS p
  FROM documents WHERE text IS NOT NULL
), big AS (
  SELECT unnest(list_transform(range(1, greatest(len(p) - 1, 0) + 1),
                               i -> {'a': p[i], 'b': p[i+1]})) AS bg
  FROM parts
), pairs AS (
  SELECT DISTINCT bg.a AS src, bg.b AS dst FROM big
  WHERE bg.a <> bg.b AND bg.a <> '' AND bg.b <> ''
), e AS (
  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
), deg AS (
  SELECT src, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY src
), nodes AS (
  SELECT src AS n FROM e UNION SELECT dst FROM e
), r0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS r FROM nodes),
r1 AS (
  SELECT nd.n, 0.15 + 0.85 * COALESCE(sum(r0.r / deg.d), 0.0) AS r
  FROM nodes nd
  LEFT JOIN e ON e.dst = nd.n
  LEFT JOIN deg ON deg.src = e.src
  LEFT JOIN r0 ON r0.n = e.src
  GROUP BY nd.n
),
r2 AS (
  SELECT nd.n, 0.15 + 0.85 * COALESCE(sum(r1.r / deg.d), 0.0) AS r
  FROM nodes nd
  LEFT JOIN e ON e.dst = nd.n
  LEFT JOIN deg ON deg.src = e.src
  LEFT JOIN r1 ON r1.n = e.src
  GROUP BY nd.n
),
r3 AS (
  SELECT nd.n, 0.15 + 0.85 * COALESCE(sum(r2.r / deg.d), 0.0) AS r
  FROM nodes nd
  LEFT JOIN e ON e.dst = nd.n
  LEFT JOIN deg ON deg.src = e.src
  LEFT JOIN r2 ON r2.n = e.src
  GROUP BY nd.n
)
SELECT n AS word, ROUND(r, 6) AS textrank FROM r3
"""


@_q("ta_textrank", _TEXTRANK_ORACLE)
def ta_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.graph import pagerank

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    pairs = (
        docs.select(F.split(F.col("text"), " ").alias("p"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(p) - 1, 0)),"
                    " i -> struct(p[i-1] AS a, p[i] AS b))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.a").alias("src"), F.col("bg.b").alias("dst"))
        .filter(
            (F.col("src") != F.col("dst"))
            & (F.col("src") != "")
            & (F.col("dst") != "")
        )
        .distinct()
    )
    e = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pr = pagerank(e, iterations=3)
    return pr.select(
        F.col("entity").alias("word"), F.round("rank", 6).alias("textrank")
    )


# --- Naive Bayes language classification (train + apply) ---------------------------
#
# Multinomial NB with add-one smoothing, trained on the even-doc half
# and applied to the odd half — the classifier counterpart of
# ta_perplexity's LM scoring, and genuinely load-bearing on this
# corpus: all five languages share the SAME 31-word vocabulary, so
# the decision comes entirely from frequency differences, never from
# vocabulary membership. Scale shape: the model is (langs x vocab)-
# bounded and BROADCASTS; the test corpus expands once per language
# (x5, narrow) and sums per-(doc, lang); the argmax is a struct-min,
# never a window. Float portability: each per-token log-likelihood
# ln((c+1)/(tok_l+V)) quantizes to 6dp micro-nats BEFORE the sum, so
# the (doc, lang) score is an order-independent BIGINT sum (the
# quantize-then-integer-sum rule); ties break to the smaller lang.
# Out-of-train-vocab words are DROPPED (the standard multinomial-NB
# apply rule); a doc with zero in-vocab tokens is classified by the
# class prior alone.

_NB_ORACLE = """
WITH train AS (
  SELECT * FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
), test AS (
  SELECT * FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1
), ttok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM train
), counts AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
  FROM ttok WHERE w <> '' GROUP BY 1, 2
), tokl AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS tok_l FROM counts GROUP BY 1
), vocab AS (SELECT DISTINCT w FROM counts),
vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l FROM train GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
langs AS (
  SELECT nl.lang,
         CAST(round(ln(CAST(n_l AS DOUBLE) / n) * 1000000) AS BIGINT)
           AS prior_u,
         tokl.tok_l
  FROM nl CROSS JOIN nt JOIN tokl ON tokl.lang = nl.lang
), stok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test
), invocab AS (
  SELECT s.doc_id, s.w FROM stok s JOIN vocab v ON s.w = v.w
), terms AS (
  SELECT s.doc_id, l.lang,
         CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                       / (l.tok_l + vn.v)) * 1000000) AS BIGINT) AS t_u
  FROM invocab s CROSS JOIN langs l CROSS JOIN vn
  LEFT JOIN counts c ON c.lang = l.lang AND c.w = s.w
), sums AS (
  SELECT doc_id, lang, CAST(sum(t_u) AS BIGINT) AS su
  FROM terms GROUP BY 1, 2
), scores AS (
  SELECT d.doc_id, l.lang, l.prior_u + coalesce(t.su, 0) AS score_u
  FROM test d CROSS JOIN langs l
  LEFT JOIN sums t ON t.doc_id = d.doc_id AND t.lang = l.lang
), best AS (
  SELECT doc_id, lang, score_u,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_u DESC, lang) AS rn
  FROM scores
)
SELECT b.doc_id, b.lang AS pred_lang, CAST(b.score_u AS BIGINT) AS score_u,
       d.lang AS true_lang,
       CAST(CASE WHEN b.lang = d.lang THEN 1 ELSE 0 END AS BIGINT) AS correct
FROM best b JOIN test d ON b.doc_id = d.doc_id
WHERE rn = 1
"""


@_q("ta_nb_classify", _NB_ORACLE)
def ta_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)

    ttok = train.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    counts = ttok.groupBy("lang", "w").agg(
        F.count("*").cast("long").alias("c")
    )
    tokl = counts.groupBy("lang").agg(F.sum("c").cast("long").alias("tok_l"))
    vocab = counts.select("w").distinct()
    v_n = vocab.count()  # bounded scalar (vocabulary cardinality)
    nl = train.groupBy("lang").agg(F.count("*").cast("long").alias("n_l"))
    n_train = train.count()  # bounded scalar
    langs = nl.join(tokl, "lang").select(
        "lang",
        F.round(
            F.log(F.col("n_l").cast("double") / F.lit(float(n_train)))
            * 1000000
        ).cast("long").alias("prior_u"),
        "tok_l",
    )

    stok = test.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    invocab = stok.join(F.broadcast(vocab), "w")
    terms = invocab.crossJoin(F.broadcast(langs)).join(
        F.broadcast(counts), ["lang", "w"], "left"
    ).select(
        "doc_id",
        "lang",
        F.round(
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("tok_l") + F.lit(v_n)).cast("double")
            )
            * 1000000
        ).cast("long").alias("t_u"),
    )
    sums = terms.groupBy("doc_id", "lang").agg(
        F.sum("t_u").cast("long").alias("su")
    )
    scores = (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(langs.select("lang", "prior_u")))
        .join(sums, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "lang",
            "true_lang",
            (F.col("prior_u") + F.coalesce(F.col("su"), F.lit(0)))
            .cast("long").alias("score_u"),
        )
    )
    best = scores.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("score_u")).alias("ns"),
                F.col("lang").alias("l"),
                F.col("score_u").alias("s"),
            )
        ).alias("m"),
        F.first("true_lang").alias("true_lang"),
    )
    return best.select(
        "doc_id",
        F.col("m.l").alias("pred_lang"),
        F.col("m.s").alias("score_u"),
        "true_lang",
        F.when(F.col("m.l") == F.col("true_lang"), 1)
        .otherwise(0).cast("long").alias("correct"),
    )


# --- SimHash Hamming-radius search (Manku pigeonhole block index) -------------
#
# dd_simhash emits the signature itself; the SEARCH problem — find
# every pair within Hamming distance k — is what a production
# near-dup pass actually runs (Manku/Jain/Sarma, WWW'07: Google's
# web-crawl simhash dedup). The scale trick is the PIGEONHOLE block
# index: split a w-bit signature into k+1 disjoint blocks; any pair
# differing in <= k bits must agree EXACTLY on at least one block, so
# candidates come from k+1 EQUI-joins on (block_idx, block_value) —
# never a quadratic scan — and the in-row xor+bit_count verify
# discards false candidates. Here w=24 over distinct 5-char shingles
# (the word-level 16-bit dd_simhash signature is structurally
# saturated on this shared-vocab corpus: >17% of all pairs land
# within Hamming 2, measured), k=3 -> four 6-bit blocks.
#
# Scale shape: the signature is ONE map-side-combined shuffle per doc
# (24 conditional sums as a WIDE aggregate — unlike dd_simhash's
# bit-explode, rows never multiply x24); block rows are 4 narrow rows
# per doc; the self-join is SALTED exactly like the LSH band join
# (probe keeps one deterministic salt, build replicates — a monster
# block bucket, e.g. the all-zero block of a clustered corpus,
# spreads over n_salt tasks); pairs colliding in several blocks dedup
# FIRST-block-wins via the prev-prefix predicate — no distinct
# shuffle. The oracle is the brute-force all-pairs definition, so the
# blocked engine path is proven EQUIVALENT to exhaustive search at
# oracle scale.

_HEXPOS_SHINGLE = (
    "(locate(substring(md5(shingle), {k}, 1), '0123456789abcdef') - 1)"
)

_SIMHASH_HAMMING_ORACLE = """
WITH sh0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 4, 0) + 1),
                               i -> substring(text, i, 5))) AS shingle
  FROM documents
), v AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substring(md5(shingle), 1, 1)) - 1) * 1048576
       + (strpos('0123456789abcdef', substring(md5(shingle), 2, 1)) - 1) * 65536
       + (strpos('0123456789abcdef', substring(md5(shingle), 3, 1)) - 1) * 4096
       + (strpos('0123456789abcdef', substring(md5(shingle), 4, 1)) - 1) * 256
       + (strpos('0123456789abcdef', substring(md5(shingle), 5, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substring(md5(shingle), 6, 1)) - 1) AS v24
  FROM sh0
), bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (v24 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM v CROSS JOIN generate_series(0, 23) g(b)
  GROUP BY doc_id, b
), sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def _simhash24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) 24-bit shingle simhash. The per-bit sign sums
    are 24 conditional SUMs in ONE wide aggregate (map-side combined;
    well inside codegen width limits) — the row count never inflates,
    unlike a bit-dimension explode."""
    d = _spread(spark, _docs(spark, sf_dir), "doc_id")
    positions = F.when(
        F.length("text") >= 5, F.sequence(F.lit(1), F.length("text") - 4)
    ).otherwise(F.array().cast("array<int>"))
    sh = (
        d.withColumn("pos", F.explode(positions))
        .select("doc_id", F.expr("substring(text, pos, 5)").alias("shingle"))
        .dropDuplicates(["doc_id", "shingle"])
    )
    v24 = F.expr(
        " + ".join(
            f"{_HEXPOS_SHINGLE.format(k=k)} * {16 ** (6 - k)}"
            for k in range(1, 7)
        )
    )
    sums = sh.withColumn("v24", v24).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(v24 >> {b}) & 1 = 1"), 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(24)
        ]
    )
    packed = None
    for b in range(24):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return sums.select("doc_id", packed.cast("long").alias("simhash"))


@_q("dd_simhash_hamming", _SIMHASH_HAMMING_ORACLE)
def dd_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_blocks, block_bits, radius = 4, 6, 3
    sig = _simhash24(spark, sf_dir)
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        # 1-indexed like the LSH band rows, so the
                        # shared guard shape `i < blk` covers every
                        # prev item (a 0-indexed blk silently skips
                        # its LAST prev check and double-emits pairs).
                        F.lit(i + 1).alias("blk"),
                        F.expr(
                            f"int((simhash >> {block_bits * i}) & 63)"
                        ).alias("key"),
                        F.array(
                            *[
                                F.expr(
                                    f"int((simhash >> {block_bits * j}) & 63)"
                                )
                                for j in range(i)
                            ]
                        )
                        .cast("array<int>")
                        .alias("prev"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bh"),
    ).select("doc_id", "simhash", "bh.blk", "bh.key", "bh.prev")
    # Salted self-join, _lsh_candidate_pairs pattern: probe side keeps
    # one deterministic salt, build side replicates to every salt.
    n_salt = min(8, spark.sparkContext.defaultParallelism)
    a = blocks.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).cast("int")
    ).alias("a")
    b = blocks.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).alias("b")
    # FIRST-block-wins: guard each prev-equality with i < blk so block
    # 0's empty prev never yields NULL (same rule as the LSH join).
    earlier = F.lit(False)
    for i in range(1, n_blocks):
        earlier = earlier | (
            (F.lit(i) < F.col("a.blk"))
            & (F.col("a.prev").getItem(i - 1) == F.col("b.prev").getItem(i - 1))
        )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(~earlier)
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.expr("int(bit_count(a.simhash ^ b.simhash))").alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
    )


# --- MIPS top-k via the augmented-dimension reduction --------------------------
#
# Recommendation / retrieval scoring is MAXIMUM INNER PRODUCT, not
# cosine — and inner product is not a metric (no triangle
# inequality), so cosine/L2 index structures (LSH buckets, IVF
# cells) cannot serve it directly. The standard fix is the
# order-preserving reduction (Bachrach et al., RecSys 2014): with
# M = max ||x|| over the corpus, augment every item to
# x̂ = [x, sqrt(M² − ||x||²)] — then ||x̂|| = M for EVERY item, and
# cosine against the zero-augmented query q̂ = [q, 0] is
# ip / (||q||·M): a strictly monotone function of the inner product.
# One extra dimension turns any cosine index into a MIPS index.
#
# The query ranks by the REDUCED-space cosine (aug term and
# augmented norm computed literally from the augmented coordinates);
# the oracle ranks by the analytic equivalent ip/(||q||·M) — value
# equality proves the reduction preserved the MIPS order, including
# that ||x̂|| reconstructs to M row by row. Scale shape identical to
# ann_cosine_topk: M and the query row are bounded scalar collects,
# scoring is one narrow in-row pass, top-k is
# TakeOrderedAndProject — no global window, no shuffle of the corpus.

_MIPS_ORACLE = """
WITH q AS (
  SELECT embedding AS qe FROM embeddings
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), qn AS (
  SELECT sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS qnorm
  FROM (SELECT unnest(qe) AS x FROM q)
), mx AS (
  SELECT max(n) AS m FROM (
    SELECT sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
    FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
    GROUP BY vec_id
  )
), p AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
), ip AS (
  SELECT vec_id, sum(x * y) AS ip FROM p GROUP BY vec_id
), c AS (
  SELECT vec_id, round(ip / (qn.qnorm * mx.m), 6) AS hat6,
         round(ip, 4) AS ip4
  FROM ip CROSS JOIN qn CROSS JOIN mx
)
SELECT vec_id, CAST(rnk AS BIGINT) AS rnk, ip4 FROM (
  SELECT vec_id, ip4,
         row_number() OVER (ORDER BY hat6 DESC, vec_id) AS rnk
  FROM c) t
WHERE rnk <= 10
"""


@_q("ann_mips", _MIPS_ORACLE)
def ann_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = _emb(spark, sf_dir)
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    qvec = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])
    qnorm = math.sqrt(sum(float(v) * float(v) for v in qrow["embedding"]))
    qid = qrow["vec_id"]
    # M = max corpus norm: one bounded scalar aggregate.
    m_val = e.select(
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("n")
    ).agg(F.max("n")).collect()[0][0]
    norm_sq = _dot(F.col("embedding"), F.col("embedding"))
    aug = F.sqrt(F.greatest(F.lit(m_val * m_val) - norm_sq, F.lit(0.0)))
    # Literal augmented-space cosine: dot([x, aug], [q, 0]) over
    # ||[x, aug]|| — the aug coordinate is genuinely in the norm.
    hat_norm = F.sqrt(norm_sq + aug * aug)
    ipc = _dot(F.col("embedding"), qvec)
    cos_hat = (ipc + aug * F.lit(0.0)) / (F.lit(qnorm) * hat_norm)
    scored = (
        e.filter(F.col("vec_id") != qid)
        .withColumn("hat6", F.round(cos_hat, 6))
        .withColumn("ip4", F.round(ipc, 4))
        .select("vec_id", "hat6", "ip4")
    )
    top = (
        scored.orderBy(F.col("hat6").desc(), "vec_id").limit(10).collect()
    )
    rows = [(r["vec_id"], i + 1, r["ip4"]) for i, r in enumerate(top)]
    return spark.createDataFrame(rows, "vec_id long, rnk long, ip4 double")


# --- Density-based clustering: DBSCAN with grid-cell blocking -----------------
#
# kmeans partitions everything; the density view is the complement a
# curation pipeline needs (dense = templated/near-dup mass, sparse =
# the novel tail). DBSCAN over the 2-D projection (dims 0,1 — the
# emb_rproj/emb_pca_power output slot in production), grid-cell
# blocked: cell edge = eps, candidates come from the 3x3 neighbor-
# cell equi-join, so pair volume is bounded by local density and the
# all-pairs crossJoin never appears (operators/clustering.dbscan_grid
# for the full scale story). Coordinates quantize to ints (x10^4,
# round half-away, identical in both engines) so every distance and
# every decision is exact BIGINT. Deterministic-DBSCAN contract:
# border points take the MINIMUM cluster_id among their core
# neighbors; cluster identity = min core vec_id of the component.
# The oracle is blocking-free: brute-force all-pairs neighborhoods +
# a recursive-CTE closure over core-core edges — the blocked engine
# path is proven equivalent to exhaustive search (the
# dd_simhash_hamming evidence pattern). Load-bearing at sf0.01:
# 142 core / 98 border / 260 noise across 15 clusters.

_DBSCAN_EPS = 200
_DBSCAN_MIN_PTS = 6

_DBSCAN_ORACLE = f"""
WITH RECURSIVE pts AS (
  SELECT vec_id,
         CAST(round(embedding[1] * 10000) AS BIGINT) AS qx,
         CAST(round(embedding[2] * 10000) AS BIGINT) AS qy
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM pts a JOIN pts b
    ON a.vec_id <> b.vec_id
   AND (a.qx - b.qx) * (a.qx - b.qx)
     + (a.qy - b.qy) * (a.qy - b.qy) <= {_DBSCAN_EPS * _DBSCAN_EPS}
), deg AS (
  SELECT a_id, count(*) AS n FROM pairs GROUP BY 1
), core AS (
  SELECT a_id AS vec_id FROM deg WHERE n + 1 >= {_DBSCAN_MIN_PTS}
), ce AS (
  SELECT p.a_id AS src, p.b_id AS dst FROM pairs p
  JOIN core c1 ON c1.vec_id = p.a_id
  JOIN core c2 ON c2.vec_id = p.b_id
), reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM core
  UNION
  SELECT ce.src, r.lbl FROM ce JOIN reach r ON r.node = ce.dst
), comp AS (
  SELECT node AS vec_id, min(lbl) AS cl FROM reach GROUP BY 1
), border AS (
  SELECT p.a_id AS vec_id, min(c.cl) AS cl
  FROM pairs p JOIN comp c ON c.vec_id = p.b_id
  WHERE p.a_id NOT IN (SELECT vec_id FROM core)
  GROUP BY 1
), labeled AS (
  SELECT vec_id, cl, 1 AS is_core FROM comp
  UNION ALL
  SELECT vec_id, cl, 0 AS is_core FROM border
)
SELECT p.vec_id,
       CAST(coalesce(l.cl, -1) AS BIGINT) AS cluster_id,
       CAST(coalesce(l.is_core, 0) AS BIGINT) AS is_core
FROM pts p LEFT JOIN labeled l ON l.vec_id = p.vec_id
"""


@_q("emb_dbscan", _DBSCAN_ORACLE)
def emb_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN over the 2-D embedding projection
    (operators/clustering.dbscan_grid): core/border/noise labels with
    deterministic min-label tie rules; the engine's 3x3-cell blocked
    neighborhood join is value-checked against the oracle's
    exhaustive all-pairs search."""
    from information_extraction_spark.operators.clustering import (
        dbscan_grid,
    )

    return dbscan_grid(
        _spread(spark, _emb(spark, sf_dir), "vec_id"),
        eps_q=_DBSCAN_EPS,
        min_pts=_DBSCAN_MIN_PTS,
    )


# --- Readability scoring (Flesch reading ease, integer-exact) -----------------
#
# The classic quality screen corpus curation runs next to ta_quality's
# surface ratios: Flesch reading ease 206.835 - 1.015*(W/S) -
# 84.6*(Syl/W). Two corpus adaptations, both deterministic: the
# corpus has no sentence punctuation, so S = the 12-word transcript
# TURN count (the same ceil(len/12) rule every transcript-derived
# query uses — readability per conversational turn); syllables =
# maximal [aeiouy]+ vowel groups per word, floored at 1 (the standard
# heuristic). Cross-engine float discipline: the score is emitted in
# exact MILLI-units with multiply-before-integer-divide BIGINT
# arithmetic — no double division on either engine. Scale shape:
# one narrow whole-row map over the documents scan (split + one
# in-row higher-order aggregate over the word array) — zero shuffles,
# zero explodes; at 100 TB this is scan-bound by construction.

_READABILITY_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> len(w) >= 1) AS words
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(ceil(len(words) / 12.0) AS BIGINT) AS n_sentences,
         CAST(list_sum(list_transform(words,
              w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
            AS BIGINT) AS n_syllables
  FROM d WHERE len(words) >= 1
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(206835 - (1015 * n_words) // n_sentences
                   - (84600 * n_syllables) // n_words AS BIGINT)
         AS flesch_milli
FROM m
"""


@_q("ta_readability", _READABILITY_ORACLE)
def ta_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document in exact milli-units (see
    block comment): vowel-group syllables, 12-word-turn sentences,
    BIGINT multiply-before-divide; one narrow zero-shuffle map."""
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: F.length(w) >= 1,
    )
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", words.alias("words"))
        .filter(F.size("words") >= 1)
    )
    m = d.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.ceil(F.size("words") / F.lit(12.0)).cast("long").alias(
            "n_sentences"
        ),
        F.expr(
            "CAST(aggregate(transform(words,"
            " w -> greatest(1L, CAST(size(regexp_extract_all(w,"
            " '[aeiouy]+', 0)) AS BIGINT))), 0L, (acc, x) -> acc + x)"
            " AS BIGINT)"
        ).alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206835)
            - exact_muldiv("n_words", "n_sentences", 1015)
            - exact_muldiv("n_syllables", "n_words", 84600)
        ).alias("flesch_milli"),
    )


# --- MMR diversified re-ranking (Carbonell & Goldstein 1998) -------------------
#
# Top-k by raw cosine returns near-duplicates of each other; retrieval
# for curation/eval-set building wants RELEVANT AND DIVERSE. Maximal
# Marginal Relevance: greedily pick argmax of
# lambda*rel(c) - (1-lambda)*max_{s in selected} sim(c, s), k times.
# lambda=0.7 becomes exact integer weights (7, 3 at x10 scale); rel
# and pairwise sims quantize to round-6dp cosine x 10^6 BIGINTs (the
# dd_embedding_cosine discipline, so both engines agree bit-for-bit),
# ties break on vec_id — the greedy trace is fully deterministic.
#
# Scale shape: relevance is one narrow map over the vector table +
# TakeOrderedAndProject to the BOUNDED candidate pool (C=50; at 100 TB
# C stays a few hundred — pool size is a retrieval knob, not a data
# size). Pairwise sims among candidates are a C^2-bounded self-join
# computed IN SPARK with the same index-ordered array dot used
# everywhere (numpy's pairwise summation would NOT match the SQL sum
# order at the 6th decimal). The greedy loop itself runs on the
# driver over the collected C + C^2 quantized INTEGERS (bounded by
# the knob, never by the corpus — the kmeans/IVF bounded-collect
# rule), in exact int arithmetic identical to the oracle's chained
# CTEs.

_MMR_K = 10
_MMR_C = 50
_MMR_WR, _MMR_WD = 7, 3  # lambda = 0.7 at x10 integer scale


def _mmr_oracle_sql() -> str:
    steps = []
    for i in range(1, _MMR_K + 1):
        if i == 1:
            steps.append(f"""
, s1 AS (
  SELECT vec_id, rel_q, CAST(0 AS BIGINT) AS maxsim_q,
         CAST({_MMR_WR} * rel_q AS BIGINT) AS score_q,
         CAST(1 AS BIGINT) AS pick_rank
  FROM cand ORDER BY rel_q DESC, vec_id LIMIT 1
), sel1 AS MATERIALIZED (SELECT * FROM s1)""")
        else:
            p = i - 1
            steps.append(f"""
, s{i} AS (
  SELECT c.vec_id, c.rel_q,
         CAST(coalesce(m.ms, 0) AS BIGINT) AS maxsim_q,
         CAST({_MMR_WR} * c.rel_q
              - {_MMR_WD} * coalesce(m.ms, 0) AS BIGINT) AS score_q,
         CAST({i} AS BIGINT) AS pick_rank
  FROM cand c
  LEFT JOIN (SELECT va, max(sim_q) AS ms FROM ps
             WHERE vb IN (SELECT vec_id FROM sel{p}) GROUP BY 1) m
    ON m.va = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{p})
  ORDER BY score_q DESC, c.vec_id LIMIT 1
), sel{i} AS MATERIALIZED (SELECT * FROM sel{p} UNION ALL SELECT * FROM s{i})""")
    chain = "".join(steps)
    return f"""
WITH mn AS (SELECT min(vec_id) AS qid FROM embeddings),
q AS (SELECT embedding AS qe FROM embeddings, mn WHERE vec_id = qid),
rel0 AS (
  SELECT vec_id,
         CAST(round(round(sum(x * y)
              / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) * 1000000)
            AS BIGINT) AS rel_q
  FROM (SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
               CAST(unnest(q.qe) AS DOUBLE) AS y
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> (SELECT qid FROM mn))
  GROUP BY vec_id
), cand AS MATERIALIZED (
  SELECT vec_id, rel_q FROM rel0 ORDER BY rel_q DESC, vec_id
  LIMIT {_MMR_C}
), pe AS (
  SELECT c.vec_id, e.embedding FROM cand c
  JOIN embeddings e USING (vec_id)
), pp AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CAST(unnest(a.embedding) AS DOUBLE) AS x,
         CAST(unnest(b.embedding) AS DOUBLE) AS y
  FROM pe a JOIN pe b ON a.vec_id <> b.vec_id
), ps AS MATERIALIZED (
  SELECT va, vb,
         CAST(round(round(sum(x * y)
              / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) * 1000000)
            AS BIGINT) AS sim_q
  FROM pp GROUP BY 1, 2
){chain}
SELECT vec_id, pick_rank, rel_q, maxsim_q, score_q FROM sel{_MMR_K}
"""


@_q("ann_mmr_rerank", _mmr_oracle_sql())
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR top-k over the bounded candidate pool (see block
    comment): integer-exact greedy trace with per-pick rank, rel,
    max-sim-to-selected and score."""
    e = _emb(spark, sf_dir)
    qid = e.agg(F.min("vec_id")).collect()[0][0]
    qe = e.filter(F.col("vec_id") == qid).select("embedding").collect()[0][0]
    qlit = F.array(*[F.lit(float(x)) for x in qe])
    quant = lambda c: F.round(F.round(c, 6) * 1_000_000).cast("long")  # noqa: E731
    rel = (
        e.filter(F.col("vec_id") != qid)
        .select(
            "vec_id",
            "embedding",
            quant(
                _dot(F.col("embedding"), qlit)
                / (
                    F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                    * F.sqrt(_dot(qlit, qlit))
                )
            ).alias("rel_q"),
        )
    )
    cand = rel.orderBy(F.desc("rel_q"), "vec_id").limit(_MMR_C)
    a, b = cand.alias("a"), cand.alias("b")
    sims = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            quant(
                _dot(F.col("a.embedding"), F.col("b.embedding"))
                / (
                    F.sqrt(_dot(F.col("a.embedding"), F.col("a.embedding")))
                    * F.sqrt(_dot(F.col("b.embedding"), F.col("b.embedding")))
                )
            ).alias("sim_q"),
        )
    )
    rel_rows = {
        r["vec_id"]: r["rel_q"] for r in cand.select("vec_id", "rel_q").collect()
    }
    sim_rows = {(r["va"], r["vb"]): r["sim_q"] for r in sims.collect()}
    selected: list[tuple] = []
    chosen: set = set()
    for rank in range(1, _MMR_K + 1):
        best = None
        for vid, rq in rel_rows.items():
            if vid in chosen:
                continue
            ms = max(
                (sim_rows.get((vid, s), 0) for s, *_ in selected), default=0
            )
            score = _MMR_WR * rq - _MMR_WD * ms
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, rq, ms, score)
        _, vid, rq, ms, score = best
        chosen.add(vid)
        selected.append((vid, rank, rq, ms, score))
    return spark.createDataFrame(
        selected,
        "vec_id long, pick_rank long, rel_q long, maxsim_q long,"
        " score_q long",
    )


# --- K-anonymity audit over quasi-identifiers ----------------------------------
#
# The compliance screen release pipelines run before publishing a
# corpus: can any row be singled out by its quasi-identifiers? QI =
# (lang, source, length decile) — the indirect attributes an attacker
# joins on. Per equivalence class: size, k=5 anonymity flag, and the
# class's row share in ppm. The decile bucket derives from n_chars
# with fixed integer boundaries (len div 100 capped at 9) — both
# engines restate it arithmetically; no quantile estimation inside
# the QI definition (data-dependent boundaries would make the audit
# unstable release-to-release). Scale shape: ONE map-side-combined
# shuffle on the bounded QI key (langs x sources x 10) plus a
# bounded-key window for the share — the class table is dimension-
# sized no matter the corpus.

_K_ANON_ORACLE = """
WITH q AS (
  SELECT lang, source,
         least(n_chars // 100, 9) AS len_bucket
  FROM documents
), cls AS (
  SELECT lang, source, CAST(len_bucket AS BIGINT) AS len_bucket,
         CAST(count(*) AS BIGINT) AS class_size
  FROM q GROUP BY 1, 2, 3
)
SELECT lang, source, len_bucket, class_size,
       CAST(CASE WHEN class_size >= 5 THEN 1 ELSE 0 END AS BIGINT)
         AS anonymous_at_5,
       CAST(class_size * 1000000
            // (SELECT sum(class_size) FROM cls) AS BIGINT) AS share_ppm
FROM cls
"""


@_q("ta_k_anonymity", _K_ANON_ORACLE)
def ta_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence-class k-anonymity audit over the (lang, source,
    length-decile) quasi-identifier (see block comment)."""
    q = _docs(spark, sf_dir).select(
        "lang",
        "source",
        F.least(F.expr("n_chars div 100"), F.lit(9))
        .cast("long")
        .alias("len_bucket"),
    )
    cls = q.groupBy("lang", "source", "len_bucket").agg(
        F.count("*").cast("long").alias("class_size")
    )
    # Corpus total as a broadcast 1-row aggregate, not an
    # unpartitioned window: cls is dimension-sized but a global
    # window would still force it through one task.
    total = F.broadcast(
        cls.agg(F.sum("class_size").cast("long").alias("_total"))
    )
    return (
        cls.crossJoin(total)
        .select(
            "lang",
            "source",
            "len_bucket",
            "class_size",
            F.when(F.col("class_size") >= 5, 1)
            .otherwise(0)
            .cast("long")
            .alias("anonymous_at_5"),
            exact_muldiv("class_size", "_total", 1_000_000).alias("share_ppm"),
        )
    )


# --- NN-Descent k-NN graph refinement -----------------------------------------
#
# The graph-based ANN build path (Dong, Moses & Li, WWW'11 — the
# construction step under HNSW-family indexes): start from a CHEAP
# arbitrary-blocking kNN graph, then refine by the local join — a
# node's neighbors-of-neighbors (through the UNDIRECTED general-
# neighbor set B[u] = N[u] ∪ R[u]) are its best next candidates,
# because neighbor-of-neighbor is likely neighbor. One refinement
# round here (fixed rounds = the determinism contract everywhere in
# this repo); `from_init` marks final edges that already sat in the
# init graph, so the result itself measures how much the round
# improved the arbitrary init (at the gate scale only a minority of
# final edges survive from init — the refinement is load-bearing,
# not decorative). Scale shape: every stage is an equi-join on a
# bounded-fanout key — init pairs inside size-bounded hash buckets
# (B scales as n/target_bucket_size), the local join fans out
# (2k)^2 per pivot node, ranking is a keyed window on src, and the
# only unblocked structure anywhere is the final top-k per node.
# Recall audit against brute force = ann_recall_audit's pattern,
# applicable verbatim.

_NN_DESCENT_K = 4


def _nn_descent_score_sql(keys_cte: str) -> str:
    """Score a (src, nb) key CTE against the embeddings table —
    identical arithmetic to the Spark side's norm-hoisted dot."""
    return f"""
  SELECT src, nb,
         round(sum(xa * xb)
               / (sqrt(sum(xa * xa)) * sqrt(sum(xb * xb))), 4) AS cos4
  FROM (
    SELECT k.src, k.nb, CAST(unnest(ea.embedding) AS DOUBLE) AS xa,
           CAST(unnest(eb.embedding) AS DOUBLE) AS xb
    FROM {keys_cte} k
    JOIN embeddings ea ON ea.vec_id = k.src
    JOIN embeddings eb ON eb.vec_id = k.nb
  ) GROUP BY src, nb
"""


_NN_DESCENT_ORACLE = f"""
WITH b AS (
  SELECT vec_id,
         {_h48w_sql("CAST(vec_id AS VARCHAR)")} % 16 AS bkt1,
         {_h48w_sql("'2:' || CAST(vec_id AS VARCHAR)")} % 16 AS bkt2
  FROM embeddings
), ikeys AS (
  SELECT DISTINCT a.vec_id AS src, c.vec_id AS nb
  FROM b a JOIN b c
    ON (c.bkt1 = a.bkt1 OR c.bkt2 = a.bkt2) AND c.vec_id <> a.vec_id
), isc AS ({_nn_descent_score_sql("ikeys")}
), g0 AS (
  SELECT src, nb, cos4 FROM (
    SELECT src, nb, cos4, row_number() OVER (
      PARTITION BY src ORDER BY cos4 DESC, nb) AS rn
    FROM isc) WHERE rn <= {_NN_DESCENT_K}
), und AS (
  SELECT src AS u, nb AS x FROM g0 UNION SELECT nb, src FROM g0
), keys AS (
  SELECT DISTINCT p.x AS src, q.x AS nb
  FROM und p JOIN und q ON q.u = p.u AND q.x <> p.x
  UNION SELECT src, nb FROM g0
), sc AS ({_nn_descent_score_sql("keys")}
)
SELECT src, nb, CAST(rn AS BIGINT) AS rank, s.cos4,
       CAST(CASE WHEN g0.src IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS from_init
FROM (
  SELECT src, nb, cos4, row_number() OVER (
    PARTITION BY src ORDER BY cos4 DESC, nb) AS rn
  FROM sc) s
LEFT JOIN g0 USING (src, nb)
WHERE rn <= {_NN_DESCENT_K}
"""


@_q("emb_nn_descent", _NN_DESCENT_ORACLE)
def emb_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One NN-Descent refinement round over an arbitrary-bucket init
    graph (see block comment)."""
    from pyspark.sql import Window

    k = _NN_DESCENT_K
    e = cut(  # scored twice (init + refine) — read once
        _spread(spark, _emb(spark, sf_dir), "vec_id")
        .select("vec_id", "embedding")
        .withColumn(
            "nrm", F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        )
    )

    def _score(keys: DataFrame) -> DataFrame:
        a = e.select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("_ea"),
            F.col("nrm").alias("_na"),
        )
        c = e.select(
            F.col("vec_id").alias("nb"),
            F.col("embedding").alias("_eb"),
            F.col("nrm").alias("_nb"),
        )
        return (
            keys.join(a, "src")
            .join(c, "nb")
            .select(
                "src",
                "nb",
                F.round(
                    _dot(F.col("_ea"), F.col("_eb"))
                    / (F.col("_na") * F.col("_nb")),
                    4,
                ).alias("cos4"),
            )
        )

    sid = F.col("vec_id").cast("string")
    bkt = e.select(
        "vec_id",
        (_h48w(sid) % 16).alias("bkt1"),
        (_h48w(F.concat(F.lit("2:"), sid)) % 16).alias("bkt2"),
    )

    def _same_bucket(col: str) -> DataFrame:
        # Equi-join per bucketing (the OR-condition join would plan a
        # nested loop); the union of the two blockings is the init
        # candidate universe.
        return bkt.alias("a").join(
            bkt.alias("c"),
            (F.col(f"a.{col}") == F.col(f"c.{col}"))
            & (F.col("a.vec_id") != F.col("c.vec_id")),
        ).select(
            F.col("a.vec_id").alias("src"), F.col("c.vec_id").alias("nb")
        )

    ikeys = _same_bucket("bkt1").union(_same_bucket("bkt2")).distinct()
    w = Window.partitionBy("src").orderBy(F.col("cos4").desc(), F.col("nb"))
    g0 = cut(  # init graph feeds und, keys AND the flag
        _score(ikeys)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "nb", "cos4")
    )
    und = (
        g0.select(F.col("src").alias("u"), F.col("nb").alias("x"))
        .union(g0.select(F.col("nb").alias("u"), F.col("src").alias("x")))
        .distinct()
    )
    cand = und.alias("p").join(
        und.alias("q"),
        (F.col("q.u") == F.col("p.u")) & (F.col("q.x") != F.col("p.x")),
    ).select(F.col("p.x").alias("src"), F.col("q.x").alias("nb"))
    keys = cand.union(g0.select("src", "nb")).distinct()
    final = (
        _score(keys)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    return final.join(
        g0.select("src", "nb").withColumn("_init", F.lit(1)),
        ["src", "nb"],
        "left",
    ).select(
        "src",
        "nb",
        F.col("rn").cast("long").alias("rank"),
        "cos4",
        F.coalesce(F.col("_init"), F.lit(0)).cast("long").alias("from_init"),
    )


# --- DSIR importance weights (data selection for LM pretraining) ---------------
#
# Xie et al. 2023 ("Data Selection for Language Models via Importance
# Resampling"): score every raw document by how target-like its
# HASHED n-gram distribution is — weight(doc) = sum over hashed
# bigram features of log(p_target(f) / p_raw(f)) under add-one-
# smoothed unigram models over B=256 feature buckets. The target
# model here trains on the deterministic doc_id%10 "curated seed"
# stand-in (production swaps in the real curated corpus — the same
# one-table seam as kg_gcn_agg's hashed features); DSIR's
# Gumbel-top-k resample is replaced by the deterministic
# positive-weight rule, so `selected` is reproducible run-to-run.
# Cross-engine arithmetic: per-FEATURE term_u = round(ln(ratio)*10^6)
# quantized BEFORE the per-doc sum (the ta_nb_classify micro-nat
# discipline — the ratio is an exact-BIGINT product converted to
# DOUBLE, < 2^53 throughout), so the doc weight is an
# order-independent BIGINT sum. Scale shape: the term table is
# EXACTLY B=256 rows and broadcasts; everything else is one explode
# + two bounded-key feature counts + one map-side-combined doc sum —
# no self-joins, no windows.

_DSIR_B = 256


_DSIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
), bgp AS (
  SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t
), bg AS (
  SELECT doc_id,
         {_h48w_sql("ws[i] || ' ' || ws[i + 1]")} % {_DSIR_B} AS f
  FROM bgp
), rawc AS (
  SELECT f, CAST(count(*) AS BIGINT) AS cr FROM bg GROUP BY 1
), tgtc AS (
  SELECT f, CAST(count(*) AS BIGINT) AS ct
  FROM bg WHERE doc_id % 10 = 0 GROUP BY 1
), nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM rawc),
ntt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM tgtc),
term AS (
  SELECT r.f,
         CAST(round(ln(
           CAST((coalesce(tg.ct, 0) + 1) * (nr.nr + {_DSIR_B}) AS DOUBLE)
           / CAST((r.cr + 1) * (ntt.nt + {_DSIR_B}) AS DOUBLE)
         ) * 1000000) AS BIGINT) AS term_u
  FROM rawc r LEFT JOIN tgtc tg USING (f) CROSS JOIN nr CROSS JOIN ntt
), dsum AS (
  SELECT bg.doc_id, CAST(sum(term_u) AS BIGINT) AS weight_u,
         CAST(count(*) AS BIGINT) AS n_feats
  FROM bg JOIN term USING (f) GROUP BY 1
)
SELECT d.doc_id, CAST(coalesce(s.weight_u, 0) AS BIGINT) AS weight_u,
       CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(CASE WHEN coalesce(s.weight_u, 0) > 0 THEN 1 ELSE 0 END
            AS BIGINT) AS selected
FROM t d LEFT JOIN dsum s USING (doc_id)
"""


@_q("ta_dsir", _DSIR_ORACLE)
@releases_unread_cuts
def ta_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-bigram importance weights + deterministic
    selection (see block comment)."""
    B = _DSIR_B
    d = (
        _spread(spark, _docs(spark, sf_dir), "doc_id")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("ws"))
    )
    feats = F.when(
        F.size("ws") >= 2,
        F.expr(
            "transform(sequence(0, size(ws) - 2),"
            " i -> concat(ws[i], ' ', ws[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = d.select(
        "doc_id", F.explode(feats).alias("s")
    ).select("doc_id", (_h48w(F.col("s")) % B).alias("f"))
    bg = cut(bg)  # counted three ways below
    rawc = bg.groupBy("f").agg(F.count("*").cast("long").alias("cr"))
    tgtc = (
        bg.filter(F.col("doc_id") % 10 == 0)
        .groupBy("f")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    nr = F.broadcast(rawc.agg(F.sum("cr").cast("long").alias("nr")))
    nt = F.broadcast(
        tgtc.agg(
            F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt")
        )
    )
    term = (
        rawc.join(tgtc, "f", "left")
        .crossJoin(nr)
        .crossJoin(nt)
        .select(
            "f",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        * (F.col("nr") + B)
                    ).cast("double")
                    / ((F.col("cr") + 1) * (F.col("nt") + B)).cast(
                        "double"
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("term_u"),
        )
    )
    dsum = (
        bg.join(F.broadcast(term), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("term_u").cast("long").alias("weight_u"),
            F.count("*").cast("long").alias("n_feats"),
        )
    )
    return d.select("doc_id").join(dsum, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("weight_u"), F.lit(0)).cast("long").alias("weight_u"),
        F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
        F.when(F.coalesce(F.col("weight_u"), F.lit(0)) > 0, 1)
        .otherwise(0)
        .cast("long")
        .alias("selected"),
    )


# --- Gopher quality-filter rule battery -----------------------------------------
#
# The published pretraining-corpus filter thresholds (Rae et al.
# 2021, "Scaling Language Models: ... Gopher", appendix A1.1), as a
# per-document decision table: word count in [50, 100000], mean word
# length in [3, 10], symbol-to-word ratio (# and ...) <= 0.1,
# >= 80% of words alphabetic, >= 2 distinct stop words. The stop
# LIST is the rule's language parameter in the paper; this synthetic
# corpus's only closed-class tokens are {a, the} (measured: the
# published English 8-list matches at most 1 distinct word per doc,
# making the rule constant-false), so the list is corpus-adapted and
# the >= 2-distinct STRUCTURE is what's implemented — 317/500 pass
# at the gate scale, 234/500 keep overall. The line-level
# bullet/ellipsis rules are out of scope because this corpus's text
# column is single-line transcript turns (documented omission, not
# an approximation). Every threshold is restated as an
# INTEGER cross-multiplication (3·wc <= chars <= 10·wc; 10·sym <=
# wc; 5·alpha >= 4·wc) so both engines decide exactly — no ratio
# division anywhere. ta_quality reports raw stats; THIS is the
# decision layer a curation pipeline filters on. Scale: pure in-row
# higher-order aggregates over one split — zero shuffles, zero
# explodes, scan-bound at 100 TB by construction.

_GOPHER_STOPS = "('a', 'the')"  # corpus-adapted; see block comment


_GOPHER_ORACLE = f"""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
           AS sym
  FROM documents WHERE text IS NOT NULL
), m AS (
  SELECT doc_id, sym,
         CAST(len(ws) AS BIGINT) AS wc,
         CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT)
           AS chars,
         CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS alpha_words,
         CAST(len(list_distinct(list_filter(ws,
              x -> x IN {_GOPHER_STOPS}))) AS BIGINT) AS n_stops
  FROM s
)
SELECT doc_id, wc,
       CAST(CASE WHEN wc >= 50 AND wc <= 100000 THEN 1 ELSE 0 END
            AS BIGINT) AS pass_wc,
       CAST(CASE WHEN 3 * wc <= chars AND chars <= 10 * wc
            THEN 1 ELSE 0 END AS BIGINT) AS pass_mwl,
       CAST(CASE WHEN 10 * sym <= wc THEN 1 ELSE 0 END AS BIGINT)
         AS pass_symbol,
       CAST(CASE WHEN 5 * alpha_words >= 4 * wc THEN 1 ELSE 0 END
            AS BIGINT) AS pass_alpha,
       CAST(CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END AS BIGINT)
         AS pass_stop,
       CAST(CASE WHEN wc >= 50 AND wc <= 100000
                  AND 3 * wc <= chars AND chars <= 10 * wc
                  AND 10 * sym <= wc
                  AND 5 * alpha_words >= 4 * wc
                  AND n_stops >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM m
"""


@_q("ta_gopher_rules", _GOPHER_ORACLE)
def ta_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher filter rule battery in exact integer arithmetic (see
    block comment)."""
    stops_sql = _GOPHER_STOPS
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.split("text", " ").alias("ws"),
            F.size(
                F.regexp_extract_all("text", F.lit(r"#|\.\.\."), 0)
            )
            .cast("long")
            .alias("sym"),
        )
    )
    m = d.select(
        "doc_id",
        "sym",
        F.size("ws").cast("long").alias("wc"),
        F.expr("aggregate(ws, 0L, (a, x) -> a + length(x))")
        .cast("long")
        .alias("chars"),
        F.expr("size(filter(ws, x -> x rlike '[a-zA-Z]'))")
        .cast("long")
        .alias("alpha_words"),
        F.expr(
            f"size(array_distinct(filter(ws, x -> x IN {stops_sql})))"
        )
        .cast("long")
        .alias("n_stops"),
    )
    flags = {
        "pass_wc": (F.col("wc") >= 50) & (F.col("wc") <= 100000),
        "pass_mwl": (3 * F.col("wc") <= F.col("chars"))
        & (F.col("chars") <= 10 * F.col("wc")),
        "pass_symbol": 10 * F.col("sym") <= F.col("wc"),
        "pass_alpha": 5 * F.col("alpha_words") >= 4 * F.col("wc"),
        "pass_stop": F.col("n_stops") >= 2,
    }
    keep = None
    cols = [F.col("doc_id"), F.col("wc")]
    for name, cond in flags.items():
        cols.append(
            F.when(cond, 1).otherwise(0).cast("long").alias(name)
        )
        keep = cond if keep is None else (keep & cond)
    cols.append(F.when(keep, 1).otherwise(0).cast("long").alias("keep"))
    return m.select(*cols)


# --- Reciprocal rank fusion (hybrid lexical + vector retrieval) -----------------
#
# Cormack, Clarke & Büttcher SIGIR'09 — the fusion step every hybrid
# RAG retrieval stack runs over its BM25 and embedding rankers:
# rrf(d) = Σ_legs 1/(k + rank_leg(d)), k=60 (the paper's constant).
# Legs here are the two already-cataloged rankers — ta_bm25's top-20
# for the corpus-derived 3-term query, and brute-force cosine top-20
# against the vec_id=0 query vector (the ann_cosine_topk shape) —
# fused over the union of their candidate lists with integer-exact
# scores: rrf_ppm = Σ 10^6 div (60 + rank), absent legs contribute 0
# and report rank 0. The ANN leg ranks the embedded subset (vec_id ⊆
# doc_id space by the corpus contract); a doc ranked by only one leg
# still fuses — RRF's defining property. Scale: both legs end in
# bounded top-k (TakeOrdered), the fusion is a FULL OUTER join of
# two 20-row lists — driver-sized by construction.

_RRF_K = 60


_RRF_ORACLE = f"""
WITH bm AS (
  SELECT doc_id, rk FROM ({_bm25_oracle_sql()})
), qv AS (
  SELECT embedding AS q FROM embeddings WHERE vec_id = 0
), au AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS xe,
         CAST(unnest(qv.q) AS DOUBLE) AS xq
  FROM embeddings e CROSS JOIN qv
), ac AS (
  SELECT vec_id,
         round(sum(xe * xq)
               / (sqrt(sum(xe * xe)) * sqrt(sum(xq * xq))), 4) AS cos4
  FROM au GROUP BY vec_id
), arank AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cos4 DESC, vec_id) AS BIGINT)
           AS ark
  FROM ac
  QUALIFY ark <= 20
)
SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id,
       CAST(coalesce(b.rk, 0) AS BIGINT) AS bm25_rk,
       CAST(coalesce(a.ark, 0) AS BIGINT) AS ann_rk,
       CAST((CASE WHEN b.rk IS NULL THEN 0
                  ELSE 1000000 // ({_RRF_K} + b.rk) END)
          + (CASE WHEN a.ark IS NULL THEN 0
                  ELSE 1000000 // ({_RRF_K} + a.ark) END) AS BIGINT)
         AS rrf_ppm
FROM bm b FULL OUTER JOIN arank a ON a.doc_id = b.doc_id
"""


@_q("ta_rrf_fusion", _RRF_ORACLE)
def ta_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of the BM25 and cosine rankers (see block comment)."""
    from pyspark.sql import Window

    bm = ta_bm25(spark, sf_dir).select(
        "doc_id", F.col("rk").cast("long").alias("rk")
    )
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    qrow = e.filter(F.col("vec_id") == 0).collect()  # bounded: 1 row
    qvec = F.array(*[F.lit(float(x)) for x in qrow[0]["embedding"]])
    scored = e.select(
        "vec_id",
        F.round(
            _dot(F.col("embedding"), qvec)
            / (
                F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                * F.sqrt(_dot(qvec, qvec))
            ),
            4,
        ).alias("cos4"),
    )
    arank = (
        scored.orderBy(F.col("cos4").desc(), "vec_id")
        .limit(20)
        .withColumn(
            "ark",
            F.row_number()
            .over(Window.orderBy(F.col("cos4").desc(), "vec_id"))
            .cast("long"),
        )
        .select(F.col("vec_id").alias("doc_id"), "ark")
    )
    k = _RRF_K
    return bm.join(arank, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("rk"), F.lit(0)).cast("long").alias("bm25_rk"),
        F.coalesce(F.col("ark"), F.lit(0)).cast("long").alias("ann_rk"),
        (
            F.when(
                F.col("rk").isNull(), 0
            ).otherwise(F.expr(f"1000000 div ({k} + rk)"))
            + F.when(
                F.col("ark").isNull(), 0
            ).otherwise(F.expr(f"1000000 div ({k} + ark)"))
        )
        .cast("long")
        .alias("rrf_ppm"),
    )


# --- Greedy beam search over the NN-Descent graph (graph-ANN query side) --------
#
# emb_nn_descent builds the index; this is the QUERY side — the
# HNSW-layer-0 search discipline (Malkov & Yashunin 2018) in its
# deterministic beam form: start at a fixed entry point (vec_id 0),
# per step expand the beam's undirected neighbors, keep the best
# B=4 seen-so-far by (cos4 DESC, vec_id), 3 fixed steps; answer =
# top-5 of everything SEEN. The query vector is the max-vec_id
# embedding, so the search must actually navigate away from the
# entry. Self-auditing like ann_recall_audit: each answer row
# carries its TRUE brute-force rank — computed for the ≤5 answer
# rows by a broadcast better-than count, never a global window —
# plus n_seen, the fraction of the graph the search touched.
# Measured at the gate scale: 34 of 500 nodes seen (7% of what brute
# force scores) and the best answer's true_rank is 41 — top-8%
# neighbors at 7% cost on these near-isotropic synthetic embeddings,
# the honest trade the audit exists to expose (real clustered
# embeddings navigate far better; beam width/steps are the knobs).
# The oracle MATERIALIZEs every CTE it reads more than once (DuckDB
# otherwise replays the NN-Descent chain per reference).
# Scale:
# the per-step expansion is an equi-join of a ≤B-row frontier
# against the closure (frontier broadcasts), scoring joins the
# bounded seen set to the score column, and every rank is over a
# bounded set.

_BEAM_B = 4
_BEAM_STEPS = 3


def _graph_search_oracle() -> str:
    steps = []
    for t in range(1, _BEAM_STEPS + 1):
        p = t - 1
        steps.append(f"""
, nb{t} AS (
  SELECT DISTINCT u.x AS vec_id FROM f{p} JOIN und u ON u.u = f{p}.vec_id
), seen{t} AS MATERIALIZED (
  SELECT vec_id FROM seen{p} UNION SELECT vec_id FROM nb{t}
), f{t} AS (
  SELECT vec_id FROM (
    SELECT s.vec_id, row_number() OVER (
      ORDER BY sc.cos4 DESC, s.vec_id) AS rn
    FROM seen{t} s JOIN scores sc USING (vec_id))
  WHERE rn <= {_BEAM_B}
)""")
    return f"""
WITH knn AS MATERIALIZED (
  SELECT src, nb FROM ({_NN_DESCENT_ORACLE})
), und AS MATERIALIZED (
  SELECT src AS u, nb AS x FROM knn UNION SELECT nb, src FROM knn
), qv AS (
  SELECT embedding AS q FROM embeddings
  WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
), su AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS xe,
         CAST(unnest(qv.q) AS DOUBLE) AS xq
  FROM embeddings e CROSS JOIN qv
), scores AS MATERIALIZED (
  SELECT vec_id,
         round(sum(xe * xq)
               / (sqrt(sum(xe * xe)) * sqrt(sum(xq * xq))), 4) AS cos4
  FROM su GROUP BY vec_id
), f0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS vec_id),
seen0 AS (SELECT vec_id FROM f0){"".join(steps)}
, ans AS (
  SELECT s.vec_id, sc.cos4, row_number() OVER (
    ORDER BY sc.cos4 DESC, s.vec_id) AS rn
  FROM seen{_BEAM_STEPS} s JOIN scores sc USING (vec_id)
), ns AS (
  SELECT CAST(count(*) AS BIGINT) AS n_seen FROM seen{_BEAM_STEPS}
)
SELECT a.vec_id, CAST(a.rn AS BIGINT) AS rank, a.cos4,
       CAST(1 + (SELECT count(*) FROM scores t
                 WHERE t.cos4 > a.cos4
                    OR (t.cos4 = a.cos4 AND t.vec_id < a.vec_id))
            AS BIGINT) AS true_rank,
       ns.n_seen
FROM ans a CROSS JOIN ns WHERE a.rn <= 5
"""


@_q("ann_graph_search", _graph_search_oracle())
@releases_unread_cuts
def ann_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic beam search over the NN-Descent graph (see
    block comment); the seen set and the beam are cut per step on the
    round driver."""
    knn = emb_nn_descent(spark, sf_dir).select("src", "nb")
    und = cut(
        knn.select(F.col("src").alias("u"), F.col("nb").alias("x"))
        .union(knn.select(F.col("nb").alias("u"), F.col("src").alias("x")))
        .distinct()
    )
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    qid = e.agg(F.max("vec_id")).collect()[0][0]  # bounded scalar
    qrow = e.filter(F.col("vec_id") == qid).collect()
    qvec = F.array(*[F.lit(float(x)) for x in qrow[0]["embedding"]])
    cos4 = F.round(
        _dot(F.col("embedding"), qvec)
        / (
            F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
            * F.sqrt(_dot(qvec, qvec))
        ),
        4,
    )
    # joined by every step + the final audit
    scores = cut(e.select("vec_id", cos4.alias("cos4")))

    def step(state: tuple, _: int) -> tuple:
        seen, frontier = state
        nbrs = (
            F.broadcast(frontier)
            .join(und, frontier.vec_id == und.u)
            .select(F.col("x").alias("vec_id"))
            .distinct()
        )
        seen = cut(seen.union(nbrs).distinct())
        frontier = cut(
            seen.join(scores, "vec_id")
            .orderBy(F.col("cos4").desc(), "vec_id")
            .limit(_BEAM_B)
            .select("vec_id")
        )
        return seen, frontier

    entry = spark.createDataFrame([(0,)], "vec_id long")
    seen, _ = iterate((entry, entry), step, _BEAM_STEPS)
    ns = F.broadcast(seen.agg(F.count("*").cast("long").alias("n_seen")))
    from pyspark.sql import Window

    ans = (
        seen.join(scores, "vec_id")
        .orderBy(F.col("cos4").desc(), "vec_id")
        .limit(5)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos4").desc(), "vec_id"))
            .cast("long"),
        )
    )
    # True brute-force rank per answer row: broadcast better-than
    # count against the full score column — 5-row build side, no
    # global window.
    a = ans.select(
        F.col("vec_id").alias("a_id"), F.col("cos4").alias("a_cos4"),
        "rank",
    )
    better = (
        F.broadcast(a)
        .join(
            scores,
            (F.col("cos4") > F.col("a_cos4"))
            | (
                (F.col("cos4") == F.col("a_cos4"))
                & (F.col("vec_id") < F.col("a_id"))
            ),
            "left",
        )
        .groupBy("a_id", "a_cos4", "rank")
        .agg(F.count("vec_id").cast("long").alias("n_better"))
    )
    return better.crossJoin(ns).select(
        F.col("a_id").alias("vec_id"),
        "rank",
        F.col("a_cos4").alias("cos4"),
        (F.col("n_better") + 1).cast("long").alias("true_rank"),
        "n_seen",
    )


# --- Content-defined chunking dedup (CDC / gear-hash style) ---------------------
#
# Chunk-granularity dedup — the technique between document-level
# (dd_*) and span-level (dd_dup_spans) granularities, and the one
# storage/dataset pipelines use because CDC boundaries are
# SELF-SYNCHRONIZING: a boundary depends only on the last w=8 chars,
# so two documents sharing a long substring cut it into the SAME
# chunks regardless of preceding edits (fixed-size blocking would
# misalign after one inserted char). Rolling hash restated windowed
# so both engines compute each position independently: h(p) =
# Σ_{j=0..7} ascii(c[p-j])·3^j (max < 2^19 — no modulus needed),
# boundary iff h % 64 == 0 (expected chunk ≈ 64 chars; measured 44.1
# on this corpus); min/max-size clamps are deliberately omitted —
# they make boundaries sequentially dependent, and the pure
# content-defined rule is the portable core. LOAD-BEARING at the
# gate scale: 3384 chunks, 236 duplicated chunk keys covering 820
# occurrences (the shared transcript prefixes CDC exists to catch).
# Scale shape: chunking is PURE IN-ROW higher-order functions (one
# filter + one transform per doc — no per-char explode; production
# swaps the same logic into a mapInPandas kernel for byte streams),
# one bounded explode (n_chunks/doc ≈ 16), one map-side-combined
# shuffle on the chunk hash.

_CDC_POWS = "array(1L, 3L, 9L, 27L, 81L, 243L, 729L, 2187L)"


_CDC_ORACLE = """
WITH t AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE text IS NOT NULL
), b AS (
  SELECT doc_id, text, n,
         list_filter(range(8, n + 1), p ->
           list_sum(list_transform(range(0, 8), j ->
             ascii(substring(text, p - j, 1))
               * ([1,3,9,27,81,243,729,2187])[j + 1]
           )) % 64 = 0) AS bounds
  FROM t
), e AS (
  SELECT doc_id, text, n,
         CASE WHEN len(bounds) > 0 AND bounds[-1] = n THEN bounds
              ELSE list_append(bounds, n) END AS ends
  FROM b
), c AS (
  SELECT doc_id, text, ends,
         list_prepend(0, ends[1:len(ends) - 1]) AS starts0
  FROM e
), ch AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ends) + 1), k ->
    substring(text, starts0[k] + 1, ends[k] - starts0[k]))) AS chunk
  FROM c
)
SELECT md5(chunk) AS chunk_md5,
       CAST(length(chunk) AS BIGINT) AS chunk_len,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM ch GROUP BY 1, 2 HAVING count(*) >= 2
"""


def cdc_chunks(t: DataFrame) -> DataFrame:
    """(doc_id, chunk) rows for a (doc_id, text) DataFrame under the
    w=8 gear-style windowed rolling hash (see block comment). Kept
    separate so tests can pin the self-synchronization property on
    hand-built texts."""
    bounds = F.expr(
        "CASE WHEN length(text) >= 8 THEN "
        " filter(sequence(8L, CAST(length(text) AS LONG)), p ->"
        "  aggregate(sequence(0, 7), 0L, (a, j) ->"
        "   a + ascii(substring(text, CAST(p - j AS INT), 1))"
        f"     * element_at({_CDC_POWS}, CAST(j + 1 AS INT))"
        "  ) % 64 = 0)"
        " ELSE array() END"
    ).cast("array<long>")
    b = t.withColumn("bounds", bounds).withColumn(
        "ends",
        F.expr(
            "CASE WHEN size(bounds) = 0"
            " THEN array(CAST(length(text) AS LONG))"
            " WHEN element_at(bounds, -1) = length(text) THEN bounds"
            " ELSE concat(bounds, array(CAST(length(text) AS LONG)))"
            " END"
        ),
    ).withColumn(
        "starts0",
        F.expr("concat(array(0L), slice(ends, 1, size(ends) - 1))"),
    )
    return b.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ends)), k ->"
                " substring(text,"
                "  CAST(element_at(starts0, CAST(k AS INT)) + 1 AS INT),"
                "  CAST(element_at(ends, CAST(k AS INT))"
                "       - element_at(starts0, CAST(k AS INT)) AS INT)))"
            )
        ).alias("chunk"),
    )


@_q("dd_cdc_chunks", _CDC_ORACLE)
def dd_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-hash dedup rollup (see block
    comment)."""
    t = (
        _spread(spark, _docs(spark, sf_dir), "doc_id")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    ch = cdc_chunks(t)
    return (
        ch.groupBy(
            F.md5("chunk").alias("chunk_md5"),
            F.length("chunk").cast("long").alias("chunk_len"),
        )
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_occ") >= 2)
    )


# --- Code-switching profile over conversation turns ----------------------------
#
# The transcripts-native language QA ta_langid can't see: language
# identified PER TURN (the langid stop-ratio rule restated as the
# integer cross-multiplication 100·stops >= 8·words — no float ratio
# anywhere), then per conversation: how many turns, how many
# consecutive-turn language SWITCHES, switches per transition in ppm,
# and the distinct-language count. High switch_ppm conversations are
# the code-switching / mixed-scrape transcripts a curation pipeline
# routes to language-specific handling instead of a single-language
# bucket. Scale: the turn table is the standard transcripts
# derivation; lang is in-row, the switch flag is one lag over the
# (conv, turn) keyed window, the rollup one map-side-combined
# shuffle on conv_id.

_CODE_SWITCH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws,
         CAST(ceil(len(string_split(coalesce(text, ''), ' ')) / 12.0)
              AS BIGINT) AS n_turns
  FROM documents
), turns AS (
  SELECT doc_id, n_turns, unnest(range(0, n_turns)) AS k, ws FROM t
), lt AS (
  SELECT doc_id, n_turns, k,
         CASE WHEN len(list_filter(ws[k * 12 + 1 : (k + 1) * 12],
                                   w -> w IN {_STOPWORDS})) * 100
                   >= 8 * len(ws[k * 12 + 1 : (k + 1) * 12])
              THEN 'en' ELSE 'other' END AS lang
  FROM turns
), sw AS (
  SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_switches
  FROM lt a JOIN lt b
    ON b.doc_id = a.doc_id AND b.k = a.k + 1 AND b.lang <> a.lang
  GROUP BY 1
), ag AS (
  SELECT doc_id, CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM lt GROUP BY 1
)
SELECT 'doc' || CAST(t.doc_id AS VARCHAR) || '.0' AS conv_id,
       t.n_turns,
       COALESCE(sw.n_switches, 0) AS n_switches,
       CAST(COALESCE(sw.n_switches, 0) * 1000000
            // greatest(t.n_turns - 1, 1) AS BIGINT) AS switch_ppm,
       ag.n_langs
FROM t JOIN ag USING (doc_id) LEFT JOIN sw USING (doc_id)
"""


@_q("ta_code_switch", _CODE_SWITCH_ORACLE)
def ta_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn-level language-switch profile (see block
    comment)."""
    from pyspark.sql import Window

    from information_extraction_spark.sources.from_documents import (
        transcripts_from_documents,
    )

    stops_sql = _STOPWORDS
    turns = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", F.split("text", " ").alias("ws")
    )
    lt = turns.select(
        "conv_id",
        "turn_idx",
        F.when(
            F.expr(f"size(filter(ws, w -> w IN {stops_sql})) * 100")
            >= F.expr("8 * size(ws)"),
            "en",
        )
        .otherwise("other")
        .alias("lang"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = lt.withColumn(
        "sw",
        F.when(
            F.lag("lang").over(w).isNotNull()
            & (F.lag("lang").over(w) != F.col("lang")),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum("sw").cast("long").alias("n_switches"),
        exact_muldiv("sum(sw)", "greatest(count(*) - 1, 1L)", 1_000_000).alias(
            "switch_ppm"
        ),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


# --- Binary quantization retrieval (sign bits + Hamming + rerank) ---------------
#
# The 64x-memory-compression retrieval scheme modern vector stores
# ship next to PQ (ann_pq_adc) and Matryoshka (ann_prefix_rerank):
# each 64-dim embedding collapses to 64 SIGN BITS packed into two
# 32-bit words (two words, not one 64-bit value — bit 63 would land
# in the BIGINT sign bit and engines differ on signed-shift
# semantics; two half-words keep every shift in positive territory
# on both engines); coarse search ranks by Hamming distance
# (bit_count(w0 XOR w0') + bit_count(w1 XOR w1')) over the packed
# words only, takes the top-32, and an exact-cosine rerank of that
# bounded pool emits the top-10. Self-auditing like
# ann_graph_search: every answer row carries its brute-force
# true_rank (broadcast better-than count) — the recall a 1-bit/dim
# index gives up is visible in the result, not hidden. Scale: the
# packed index is 8 bytes/vector; coarse ranking is a narrow scan +
# TakeOrdered, the rerank pool is 32 rows, nothing shuffles wide.

_BQ_COARSE = 32
_BQ_K = 10


def _bq_pack_sql(col: str, lo: int) -> str:
    return (
        f"CAST(list_sum(list_transform(range(0, 32), d ->"
        f" CASE WHEN {col}[d + {lo} + 1] > 0"
        f" THEN CAST(1 AS BIGINT) << d ELSE 0 END)) AS BIGINT)"
    )


_BQ_ORACLE = f"""
WITH qid AS (SELECT max(vec_id) AS qid FROM embeddings),
pk AS (
  SELECT vec_id,
         {_bq_pack_sql("embedding", 0)} AS w0,
         {_bq_pack_sql("embedding", 32)} AS w1
  FROM embeddings
), qp AS (
  SELECT p.w0 AS qw0, p.w1 AS qw1 FROM pk p, qid WHERE p.vec_id = qid.qid
), ham AS (
  SELECT pk.vec_id,
         CAST(bit_count(xor(pk.w0, qp.qw0))
              + bit_count(xor(pk.w1, qp.qw1)) AS BIGINT) AS ham
  FROM pk CROSS JOIN qp
), coarse AS (
  SELECT vec_id, ham FROM ham ORDER BY ham, vec_id LIMIT {_BQ_COARSE}
), qv AS (
  SELECT e.embedding AS q FROM embeddings e, qid WHERE e.vec_id = qid.qid
), cu AS (
  SELECT c.vec_id, c.ham, CAST(unnest(e.embedding) AS DOUBLE) AS xe,
         CAST(unnest(qv.q) AS DOUBLE) AS xq
  FROM coarse c JOIN embeddings e USING (vec_id) CROSS JOIN qv
), sc AS (
  SELECT vec_id, ham,
         round(sum(xe * xq)
               / (sqrt(sum(xe * xe)) * sqrt(sum(xq * xq))), 4) AS cos4
  FROM cu GROUP BY vec_id, ham
), su AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS xe,
         CAST(unnest(qv.q) AS DOUBLE) AS xq
  FROM embeddings e CROSS JOIN qv
), allsc AS (
  SELECT vec_id,
         round(sum(xe * xq)
               / (sqrt(sum(xe * xe)) * sqrt(sum(xq * xq))), 4) AS cos4
  FROM su GROUP BY vec_id
), ans AS (
  SELECT vec_id, ham, cos4, row_number() OVER (
    ORDER BY cos4 DESC, vec_id) AS rn
  FROM sc
)
SELECT a.vec_id, CAST(a.rn AS BIGINT) AS rank, a.ham, a.cos4,
       CAST(1 + (SELECT count(*) FROM allsc t
                 WHERE t.cos4 > a.cos4
                    OR (t.cos4 = a.cos4 AND t.vec_id < a.vec_id))
            AS BIGINT) AS true_rank
FROM ans a WHERE a.rn <= {_BQ_K}
"""


@_q("emb_binary_quantize", _BQ_ORACLE)
@releases_unread_cuts
def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit binary quantization retrieval with exact rerank and
    brute-force audit (see block comment)."""
    from pyspark.sql import Window

    e = _spread(spark, _emb(spark, sf_dir), "vec_id").select(
        "vec_id", "embedding"
    )

    def pack(lo: int):
        return F.expr(
            f"CAST(aggregate(sequence(0, 31), 0L, (a, d) ->"
            f" a + IF(element_at(embedding, CAST(d + {lo} + 1 AS INT))"
            f" > CAST(0 AS DOUBLE),"
            f" shiftleft(CAST(1 AS BIGINT), CAST(d AS INT)), 0L))"
            f" AS BIGINT)"
        )

    # The packed index is scanned twice (query + coarse).
    pk = cut(e.select("vec_id", pack(0).alias("w0"), pack(32).alias("w1")))
    qid = pk.agg(F.max("vec_id")).collect()[0][0]  # bounded scalar
    qrow = pk.filter(F.col("vec_id") == qid).collect()[0]
    qw0, qw1 = int(qrow["w0"]), int(qrow["w1"])
    coarse = (
        pk.select(
            "vec_id",
            (
                F.expr(f"bit_count(w0 ^ {qw0}L)")
                + F.expr(f"bit_count(w1 ^ {qw1}L)")
            )
            .cast("long")
            .alias("ham"),
        )
        .orderBy("ham", "vec_id")
        .limit(_BQ_COARSE)
    )
    qvec_row = e.filter(F.col("vec_id") == qid).collect()[0]
    qvec = F.array(*[F.lit(float(x)) for x in qvec_row["embedding"]])

    def cos(df):
        return F.round(
            _dot(F.col("embedding"), qvec)
            / (
                F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                * F.sqrt(_dot(qvec, qvec))
            ),
            4,
        )

    sc = (
        F.broadcast(coarse)
        .join(e, "vec_id")
        .select("vec_id", "ham", cos(e).alias("cos4"))
    )
    ans = (
        sc.orderBy(F.col("cos4").desc(), "vec_id")
        .limit(_BQ_K)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos4").desc(), "vec_id"))
            .cast("long"),
        )
    )
    allsc = cut(e.select("vec_id", cos(e).alias("cos4")))
    a = ans.select(
        F.col("vec_id").alias("a_id"),
        F.col("cos4").alias("a_cos4"),
        "rank",
        "ham",
    )
    better = (
        F.broadcast(a)
        .join(
            allsc,
            (F.col("cos4") > F.col("a_cos4"))
            | (
                (F.col("cos4") == F.col("a_cos4"))
                & (F.col("vec_id") < F.col("a_id"))
            ),
            "left",
        )
        .groupBy("a_id", "a_cos4", "rank", "ham")
        .agg(F.count("vec_id").cast("long").alias("n_better"))
    )
    return better.select(
        F.col("a_id").alias("vec_id"),
        "rank",
        "ham",
        F.col("a_cos4").alias("cos4"),
        (F.col("n_better") + 1).cast("long").alias("true_rank"),
    )


# --- TA-KN: interpolated Kneser-Ney bigram smoothing -------------------------------
#
# The smoothing family ta_bigram_lm's add-one does not cover — and
# the one modern LM evaluation actually uses. Kneser-Ney's insight
# is the CONTINUATION count: a word's unigram backoff weight is how
# many distinct contexts it follows (N1+(•w)), not how often it
# occurs ("Francisco" is frequent but only ever follows "San", so it
# gets almost no backoff mass). With discount d = 3/4:
#
#   P_KN(w2|w1) = max(c12 − d, 0)/c1
#               + d·N1+(w1•)/c1 · N1+(•w2)/N_types
#
# restated in exact BIGINT ppm with d = 3/4 cleared through both
# terms: (max(4·c12 − 3, 0)·10⁶) div (4·c1)
#      + (3·N1+(w1•)·N1+(•w2)·10⁶) div (4·c1·N_types)
# — one floor division per term, identical in both engines. Scale
# shape: one shuffle to the bigram-type table, then c1 and N1+(w1•)
# in the SAME prev-keyed aggregate, the continuation count one
# cur-keyed aggregate, N_types a broadcast scalar; output = the
# top-40 bigrams by (count DESC, prev, cur) — a bounded TakeOrdered.

_KN_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bgp AS (
  SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM t
), bg AS (
  SELECT ws[i] AS prev, ws[i + 1] AS cur FROM bgp
), c2 AS (
  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
), c1 AS (
  SELECT prev, CAST(sum(c12) AS BIGINT) AS c1,
         CAST(count(*) AS BIGINT) AS n1p_fwd
  FROM c2 GROUP BY 1
), cont AS (
  SELECT cur, CAST(count(*) AS BIGINT) AS n1p_bwd FROM c2 GROUP BY 1
), nt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types FROM c2
)
SELECT c2.prev, c2.cur, c2.c12, c1.c1, c1.n1p_fwd, cont.n1p_bwd,
       CAST(greatest(4 * c2.c12 - 3, 0) * 1000000 // (4 * c1.c1)
            + 3 * c1.n1p_fwd * cont.n1p_bwd * 1000000
              // (4 * c1.c1 * nt.n_types) AS BIGINT) AS p_kn_ppm
FROM c2 JOIN c1 USING (prev) JOIN cont USING (cur) CROSS JOIN nt
ORDER BY c2.c12 DESC, c2.prev, c2.cur
LIMIT 40
"""


@_q("ta_kn_smoothing", _KN_ORACLE)
def ta_kn_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.split("text", " ").alias("ws"))
    pairs = F.when(
        F.size("ws") >= 2,
        F.expr(
            "transform(sequence(0, size(ws) - 2),"
            " i -> struct(ws[i] AS prev, ws[i + 1] AS cur))"
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    bg = t.select(F.explode(pairs).alias("p")).select(
        F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )
    c2 = bg.groupBy("prev", "cur").agg(
        F.count("*").cast("long").alias("c12")
    )
    c1 = c2.groupBy("prev").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1p_fwd"),
    )
    cont = c2.groupBy("cur").agg(
        F.count("*").cast("long").alias("n1p_bwd")
    )
    nt = c2.agg(F.count("*").cast("long").alias("n_types"))
    return (
        c2.join(c1, "prev")
        .join(cont, "cur")
        .crossJoin(F.broadcast(nt))
        .select(
            "prev",
            "cur",
            "c12",
            "c1",
            "n1p_fwd",
            "n1p_bwd",
            (
                exact_muldiv("greatest(4 * c12 - 3, 0)", [4, "c1"], 1_000_000)
                + exact_muldiv(
                    ["n1p_fwd", "n1p_bwd"], [4, "c1", "n_types"], 3_000_000
                )
            ).alias("p_kn_ppm"),
        )
        .orderBy(F.col("c12").desc(), "prev", "cur")
        .limit(40)
    )


# --- TA-ALLOC: largest-remainder sampling-budget apportionment ---------------------
#
# The EXACT-count companion to ta_weighted_sample / ta_domain_mix's
# rate-based samplers: given an annotation / eval budget of B = 97
# units, apportion them across the language strata proportionally to
# stratum size with Hamilton's largest-remainder method — floor the
# exact quotas B·N_h div N, then hand the R = B − Σfloor leftover
# seats to the largest remainders (ties → lexicographic lang). Pure
# BIGINT end to end (the quota never materializes as a fraction),
# and every row carries the Σseats == B certificate the apportionment
# must satisfy by construction — the arithmetic analogue of
# kg_ppr_push's conservation flag. B = 97 is deliberately prime-ish:
# floors under-allocate (R = 2 at the gate scale) so the remainder
# ranking is load-bearing, not decorative.
#
# Scale shape: one map-side-combined count per stratum (bounded dim),
# a broadcast 1-row total, and the remainder ranking is a window over
# the bounded stratum table. Known-theory caveat documented: Hamilton
# apportionment is monotone for a FIXED stratum set but suffers the
# Alabama paradox under budget growth — a budget sweep must rerun the
# whole allocation, not increment it.

_SEAT_BUDGET = 97

_SEAT_ALLOC_ORACLE = f"""
WITH h AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), t AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM h
), q AS (
  SELECT h.lang, h.n_docs,
         {_SEAT_BUDGET} * h.n_docs // t.n AS base,
         {_SEAT_BUDGET} * h.n_docs % t.n AS rem
  FROM h CROSS JOIN t
), r AS (
  SELECT CAST({_SEAT_BUDGET} - sum(base) AS BIGINT) AS leftover FROM q
), ranked AS (
  SELECT q.*, row_number() OVER (ORDER BY rem DESC, lang NULLS LAST) AS rk
  FROM q
), alloc AS (
  SELECT ranked.lang, ranked.n_docs,
         CAST(ranked.base AS BIGINT) AS base,
         CAST(ranked.rem AS BIGINT) AS rem,
         CAST(CASE WHEN ranked.rk <= r.leftover THEN 1 ELSE 0 END
              AS BIGINT) AS extra
  FROM ranked CROSS JOIN r
)
SELECT lang, n_docs, base, rem, extra,
       CAST(base + extra AS BIGINT) AS seats,
       CAST({_SEAT_BUDGET} AS BIGINT) AS budget,
       CAST(CASE WHEN sum(base + extra) OVER () = {_SEAT_BUDGET}
                 THEN 1 ELSE 0 END AS BIGINT) AS conserved
FROM alloc
"""


@_q("ta_seat_alloc", _SEAT_ALLOC_ORACLE)
@releases_unread_cuts
def ta_seat_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # The stratum table is bounded (language cardinality) but feeds
    # FOUR consumers (t, the leftover aggregate, the main plan, and
    # the conservation window) — cut it once so the
    # "one rollup + broadcast total" shape in the block comment is
    # literally true, not 4 rescans of documents.
    h = cut(
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    t = h.agg(F.sum("n_docs").cast("long").alias("n"))
    q = h.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        exact_muldiv("n_docs", "n", _SEAT_BUDGET).alias("base"),
        (F.lit(_SEAT_BUDGET) * F.col("n_docs") % F.col("n")).alias("rem"),
    )
    r = q.agg(
        (F.lit(_SEAT_BUDGET) - F.sum("base")).cast("long").alias("leftover")
    )
    # Windows over the BOUNDED stratum table (language cardinality).
    # The lang tie key pins NULLS LAST explicitly: Spark's ascending
    # default is nulls-first, DuckDB's is nulls-last — the a27 null-
    # ordering divergence class, closed before a NULL-lang stratum
    # can ever tie at the leftover boundary.
    w = Window.orderBy(F.col("rem").desc(), F.col("lang").asc_nulls_last())
    alloc = (
        q.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(r))
        .withColumn(
            "extra",
            F.when(F.col("rk") <= F.col("leftover"), 1)
            .otherwise(0)
            .cast("long"),
        )
        .withColumn("seats", (F.col("base") + F.col("extra")).cast("long"))
    )
    # The certificate is COMPUTED, not asserted: a leftover bug
    # written identically into both engines would pass the oracle
    # gate, but sum(seats) != budget surfaces it in the result
    # (kg_ppr_push's conservation-flag discipline, for real).
    wc = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return alloc.select(
        "lang",
        "n_docs",
        "base",
        "rem",
        "extra",
        "seats",
        F.lit(_SEAT_BUDGET).cast("long").alias("budget"),
        F.when(F.sum("seats").over(wc) == _SEAT_BUDGET, 1)
        .otherwise(0)
        .cast("long")
        .alias("conserved"),
    )
