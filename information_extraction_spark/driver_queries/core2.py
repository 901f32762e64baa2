"""Second batch of oracle-checked operator queries: multiset span F1
(A3), vocab build (P7), latest-checkpoint pick (W5), substring
find-all counts (P15), keyed stage alignment replacing line-number
zips (J3), and the LSH-bucketed ANN scale path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from information_extraction_spark.driver_queries._registry import _q, _t


# --- A3: multiset span F1 (labeling/predict.py:96-128) ------------------------


@_q(
    "a3_multiset_f1",
    """
    WITH p AS (
      SELECT l_orderkey AS k, l_partkey AS item, count(*) AS n_pred
      FROM lineitem WHERE l_discount > 0.05 GROUP BY 1, 2
    ), g AS (
      SELECT l_orderkey AS k, l_partkey AS item, count(*) AS n_gold
      FROM lineitem WHERE l_quantity > 25 GROUP BY 1, 2
    ), j AS (
      SELECT coalesce(p.n_pred, 0) AS n_pred, coalesce(g.n_gold, 0) AS n_gold
      FROM p FULL OUTER JOIN g ON p.k = g.k AND p.item = g.item
    ), s AS (
      SELECT CAST(sum(least(n_pred, n_gold)) AS BIGINT) AS tp,
             CAST(sum(n_pred - least(n_pred, n_gold)) AS BIGINT) AS fp,
             CAST(sum(n_gold - least(n_pred, n_gold)) AS BIGINT) AS fn
      FROM j)
    SELECT tp, fp, fn,
           round(tp * 1.0 / (tp + fp), 4) AS precision_,
           round(tp * 1.0 / (tp + fn), 4) AS recall_,
           round(2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))
                 / ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (tp + fn))), 4) AS f1
    FROM s
    """,
)
def a3_multiset_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.metrics import (
        multiset_span_f1,
    )

    li = _t(spark, sf_dir, "lineitem")
    pred = li.filter(F.col("l_discount") > 0.05).select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("item")
    )
    gold = li.filter(F.col("l_quantity") > 25).select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("item")
    )
    return multiset_span_f1(pred, gold, keys=["k"], item_cols=["item"])


# --- A2: multi-label classification micro F1 over a (probs, labels)
# matrix (classification/utils.py:57-81) — the label space is the
# event_type vocabulary per user; prob = avg(value)/100, gold = the
# user produced that event type more than twice ---------------------------------


@_q(
    "a2_multilabel_f1",
    """
    WITH m AS (
      SELECT user_id, event_type,
             avg(value) / 100.0 AS prob,
             CASE WHEN count(*) > 2 THEN 1 ELSE 0 END AS gold
      FROM events GROUP BY user_id, event_type
    ), f AS (
      SELECT CASE WHEN prob > 0.5 THEN 1 ELSE 0 END AS pred, gold FROM m
    ), s AS (
      SELECT CAST(sum(pred * gold) AS BIGINT) AS tp,
             CAST(sum(pred * (1 - gold)) AS BIGINT) AS fp,
             CAST(sum((1 - pred) * gold) AS BIGINT) AS fn
      FROM f)
    SELECT tp, fp, fn,
           round(tp * 1.0 / (tp + fp), 4) AS precision_,
           round(tp * 1.0 / (tp + fn), 4) AS recall_,
           round(2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))
                 / ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (tp + fn))), 4)
             AS f1
    FROM s
    """,
)
def a2_multilabel_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.operators.metrics import multilabel_f1

    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy("user_id", "event_type").agg(
        (F.avg("value") / 100.0).alias("prob"),
        F.when(F.count("*") > 2, 1).otherwise(0).alias("gold"),
    )
    # Pack into per-user prob/label vectors to exercise the actual
    # matrix-shaped operator, then let it unroll them again.
    vecs = m.groupBy("user_id").agg(
        F.collect_list("prob").alias("probs"),
        F.collect_list("gold").alias("labels"),
    )
    return multilabel_f1(vecs)


# --- P7: vocabulary build (distinct + stable index,
# classification/dataset.py:56-62) ---------------------------------------------


@_q(
    "p7_vocab_build",
    """
    SELECT w AS word, CAST(row_number() OVER (ORDER BY w) - 1 AS BIGINT)
             AS idx
    FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
          FROM documents) t
    WHERE length(w) >= 1
    """,
)
def p7_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.functions.ranking import stable_rank

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .distinct()
    )
    # Two-phase distributed rank (functions/ranking.py): a web-corpus
    # vocabulary is millions of rows — never a global unpartitioned
    # row_number window.
    return stable_rank(words, "word", "idx")


# --- W5: latest-checkpoint pick (newest per group,
# produce_submit_json_file.py:6-24 — by explicit ordering, not mtime) -----------


@_q(
    "w5_latest_per_group",
    """
    SELECT o_custkey, o_orderkey, CAST(epoch(o_orderdate) AS BIGINT)
             AS order_epoch
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn
      FROM orders) t
    WHERE rn = 1
    """,
)
def w5_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
        )
    )


# --- P15: substring find-all occurrence counts (labeling/tagging.py:4-6;
# non-overlapping count via left-to-right replace) ------------------------------


@_q(
    "p15_findall_counts",
    """
    SELECT doc_id,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3
                AS BIGINT) AS n_the,
           CAST((length(text) - length(replace(text, 'merge', ''))) / 5
                AS BIGINT) AS n_merge
    FROM documents
    """,
)
def p15_findall_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")

    def n_occ(pat: str):
        return (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(pat))))
            / len(pat)
        ).cast("long")

    return d.select(
        "doc_id", n_occ("the").alias("n_the"), n_occ("merge").alias("n_merge")
    )


# --- J3 replacement: explicit-key stage alignment (the line-number zip
# join of produce_submit_json_file.py:108-125 done right) -----------------------


@_q(
    "j3_keyed_stage_align",
    """
    WITH stage1 AS (
      SELECT doc_id, length(text) AS text_len FROM documents
    ), stage2 AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT s1.doc_id, s1.text_len, CAST(s2.n_tokens AS BIGINT) AS n_tokens
    FROM stage1 s1 JOIN stage2 s2 ON s1.doc_id = s2.doc_id
    """,
)
def j3_keyed_stage_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    stage1 = d.select("doc_id", F.length("text").alias("text_len"))
    stage2 = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return stage1.join(stage2, "doc_id")


# --- ANN scale path: LSH (random-hyperplane) bucketing, then exact
# cosine only within buckets ----------------------------------------------------

_N_PLANES = 6

_PLANE_COEF = "(CAST((d * 7 + j * 13) % 5 AS DOUBLE) - 2.0)"

_ANN_LSH_ORACLE = f"""
WITH u AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
), proj AS (
  SELECT vec_id, j, sum(x * {_PLANE_COEF}) AS dot
  FROM u CROSS JOIN generate_series(0, {_N_PLANES - 1}) g(j)
  GROUP BY vec_id, j
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
           AS bucket
  FROM proj GROUP BY vec_id
)
SELECT a.vec_id AS va, b.vec_id AS vb, a.bucket
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
"""


@_q("ann_lsh_bucketed", _ANN_LSH_ORACLE)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs sharing a random-hyperplane LSH signature —
    the bucketed scale path for similarity search (brute force only
    within buckets; planes derived by fixed index arithmetic so the
    SQL oracle reproduces them exactly)."""
    e = _t(spark, sf_dir, "embeddings")
    u = e.select(
        "vec_id", F.posexplode("embedding").alias("d0", "xf")
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    planes = spark.range(0, _N_PLANES).select(F.col("id").cast("int").alias("j"))
    coef = (((F.col("d") * 7 + F.col("j") * 13) % 5).cast("double")) - 2.0
    proj = (
        u.crossJoin(F.broadcast(planes))
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * coef).alias("dot"))
    )
    sig = proj.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("shiftleft(1, j)")).otherwise(0)
        )
        .cast("long")
        .alias("bucket")
    )
    a, b = sig.alias("a"), sig.alias("b")
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        F.col("a.bucket").alias("bucket"),
    )


# --- ANN recall audit: LSH bucket vs brute-force truth ---------------------------
#
# The QA op every approximate index needs before it replaces the
# exact path: recall@k of the LSH bucket against the brute-force
# top-k for the same query vector. The candidate set is exactly
# ann_lsh_bucketed's blocking (same planes, same signature), the
# truth is exactly ann_cosine_topk's scan (same rounding ladder), so
# this query value-checks their COMPOSITION — if either drifts, the
# recall number moves and the oracle catches it. Scale shape: the
# signature pass is the index build (one narrow projection + two
# bounded aggs); the truth scan is one TakeOrderedAndProject; the
# hit count joins the 10-row truth table broadcast against the
# bucket — nothing quadratic anywhere. Recall itself is n_hits/k
# with k fixed: an exact one-decimal double on both engines.

_RECALL_K = 10

_ANN_RECALL_ORACLE = f"""
WITH u AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(range(1, len(embedding) + 1)) AS d
  FROM embeddings
), proj AS (
  SELECT vec_id, j, sum(x * {_PLANE_COEF}) AS dot
  FROM u CROSS JOIN generate_series(0, {_N_PLANES - 1}) g(j)
  GROUP BY vec_id, j
), sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
           AS bucket
  FROM proj GROUP BY vec_id
), qid AS (SELECT min(vec_id) AS q FROM embeddings),
cand AS (
  SELECT s.vec_id FROM sig s, sig qs, qid
  WHERE qs.vec_id = qid.q AND s.bucket = qs.bucket
    AND s.vec_id <> qid.q
), p AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qe FROM embeddings, qid
              WHERE vec_id = qid.q) q
  WHERE e.vec_id <> (SELECT q FROM qid)
), c AS (
  SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cos6
  FROM p GROUP BY vec_id
), truth AS (
  SELECT vec_id FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cos6 DESC, vec_id) AS rnk
    FROM c) t
  WHERE rnk <= {_RECALL_K}
)
SELECT CAST({_RECALL_K} AS BIGINT) AS k,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       CAST(count(*) AS BIGINT) AS n_hits,
       count(*) / CAST({_RECALL_K} AS DOUBLE) AS recall
FROM truth JOIN cand USING (vec_id)
"""


@_q("ann_recall_audit", _ANN_RECALL_ORACLE)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = _t(spark, sf_dir, "embeddings")
    # Signature table — identical construction to ann_lsh_bucketed.
    u = e.select(
        "vec_id", F.posexplode("embedding").alias("d0", "xf")
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    planes = spark.range(0, _N_PLANES).select(
        F.col("id").cast("int").alias("j")
    )
    coef = (((F.col("d") * 7 + F.col("j") * 13) % 5).cast("double")) - 2.0
    sig = (
        u.crossJoin(F.broadcast(planes))
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * coef).alias("dot"))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.when(F.col("dot") > 0, F.expr("shiftleft(1, j)")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("bucket")
        )
    )
    qrow = e.orderBy("vec_id").limit(1).collect()[0]
    qid = qrow["vec_id"]
    qbucket = sig.filter(F.col("vec_id") == qid).collect()[0]["bucket"]
    cand = sig.filter(
        (F.col("bucket") == qbucket) & (F.col("vec_id") != qid)
    ).select("vec_id")
    # Brute-force truth — identical scan to ann_cosine_topk.
    qvec = F.array(*[F.lit(float(v)) for v in qrow["embedding"]])
    qnorm = math.sqrt(sum(float(v) * float(v) for v in qrow["embedding"]))

    def dot(x, y):
        prod = F.zip_with(
            x, y, lambda p, q: p.cast("double") * q.cast("double")
        )
        return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)

    cos = dot(F.col("embedding"), qvec) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm)
    )
    truth = (
        e.filter(F.col("vec_id") != qid)
        .withColumn("cos6", F.round(cos, 6))
        .orderBy(F.col("cos6").desc(), "vec_id")
        .limit(_RECALL_K)
        .select("vec_id")
    )
    n_cand = cand.count()
    hits = F.broadcast(truth).join(cand, "vec_id").count()
    return spark.createDataFrame(
        [(_RECALL_K, n_cand, hits, hits / float(_RECALL_K))],
        "k long, n_candidates long, n_hits long, recall double",
    )
