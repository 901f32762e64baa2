"""Distributed sketch operators: Count-Min frequency estimation
(Cormode & Muthukrishnan 2005), KMV / bottom-k distinct-count
estimation (Bar-Yossef et al. 2002), and Bloom-filter join pruning
(Bloom 1970; the runtime-filter shape Spark's own
spark.sql.optimizer.runtimeFilter.bloomFilter applies under AQE).

These are the bounded-state summaries a 100 TB pipeline leans on
when exact answers are unaffordable: the sketch state is O(d*w),
O(k), or O(m) regardless of input size, every sketch is mergeable
(map-side partials combine associatively), and the probe side never
shuffles. Determinism contract: all hash functions are explicit —
md5-derived 48-bit integers for strings, universal (a*k+b) mod p
integer hashing for keys — so the DuckDB oracles recompute the SAME
sketch bit-for-bit; nothing depends on engine-internal hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from information_extraction_spark.driver_queries._registry import _q, _t
from information_extraction_spark.functions.exact import exact_muldiv


# Portable 48-bit string hash — shared with the streaming CMS merge
# (functions/hashing.py); re-exported under the module-local names the
# oracles and tests were written against.
from information_extraction_spark.functions.hashing import (  # noqa: E402
    h48 as _h48,
    h48_sql as _h48_sql,
)


# --- A11: Count-Min sketch frequency estimation -----------------------------------
#
# Per-token frequency estimates from a d=3 x w=16 counter table. The
# ONLY input-sized shuffle is the word-count aggregate (map-side
# combined, the wordcount shape); the sketch itself aggregates from
# those partials into d*w = 48 rows, and the estimate join probes
# that 48-row table broadcast — at 100 TB the sketch state is still
# 48 counters. w=16 is deliberately SMALLER than the 31-word
# vocabulary so buckets genuinely collide and the min-over-rows
# recovery is load-bearing (with w >> vocab every estimate would
# trivially equal the true count and the sketch math would be dead
# code); the CMS guarantee est >= true holds row by row. Output is
# per word: true count and sketch estimate.

_A11_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
), wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS true_n FROM tok GROUP BY 1
), ex AS (
  SELECT word, true_n, s.seed,
         {_h48_sql("s.seed || word")} % 16 AS bucket
  FROM wc CROSS JOIN (SELECT unnest(['a','b','c']) AS seed) s
), cms AS (
  SELECT seed, bucket, CAST(sum(true_n) AS BIGINT) AS bucket_n
  FROM ex GROUP BY 1, 2
)
SELECT ex.word,
       CAST(min(ex.true_n) AS BIGINT) AS true_n,
       CAST(min(cms.bucket_n) AS BIGINT) AS cms_est
FROM ex JOIN cms ON ex.seed = cms.seed AND ex.bucket = cms.bucket
GROUP BY 1
"""


@_q("a11_countmin_heavy", _A11_ORACLE)
def a11_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    wc = tok.groupBy("word").agg(F.count("*").cast("long").alias("true_n"))
    ex = wc.withColumn(
        "seed", F.explode(F.array(F.lit("a"), F.lit("b"), F.lit("c")))
    ).withColumn("bucket", _h48(F.concat(F.col("seed"), F.col("word"))) % 16)
    cms = ex.groupBy("seed", "bucket").agg(
        F.sum("true_n").cast("long").alias("bucket_n")
    )
    est = ex.join(F.broadcast(cms), ["seed", "bucket"]).groupBy("word").agg(
        F.min("true_n").cast("long").alias("true_n"),
        F.min("bucket_n").cast("long").alias("cms_est"),
    )
    return est


# --- A12: KMV (bottom-k) distinct-count sketch ------------------------------------
#
# Estimate the number of DISTINCT word trigrams in the corpus from
# only the k=256 smallest 48-bit hash values: est = (k-1) * 2^48 /
# h_(k) (Bar-Yossef et al. 2002). Shingling is a narrow in-row
# transform (sequence + transform over the split array — no window,
# no shuffle); the only exchange carries DISTINCT 8-byte hashes
# (map-side partial distinct), and the bottom-k is
# TakeOrderedAndProject — per-partition k-min heaps merged on the
# driver, which IS the KMV merge operation, so the same plan runs
# unchanged on 1000 executors. The estimate divides as BIGINT (div)
# on both engines: (k-1)*2^48 = 255 * 2^48 < 2^63, no FP anywhere.
# exact_distinct rides along to make the approximation error visible
# (k=256 -> ~6% typical): the sketch answers from 256 longs what the
# exact path needs the full distinct set for.

_KMV_K = 256
_KMV_NUM = (_KMV_K - 1) * (2**48)

_A12_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
), g AS (
  SELECT DISTINCT w || ' ' || lead(w, 1) OVER win || ' '
         || lead(w, 2) OVER win AS tri
  FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY i)
), gd AS (
  SELECT tri FROM g WHERE tri IS NOT NULL
), h AS (
  SELECT DISTINCT {_h48_sql("tri")} AS h FROM gd
), bk AS (
  SELECT h FROM h ORDER BY h LIMIT {_KMV_K}
), kth AS (
  SELECT CAST(max(h) AS BIGINT) AS kth_hash,
         CAST(count(*) AS BIGINT) AS n_hashes
  FROM bk
), ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_distinct FROM gd
)
SELECT kth.n_hashes, kth.kth_hash,
       CAST({_KMV_NUM} // kth.kth_hash AS BIGINT) AS est_distinct,
       ex.exact_distinct
FROM kth CROSS JOIN ex
"""


@_q("a12_kmv_distinct", _A12_ORACLE)
def a12_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tris = docs.select(
        F.explode(
            # sequence(0, n) DESCENDS when n < 0, so short texts need
            # the explicit empty-array guard, not a greatest() clamp.
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 3 THEN"
                " transform(sequence(0, size(split(text, ' ')) - 3),"
                " i -> concat_ws(' ', split(text, ' ')[i],"
                " split(text, ' ')[i+1], split(text, ' ')[i+2]))"
                " ELSE array() END"
            )
        ).alias("tri")
    )
    hashes = tris.select(_h48(F.col("tri")).alias("h")).distinct()
    bottomk = hashes.orderBy("h").limit(_KMV_K)
    kth = bottomk.agg(
        F.count("*").cast("long").alias("n_hashes"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    exact = tris.agg(
        F.countDistinct("tri").cast("long").alias("exact_distinct")
    )
    return kth.crossJoin(exact).select(
        "n_hashes",
        "kth_hash",
        F.expr(f"CAST({_KMV_NUM} div kth_hash AS BIGINT)").alias(
            "est_distinct"
        ),
        "exact_distinct",
    )


# --- J10: Bloom-filter join pruning ------------------------------------------------
#
# The runtime-filter shape: build an m=8192-bit Bloom filter over the
# PROMO part keys (3 universal integer hashes (a*key + b) mod p mod
# m — explicit, so the oracle recomputes identical bits), broadcast
# it, and prune the lineitem scan to rows that pass all three bit
# probes BEFORE any join or shuffle. The fact side never exchanges:
# the filter is a narrow map over the scan (at 100 TB this is the
# difference between shuffling every lineitem into a join and
# shuffling ~1/6 of them plus a bounded false-positive tail). The
# query reports the honest audit: rows passing the filter, rows
# truly matching (exact semi-check against the broadcast key set),
# and the false positives the m=8192 sizing admits — Bloom
# guarantees no false NEGATIVES, pinned by n_true == exact count.

_BLOOM_M = 8192
_BLOOM_P = 2147483647
_BLOOM_HASHES = ((1000003, 17), (999983, 29), (888887, 41))


def _bloom_pos_sql(key: str, a: int, b: int) -> str:
    return f"((({a} * {key} + {b}) % {_BLOOM_P}) % {_BLOOM_M})"


_J10_ORACLE = f"""
WITH promo AS (
  SELECT p_partkey FROM part WHERE p_type = 'PROMO'
), bits AS (
  SELECT list(DISTINCT pos) AS bl FROM (
    {" UNION ALL ".join(
        f"SELECT {_bloom_pos_sql('p_partkey', a, b)} AS pos FROM promo"
        for a, b in _BLOOM_HASHES
    )}
  )
), probe AS (
  SELECT l.l_partkey,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
              AS BIGINT) AS cents,
         {" AND ".join(
             f"list_contains(bits.bl, {_bloom_pos_sql('l.l_partkey', a, b)})"
             for a, b in _BLOOM_HASHES
         )} AS pass,
         l.l_partkey IN (SELECT p_partkey FROM promo) AS hit
  FROM lineitem l CROSS JOIN bits
)
SELECT CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN pass AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       sum(CASE WHEN pass THEN cents ELSE 0 END) / 100.0 AS pass_revenue
FROM probe
"""


@_q("j10_bloom_filter_join", _J10_ORACLE)
def j10_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    promo = part.filter(F.col("p_type") == "PROMO").select("p_partkey")

    def pos(key_col, a: int, b: int):
        return ((F.lit(a) * key_col + F.lit(b)) % _BLOOM_P) % _BLOOM_M

    bits = (
        promo.select(
            F.explode(
                F.array(
                    *[pos(F.col("p_partkey"), a, b) for a, b in _BLOOM_HASHES]
                )
            ).alias("pos")
        )
        .agg(F.array_sort(F.collect_set("pos")).alias("bl"))
    )
    keys = promo.agg(F.collect_set("p_partkey").alias("ks"))
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("cents"),
    )
    probe = l.crossJoin(F.broadcast(bits)).crossJoin(F.broadcast(keys))
    pass_c = F.lit(True)
    for a, b in _BLOOM_HASHES:
        pass_c = pass_c & F.array_contains(
            F.col("bl"), pos(F.col("l_partkey"), a, b)
        )
    probe = probe.withColumn("pass", pass_c).withColumn(
        "hit", F.array_contains(F.col("ks"), F.col("l_partkey"))
    )
    return probe.agg(
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        F.sum(F.when(F.col("pass") & ~F.col("hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        (
            F.sum(F.when(F.col("pass"), F.col("cents")).otherwise(F.lit(0)))
            / F.lit(100.0)
        ).alias("pass_revenue"),
    )


# --- A14: HyperLogLog distinct estimation -----------------------------------------
#
# The industry-standard distinct counter (Flajolet et al. 2007) over
# the corpus 5-char shingle stream: m=64 registers, each holding the
# max leading-zero rank of the hashed values routed to it. Unlike
# KMV (a12), HLL needs NO pre-distinct and NO per-partition heaps —
# max is idempotent over duplicates, so the ONLY input-sized work is
# a narrow map and the single map-side-combined 64-group max
# aggregate; sketch state is 64 bytes-ish at any corpus size and
# merges by register-wise max (the mergeable-partials contract the
# streaming CMS uses). The exact countDistinct runs alongside as the
# audit column (it is the expensive one — one shingle-keyed shuffle).
#
# Determinism: h48 md5 hashing; register = h % 64; rank = leading
# zeros of the remaining 42-bit value + 1, computed as
# 43 - length(bin(w)) — INTEGER string ops, no cross-engine
# floor(log2()) boundary risk. The harmonic-mean estimate folds
# 2^-rank terms (exact powers of two) in register order on both
# sides; raw HLL only — the shingle cardinality is far above the
# 2.5m small-range-correction regime, so linear counting (and its
# cross-engine ln()) stays out of the compared columns.

_A14_ORACLE = f"""
WITH sh AS (
  SELECT unnest(list_transform(
           range(1, greatest(length(text) - 4, 0) + 1),
           i -> substring(text, CAST(i AS INT), 5))) AS s
  FROM documents
), hx AS (
  SELECT {_h48_sql("s")} AS h FROM sh
), r AS (
  SELECT h % 64 AS register,
         CASE WHEN h // 64 = 0 THEN 43
              ELSE 43 - length(bin(h // 64)) END AS rank
  FROM hx
), regs AS (
  SELECT register, CAST(max(rank) AS BIGINT) AS max_rank
  FROM r GROUP BY 1
), fullr AS (
  SELECT g.j AS register, COALESCE(regs.max_rank, 0) AS m
  FROM generate_series(0, 63) g(j)
  LEFT JOIN regs ON regs.register = g.j
), sl AS (
  SELECT list(CAST(m AS BIGINT) ORDER BY register) AS ms FROM fullr
), est AS (
  SELECT CAST(round(
           0.709 * 4096
           / list_sum(list_transform(ms, x -> power(2.0, -x)))
           * 10000) AS BIGINT) AS est_e4
  FROM sl
), td AS (
  SELECT CAST(count(DISTINCT s) AS BIGINT) AS true_distinct FROM sh
)
SELECT regs.register, regs.max_rank, est.est_e4, td.true_distinct
FROM regs, est, td
"""


@_q("a14_hll_distinct", _A14_ORACLE)
def a14_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= 5, F.sequence(F.lit(1), F.length("text") - 4)
    ).otherwise(F.array().cast("array<int>"))
    sh = docs.withColumn("pos", F.explode(positions)).select(
        F.expr("substring(text, pos, 5)").alias("s")
    )
    h = _h48(F.col("s"))
    w = (h / F.lit(64)).cast("long")  # h div 64 (h >= 0)
    rank = F.when(w == 0, F.lit(43)).otherwise(
        F.lit(43) - F.length(F.bin(w))
    )
    regs = (
        sh.select((h % 64).alias("register"), rank.alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").cast("long").alias("max_rank"))
    )
    # Bounded collect: exactly <=64 register maxima; the estimate
    # folds in register order, mirroring the oracle's ordered list.
    got = {r["register"]: r["max_rank"] for r in regs.collect()}
    acc = 0.0
    for j in range(64):
        acc += 2.0 ** -got.get(j, 0)
    import math as _math

    est = int(
        _math.copysign(
            _math.floor(abs(0.709 * 4096 / acc * 10000) + 0.5), 1.0
        )
    )
    true_d = sh.distinct().count()
    return regs.select(
        "register",
        "max_rank",
        F.lit(est).cast("long").alias("est_e4"),
        F.lit(true_d).cast("long").alias("true_distinct"),
    )


# --- A15: bitmap distinct (roaring-style 63-bit words) ------------------------
#
# Daily distinct users as OR-merged fixed-width bitmaps — the
# bitmap-index representation (roaring's dense container) that makes
# distinct-count MERGEABLE like the HLL above but EXACT: each user
# sets one bit in word user_id div 63, per-day words merge with
# bit_or (idempotent over duplicate events — no pre-distinct), and
# the day's distinct count is the sum of bit_count over its words.
# State per day is bounded by the id universe (|users|/63 words),
# and two date ranges combine by word-wise OR — the partial-merge
# contract warehouse rollups need.
#
# 63 bits per word (bits 0..62) keeps the sign bit out of play: both
# engines then agree on shift/OR/bit_count without two's-complement
# edge cases. One map-side-combined shuffle on (day, word); the
# per-day total rides a bounded window over the day's words.

_A15_ORACLE = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         user_id // 63 AS word,
         CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT) AS bit
  FROM events WHERE ts IS NOT NULL
), w AS (
  SELECT day, word, bit_or(bit) AS bits
  FROM e GROUP BY 1, 2
)
SELECT day, word, bits,
       CAST(sum(bit_count(bits)) OVER (PARTITION BY day) AS BIGINT)
         AS day_distinct
FROM w
"""


@_q("a15_bitmap_users", _A15_ORACLE)
def a15_bitmap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            F.expr(
                "unix_timestamp(cast(ts as timestamp)) div 86400"
            ).alias("day"),
            F.expr("user_id div 63").alias("word"),
            F.expr(
                "shiftleft(1L, cast(user_id % 63 as int))"
            ).alias("bit"),
        )
    )
    w = e.groupBy("day", "word").agg(F.expr("bit_or(bit)").alias("bits"))
    return w.withColumn(
        "day_distinct",
        F.sum(F.bit_count("bits"))
        .over(Window.partitionBy("day"))
        .cast("long"),
    )


# --- A16: hash-sampled GROUP BY estimation (AQP audit) -------------------------
#
# The approximate-query-processing estimator that closes the sketch
# family (CMS frequencies, KMV/HLL distincts, bitmap exact, bloom
# membership): a 10% DETERMINISTIC hash sample of events — keep iff
# h48(event_id) * 10 < 2^48, the ta_weighted_sample discipline, so
# reruns and retries see the identical sample — scaled up 10x into
# per-event_type count estimates, reported NEXT TO the exact counts
# with the exact-integer error in ppm. Honest-audit pattern
# (ann_recall_audit): sampling error is the point — rare groups
# estimate worse, and the per-group error column shows exactly how
# much. Scale shape: the sample filter is a narrow scan predicate
# (no shuffle to sample); both aggregates are map-side combined;
# the join of two 5-row group tables is trivial.

_A16_ORACLE = f"""
WITH ex AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1
), sm AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS sample_n
  FROM events
  WHERE event_type IS NOT NULL
    AND {_h48_sql("CAST(event_id AS VARCHAR)")} * 10 < 281474976710656
  GROUP BY 1
)
SELECT ex.event_type, ex.exact_n,
       CAST(COALESCE(sm.sample_n, 0) AS BIGINT) AS sample_n,
       CAST(COALESCE(sm.sample_n, 0) * 10 AS BIGINT) AS est_n,
       CAST(abs(COALESCE(sm.sample_n, 0) * 10 - ex.exact_n) * 1000000
            // ex.exact_n AS BIGINT) AS err_ppm
FROM ex LEFT JOIN sm ON ex.event_type = sm.event_type
"""


@_q("a16_sampled_groupby", _A16_ORACLE)
def a16_sampled_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    exact = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_n")
    )
    sample = (
        e.filter(
            _h48(F.col("event_id").cast("string")) * 10 < F.lit(2**48)
        )
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("sample_n"))
    )
    j = exact.join(sample, "event_type", "left").select(
        "event_type",
        "exact_n",
        F.coalesce("sample_n", F.lit(0)).cast("long").alias("sample_n"),
    )
    return j.select(
        "event_type",
        "exact_n",
        "sample_n",
        (F.col("sample_n") * 10).cast("long").alias("est_n"),
        exact_muldiv(
            F.abs(F.col("sample_n") * 10 - F.col("exact_n")), "exact_n", 1_000_000
        ).alias("err_ppm"),
    )


# --- A17: mergeable HLL rollup (per-group sketches -> merged global) ---------------
#
# The property that makes sketches viable at 100 TB is MERGEABILITY:
# a warehouse pre-aggregates one bounded sketch per partition (per
# day, per language, per shard) and answers any coarser scope by
# merging register tables — never re-reading raw data. a14 proved
# the single-scope estimator; this query proves the merge contract
# end-to-end: per-language 64-register HLL sketches built in ONE
# map-side-combined shuffle keyed (lang, register), then the GLOBAL
# sketch derived purely register-wise (max over the per-lang maxima
# — 64·n_langs rows, a bounded second agg) with NO second pass over
# the shingles. The merged estimate must equal what a direct global
# sketch would say (max over a union is the max of maxes), and the
# oracle recomputes both sides from scratch. Exact per-scope
# distincts ride along as the audit column (the affordable-at-test-
# scale leg, same as a14; a real pipeline drops it).
#
# Estimate fold: registers collect driver-side (bounded: 64 per
# scope), fold in register order with the same half-away rounding as
# a14 — the oracle's list(... ORDER BY register) fold adds in the
# identical order, so the float sums agree bit-for-bit.

_A17_ORACLE = f"""
WITH sh AS (
  SELECT coalesce(lang, '(none)') AS lang, unnest(list_transform(
           range(1, greatest(length(text) - 4, 0) + 1),
           i -> substring(text, CAST(i AS INT), 5))) AS s
  FROM documents
), hx AS (
  SELECT lang, {_h48_sql("s")} AS h, s FROM sh
), r AS (
  SELECT lang, h % 64 AS register,
         CASE WHEN h // 64 = 0 THEN 43
              ELSE 43 - length(bin(h // 64)) END AS rank,
         s
  FROM hx
), regs AS (
  SELECT lang AS scope, register, CAST(max(rank) AS BIGINT) AS max_rank
  FROM r GROUP BY 1, 2
), merged AS (
  SELECT 'ALL' AS scope, register, CAST(max(max_rank) AS BIGINT) AS max_rank
  FROM regs GROUP BY 2
), allregs AS (
  SELECT * FROM regs UNION ALL SELECT * FROM merged
), scopes AS (
  SELECT DISTINCT scope FROM allregs
), fullr AS (
  SELECT scopes.scope, g.j AS register, COALESCE(a.max_rank, 0) AS m
  FROM scopes CROSS JOIN generate_series(0, 63) g(j)
  LEFT JOIN allregs a ON a.scope = scopes.scope AND a.register = g.j
), est AS (
  SELECT scope,
         CAST(round(
           0.709 * 4096
           / list_sum(list_transform(
               list(CAST(m AS BIGINT) ORDER BY register),
               x -> power(2.0, -x)))
           * 10000) AS BIGINT) AS est_e4
  FROM fullr GROUP BY 1
), td AS (
  SELECT lang AS scope, CAST(count(DISTINCT s) AS BIGINT) AS true_distinct
  FROM r GROUP BY 1
  UNION ALL
  SELECT 'ALL', CAST(count(DISTINCT s) AS BIGINT) FROM r
)
SELECT est.scope, est.est_e4, td.true_distinct
FROM est JOIN td ON td.scope = est.scope
"""


@_q("a17_hll_mergeable", _A17_ORACLE)
def a17_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    docs = _t(spark, sf_dir, "documents")
    positions = F.when(
        F.length("text") >= 5, F.sequence(F.lit(1), F.length("text") - 4)
    ).otherwise(F.array().cast("array<int>"))
    # lang is nullable; a NULL scope crashes the driver-side sorted()
    # merge and would vanish at the est/exact equi-join — coalesce to
    # a sentinel no 2-letter code can collide with, both engines.
    sh = docs.withColumn("pos", F.explode(positions)).select(
        F.coalesce("lang", F.lit("(none)")).alias("lang"),
        F.expr("substring(text, pos, 5)").alias("s"),
    )
    h = _h48(F.col("s"))
    w = (h / F.lit(64)).cast("long")
    rank = F.when(w == 0, F.lit(43)).otherwise(F.lit(43) - F.length(F.bin(w)))
    per_lang = (
        sh.select(
            F.col("lang").alias("scope"),
            (h % 64).alias("register"),
            rank.alias("rank"),
        )
        .groupBy("scope", "register")
        .agg(F.max("rank").cast("long").alias("max_rank"))
    )
    # Register-wise merge: the ONLY input is the bounded per-scope
    # register table — this is the line a 100 TB rollup runs.
    merged = per_lang.groupBy("register").agg(
        F.max("max_rank").alias("max_rank")
    ).select(F.lit("ALL").alias("scope"), "register", "max_rank")
    allregs = per_lang.unionByName(merged)

    # Bounded collect (<= 64 * (n_langs + 1) rows); fold per scope in
    # register order, half-away rounding — a14's exact arithmetic.
    by_scope: dict = {}
    for row in allregs.collect():
        by_scope.setdefault(row["scope"], {})[row["register"]] = row[
            "max_rank"
        ]
    ests = {}
    for scope, got in by_scope.items():
        acc = 0.0
        for j in range(64):
            acc += 2.0 ** -got.get(j, 0)
        ests[scope] = int(_math.floor(abs(0.709 * 4096 / acc * 10000) + 0.5))

    exact = (
        sh.groupBy(F.col("lang").alias("scope"))
        .agg(F.countDistinct("s").alias("true_distinct"))
        .unionByName(
            sh.select(
                F.lit("ALL").alias("scope"), F.col("s")
            ).groupBy("scope").agg(
                F.countDistinct("s").alias("true_distinct")
            )
        )
    )
    est_df = spark.createDataFrame(
        [(s, e) for s, e in sorted(ests.items())], "scope string, est_e4 long"
    )
    return est_df.join(exact, "scope").select(
        "scope", F.col("est_e4"), F.col("true_distinct").cast("long")
    )


# --- A18: exact ROC AUC from a score histogram -------------------------------------
#
# AUC of `value` as a ranking score for the purchase/non-purchase
# label, computed EXACTLY via the Mann-Whitney rank statistic with
# midrank tie handling — but never by ranking rows: the only
# input-sized exchange is a map-side-combined groupBy to the
# (score_cents, n_pos, n) histogram, whose cardinality is bounded by
# the score DOMAIN (<= 49,002 distinct cent values here) regardless
# of row count — the same exact-mergeable-sketch argument as
# ta_length_quantiles. The running below-count window then runs over
# the bounded histogram (documented single-partition window over
# bounded rows, not over input). Ties are real (10k rows over 6.6k
# distinct cents at sf0.01), so the midrank term is load-bearing.
# All arithmetic is BIGINT: 2*sum(midranks of positives) =
# sum_v n_pos(v) * (2*below(v) + n(v) + 1), and
# auc_ppm = (2*sum_R - n_pos*(n_pos+1)) * 10^6 div (2*n_pos*n_neg).

_A18_ORACLE = """
WITH hist AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pos,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1
), cum AS (
  SELECT cents, n_pos, n,
         CAST(coalesce(sum(n) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM hist
), agg AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         CAST(sum(n - n_pos) AS BIGINT) AS n_neg,
         CAST(sum(n_pos * (2 * below + n + 1)) AS BIGINT) AS two_rank_sum
  FROM cum
)
SELECT n_pos, n_neg,
       CAST((two_rank_sum - n_pos * (n_pos + 1)) * 1000000
            // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM agg
"""


@_q("a18_auc_exact", _A18_ORACLE)
def a18_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hist = e.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("cents")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n"),
    )
    # Window over the bounded histogram (score-domain cardinality),
    # not over input rows — single partition is safe by construction.
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "below", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum(F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (2 * F.col("below") + F.col("n") + 1)
        ).cast("long").alias("two_rank_sum"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        exact_muldiv(
            "two_rank_sum - n_pos * (n_pos + 1)", [2, "n_pos", "n_neg"], 1_000_000
        ).alias("auc_ppm"),
    )


# --- A19: calibration reliability bins + gap (ECE ingredients) ---------------------
#
# Treat value/500 as a predicted purchase probability and audit its
# calibration: 10 equal-width probability bins, per bin the event
# count, positive count, mean predicted confidence, and the
# |confidence - accuracy| gap that the Expected Calibration Error
# weights. ONE map-side-combined shuffle to <=10 bin rows — the bin
# table IS the mergeable sketch, so the same plan calibrates 10^12
# predictions. Everything stays in exact ppm integers: each event's
# confidence in ppm is cents*20 EXACTLY (cents*10^6/50000), so
# conf_ppm = (sum_cents*20) div n needs one integer division per bin
# and no floats anywhere.

_A19_ORACLE = """
WITH binned AS (
  SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9) AS bin,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events WHERE ts IS NOT NULL
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(CAST(sum(cents) AS BIGINT) * 20 // count(*) AS BIGINT) AS conf_ppm,
       CAST(CAST(sum(pos) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS acc_ppm,
       CAST(abs(CAST(sum(cents) AS BIGINT) * 20 // count(*)
                - CAST(sum(pos) AS BIGINT) * 1000000 // count(*))
            AS BIGINT) AS gap_ppm
FROM binned GROUP BY 1
"""


@_q("a19_calibration", _A19_ORACLE)
def a19_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    binned = e.select(
        F.least(exact_muldiv(cents, 5000, 1), F.lit(9)).alias("bin"),
        cents.alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    agg = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    conf = exact_muldiv("sum_cents", "n", 20)
    acc = exact_muldiv("n_pos", "n", 1_000_000)
    return agg.select(
        "bin",
        "n",
        "n_pos",
        conf.alias("conf_ppm"),
        acc.alias("acc_ppm"),
        F.abs(conf - acc).cast("long").alias("gap_ppm"),
    )


# --- A20: Poisson-bootstrap confidence intervals -----------------------------------
#
# Per-language mean token count with a 95% bootstrap CI. Classical
# bootstrap resampling (sample n rows WITH replacement, R times) is
# unrunnable at 10^12 rows — it would shuffle R full copies of the
# data. The POISSON bootstrap (Chamandy et al., "Estimating
# uncertainty for massive data streams", Google 2012) replaces the
# multinomial resample with an independent Poisson(1) weight per
# (row, replicate): each row contributes to all R replicates in ONE
# narrow pass, no resampling shuffle, and the replicate estimates
# converge to the same distribution. Determinism contract: the
# weight is inverse-CDF'd from the portable 48-bit md5 uniform of
# "doc_id#rep" against Poisson(1) cumulative thresholds computed
# ONCE in Python and embedded as identical integer literals in both
# engines — no cross-engine exp(). Replicate means are integer ppm
# (BIGINT div, ANSI-safe greatest-guard); the CI picks order
# statistics 2 and 39 of the R=40 sorted replicate means
# (conservative-inward nearest-rank 2.5%/97.5%), so every compared
# value is an exact BIGINT.
#
# Scale shape: explode x R=40 is narrow (no data copies, weights are
# in-row arithmetic); the replicate aggregate is ONE map-side
# combined shuffle to (langs x R) = 200 rows; the order statistics
# sort a bounded 40-element array per language driver-free.

import math as _math

_POIS1_THRESH = []
_cum, _term = 0.0, _math.exp(-1.0)
for _k in range(5):
    _cum += _term
    _POIS1_THRESH.append(int(_math.floor(_cum * (1 << 48))))
    _term /= _k + 1
del _cum, _term, _k

_A20_R = 40


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS1_THRESH)
    )
    return f"CASE {branches} ELSE 5 END"


_A20_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
  FROM documents
), reps AS (
  SELECT lang, doc_id, tok, r AS rep
  FROM tok CROSS JOIN generate_series(1, {_A20_R}) g(r)
), wt AS (
  SELECT lang, rep, tok,
         {_pois_case_sql(_h48_sql(
             "CAST(doc_id AS VARCHAR) || '#' || CAST(rep AS VARCHAR)"))} AS w
  FROM reps
), rm AS (
  SELECT lang, rep,
         CAST(CAST(sum(w * tok) AS BIGINT) * 1000000
              // greatest(CAST(sum(w) AS BIGINT), 1) AS BIGINT) AS mean_ppm
  FROM wt GROUP BY lang, rep
), ranked AS (
  SELECT lang, mean_ppm,
         row_number() OVER (PARTITION BY lang
                            ORDER BY mean_ppm, rep) AS rn
  FROM rm
), ci AS (
  SELECT lang,
         max(CASE WHEN rn = 2 THEN mean_ppm END) AS lo_ppm,
         max(CASE WHEN rn = {_A20_R - 1} THEN mean_ppm END) AS hi_ppm
  FROM ranked GROUP BY lang
), pt AS (
  SELECT lang,
         CAST(CAST(sum(tok) AS BIGINT) * 1000000
              // count(*) AS BIGINT) AS mean_ppm
  FROM tok GROUP BY lang
)
SELECT pt.lang AS lang, pt.mean_ppm AS mean_ppm,
       ci.lo_ppm AS lo_ppm, ci.hi_ppm AS hi_ppm
FROM pt JOIN ci ON pt.lang = ci.lang
"""

# _h48_sql is the shared portable hash; the Spark side uses _h48().


@_q("a20_bootstrap_ci", _A20_ORACLE)
def a20_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )
    reps = tok.withColumn(
        "rep", F.explode(F.sequence(F.lit(1), F.lit(_A20_R)))
    )
    u = _h48(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("#"),
            F.col("rep").cast("string"),
        )
    )
    w = F.lit(5)
    for k in reversed(range(5)):
        w = F.when(u < _POIS1_THRESH[k], F.lit(k)).otherwise(w)
    rm = (
        reps.withColumn("w", w.cast("long"))
        .groupBy("lang", "rep")
        .agg(
            F.sum(F.col("w") * F.col("tok")).cast("long").alias("s_wt"),
            F.sum("w").cast("long").alias("s_w"),
        )
        .select(
            "lang",
            exact_muldiv("s_wt", "greatest(s_w, 1)", 1_000_000).alias(
                "mean_ppm"
            ),
        )
    )
    ci = rm.groupBy("lang").agg(
        F.array_sort(F.collect_list("mean_ppm")).alias("ms")
    ).select(
        "lang",
        F.element_at("ms", 2).alias("lo_ppm"),
        F.element_at("ms", _A20_R - 1).alias("hi_ppm"),
    )
    pt = tok.groupBy("lang").agg(
        exact_muldiv("sum(tok)", "count(*)", 1_000_000).alias("mean_ppm")
    )
    return pt.join(F.broadcast(ci), "lang").select(
        "lang", "mean_ppm", "lo_ppm", "hi_ppm"
    )


# --- W33: optimizer-stats collection (ANALYZE TABLE) ----------------------------
#
# The maintenance job every CBO depends on — per-column table stats:
# row/null counts, EXACT ndv, a KMV-sketch ndv estimate with its
# honest error (the sketch is what a 100 TB ANALYZE actually
# computes; the exact ndv here is the audit), and min/max. One
# bounded stats row per profiled column. KMV rule: with fewer than
# K=256 distinct hashes the sketch IS exact (est = n_hashes), else
# est = (K-1)·2^48 div kth_hash — a12's estimator over the portable
# h48. Scale shape: each column's pass is a SINGLE-COLUMN pruned
# scan (ReadSchema carries one field — exactly how a real ANALYZE
# parallelizes by column), a map-side-combined agg for
# n/null/min/max/exact-ndv, and a bottom-K TakeOrdered for the
# sketch; the output is a 4-row dim.

_W33_COLS = [
    ("l_orderkey", "BIGINT"),
    ("l_partkey", "BIGINT"),
    ("l_suppkey", "BIGINT"),
    ("l_returnflag", "VARCHAR"),
]


def _w33_oracle_sql() -> str:
    parts = []
    for col, _t_ in _W33_COLS:
        h = _h48_sql(f"CAST(t.{col} AS VARCHAR)")
        parts.append(f"""
SELECT '{col}' AS col_name,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
       (SELECT CAST(count(*) - count({col}) AS BIGINT) FROM lineitem)
         AS n_null,
       (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM lineitem)
         AS ndv_exact,
       k.n_hashes, k.kth_hash,
       CASE WHEN k.n_hashes < {_KMV_K} THEN k.n_hashes
            ELSE CAST({_KMV_NUM} // k.kth_hash AS BIGINT) END AS ndv_est,
       (SELECT CAST(min({col}) AS VARCHAR) FROM lineitem) AS min_val,
       (SELECT CAST(max({col}) AS VARCHAR) FROM lineitem) AS max_val
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_hashes,
         CAST(max(h) AS BIGINT) AS kth_hash
  FROM (SELECT h FROM (
          SELECT DISTINCT {h} AS h FROM lineitem t
          WHERE t.{col} IS NOT NULL)
        ORDER BY h LIMIT {_KMV_K})
) k""")
    return "\nUNION ALL\n".join(parts)


@_q("w33_analyze_stats", _w33_oracle_sql())
def w33_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column stats with a KMV ndv sketch next to
    the exact audit (see block comment)."""
    li = _t(spark, sf_dir, "lineitem")
    outs = []
    for col, _typ in _W33_COLS:
        one = li.select(col)  # single-column pruned scan per pass
        base = one.agg(
            F.count("*").cast("long").alias("n_rows"),
            (F.count("*") - F.count(col)).cast("long").alias("n_null"),
            F.countDistinct(col).cast("long").alias("ndv_exact"),
            F.min(col).cast("string").alias("min_val"),
            F.max(col).cast("string").alias("max_val"),
        )
        kth = (
            one.filter(F.col(col).isNotNull())
            .select(_h48(F.col(col).cast("string")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
            .agg(
                F.count("*").cast("long").alias("n_hashes"),
                F.max("h").cast("long").alias("kth_hash"),
            )
        )
        outs.append(
            base.crossJoin(kth).select(
                F.lit(col).alias("col_name"),
                "n_rows",
                "n_null",
                "ndv_exact",
                "n_hashes",
                "kth_hash",
                F.expr(
                    f"CASE WHEN n_hashes < {_KMV_K} THEN n_hashes"
                    f" ELSE CAST({_KMV_NUM} div kth_hash AS BIGINT) END"
                ).alias("ndv_est"),
                "min_val",
                "max_val",
            )
        )
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out


# --- A25: two-sample Kolmogorov-Smirnov drift gate ---------------------------------
#
# KS distance between the n_chars distributions of the English and
# non-English document populations — the distribution-level drift
# gate a corpus-mixing pipeline runs before accepting a new source
# (mean/quantile monitors miss shape changes; KS is the standard
# whole-CDF statistic). Computed EXACTLY and distributedly via the
# a18 histogram argument: the only input-sized exchange is one
# map-side-combined groupBy to the (n_chars, cnt_en, cnt_other)
# histogram, bounded by the value DOMAIN regardless of row count;
# the running CDFs are windows over that bounded histogram. The
# sup-distance compare is the pure-BIGINT cross-multiplication
# |cum_a·n_b − cum_b·n_a| (never a float CDF), its location ks_at
# is the SMALLEST value attaining the sup (struct-max tie rule), and
# the alpha=0.05 large-sample decision D > 1.358·sqrt((na+nb)/na/nb)
# is restated squared in ppm² — both engines evaluate the identical
# floor-div threshold, no sqrt anywhere.

_A25_ORACLE = """
WITH hist AS (
  SELECT n_chars,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
), cum AS (
  SELECT n_chars,
         CAST(sum(ca) OVER (ORDER BY n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY n_chars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_b
  FROM hist
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM hist
), diffs AS (
  SELECT c.n_chars, abs(c.cum_a * t.n_b - c.cum_b * t.n_a) AS dnum,
         t.n_a, t.n_b
  FROM cum c CROSS JOIN tot t
), best AS (
  SELECT max(dnum) AS d_num, max(n_a) AS n_a, max(n_b) AS n_b FROM diffs
), scored AS (
  -- chained quotient/remainder ppm: floor(x*10^6/g) computed as
  -- (x//g)*10^6 + ((x%g)*10^3//g)*10^3 + (((x%g)*10^3%g)*10^3//g),
  -- exact while g = n_a*n_b <= 2^63/1000 (~9.2e15, ~10^8 docs/side)
  SELECT n_a, n_b, d_num,
         (d_num // (n_a * n_b)) * 1000000
         + ((d_num % (n_a * n_b)) * 1000 // (n_a * n_b)) * 1000
         + (((d_num % (n_a * n_b)) * 1000 % (n_a * n_b)) * 1000
            // (n_a * n_b)) AS d_ppm,
         ((1844164 * (n_a + n_b)) // (n_a * n_b)) * 1000000
         + (((1844164 * (n_a + n_b)) % (n_a * n_b)) * 1000
            // (n_a * n_b)) * 1000
         + ((((1844164 * (n_a + n_b)) % (n_a * n_b)) * 1000 % (n_a * n_b))
            * 1000 // (n_a * n_b)) AS thr_ppm2
  FROM best
)
SELECT s.n_a, s.n_b, s.d_num,
       CAST(s.d_ppm AS BIGINT) AS d_ppm,
       CAST(min(d.n_chars) AS BIGINT) AS ks_at,
       CAST(CASE WHEN s.d_ppm * s.d_ppm > s.thr_ppm2 THEN 1 ELSE 0 END
            AS BIGINT) AS reject_05
FROM scored s JOIN diffs d ON d.dnum = s.d_num
GROUP BY s.n_a, s.n_b, s.d_num, s.d_ppm, s.thr_ppm2
"""


@_q("a25_ks_drift", _A25_ORACLE)
def a25_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # NULL n_chars would form a histogram bucket whose cumulative-sum
    # window ordering differs across engines (Spark NULLS FIRST vs
    # DuckDB NULLS LAST) — a doc of unknown length has no place in an
    # n_chars CDF; drop it identically on both engines.
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    hist = d.groupBy("n_chars").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("long")
        .alias("cb"),
    )
    # Documented single-partition window over the BOUNDED histogram
    # (value-domain cardinality), not over the input — a18's rule.
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "n_chars",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
    )
    tot = hist.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("dnum"),
        "n_a",
        "n_b",
    )
    # sup + its smallest location in ONE aggregate: struct-max on
    # (dnum, -n_chars) — larger dnum wins, then smaller n_chars.
    best = diffs.agg(
        F.max(F.struct(F.col("dnum"), (-F.col("n_chars")).alias("neg"))).alias(
            "m"
        ),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    ).select(
        "n_a",
        "n_b",
        F.col("m.dnum").alias("d_num"),
        exact_muldiv("m.dnum", ["n_a", "n_b"], 1_000_000).alias("d_ppm"),
        exact_muldiv("n_a + n_b", ["n_a", "n_b"], 1844164 * 1_000_000).alias(
            "thr_ppm2"
        ),
        (-F.col("m.neg")).cast("long").alias("ks_at"),
    )
    return best.select(
        "n_a",
        "n_b",
        "d_num",
        "d_ppm",
        "ks_at",
        F.expr(
            "CAST(CASE WHEN d_ppm * d_ppm > thr_ppm2"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_05"),
    )


# --- A26: chi-square independence of lang × source ---------------------------------
#
# Pearson chi-square over the full lang × source contingency table —
# the "is this corpus property independent of its provenance" audit
# (a skewed lang-by-source association means per-source language
# filters, not a global mix). Zero cells CONTRIBUTE (expected > 0
# there), so the cell universe is the cross join of the two bounded
# marginal dims with observed counts left-joined in — never an
# input-sized cross product. Each cell's term is floored twice,
# num·(num·1000 div (rs·cs)) div n with num = |o·n − rs·cs|, losing
# < 1 milli-unit per cell identically in both engines. num is formed
# as DECIMAL(38,0) and both divisions go through exact_muldiv: both
# dividends stay under 1000·n², so a cell is exact up to ~10^15 docs.
# Cramér's V is emitted SQUARED in ppm (v²·10⁶) — the
# no-cross-engine-sqrt rule.

_A26_ORACLE = """
WITH obs AS (
  SELECT coalesce(lang, '(none)') AS lang,
         coalesce(source, '(none)') AS source,
         CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), rl AS (
  SELECT lang, CAST(sum(o) AS BIGINT) AS rs FROM obs GROUP BY 1
), cs_ AS (
  SELECT source, CAST(sum(o) AS BIGINT) AS cs FROM obs GROUP BY 1
), n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
cells AS (
  SELECT rl.lang, cs_.source, rl.rs, cs_.cs, coalesce(obs.o, 0) AS o
  FROM rl CROSS JOIN cs_
  LEFT JOIN obs ON obs.lang = rl.lang AND obs.source = cs_.source
), contrib AS (
  SELECT abs(c.o * n.n - c.rs * c.cs) AS num, c.rs, c.cs, n.n
  FROM cells c CROSS JOIN n
)
SELECT CAST(max(n) AS BIGINT) AS n_docs,
       CAST((SELECT count(*) FROM rl) AS BIGINT) AS n_langs,
       CAST((SELECT count(*) FROM cs_) AS BIGINT) AS n_sources,
       CAST(((SELECT count(*) FROM rl) - 1)
            * ((SELECT count(*) FROM cs_) - 1) AS BIGINT) AS dof,
       CAST(sum((num * (num * 1000 // (rs * cs))) // n) AS BIGINT)
         AS chi2_milli,
       CAST(sum((num * (num * 1000 // (rs * cs))) // n) * 1000000
            // (1000 * max(n) * least((SELECT count(*) FROM rl) - 1,
                                      (SELECT count(*) FROM cs_) - 1))
         AS BIGINT) AS cramers_v2_ppm
FROM contrib
"""


def a26_chi2_cell_milli(cells: DataFrame) -> DataFrame:
    """The chi² term of each (o, rs, cs, n) cell in milli-units, with
    its n: num·(num·1000 div (rs·cs)) div n, num = |o·n − rs·cs|."""
    num = F.abs(
        F.col("o").cast("decimal(38,0)") * F.col("n")
        - F.col("rs").cast("decimal(38,0)") * F.col("cs")
    )
    inner = exact_muldiv(num, ["rs", "cs"], 1000)
    return cells.select(exact_muldiv([num, inner], "n", 1).alias("c_milli"), "n")


@_q("a26_chi2_independence", _A26_ORACLE)
def a26_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # NULL-lang/source strata must keep their observed cells: the
    # cells left-join below is non-null-safe, so a NULL key would read
    # o=0 while rs/cs/n still count those docs (inflating chi2
    # identically in neither engine). Coalesce to the '(none)'
    # sentinel on BOTH engines before grouping.
    obs = (
        d.select(
            F.coalesce("lang", F.lit("(none)")).alias("lang"),
            F.coalesce("source", F.lit("(none)")).alias("source"),
        )
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("o"))
    )
    rl = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("rs"))
    cs = obs.groupBy("source").agg(F.sum("o").cast("long").alias("cs"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        rl.crossJoin(F.broadcast(cs))
        .join(obs, ["lang", "source"], "left")
        .select("lang", "rs", "cs", F.coalesce("o", F.lit(0)).alias("o"))
        .crossJoin(F.broadcast(n))
    )
    contrib = a26_chi2_cell_milli(cells)
    nl = rl.agg(F.count("*").cast("long").alias("n_langs"))
    ns = cs.agg(F.count("*").cast("long").alias("n_sources"))
    return (
        contrib.agg(
            F.max("n").alias("n_docs"),
            F.sum("c_milli").cast("long").alias("chi2_milli"),
        )
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(ns))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1))
            .cast("long")
            .alias("dof"),
            "chi2_milli",
            exact_muldiv(
                "chi2_milli", ["n_docs", "least(n_langs - 1, n_sources - 1)"], 1000
            ).alias("cramers_v2_ppm"),
        )
    )


# --- A27: Spearman rank correlation (distributed exact ranks) ----------------------
#
# Spearman rho between two per-document size metrics (n_chars and
# whitespace token count) — the monotone-association check that
# decides whether one cheap metric can proxy the other in curation
# filters. Ranks are over the TOTAL order (value, doc_id), so rho is
# exactly 1 − 6·Σd²/(n(n²−1)) with no tie-correction term, and the
# entire statistic is exact BIGINT except the single final division.
# The scale-honest ranking NEVER runs a global row_number over the
# input: per metric, the rank is (count of rows with smaller value)
# + (row_number within the equal-value partition by doc_id) — the
# first term a cumsum over the bounded value-domain histogram
# (a18/a25 argument), the second a window partitioned by value. The
# ORACLE ranks with one global ROW_NUMBER — an independent
# formulation whose agreement proves the decomposition.

_A27_ORACLE = """
WITH m AS (
  SELECT doc_id, n_chars AS x,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
), rx AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY x, doc_id) AS r FROM m
), ry AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY y, doc_id) AS r FROM m
), d AS (
  SELECT rx.r - ry.r AS d
  FROM rx JOIN ry ON rx.doc_id = ry.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(d * d) AS BIGINT) AS sum_d2,
       1.0 - 6.0 * sum(d * d)
           / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE) AS rho
FROM d
"""


@_q("a27_spearman", _A27_ORACLE)
def a27_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # The table contract allows NULL text AND NULL n_chars; a NULL
    # rank key would sort FIRST in the offset window but LAST in the
    # oracle's ROW_NUMBER (DuckDB nulls_last) and then drop at the
    # non-null-safe histogram-offset equi-join — rank every doc over
    # the same NULL-free universe in both engines instead (both rank
    # columns filtered identically here and in the oracle WHERE).
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    m = d.select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.size(F.split("text", " ")).cast("long").alias("y"),
    )

    def ranked(col: str) -> DataFrame:
        hist = m.groupBy(col).agg(F.count("*").cast("long").alias("cnt"))
        woff = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = hist.select(
            col,
            F.coalesce(F.sum("cnt").over(woff), F.lit(0))
            .cast("long")
            .alias("offset"),
        )
        wv = Window.partitionBy(col).orderBy("doc_id")
        return (
            m.join(F.broadcast(offsets), col)
            .select(
                "doc_id",
                (F.col("offset") + F.row_number().over(wv))
                .cast("long")
                .alias(f"r_{col}"),
            )
        )

    joined = ranked("x").join(ranked("y"), "doc_id")
    return joined.select(
        (F.col("r_x") - F.col("r_y")).alias("d")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sum_d2"),
    ).select(
        "n",
        "sum_d2",
        (
            F.lit(1.0)
            - F.lit(6.0)
            * F.col("sum_d2")
            / (F.col("n") * (F.col("n") * F.col("n") - 1)).cast("double")
        ).alias("rho"),
    )
