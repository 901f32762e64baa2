"""Relational operator classes the catalog lacked: AS-OF join, range
(interval) join, hypertable-style hierarchical rollup, ROLLUP
grouping sets, and pivot. Each is the scale-honest Spark shape — the
as-of and range joins never degenerate into per-key cross products,
the rollup merges mergeable partials, and the pivot pins its value
list instead of scanning to infer it.

All five run over the synthetic `events` / `documents` tables and are
value-checked against DuckDB (which has native ASOF JOIN / ROLLUP /
FILTER aggregates, so the oracles are genuinely independent
implementations, not restatements of the Spark plan).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from information_extraction_spark.driver_queries._registry import _q, _t
from information_extraction_spark.functions.exact import exact_muldiv
from information_extraction_spark.operators.checkpoint import (
    cut,
    releases_unread_cuts,
)


def _events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a portable integer-seconds event time (TIMESTAMP_NTZ
    does not cast to BIGINT in Spark 4; unix_timestamp matches DuckDB's
    floor(epoch()) — the truncation rule every events query uses)."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return e.withColumn(
        "sec", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )


# --- J8: AS-OF join (backward, inclusive) --------------------------------------
#
# Per purchase, the most recent view by the same user at or before the
# purchase time — the attribution/feature-lookup join every
# event-sourced pipeline needs and Spark has no native operator for.
#
# The scale-honest composition is union + running max, NOT a range
# join: tag both sides, union, ONE shuffle on user_id, and a running
# `max(view sec)` over (sec, side) order answers every probe in a
# single sort pass. A naive non-equi join (p.sec >= v.sec) on user_id
# degenerates into an O(views x purchases) product per hot user; the
# window form is O(n log n) per user regardless of skew. Views sort
# BEFORE purchases at equal sec (side 0 < 1), making the match
# inclusive — exactly DuckDB's ASOF `p.sec >= v.sec`.
#
# At 100 TB both event streams arrive bucketed by user_id, so the one
# exchange here is the join's only cost; the window never buffers
# more than a user's events per task, and AQE splits a pathological
# hot user via the range-partitioned sort.

_J8_ORACLE = """
WITH v AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
), p AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
)
SELECT p.event_id, p.user_id,
       p.sec AS purchase_sec,
       v.sec AS view_sec,
       p.sec - v.sec AS gap_s
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.sec >= v.sec
"""


@_q("j8_asof_join", _J8_ORACLE)
def j8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir)
    views = e.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "sec",
        F.lit(0).alias("side"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "sec", F.lit(1).alias("side")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asof = F.max(F.when(F.col("side") == 0, F.col("sec"))).over(w)
    return (
        views.unionByName(purchases)
        .withColumn("view_sec", asof)
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("sec").alias("purchase_sec"),
            "view_sec",
            (F.col("sec") - F.col("view_sec")).alias("gap_s"),
        )
    )


# --- J9: range (interval-containment) join --------------------------------------
#
# Per error event, the clicks by the same user inside the error's
# [sec, sec + 600] investigation window. The classic range join;
# Spark's only native plan for `ON user AND c.sec BETWEEN e.sec AND
# e.sec+600` is an equi-join on user_id with the range as a residual
# filter — every (error, click) pair of a hot user materializes
# before filtering. The scale shape adds TIME to the join key: buckets
# of exactly the window width (600 s), so every interval covers
# exactly two buckets (floor((s+600)/600) = floor(s/600) + 1 always)
# and every click lives in exactly one — the exploded equi-join on
# (user_id, bucket) emits each true pair once, bounds the per-key
# product by per-bucket density, and the BETWEEN rides in the join
# condition so LEFT semantics keep zero-click errors.
#
# Monetary sums follow the integer-quantization rule: cents as
# BIGINT, divided once at the end — identical doubles on both engines
# regardless of summation order.

_J9_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS esec
  FROM events WHERE event_type = 'error' AND ts IS NOT NULL
), c AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS csec, value
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
)
SELECT e.event_id, e.user_id, e.esec AS error_sec,
       CAST(count(c.csec) AS BIGINT) AS n_clicks,
       sum(CAST(round(c.value * 100) AS BIGINT)) / 100.0 AS click_value
FROM e LEFT JOIN c
  ON e.user_id = c.user_id AND c.csec BETWEEN e.esec AND e.esec + 600
GROUP BY 1, 2, 3
"""

_J9_WIDTH = 600


@_q("j9_range_join", _J9_ORACLE)
def j9_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir)
    err = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("sec").alias("esec")
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("sec").alias("csec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    err_b = err.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("esec") / _J9_WIDTH),
                F.floor(F.col("esec") / _J9_WIDTH) + 1,
            )
        ),
    )
    clk_b = clk.withColumn("c_bucket", F.floor(F.col("csec") / _J9_WIDTH))
    j = err_b.join(
        clk_b,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("bucket") == F.col("c_bucket"))
        & (F.col("csec") >= F.col("esec"))
        & (F.col("csec") <= F.col("esec") + _J9_WIDTH),
        "left",
    )
    return j.groupBy("event_id", "user_id", "esec").agg(
        F.count("csec").cast("long").alias("n_clicks"),
        (F.sum("cents") / F.lit(100.0)).alias("click_value"),
    ).select(
        "event_id",
        "user_id",
        F.col("esec").alias("error_sec"),
        "n_clicks",
        "click_value",
    )


# --- W10: hypertable-style hierarchical rollup ----------------------------------
#
# The continuous-aggregate shape (TimescaleDB hypertable rollup): raw
# events aggregate once into minute-level PARTIALS (count + cents
# sum), and the hour level is re-aggregated FROM those partials, never
# from raw — at 100 TB the minute table is the only thing the hourly
# (or daily) rollup ever reads, and counts/sums are mergeable so the
# two-level result is exactly the direct aggregate. n_active_minutes
# falls out of the partial table for free (one row per active minute)
# where the raw-side oracle needs a count(DISTINCT minute) — the
# oracle aggregates RAW rows directly, so parity proves the partial
# merge is lossless.

_W10_ORACLE = """
SELECT event_type,
       CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
       CAST(count(*) AS BIGINT) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
       CAST(count(DISTINCT CAST(floor(epoch(ts) / 60) AS BIGINT))
            AS BIGINT) AS n_active_minutes
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@_q("w10_hypertable_rollup", _W10_ORACLE)
def w10_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir)
    minute = e.groupBy(
        "event_type",
        (F.floor(F.col("sec") / 60) * 60).alias("minute_start"),
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    return minute.groupBy(
        "event_type",
        (F.floor(F.col("minute_start") / 3600) * 3600)
        .cast("long")
        .alias("hour_start"),
    ).agg(
        F.sum("cnt").cast("long").alias("n_events"),
        (F.sum("cents") / F.lit(100.0)).alias("sum_value"),
        F.count("*").cast("long").alias("n_active_minutes"),
    )


# --- Q7: ROLLUP grouping sets ----------------------------------------------------
#
# GROUP BY ROLLUP(lang, source) over documents: per-(lang, source),
# per-lang, and grand-total rows in ONE pass — Spark plans the
# grouping sets via a single Expand (x3 rows) feeding one
# map-side-combined shuffle, never three scans. grouping_id()
# disambiguates the aggregate rows (both engines use the same
# bit-per-column encoding, leftmost column = MSB; verified, and the
# sentinel coalesce keeps NULL group keys out of the compare).

_Q7_ORACLE = """
SELECT coalesce(lang, '(all)') AS lang,
       coalesce(source, '(all)') AS source,
       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY ROLLUP(lang, source)
"""


@_q("q7_rollup", _Q7_ORACLE)
def q7_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source"),
            "gid",
            "n_docs",
            "sum_chars",
        )
    )


# --- Q8: pivot (long -> wide) ------------------------------------------------------
#
# Per-source document counts pivoted into one column per language.
# The value list is PINNED (the 5-language corpus contract) — Spark's
# two-pass values-inference scan is a full extra read of a 100 TB
# table and an unbounded-width risk; with explicit values the pivot is
# one map-side-combined shuffle. Absent combinations surface as NULL
# from pivot-count and are coalesced to 0 to match the oracle's
# FILTER aggregates.

_LANGS = ("de", "en", "es", "fr", "zh")

_Q8_ORACLE = """
SELECT source,
       {cols},
       CAST(count(*) AS BIGINT) AS total
FROM documents
GROUP BY source
""".format(
    cols=",\n       ".join(
        f"CAST(count(*) FILTER (lang = '{g}') AS BIGINT) AS n_{g}"
        for g in _LANGS
    )
)


@_q("q8_pivot", _Q8_ORACLE)
def q8_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    wide = (
        d.groupBy("source")
        .pivot("lang", list(_LANGS))
        # count("*") is invalid inside a Pivot aggregate (Spark 4
        # INVALID_USAGE_OF_STAR_OR_REGEX) — count(lit(1)) is the
        # same aggregate.
        .agg(F.count(F.lit(1)).cast("long"))
    )
    # total = ALL rows of the source group (the oracle's count(*)),
    # NOT the sum of the pinned pivot columns — a lang outside the
    # pinned list (incl. NULL) is absent from every pivot bucket but
    # still belongs to the margin. Separate bounded-dim agg + join.
    totals = d.groupBy("source").agg(
        F.count("*").cast("long").alias("total")
    )
    return wide.join(totals, "source").select(
        "source",
        *[
            F.coalesce(F.col(g), F.lit(0)).cast("long").alias(f"n_{g}")
            for g in _LANGS
        ],
        "total",
    )


# --- Q9: semi-structured (JSON) extraction ---------------------------------------
#
# The events table carries a JSON `props` column no other query
# consumed — the semi-structured scan class. get_json_object evaluates
# JVM-side (Jackson) inside the codegen span: the path extraction is a
# narrow projection fused into the scan, then one map-side-combined
# shuffle for the per-type profile. At 100 TB the right storage answer
# is shredding hot keys into typed columns at ingest (or Spark 4's
# VARIANT type); this query is the read-side op that works either way.
# Sums stay integer-exact (the extracted key is integral by contract).

_Q9_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_k,
       CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


@_q("q9_json_props", _Q9_ORACLE)
def q9_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.count(k).cast("long").alias("n_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        F.sum(k).cast("long").alias("sum_k"),
    )


# --- W12: ntile distribution bucketing --------------------------------------------
#
# Per event type, decile assignment over (value, event_id) order —
# the deterministic total order matters: ordering on value alone
# leaves tile boundaries among tied values engine-defined. Summary
# output per (type, decile); ONE exchange on event_type serves the
# ntile window, and the decile rollup pre-aggregates map-side.

_W12_ORACLE = """
WITH d AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, CAST(decile AS INT) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS min_value,
       max(value) AS max_value
FROM d GROUP BY 1, 2
"""


@_q("w12_ntile_deciles", _W12_ORACLE)
def w12_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


# --- A10: pandas GROUPED_AGG UDAF ---------------------------------------------------
#
# The one pandas-UDF flavor the catalog lacked (scalar, grouped map,
# mapInPandas, and applyInPandasWithState are all cataloged): a
# grouped-aggregate UDAF — per event type, the interpolated median of
# value via numpy over the Arrow-transferred group. Honest scale
# note, in the operator's own voice: GROUPED_AGG is NOT a partial
# aggregate — the whole group's column ships to one worker, so it is
# only the right tool when groups are bounded (here: 5 types x
# bounded batch) or after a pre-reduction; the unbounded-group exact
# quantile is ta_length_quantiles' histogram sketch. Median is
# FP-portable by construction: no summation — sort + at most one
# midpoint of two quantized doubles, identical single IEEE ops in
# numpy and DuckDB's quantile_cont.

_A10_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       median(value) AS median_value
FROM events
GROUP BY event_type
"""


@_q("a10_pandas_udaf", _A10_ORACLE)
def a10_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def np_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    # Spark refuses to mix pandas and JVM aggregates in one agg()
    # (UNSUPPORTED: PANDAS_UDAF_IN_PIVOT-adjacent rule), so the row
    # count is a pandas UDAF too — same Arrow transfer, no extra pass.
    @pandas_udf("long")
    def np_count(v: pd.Series) -> int:
        return int(len(v))

    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        np_count("value").alias("n"),
        np_median("value").alias("median_value"),
    )


# --- Q10: returned-item reporting (TPC-H Q10 shape) -----------------------------
#
# Revenue lost to returns per customer in a quarter: lineitem ⋈
# orders ⋈ customer ⋈ nation, filter l_returnflag='R' and a 3-month
# o_orderdate window, top 20 customers by revenue. The classic
# fact-fact-dim reporting join. Scale shape: both filters reach the
# parquet scans as PushedFilters BEFORE the orderkey shuffle (the
# date window prunes orders, the flag prunes lineitem); the
# lineitem⋈orders join shuffles on orderkey (co-bucketed at
# warehouse scale → zero exchange); revenue pre-aggregates per
# custkey BEFORE the customer join, so the customer side joins one
# row per customer, never per lineitem; the 25-row nation dim
# broadcasts. Top 20 is TakeOrderedAndProject — per-partition heaps,
# never a global sort. Money follows the integer-quantization rule:
# cents as BIGINT, divided once at the end.

_Q10_ORACLE = """
WITH rev AS (
  SELECT o.o_custkey,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= DATE '1995-10-01'
    AND o.o_orderdate <  DATE '1996-01-01'
  GROUP BY 1
)
SELECT c.c_custkey, c.c_name, n.n_name,
       rev.cents / 100.0 AS revenue,
       c.c_acctbal
FROM rev
JOIN customer c ON c.c_custkey = rev.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY rev.cents DESC, c.c_custkey
LIMIT 20
"""


@_q("q10_returned_items", _Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.col("cents") / F.lit(100.0)).alias("revenue"),
            "c_acctbal",
            "cents",
        )
        .orderBy(F.col("cents").desc(), "c_custkey")
        .limit(20)
        .drop("cents")
    )


# --- Q14: promotion revenue share (TPC-H Q14 shape) ------------------------------
#
# The conditional-aggregate share: what fraction of one month's
# revenue came from PROMO parts. ONE pass over the month's lineitems
# — the CASE rides inside the same sum, never two scans; the part
# dim joins on partkey (broadcast at test scale, AQE's call at
# warehouse scale where co-bucketing on partkey makes it exchange-
# free). Both cent sums are BIGINT; the share is one double division
# at the very end, identical across engines.

_Q14_ORACLE = """
SELECT
  100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
        ELSE 0 END) AS DOUBLE)
       / CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS DOUBLE) AS promo_share,
  sum(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
        ELSE 0 END) / 100.0 AS promo_revenue,
  sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
           AS BIGINT)) / 100.0 AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1995-09-01' AND l.l_shipdate < DATE '1995-10-01'
"""


@_q("q14_promo_share", _Q14_ORACLE)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = l.join(p, l.l_partkey == p.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))).alias(
            "promo_cents"
        ),
        F.sum(cents).alias("total_cents"),
    )
    return agg.select(
        (
            F.lit(100.0)
            * F.col("promo_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("promo_share"),
        (F.col("promo_cents") / F.lit(100.0)).alias("promo_revenue"),
        (F.col("total_cents") / F.lit(100.0)).alias("total_revenue"),
    )


# --- Q18: large-volume orders (TPC-H Q18 shape) ----------------------------------
#
# Orders whose total quantity exceeds a threshold, with their
# customer — the HAVING-over-a-fact-rollup shape. The quantity
# rollup happens FIRST (map-side partial sum on l_orderkey, the
# natural fact bucketing key, then the HAVING prunes to the rare
# heavy orders) so the orders/customer joins move only qualified
# rows — at 100 TB the post-HAVING side is thousands of rows against
# billions scanned. Quantities quantize ×100 (they are doubles in
# the schema), divided back once.

_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c
  FROM lineitem
  GROUP BY 1
  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 18000
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS order_sec,
       o.o_totalprice,
       big.qty_c / 100.0 AS sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


@_q("q18_large_orders", _Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(qc).alias("qty_c"))
        .filter(F.col("qty_c") > 18000)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias(
                "order_sec"
            ),
            "o_totalprice",
            (F.col("qty_c") / F.lit(100.0)).alias("sum_qty"),
        )
    )


# --- W13: gaps-and-islands (run-length sessionization) ---------------------------
#
# Contiguous runs of the same event_type per user — the
# gaps-and-islands shape (SCD-2 interval derivation, flap detection,
# state-change compression all reduce to it). Two stacked windows
# and the final rollup all share ONE exchange: the change flag and
# its running sum both partition by user_id, and the groupBy on
# (user_id, run_id) is a ClusteredDistribution that user_id hash
# partitioning already satisfies — Spark inserts no second shuffle
# (plan verified). Order is total (sec, event_id) so runs are
# deterministic under timestamp ties.

_W13_ORACLE = """
WITH o AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id)
), r AS (
  SELECT user_id, event_type, sec,
         sum(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM o
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
       CAST(count(*) AS BIGINT) AS run_len,
       min(sec) AS start_sec, max(sec) AS end_sec
FROM r GROUP BY 1, 2, 3
"""


@_q("w13_event_runs", _W13_ORACLE)
def w13_event_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        F.lit(1),
    ).otherwise(F.lit(0))
    runs = e.withColumn("chg", chg).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count("*").cast("long").alias("run_len"),
        F.min("sec").alias("start_sec"),
        F.max("sec").alias("end_sec"),
    )


# --- P17: mapInArrow columnar seam ------------------------------------------------
#
# The last Python-execution seam the catalog lacked (scalar pandas
# UDF, GROUPED_AGG, grouped map, mapInPandas, applyInPandasWithState
# and the Arrow UDTF are all cataloged): DataFrame.mapInArrow — the
# zero-copy path where Python sees raw pyarrow RecordBatches and
# answers with compute-kernel calls, no pandas materialization, no
# per-row Python. This is the seam a 100 TB multimodal decode stage
# runs on (bytes in, features out, vectorized end to end); here it
# computes per-document token counts / UTF-8 length / digit presence
# with pyarrow.compute only. The plan is a single narrow
# PythonMapInArrow over the scan — zero exchanges; batch size rides
# spark.sql.execution.arrow.maxRecordsPerBatch, so executor memory is
# bounded per batch regardless of input size.

_P17_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_utf8,
       regexp_matches(text, '[0-9]') AS has_digit
FROM documents
"""


@_q("p17_arrow_map", _P17_ORACLE)
def p17_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for batch in batches:
            text = batch.column(batch.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    pc.cast(
                        pc.list_value_length(pc.split_pattern(text, " ")),
                        pa.int32(),
                    ),
                    pc.cast(pc.utf8_length(text), pa.int32()),
                    pc.match_substring_regex(text, "[0-9]"),
                ],
                names=["doc_id", "n_tokens", "n_utf8", "has_digit"],
            )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        stats,
        "doc_id long, n_tokens int, n_utf8 int, has_digit boolean",
    )


# --- Q11: set operations (INTERSECT / EXCEPT) -------------------------------------
#
# The relational set operators driver-visible: (user, day) pairs
# that both viewed AND purchased that day but had no error that day —
# (view ∩ purchase) − error with SET (distinct) semantics. The key is
# (user_id, day), not bare user_id: with bounded users over months of
# events every user eventually does everything and the bare-key
# result is structurally empty — the day dimension keeps all three
# legs load-bearing (38/383 rows at sf0.001/0.01). Each leg pre-distincts map-side before
# its user_id exchange (partial aggregate on an 8-byte key), so the
# set operators move one row per distinct user per leg, never per
# event; at 100 TB the three legs are three scans of the same
# partition-pruned source with tiny exchanges. Spark plans INTERSECT
# and EXCEPT as left-semi / left-anti joins over the distinct sets —
# the same co-keyed shuffle every time, which AQE coalesces.

_Q11_ORACLE = """
WITH e AS (
  -- BIGINT first, THEN integer-divide: DuckDB's // on a DOUBLE
  -- (floor() returns DOUBLE) is plain division, and the outer CAST
  -- would ROUND half-away — an off-by-one day at every boundary.
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events WHERE ts IS NOT NULL
)
(SELECT DISTINCT user_id, day FROM e WHERE event_type = 'view'
 INTERSECT
 SELECT DISTINCT user_id, day FROM e WHERE event_type = 'purchase')
EXCEPT
SELECT DISTINCT user_id, day FROM e WHERE event_type = 'error'
"""


@_q("q11_set_ops", _Q11_ORACLE)
def q11_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir).withColumn(
        "day", F.floor(F.col("sec") / 86400).cast("long")
    )

    def leg(t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == t)
            .select("user_id", "day")
            .distinct()
        )

    return leg("view").intersect(leg("purchase")).exceptAll(leg("error"))


# --- Q15: top supplier (arg-max via scalar subquery) -----------------------------
#
# TPC-H Q15: the supplier(s) whose quarter revenue equals the global
# maximum — the arg-max-with-ties shape (a correlated HAVING in the
# spec; here the max is a 1-row aggregate broadcast into the filter,
# which is how Spark should always run it: never a self-join on the
# revenue table, never a global sort for one extremum). Revenue
# pre-aggregates per suppkey map-side before its single shuffle; the
# supplier dim joins after the filter, so it moves only the winners.
# Cents as BIGINT throughout; ties (if any) all surface — the result
# is a set, not LIMIT 1.

_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS cents
  FROM lineitem
  WHERE l_shipdate >= DATE '1995-07-01' AND l_shipdate < DATE '1995-10-01'
  GROUP BY 1
), mx AS (SELECT max(cents) AS m FROM rev)
SELECT s.s_suppkey, s.s_name, rev.cents / 100.0 AS total_revenue
FROM rev CROSS JOIN mx
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.cents = mx.m
"""


@_q("q15_top_supplier", _Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-07-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = l.groupBy("l_suppkey").agg(F.sum(cents).alias("cents"))
    mx = rev.agg(F.max("cents").alias("m"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("cents") == F.col("m"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("cents") / F.lit(100.0)).alias("total_revenue"),
        )
    )


# --- Q19: disjunctive predicate pushdown (TPC-H Q19 shape) ------------------------
#
# Revenue under an OR-of-ANDs across BOTH join sides: (PROMO parts in
# small quantities) OR (STANDARD parts in mid quantities). The scale
# point is what Catalyst does with the disjunction: it cannot push
# the cross-table OR as-is, but it derives and pushes the per-table
# WEAKENINGS — p_type IN ('PROMO','STANDARD') reaches the part scan
# and the single-column quantity-range OR reaches the lineitem scan
# as PushedFilters — while the exact OR evaluates as the post-join
# residual. At 100 TB that derived pruning is the difference between
# scanning every part row and a sixth of them.

_Q19_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) / 100.0 AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_type = 'PROMO' AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_type = 'STANDARD' AND l.l_quantity BETWEEN 10 AND 30)
"""


@_q("q19_disjunctive_filter", _Q19_ORACLE)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    cond = (
        (F.col("p_type") == "PROMO") & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_type") == "STANDARD") & F.col("l_quantity").between(10, 30)
    )
    j = l.join(p, l.l_partkey == p.p_partkey).filter(cond)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return j.agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.sum(cents) / F.lit(100.0)).alias("revenue"),
    )


# --- W14: funnel analysis (ordered 3-step sequence per user) ----------------------
#
# The product-analytics staple: how far does each user get through
# view → purchase → error (step N counts only if it happens AT OR
# AFTER step N-1 — ordering, not mere presence). Evaluated in ONE
# pass with no self-joins: a single conditional min-aggregation per
# step would be circular (step 2's floor is step 1's result), but
# min-over-window composition collapses it — per user, v1 =
# min(view sec); p1 = min(purchase sec >= v1); e1 = min(error sec >=
# p1). The implementation runs ONE shuffle on user_id and evaluates
# the three floors inside a single aggregate over the collected
# per-user events? No — collecting events per user is unbounded
# state. Instead: three chained aggregates, each map-side combined,
# all hash-partitioned on user_id so Spark reuses the exchange — the
# fact table is read once, the step tables are user-cardinality.
# Conditional mins use null-propagation (min ignores nulls; a user
# without step N-1 never reaches step N).

_W14_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE ts IS NOT NULL
), s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN sec END) AS v1
  FROM e GROUP BY 1
), s2 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'purchase' AND e.sec >= s1.v1
             THEN e.sec END) AS p1
  FROM e JOIN s1 USING (user_id)
  WHERE s1.v1 IS NOT NULL
  GROUP BY 1
), s3 AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'error' AND e.sec >= s2.p1
             THEN e.sec END) AS e1
  FROM e JOIN s2 USING (user_id)
  WHERE s2.p1 IS NOT NULL
  GROUP BY 1
)
SELECT s1.user_id, s1.v1, s2.p1, s3.e1,
       CAST(CASE WHEN s1.v1 IS NULL THEN 0
                 WHEN s2.p1 IS NULL THEN 1
                 WHEN s3.e1 IS NULL THEN 2
                 ELSE 3 END AS INT) AS steps_completed
FROM s1
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
"""


@_q("w14_funnel", _W14_ORACLE)
def w14_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir).select("user_id", "event_type", "sec")
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("sec"))).alias(
            "v1"
        )
    )
    s2 = (
        e.join(s1.filter(F.col("v1").isNotNull()), "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("sec") >= F.col("v1")),
                    F.col("sec"),
                )
            ).alias("p1")
        )
    )
    s3 = (
        e.join(s2.filter(F.col("p1").isNotNull()), "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "error")
                    & (F.col("sec") >= F.col("p1")),
                    F.col("sec"),
                )
            ).alias("e1")
        )
    )
    steps = (
        F.when(F.col("v1").isNull(), 0)
        .when(F.col("p1").isNull(), 1)
        .when(F.col("e1").isNull(), 2)
        .otherwise(3)
        .cast("int")
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", "v1", "p1", "e1", steps.alias("steps_completed"))
    )


# --- W15: CDC log compaction (upserts + DELETES -> current state) -----------------
#
# The change-data-capture materialization the catalog's merges lacked
# the D of: the event stream is a per-user changelog (any ordinary
# event upserts the user's current row; an 'error' event is the
# tombstone/DELETE), and the query compacts it to current state —
# per user, the LATEST op wins, and a user whose latest op is the
# tombstone has NO row (Kafka log-compaction / Iceberg MERGE WITH
# DELETE semantics). ONE map-side-combined shuffle: the latest op is
# a struct-ordered max over (sec, event_id, ...) — never a whole-log
# window, never a self-join on max(ts); order is total because
# event_id breaks timestamp ties. The struct max carries a string
# field, so Spark plans the SortAggregate pair (its fallback for
# string-typed max buffers — same documented shape as
# kg_functional_resolve), still map-side partial.

_W15_ORACLE = """
WITH log AS (
  SELECT user_id, event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events WHERE ts IS NOT NULL
), latest AS (
  SELECT user_id, event_id, event_type, value, sec, op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY sec DESC, event_id DESC) AS rn
  FROM log
)
SELECT user_id, event_type AS current_type, value AS current_value,
       sec AS updated_sec
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@_q("w15_cdc_apply", _W15_ORACLE)
def w15_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir)
    op = F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
        F.lit("U")
    )
    latest = (
        e.withColumn("op", op)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("sec", "event_id", "op", "event_type", "value")
            ).alias("w")
        )
    )
    return latest.filter(F.col("w.op") != "D").select(
        "user_id",
        F.col("w.event_type").alias("current_type"),
        F.col("w.value").alias("current_value"),
        F.col("w.sec").alias("updated_sec"),
    )


# --- W16: weekly cohort retention ------------------------------------------------
#
# The product-analytics cohort matrix: users grouped by the DAY of
# their FIRST event; for each later day, the fraction still active
# (day granularity because the driver corpus spans 30 days — the
# bucket width is the only knob; the shape is the weekly/monthly
# retention matrix unchanged).
# The scale-honest shape is ONE user-keyed shuffle: a single groupBy
# user collects (first day, distinct active days) — per-user state
# bounded by the corpus lifetime in DAYS, not by event volume — and
# the offset explosion + (cohort, offset) rollup are map-side
# combined over bounded groups; cohort sizes broadcast back (one row
# per calendar day). A naive two-pass (first-event join activity)
# shuffles the full event log twice. Days are integer epoch-day
# buckets (sec div 86400) — pure BIGINT both engines, no
# date_trunc locale/tz surface at all.

_W16_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS wk
  FROM events WHERE ts IS NOT NULL
), uw AS (
  SELECT DISTINCT user_id, wk FROM e
), fw AS (
  SELECT user_id, min(wk) AS cohort_day FROM uw GROUP BY 1
), act AS (
  SELECT fw.cohort_day, uw.wk - fw.cohort_day AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM uw JOIN fw USING (user_id)
  GROUP BY 1, 2
), cs AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_cohort
  FROM fw GROUP BY 1
)
SELECT a.cohort_day, CAST(a.day_offset AS BIGINT) AS day_offset,
       a.n_active, c.n_cohort,
       CAST(a.n_active * 1000000 // c.n_cohort AS BIGINT) AS retention_ppm
FROM act a JOIN cs c USING (cohort_day)
"""


@_q("w16_retention", _W16_ORACLE)
def w16_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir).select(
        "user_id", F.expr("sec div 86400").alias("wk")
    )
    per_user = e.groupBy("user_id").agg(
        F.min("wk").alias("cohort_day"),
        F.collect_set("wk").alias("wks"),
    )
    act = (
        per_user.select(
            "cohort_day", F.explode("wks").alias("wk")
        )
        .groupBy(
            "cohort_day",
            (F.col("wk") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
    )
    cs = per_user.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("n_cohort")
    )
    return act.join(F.broadcast(cs), "cohort_day").select(
        "cohort_day",
        F.col("day_offset").cast("long").alias("day_offset"),
        "n_active",
        "n_cohort",
        exact_muldiv("n_active", "n_cohort", 1_000_000).alias("retention_ppm"),
    )


# --- Q4: order priority with EXISTS (TPC-H Q4 shape) -----------------------------
#
# Orders in a 3-month window having at least one LATE-SHIPPED line
# (shipped > 60 days after the order date — this corpus's lineitem
# carries l_shipdate, not commit/receipt, so the late predicate
# adapts while keeping Q4's defining shape: an EXISTS decorrelated
# into a LEFT SEMI join that never duplicates orders however many
# lines match). The date window filters orders BEFORE the semi join
# (partition-prunable at the scan on a date-partitioned warehouse),
# the semi join moves only qualified keys, and the priority rollup
# is a bounded-group map-side count. Seconds-integer date math both
# engines (the q18/order_sec rule).

_Q4_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS osec
  FROM orders
  WHERE CAST(floor(epoch(o_orderdate)) AS BIGINT) >= 820454400
    AND CAST(floor(epoch(o_orderdate)) AS BIGINT) < 828316800
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND CAST(floor(epoch(l.l_shipdate)) AS BIGINT) > o.osec + 5184000)
GROUP BY 1
"""


@_q("q4_order_priority", _Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .withColumn(
            "osec",
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")),
        )
        .filter(
            (F.col("osec") >= 820454400) & (F.col("osec") < 828316800)
        )
        .select("o_orderkey", "o_orderpriority", "osec")
    )
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.unix_timestamp(F.col("l_shipdate").cast("timestamp")).alias(
            "ssec"
        ),
    )
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.ssec > o.osec + F.lit(5184000)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


# --- Q13: customer order-count distribution ------------------------------------
#
# TPC-H Q13 adapted to this schema: the histogram of per-customer
# order counts INCLUDING zero-order customers — the shape is a LEFT
# OUTER join whose right side is pre-filtered (here: non-URGENT
# orders only). The filter MUST apply before the join: filtering
# after would silently drop the zero-count bucket, which is the
# entire point of the query (the reference check below counts
# customers whose only orders are urgent as c_count = 0).
#
# Scale shape: one shuffle on c_custkey shared by the join and the
# first count (AQE reuses the exchange); the second groupBy is over
# the bounded count domain (~tens of groups) — map-side combined,
# trivially small. count("o_orderkey") counts NON-NULLs, matching
# SQL count(column) over the outer join's null-extended rows.

_Q13_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey FROM orders
  WHERE o_orderpriority <> '1-URGENT'
), cc AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM cc GROUP BY 1
"""


@_q("q13_cust_distribution", _Q13_ORACLE)
def q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


# --- Q17: small-quantity revenue vs per-part average ---------------------------
#
# TPC-H Q17's correlated-scalar-subquery shape: revenue from
# lineitems whose quantity is below 20% of that part's own average
# quantity, per brand. The correlated subquery decorrelates into an
# aggregate-then-join-back: per-part avg over the SAME filtered scan,
# then an equi-join on l_partkey. The per-part aggregate output is
# |parts|-sized — far smaller than lineitem — so it broadcasts; the
# fact table never shuffles.
#
# Determinism: l_quantity is integer-valued (verified on the driver
# corpus), so sum/avg are exact in double (integer arithmetic below
# 2^53, order-independent); the 0.2*avg threshold is one double
# multiply of identical operands in both engines. Revenue quantizes
# per row to integer 100ths (l_extendedprice is ~2dp) before the
# cross-row sum — the x10^dp rule — and divides back at the end.

_Q17_ORACLE = """
WITH li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand IN ('Brand#11', 'Brand#23', 'Brand#35')
), pa AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
  FROM li GROUP BY 1
)
SELECT li.p_brand,
       CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(round(li.l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100.0 AS revenue
FROM li JOIN pa ON li.l_partkey = pa.l_partkey
WHERE li.l_quantity < pa.qty_cut
GROUP BY 1
"""


@_q("q17_small_qty_revenue", _Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#11", "Brand#23", "Brand#35"))
        .select("p_partkey", "p_brand")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    pa = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(pa), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_small"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).cast("double")
                / F.lit(100.0)
            ).alias("revenue"),
        )
    )


# --- Q22: dormant high-balance customers ---------------------------------------
#
# TPC-H Q22's shape on this schema: customers with NO order since
# 2001-01-01 (the anti-join leg) whose account balance exceeds the
# average balance of all positive-balance customers (the scalar
# aggregate subquery leg), reported per market segment.
#
# Scale shape: the scalar threshold is ONE map-side-combined global
# aggregate (2 scalars to the driver as plan literals is avoided —
# the comparison stays distributed via a broadcast crossJoin of the
# 1-row aggregate); the dormancy check is a LEFT ANTI equi-join on
# c_custkey against the date-pruned orders scan (the filter pushes to
# the parquet scan, so at 100 TB only the recent partitions read).
#
# Determinism: balances quantize to integer 10^-4 units (bal4); the
# above-average comparison is the exact integer cross-multiply
# bal4 * n_pos > total4 — no double division anywhere near the
# boundary, so both engines pick identical customer sets.

_Q22_ORACLE = """
WITH b AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 10000) AS BIGINT) AS bal4
  FROM customer
), t AS (
  SELECT CAST(sum(bal4) AS BIGINT) AS total4,
         CAST(count(*) AS BIGINT) AS n_pos
  FROM b WHERE bal4 > 0
), dormant AS (
  SELECT b.* FROM b
  WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = b.c_custkey
      AND CAST(floor(epoch(o.o_orderdate)) AS BIGINT) >= 978307200)
)
SELECT d.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_custs,
       CAST(sum(d.bal4) AS BIGINT) AS sum_bal4
FROM dormant d, t
WHERE d.bal4 * t.n_pos > t.total4
GROUP BY 1
"""


@_q("q22_dormant_customers", _Q22_ORACLE)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 10000).cast("long").alias("bal4"),
    )
    t = b.filter(F.col("bal4") > 0).agg(
        F.sum("bal4").cast("long").alias("total4"),
        F.count("*").cast("long").alias("n_pos"),
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .withColumn(
            "osec",
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")),
        )
        .filter(F.col("osec") >= 978307200)
        .select("o_custkey")
    )
    dormant = b.join(
        recent, b.c_custkey == recent.o_custkey, "left_anti"
    )
    return (
        dormant.crossJoin(F.broadcast(t))
        .filter(F.col("bal4") * F.col("n_pos") > F.col("total4"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_custs"),
            F.sum("bal4").cast("long").alias("sum_bal4"),
        )
    )


# --- W17: first-order Markov transition matrix ----------------------------------
#
# Per-user event sequences -> the (src, dst) transition count matrix
# and floor-ppm transition probabilities: the behavioral-model /
# session-analysis primitive (and the KG analog of predicate-sequence
# mining on transcripts). Transitions pair each event with the NEXT
# event of the same user under the deterministic total order
# (sec, event_id) — ties broken by event_id so both engines see the
# same successor.
#
# Scale shape: ONE shuffle on user_id for the lead() window (no
# self-join — the naive e1 x e2 "next event" join is quadratic per
# hot user); the (src, dst) count and the per-src total are tiny
# bounded aggregates over the event-type domain, and the probability
# join broadcasts the per-src totals. p_ppm is BIGINT floor division
# (Spark `div` == DuckDB `//`) — exact in both engines.

_W17_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE ts IS NOT NULL
), nx AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY sec, event_id) AS dst
  FROM e
), t AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trans
  FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2
), st AS (
  SELECT src, CAST(sum(n_trans) AS BIGINT) AS src_total FROM t GROUP BY 1
)
SELECT t.src, t.dst, t.n_trans,
       (t.n_trans * 1000000) // st.src_total AS p_ppm
FROM t JOIN st USING (src)
"""


@_q("w17_markov", _W17_ORACLE)
def w17_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    t = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n_trans"))
    )
    st = t.groupBy("src").agg(
        F.sum("n_trans").cast("long").alias("src_total")
    )
    return t.join(F.broadcast(st), "src").select(
        "src",
        "dst",
        "n_trans",
        exact_muldiv("n_trans", "src_total", 1_000_000).alias("p_ppm"),
    )


# --- Q12: CUBE grouping sets -----------------------------------------------------
#
# The full CUBE over (lang, source) — all four grouping sets in one
# pass, where q7's ROLLUP emits only the prefix hierarchy. Spark
# expands CUBE into a single Expand + one map-side-combined hash
# aggregate (NOT one scan per grouping set); at 100 TB that is 4x the
# aggregate rows but still exactly one shuffle. The grouping_id bit
# encoding (lang bit 2, source bit 1) matches DuckDB's GROUPING()
# ordering; NULL group keys coalesce to '(all)' so real NULL data
# can't collide with the subtotal rows' sentinel.

_Q12_ORACLE = """
SELECT coalesce(lang, '(all)') AS lang,
       coalesce(source, '(all)') AS source,
       CAST(GROUPING(lang, source) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY CUBE(lang, source)
"""


@_q("q12_cube", _Q12_ORACLE)
def q12_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source"),
            "gid",
            "n_docs",
            "sum_chars",
        )
    )


# --- W18: percent_rank / cume_dist distribution ranks ---------------------------
#
# Per-event-type distribution position of each purchase-value event —
# the feature-engineering window pair the catalog lacked (ntile gives
# buckets; these give the exact empirical CDF position). Both emerge
# from ONE event_type-keyed window sort: a unique total order
# (value, event_id) makes rank == row_number, so percent_rank is
# (rn-1)/(n-1) and cume_dist is rn/n — emitted as exact BIGINT ppm
# floor divisions rather than engine-native doubles (the two engines'
# double formulas agree mathematically but not bit-wise at .5 ulp
# boundaries; integers always agree).

_W18_ORACLE = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS v2
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT event_id, event_type, v2,
         row_number() OVER (
           PARTITION BY event_type ORDER BY v2, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
)
SELECT event_id, event_type, v2,
       CAST(((rn - 1) * 1000000) // greatest(n - 1, 1) AS BIGINT)
         AS pct_rank_ppm,
       CAST((rn * 1000000) // n AS BIGINT) AS cume_ppm
FROM r
"""


@_q("w18_dist_ranks", _W18_ORACLE)
def w18_dist_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v2"),
    )
    w = Window.partitionBy("event_type").orderBy("v2", "event_id")
    wn = Window.partitionBy("event_type")
    r = e.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return r.select(
        "event_id",
        "event_type",
        "v2",
        exact_muldiv("rn - 1", "greatest(n - 1, 1)", 1_000_000).alias(
            "pct_rank_ppm"
        ),
        exact_muldiv("rn", "n", 1_000_000).alias("cume_ppm"),
    )


# --- W19: Z-order (Morton) interleave tiles --------------------------------------
#
# Multi-dimensional data layout: interleaving the bits of two cluster
# keys (user bucket x hour bucket, 8 bits each) gives a 1-D sort key
# under which RANGES of z are 2-D tiles — files written in z order
# carry tight min/max on BOTH dimensions, so a 2-D selective scan
# prunes files the way a 1-D sort only could for its leading column
# (the Delta/Iceberg OPTIMIZE ZORDER layout, recomputed here as pure
# arithmetic — identical formula text in both engines; no UDF, no
# shuffle for the z computation itself; one bounded tile aggregate).
# The file-level pruning claim is pinned in tests/test_relational.py
# (z-sorted write -> both dimensions' per-file spans shrink).

_W19_ORACLE = """
WITH e AS (
  SELECT event_id, user_id % 256 AS ub,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 256 AS tb
  FROM events WHERE ts IS NOT NULL
), z AS (
  SELECT event_id,
         ((ub // 1) % 2) * 1 + ((tb // 1) % 2) * 2 + ((ub // 2) % 2) * 4 + ((tb // 2) % 2) * 8 + ((ub // 4) % 2) * 16 + ((tb // 4) % 2) * 32 + ((ub // 8) % 2) * 64 + ((tb // 8) % 2) * 128 + ((ub // 16) % 2) * 256 + ((tb // 16) % 2) * 512 + ((ub // 32) % 2) * 1024 + ((tb // 32) % 2) * 2048 + ((ub // 64) % 2) * 4096 + ((tb // 64) % 2) * 8192 + ((ub // 128) % 2) * 16384 + ((tb // 128) % 2) * 32768 AS zval
  FROM e
)
SELECT zval // 4096 AS tile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(zval) AS BIGINT) AS min_z,
       CAST(max(zval) AS BIGINT) AS max_z
FROM z GROUP BY 1
"""


@_q("w19_zorder_tiles", _W19_ORACLE)
def w19_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir).select(
        "event_id",
        F.expr("user_id % 256").alias("ub"),
        F.expr("(sec div 3600) % 256").alias("tb"),
    )
    z = e.select(
        "event_id",
        F.expr("((ub div 1) % 2) * 1L + ((tb div 1) % 2) * 2L + ((ub div 2) % 2) * 4L + ((tb div 2) % 2) * 8L + ((ub div 4) % 2) * 16L + ((tb div 4) % 2) * 32L + ((ub div 8) % 2) * 64L + ((tb div 8) % 2) * 128L + ((ub div 16) % 2) * 256L + ((tb div 16) % 2) * 512L + ((ub div 32) % 2) * 1024L + ((tb div 32) % 2) * 2048L + ((ub div 64) % 2) * 4096L + ((tb div 64) % 2) * 8192L + ((ub div 128) % 2) * 16384L + ((tb div 128) % 2) * 32768L").alias("zval"),
    )
    return z.groupBy(F.expr("zval div 4096").alias("tile")).agg(
        F.count("*").cast("long").alias("n"),
        F.min("zval").cast("long").alias("min_z"),
        F.max("zval").cast("long").alias("max_z"),
    )


def zorder_value(ub_col, tb_col):
    """The 8x8-bit Morton interleave as a Column (test hook)."""
    u, t = ub_col, tb_col
    acc = None
    for b in range(8):
        term = (F.floor(u / 2**b).cast("long") % 2) * (2 ** (2 * b)) + (
            F.floor(t / 2**b).cast("long") % 2
        ) * (2 ** (2 * b + 1))
        acc = term if acc is None else acc + term
    return acc


# --- Q16: supplier variety (distinct aggregate) ----------------------------------
#
# TPC-H Q16's shape on this schema: how many DISTINCT suppliers serve
# each (brand, size) part segment, excluding one brand. The plan
# shape under test is the partial-distinct aggregate: Spark expands
# count(DISTINCT l_suppkey) into a two-phase aggregate — first a
# (brand, size, suppkey) distinct (map-side combined), then the
# count — so the fact table shuffles once at distinct-key
# cardinality, never collecting per-group sets.

_Q16_ORACLE = """
SELECT p.p_brand, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45' AND p.p_size IN (1, 2, 3, 4)
GROUP BY 1, 2
"""


@_q("q16_supplier_variety", _Q16_ORACLE)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & F.col("p_size").isin(1, 2, 3, 4)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias(
                "supplier_cnt"
            ),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# --- W21: daily drift monitor ------------------------------------------------------
#
# The data-quality drift gate a continuously-ingesting pipeline runs:
# flag days whose mean purchase value exceeds 2x the trailing
# all-history mean. The comparison is the exact integer
# cross-multiply day_sum2 * prior_n > 2 * prior_sum2 * day_n — no
# double means anywhere near the decision boundary, so both engines
# flag identical days. Day zero (empty history) compares 0 > 0 and
# is correctly unflagged without a special case.
#
# One day-keyed aggregate, then a single-partition window over the
# DAY table (bounded: one row per day) — the window never touches
# event cardinality.

_W21_ORACLE = """
WITH d AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS day_n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS day_sum2
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), t AS (
  SELECT day, day_n, day_sum2,
         CAST(coalesce(sum(day_n) OVER w, 0) AS BIGINT) AS prior_n,
         CAST(coalesce(sum(day_sum2) OVER w, 0) AS BIGINT) AS prior_sum2
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING)
)
SELECT day, day_n, day_sum2, prior_n, prior_sum2,
       day_sum2 * prior_n > 2 * prior_sum2 * day_n AS drift_flag
FROM t
"""


@_q("w21_drift_monitor", _W21_ORACLE)
def w21_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    d = (
        e.select(
            F.expr("sec div 86400").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("v2"),
        )
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("day_n"),
            F.sum("v2").cast("long").alias("day_sum2"),
        )
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = d.withColumn(
        "prior_n", F.coalesce(F.sum("day_n").over(w), F.lit(0)).cast("long")
    ).withColumn(
        "prior_sum2",
        F.coalesce(F.sum("day_sum2").over(w), F.lit(0)).cast("long"),
    )
    return t.select(
        "day",
        "day_n",
        "day_sum2",
        "prior_n",
        "prior_sum2",
        (
            F.col("day_sum2") * F.col("prior_n")
            > 2 * F.col("prior_sum2") * F.col("day_n")
        ).alias("drift_flag"),
    )


# --- W22: SCD Type-2 dimension build from the CDC log ------------------------------
#
# The other face of w15's log compaction: instead of latest-wins
# current state, the FULL slowly-changing-dimension history — every
# change event becomes a versioned row with an explicit validity
# interval [valid_from, valid_to), valid_to = the key's next change
# (NULL while current), version = change ordinal, plus the
# is_current flag; a tombstone closes the interval chain without
# opening a row of its own downstream (it still versions — its
# interval records the deletion window, op='D').
#
# ONE shuffle on the dimension key: lead() and row_number() share the
# same (sec, event_id)-ordered window sort, so history assembly costs
# exactly one exchange + one sort regardless of how many versions a
# key has. The (sec, event_id) order is total — timestamp ties can't
# produce nondeterministic interval chains.

_W22_ORACLE = """
WITH log AS (
  SELECT user_id, event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events WHERE ts IS NOT NULL
)
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       op, event_type,
       CAST(round(value * 100) AS BIGINT) AS value2,
       sec AS valid_from,
       lead(sec) OVER w AS valid_to,
       (lead(sec) OVER w IS NULL) AS is_current
FROM log
WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
"""


@_q("w22_scd2_history", _W22_ORACLE)
def w22_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events_sec(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value2"),
        "sec",
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    return e.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "op",
        "event_type",
        "value2",
        F.col("sec").alias("valid_from"),
        F.lead("sec").over(w).alias("valid_to"),
        F.lead("sec").over(w).isNull().alias("is_current"),
    )


# --- Q20: revenue concentration (Pareto report) -------------------------------------
#
# What share of total revenue do the top-decile customers carry —
# the concentration/skew report that decides whether a pipeline
# needs hot-key handling at all. Exact integer end-to-end: revenue
# in cents, the decile cut is ceil(n/10) by revenue-DESC rank
# (customer id breaks ties totally), and the share is BIGINT ppm.
# Two bounded shuffles: the per-customer rollup (map-side combined)
# and ONE single-partition window over the CUSTOMER table — customer
# cardinality, never order cardinality; the global total rides the
# same window pass.

_Q20_ORACLE = """
WITH r AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev2
  FROM orders GROUP BY 1
), ranked AS (
  SELECT o_custkey, rev2,
         row_number() OVER (ORDER BY rev2 DESC, o_custkey) AS rn,
         count(*) OVER () AS n,
         sum(rev2) OVER () AS total2
  FROM r
)
SELECT CAST(count(*) AS BIGINT) AS top_customers,
       CAST(max(n) AS BIGINT) AS all_customers,
       CAST(sum(rev2) AS BIGINT) AS top_rev2,
       CAST(max(total2) AS BIGINT) AS total_rev2,
       CAST((sum(rev2) * 1000000) // max(total2) AS BIGINT) AS share_ppm
FROM ranked
WHERE rn * 10 <= n + 9
"""


@_q("q20_revenue_concentration", _Q20_ORACLE)
def q20_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("c2"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c2").cast("long").alias("rev2"))
    )
    w = Window.orderBy(F.col("rev2").desc(), F.col("o_custkey"))
    wall = Window.partitionBy()
    ranked = (
        r.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn("n", F.count("*").over(wall).cast("long"))
        .withColumn("total2", F.sum("rev2").over(wall).cast("long"))
    )
    # top decile: rn <= ceil(n/10)  <=>  rn*10 <= n+9 (pure BIGINT).
    return ranked.filter(
        F.col("rn") * 10 <= F.col("n") + 9
    ).agg(
        F.count("*").cast("long").alias("top_customers"),
        F.max("n").cast("long").alias("all_customers"),
        F.sum("rev2").cast("long").alias("top_rev2"),
        F.max("total2").cast("long").alias("total_rev2"),
        exact_muldiv("sum(rev2)", "max(total2)", 1_000_000).alias("share_ppm"),
    )


# --- Q2: cheapest-supplier-per-brand (correlated argmin join-back) ---------------
#
# TPC-H Q2's defining shape on this schema (no partsupp table): per
# part brand, the minimum supplier account balance among suppliers
# who actually shipped that brand, plus the arg-min supplier (ties
# broken by the smaller s_suppkey). Q2's correlated subquery
# `ps_supplycost = (SELECT min(...) ...)` is exactly this
# min-then-join-back; the Spark form fuses both legs into ONE
# aggregate via a lexicographic struct-min, so the correlated
# subquery costs a single shuffle instead of agg + re-join.
#
# Scale shape: lineitem⋈part projects to (p_brand, l_suppkey) and
# collapses through a DISTINCT *before* touching supplier — the
# (brand, supplier) universe is bounded by |brands|x|suppliers|, so
# the expensive fact scan reduces early. supplier is the smallest
# dim → broadcast. The final argmin is min(struct(bal4, suppkey)):
# one map-side-combined aggregate over 25 brand groups, never a
# per-brand window over ranked rows.
#
# Determinism: balances quantize to 10^-4 integer units; the struct
# orders (bal4, s_suppkey) so equal balances resolve to the smaller
# key in both engines.

_Q2_ORACLE = """
WITH bs AS (
  SELECT DISTINCT p.p_brand, l.l_suppkey
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), sb AS (
  SELECT bs.p_brand, bs.l_suppkey,
         CAST(round(s.s_acctbal * 10000) AS BIGINT) AS bal4
  FROM bs JOIN supplier s ON bs.l_suppkey = s.s_suppkey
), m AS (
  SELECT p_brand, min(bal4) AS min_bal4 FROM sb GROUP BY 1
)
SELECT m.p_brand, m.min_bal4,
       CAST(min(sb.l_suppkey) AS BIGINT) AS s_suppkey
FROM m JOIN sb ON sb.p_brand = m.p_brand AND sb.bal4 = m.min_bal4
GROUP BY 1, 2
"""


@_q("q2_min_cost_supplier", _Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 10000).cast("long").alias("bal4"),
    )
    bs = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("p_brand", "l_suppkey")
        .distinct()
    )
    sb = bs.join(F.broadcast(sup), bs.l_suppkey == sup.s_suppkey)
    best = sb.groupBy("p_brand").agg(
        F.min(F.struct(F.col("bal4"), F.col("s_suppkey"))).alias("m")
    )
    return best.select(
        "p_brand",
        F.col("m.bal4").alias("min_bal4"),
        F.col("m.s_suppkey").cast("long").alias("s_suppkey"),
    )


# --- Q11: global-share HAVING (scalar-subquery threshold) ------------------------
#
# TPC-H Q11's shape: per part type, total line revenue, keeping only
# types whose revenue exceeds 1/200 of the GLOBAL total — the
# group-vs-global-scalar HAVING every "important segments" report
# uses. The global total is a second aggregate over the same partials,
# NOT a second scan: the per-type aggregate computes once, the 1-row
# global sum derives from it and broadcasts back via crossJoin, so
# lineitem is read exactly once.
#
# Determinism: revenue in integer micro-units
# (round(price*(1-disc)*10^4) summed as BIGINT); the threshold is the
# exact integer cross-multiply rev4 * 200 > total4 — no doubles near
# the boundary.

_Q11_ORACLE = """
WITH pt AS (
  SELECT p.p_type,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 10000) AS BIGINT)) AS BIGINT) AS rev4
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
), t AS (
  SELECT CAST(sum(rev4) AS BIGINT) AS total4 FROM pt
)
SELECT pt.p_type, pt.rev4,
       -- chained quotient/remainder ppm (a25 discipline): rev4*10^6
       -- overflowed BIGINT at sf0.1 (rev4 ~1e13 after the 10^4 cent
       -- quantization); exact while total4 <= 2^63/1000 (~9.2e15,
       -- ~sf40 at this quantization — beyond that the quantized
       -- revenue itself needs DECIMAL). The whole-quotient term is
       -- 1 when one type holds all the revenue.
       (pt.rev4 // t.total4) * 1000000
       + ((pt.rev4 % t.total4) * 1000 // t.total4) * 1000
       + (((pt.rev4 % t.total4) * 1000 % t.total4) * 1000 // t.total4)
         AS share_ppm
FROM pt, t
WHERE pt.rev4 > t.total4 // 200
"""


@_q("q11_revenue_share", _Q11_ORACLE)
def q11_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
        )
        .cast("long")
        .alias("rev4_line"),
    )
    pt = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(F.sum("rev4_line").cast("long").alias("rev4"))
    )
    total = pt.agg(F.sum("rev4").cast("long").alias("total4"))
    return (
        pt.crossJoin(F.broadcast(total))
        # div-form threshold: rev4*200 > total4 <=> rev4 > total4 div
        # 200 for positive BIGINTs, without the *200 headroom cost
        .filter(F.col("rev4") > F.expr("total4 div 200"))
        .select(
            "p_type",
            "rev4",
            exact_muldiv("rev4", "total4", 1_000_000).alias("share_ppm"),
        )
    )


# --- Q21: suppliers who kept orders waiting (multi-EXISTS self-join) -------------
#
# TPC-H Q21's shape on this schema (no commit/receipt dates): a
# supplier "kept an order waiting" when they shipped a line more than
# 60 days after the order date, on a multi-supplier order where
# (EXISTS) another supplier also supplied a line and (NOT EXISTS) any
# OTHER supplier was also late. The count of such orders per supplier
# is the classic blame report — and the plan is the canonical
# semi-join + anti-join pair against the same self-joined fact.
#
# Scale shape: lineitem⋈orders is the one big-big join (equi on
# l_orderkey; both sides arrive bucketed by orderkey at warehouse
# scale → zero-exchange). The late-line table then collapses to
# DISTINCT (orderkey, suppkey) BEFORE the self-joins, and both the
# LEFT SEMI (some other supplier on the order) and LEFT ANTI (no
# other late supplier) are equi-joins on l_orderkey with the
# suppkey-inequality as a join-level residual — never a per-order
# cross product materialized. Ties/dups: everything is DISTINCT
# (order, supplier) pairs, so the final count is exact.

_Q21_ORACLE = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CAST(floor(epoch(l.l_shipdate)) AS BIGINT)
           - CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS lag_s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lo
), late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lo
  WHERE lag_s > 60 * 86400
)
SELECT l1.l_suppkey, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
WHERE EXISTS (
    SELECT 1 FROM pairs p
    WHERE p.l_orderkey = l1.l_orderkey
      AND p.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM late l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
GROUP BY 1
"""


@_q("q21_waiting_suppliers", _Q21_ORACLE)
@releases_unread_cuts
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.unix_timestamp(F.col("l_shipdate").cast("timestamp")).alias(
            "ship_s"
        ),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias(
            "order_s"
        ),
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("ship_s") - F.col("order_s")).alias("lag_s"),
    )
    # One pass computes both derived pair tables; a cut truncates
    # the shared lineage so the big join executes once, not thrice.
    pairs_all = cut(
        lo.select(
            "l_orderkey",
            "l_suppkey",
            (F.col("lag_s") > 60 * 86400).alias("is_late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("is_late"))
    )
    late = pairs_all.filter(F.col("is_late"))
    l2 = late.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    p2 = pairs_all.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        late.join(
            p2,
            (F.col("l_orderkey") == F.col("ok3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_semi",
        )
        .join(
            l2,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_anti",
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


# --- W23: key-skew profile (heavy hitters + imbalance ratio) ---------------------
#
# The diagnostic a 100 TB pipeline runs BEFORE choosing a shuffle
# strategy: per-key cardinality over the join/aggregation key, the
# top-5 heavy hitters with their traffic share, and the global
# imbalance ratio max/mean (in ppm — the direct read on how badly the
# hottest reducer exceeds the average; >~3x says salt or let AQE
# split). The engine's own skew handling (functions/skew.py salting,
# AQE skew-join) is tuned by exactly this number.
#
# Scale shape: ONE map-side-combined shuffle to per-key counts; the
# top-5 is a TakeOrdered (per-partition heaps, no global sort); the
# global stats are a second 1-row aggregate over the already-
# collapsed count table, broadcast back. Determinism: ties on count
# break by user_id; ratios are BIGINT ppm floor divisions.

_W23_ORACLE = """
WITH c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n_events) AS BIGINT) AS total,
         CAST(max(n_events) AS BIGINT) AS max_n
  FROM c
), top AS (
  SELECT user_id, n_events,
         row_number() OVER (ORDER BY n_events DESC, user_id) AS rank
  FROM c
)
SELECT t.rank, t.user_id, t.n_events,
       (t.n_events * 1000000) // g.total AS share_ppm,
       (g.max_n * g.n_keys * 1000000) // g.total AS skew_ppm
FROM top t, g
WHERE t.rank <= 5
"""


@_q("w23_skew_profile", _W23_ORACLE)
def w23_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    g = c.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_events").cast("long").alias("total"),
        F.max("n_events").cast("long").alias("max_n"),
    )
    # TakeOrderedAndProject (per-partition heaps), NOT a global
    # row_number window — the count table is one row per distinct
    # key, which at warehouse scale is billions of rows; the rank is
    # assigned afterwards on the 5 surviving rows.
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    top = (
        c.orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(5)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    return top.crossJoin(F.broadcast(g)).select(
        "rank",
        "user_id",
        "n_events",
        exact_muldiv("n_events", "total", 1_000_000).alias("share_ppm"),
        exact_muldiv(["max_n", "n_keys"], "total", 1_000_000).alias("skew_ppm"),
    )


# --- W25: salted two-phase aggregation on a hot key ------------------------------
#
# The explicit-salting groupBy the north rule names, driver-visible:
# events aggregate per event_type — a ~5-value domain, i.e. EVERY key
# is a monster key at warehouse scale, the one case map-side combine
# alone can't always save (a high-cardinality agg buffer, or a
# count-distinct, forces rows to the reducer). The plan is the
# canonical two-phase shape via functions/skew.salted_count +
# a salted partial for the value sums: phase 1 groups on (key, salt)
# — 16 reducers share each hot key — phase 2 merges the ≤16 partials
# per key. Both shuffles are map-side-combined; phase 2 moves at most
# |keys| x buckets rows. Values are provably identical to the plain
# groupBy (the DuckDB oracle IS the plain aggregation).

_W25_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
         AS sum_value4
FROM events
WHERE event_type IS NOT NULL
GROUP BY 1
"""


@_q("w25_salted_agg", _W25_ORACLE)
def w25_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from information_extraction_spark.functions.skew import with_salt

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "event_type",
            "user_id",
            F.round(F.col("value") * 10000).cast("long").alias("v4"),
        )
    )
    salted = with_salt(e, buckets=16)
    # Phase 1: per (key, salt) partials; phase 2 merges ≤16 rows per
    # key. No per-key unbounded state anywhere.
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("v4").cast("long").alias("s4"),
    )
    sums = partial.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum("s4").cast("long").alias("sum_value4"),
    )
    # Distinct users: shuffle on the COMPOSITE (key, user) — users
    # spread a hot event_type across all reducers, so this needs no
    # salt; the per-key count then moves one row per (key, user).
    # (Never collect_set per key: that rebuilds the monster key as
    # aggregate state.)
    users = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    return sums.join(F.broadcast(users), "event_type").select(
        "event_type", "n_events", "n_users", "sum_value4"
    )


# --- W26: Deequ-style data-quality constraint suite ---------------------------
#
# The pre-ingest audit every production pipeline runs before trusting
# a new snapshot (Schelter et al., "Automating large-scale data
# quality verification", VLDB'18): one row per declared constraint
# with evaluated/failed counts and an exact integer pass rate. Scale
# shape: each single-table check is ONE conditional aggregate pass
# (map-side combined to one row — uniqueness rides count DISTINCT's
# partial-distinct expand, never a self-join); referential checks are
# LEFT ANTI joins (customer dim broadcasts; the lineitem→orders
# big-big anti first collapses the fact side to DISTINCT keys so the
# shuffle moves keys, not line items). The final union moves 7 rows.
# Passing checks (FK integrity, key uniqueness, domain conformance)
# are as load-bearing as failing ones (c_acctbal/s_acctbal >= 0 fails
# on 122 + 6 rows at sf0.01): the audit's job is to PROVE the pass.

_W26_ORACLE = """
WITH checks AS (
  SELECT 'orders.o_orderkey unique' AS check_name,
         CAST(count(*) AS BIGINT) AS n_evaluated,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_failed
  FROM orders
  UNION ALL
  SELECT 'orders.o_custkey fk customer',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem.l_orderkey fk orders',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'customer.c_acctbal >= 0',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'supplier.s_acctbal >= 0',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM supplier
  UNION ALL
  SELECT 'orders.o_orderstatus in domain',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0
                  ELSE 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'events.event_type complete',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM events
)
SELECT check_name, n_evaluated, n_failed,
       CAST((n_evaluated - n_failed) * 1000000 // n_evaluated AS BIGINT)
         AS pass_ppm
FROM checks
"""


@_q("w26_dq_audit", _W26_ORACLE)
def w26_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")

    pass_ppm = exact_muldiv(
        "n_evaluated - n_failed", "n_evaluated", 1_000_000
    ).alias("pass_ppm")

    def _check(name: str, n_eval, n_fail) -> DataFrame:
        return n_eval.crossJoin(n_fail).select(
            F.lit(name).alias("check_name"),
            F.col("n_evaluated"),
            F.col("n_failed"),
            pass_ppm,
        )

    def _agg_check(name: str, df: DataFrame, fail_cond) -> DataFrame:
        one = df.agg(
            F.count("*").cast("long").alias("n_evaluated"),
            F.sum(F.when(fail_cond, 1).otherwise(0))
            .cast("long")
            .alias("n_failed"),
        )
        return one.select(
            F.lit(name).alias("check_name"),
            "n_evaluated",
            "n_failed",
            pass_ppm,
        )

    # Uniqueness: partial-distinct aggregate, one row out.
    uniq = orders.agg(
        F.count("*").cast("long").alias("n_evaluated"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("n_failed"),
    )
    uniq = uniq.select(
        F.lit("orders.o_orderkey unique").alias("check_name"),
        "n_evaluated",
        "n_failed",
        pass_ppm,
    )
    # FK orders→customer: the dim broadcasts; orphans = LEFT ANTI.
    o_total = orders.agg(F.count("*").cast("long").alias("n_evaluated"))
    o_orphans = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders["o_custkey"] == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count("*").cast("long").alias("n_failed"))
    )
    fk_cust = _check("orders.o_custkey fk customer", o_total, o_orphans)
    # FK lineitem→orders: big-big — collapse the probe side to
    # DISTINCT keys first (the anti join then shuffles keys, and the
    # violation count weights each missing key by its line count).
    l_total = lineitem.agg(F.count("*").cast("long").alias("n_evaluated"))
    l_keys = lineitem.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines")
    )
    l_orphans = (
        l_keys.join(
            orders.select("o_orderkey"),
            l_keys["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        ).agg(
            F.coalesce(F.sum("n_lines"), F.lit(0))
            .cast("long")
            .alias("n_failed")
        )
    )
    fk_line = _check("lineitem.l_orderkey fk orders", l_total, l_orphans)
    out = (
        uniq.unionByName(fk_cust)
        .unionByName(fk_line)
        .unionByName(
            _agg_check(
                "customer.c_acctbal >= 0", customer, F.col("c_acctbal") < 0
            )
        )
        .unionByName(
            _agg_check(
                "supplier.s_acctbal >= 0", supplier, F.col("s_acctbal") < 0
            )
        )
        .unionByName(
            _agg_check(
                "orders.o_orderstatus in domain",
                orders,
                ~F.col("o_orderstatus").isin("O", "F", "P"),
            )
        )
        .unionByName(
            _agg_check(
                "events.event_type complete",
                events,
                F.col("event_type").isNull(),
            )
        )
    )
    return out


# --- Q23: per-brand skyline (Pareto frontier) ----------------------------------
#
# The classic skyline operator (Börzsönyi et al., ICDE 2001): parts
# not dominated within their brand on (price low, size high). A part
# x is dominated iff some same-brand part y has price <= x's AND
# size >= x's with at least one strict inequality — duplicates on
# BOTH dimensions dominate neither way and both stay on the frontier.
#
# Scale shape: dominance needs only two window aggregates once rows
# are sorted by price within the partition key — max(size) over
# strictly-cheaper rows (a range frame on exact integer cents ending
# at -1) and max(size) over the same-price peer group. One shuffle on
# p_brand serves both windows; no self-join, no O(n^2) dominance
# pairs. The brand key keeps the sort partitioned — a GLOBAL skyline
# would instead use the two-phase range-shuffle pattern
# (p7_vocab_build / w18_dist_ranks): per-bucket local max sizes,
# prefix-max over the bounded bucket table broadcast back.
#
# Prices quantize to exact cents BIGINT before any comparison (range
# frames on raw doubles are ill-defined; 1-cent integer offsets are
# exact), matching the oracle's CAST(round(*100)) rule. At sf0.01 the
# fixture carries 50 same-price-cents groups, so the strict-tie rule
# is load-bearing at the gate scale.

_Q23_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_brand,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_c, p_size
  FROM part
)
SELECT x.p_partkey, x.p_brand, x.price_c, x.p_size
FROM p x
WHERE NOT EXISTS (
  SELECT 1 FROM p y
  WHERE y.p_brand = x.p_brand
    AND y.price_c <= x.price_c AND y.p_size >= x.p_size
    AND (y.price_c < x.price_c OR y.p_size > x.p_size))
"""


@_q("q23_skyline", _Q23_ORACLE)
def q23_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier on (minimize price, maximize size) —
    the window-based O(n log n) skyline; the DuckDB oracle is the
    independent NOT EXISTS dominance restatement."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100)
        .cast("long")
        .alias("price_c"),
        "p_size",
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_brand", "price_c")
    flagged = part.select(
        "*",
        F.max("p_size").over(w_cheaper).alias("best_cheaper"),
        F.max("p_size").over(w_same).alias("best_same_price"),
    )
    return flagged.filter(
        (
            F.col("best_cheaper").isNull()
            | (F.col("best_cheaper") < F.col("p_size"))
        )
        & (F.col("best_same_price") <= F.col("p_size"))
    ).select("p_partkey", "p_brand", "price_c", "p_size")


# --- W27: interval max-concurrency (sweep line over a segmented scan) --------------
#
# "How many sessions were open at once, and when did the peak first
# happen?" — the interval-algebra audit behind rate limiting,
# capacity planning, and GPU-hour accounting. Each event opens a
# half-open interval [sec, sec + 60 + event_id % 540): boundary rows
# (+1 at start, -1 at end) swept in (t, delta, event_id) order — the
# -1 < +1 tie rule IS the half-open semantics (a session ending
# exactly when another starts never overlaps it).
#
# The sweep itself is functions/ranking.segmented_running_sum: rows
# range-partition by the GLOBAL boundary order (not by event_type),
# so one dominant type — the common case; 'view' usually is — still
# spreads over every core, where a Window.partitionBy(event_type)
# sweep would collapse onto one task. Peak time reports as seconds
# relative to the type's first start (tz-portable, the
# kg_temporal_extent rule).

_W27_ORACLE = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 60 + event_id % 540 AS e
  FROM events WHERE ts IS NOT NULL
), b AS (
  SELECT event_type, s AS t, 1 AS delta, event_id FROM e
  UNION ALL
  SELECT event_type, e AS t, -1 AS delta, event_id FROM e
), c AS (
  SELECT event_type, t,
         sum(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta, event_id
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM b
), m AS (
  SELECT event_type, CAST(max(conc) AS BIGINT) AS max_concurrent
  FROM c GROUP BY 1
), p AS (
  SELECT c.event_type, min(c.t) AS peak_t
  FROM c JOIN m ON m.event_type = c.event_type
              AND c.conc = m.max_concurrent
  GROUP BY 1
), s0 AS (
  SELECT event_type, min(s) AS t0 FROM e GROUP BY 1
)
SELECT m.event_type, m.max_concurrent,
       CAST(p.peak_t - s0.t0 AS BIGINT) AS first_peak_rel_s
FROM m JOIN p USING (event_type) JOIN s0 USING (event_type)
"""


@_q("w27_interval_concurrency", _W27_ORACLE)
def w27_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent intervals per event_type via the distributed
    sweep (see block comment): globally-ordered +1/-1 boundaries, a
    segmented running sum, then max + first-peak-time rollups."""
    from information_extraction_spark.functions.ranking import (
        segmented_running_sum,
    )

    e = _events_sec(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.col("sec").alias("s"),
        (F.col("sec") + 60 + F.col("event_id") % 540).alias("e"),
    )
    b = e.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("delta"),
        "event_id",
    ).unionByName(
        e.select(
            "event_type", F.col("e").alias("t"),
            F.lit(-1).alias("delta"), "event_id",
        )
    )
    c = segmented_running_sum(
        b, "event_type", ["t", "delta", "event_id"], "delta", out_col="conc"
    )
    m = c.groupBy("event_type").agg(
        F.max("conc").cast("long").alias("max_concurrent")
    )
    mm = m.select(
        F.col("event_type").alias("m_type"), "max_concurrent"
    )
    p = (
        c.join(
            F.broadcast(mm),
            (c["event_type"] == mm["m_type"])
            & (c["conc"] == mm["max_concurrent"]),
        )
        .groupBy("event_type")
        .agg(F.min("t").alias("peak_t"))
    )
    t0 = e.groupBy("event_type").agg(F.min("s").alias("t0"))
    return (
        m.join(p, "event_type")
        .join(F.broadcast(t0), "event_type")
        .select(
            "event_type",
            "max_concurrent",
            (F.col("peak_t") - F.col("t0")).cast("long").alias(
                "first_peak_rel_s"
            ),
        )
    )


# --- W28: exponential time-decay aggregation (recency-weighted rollup) -------------
#
# The feature-store staple: "activity score where yesterday counts
# half of today" — recency-weighted counts/sums consumed by ranking
# and anomaly models. The cross-engine contract is INTEGER decay:
# weight_ppm = 1000000 DIV 2^min(age_days, 40) (a bit shift + one
# floor division — no pow()/exp() in compared columns, the
# sketches.py rule (6) discipline), age measured from the corpus
# max(sec) so the query is deterministic for a fixed input. Dollar
# values enter as floor(value*100) cents — the one IEEE multiply is
# bit-identical cross-engine.
#
# Scale shape: ONE map-side-combined shuffle on event_type; the
# max(sec) anchor is a bounded scalar aggregate (at 100 TB it comes
# from the ingest watermark, not a scan — documented seam). Weights
# are per-row narrow arithmetic.

_W28_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value
  FROM events WHERE ts IS NOT NULL
), mx AS (
  SELECT max(sec) AS tmax FROM e
), w AS (
  SELECT event_type,
         1000000 // (CAST(1 AS BIGINT)
                     << CAST(least((tmax - sec) // 86400, 40) AS INT))
           AS w_ppm,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM e, mx
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(w_ppm) AS BIGINT) AS decayed_count_ppm,
       CAST(sum(cents * w_ppm) AS BIGINT) AS decayed_cents_ppm
FROM w GROUP BY 1
"""


@_q("w28_decay_agg", _W28_ORACLE)
def w28_decay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-per-day decayed counts and cent-sums per event_type
    (see block comment); the decay weight is a shift + DIV so both
    engines agree bit-for-bit."""
    e = _events_sec(spark, sf_dir).select("event_type", "sec", "value")
    tmax = e.agg(F.max("sec")).first()[0]
    w = e.select(
        "event_type",
        F.expr(
            f"1000000L DIV shiftleft(1L, "
            f"cast(least(({tmax}L - sec) DIV 86400L, 40L) as int))"
        ).alias("w_ppm"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return w.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("w_ppm").cast("long").alias("decayed_count_ppm"),
        F.sum(F.col("cents") * F.col("w_ppm"))
        .cast("long")
        .alias("decayed_cents_ppm"),
    )


# --- W29: partition backfill via dynamic partition overwrite ------------------------
#
# The warehouse correction pattern: a late-arriving fix REPLACES one
# day's partition — rows restated, duplicates dropped — while every
# other partition's files stay byte-untouched (Spark's
# partitionOverwriteMode=dynamic, the INSERT OVERWRITE ... PARTITION
# analogue of Iceberg's replaceWhere). Here the staged events table
# partitions by integer day_id (sec DIV 86400 — tz-free); the
# corrected batch for the LATEST day restates cents += 1000 and
# drops event_id % 5 == 0 (a late dedup), so the readback proves
# both replacement semantics (dropped rows are GONE — an append
# would keep them) and isolation (earlier days unchanged). The
# no-rewrite claim for untouched partitions is pinned by file
# inventory in test_relational.
#
# Scale notes: the overwrite job shuffles only the corrected
# partition's rows; discovery of what to replace is directory-level
# metadata. day_id partitioning keeps the read path
# partition-prunable.

_W29_ORACLE = """
WITH e AS (
  SELECT event_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL
), mx AS (
  SELECT max(day_id) AS mday FROM e
), f AS (
  SELECT day_id, cents FROM e, mx WHERE day_id <> mday
  UNION ALL
  SELECT day_id, cents + 1000 FROM e, mx
  WHERE day_id = mday AND event_id % 5 <> 0
)
SELECT day_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM f GROUP BY 1
"""


def _backfill_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events_sec(spark, sf_dir).select(
        "event_id",
        F.expr("sec DIV 86400").alias("day_id"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )


def _backfill_stage(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Write the day-partitioned base table; returns the latest
    day_id (the partition the fix will restate)."""
    e = _backfill_base(spark, sf_dir)
    e.write.mode("overwrite").partitionBy("day_id").parquet(table_dir)
    return e.agg(F.max("day_id")).first()[0]


def _backfill_fix(
    spark: SparkSession, sf_dir: str, table_dir: str, mday: int
) -> None:
    """Dynamically overwrite ONLY the latest day with the corrected
    batch (cents += 1000, event_id % 5 == 0 dropped)."""
    e = _backfill_base(spark, sf_dir)
    fix = (
        e.filter((F.col("day_id") == mday) & (F.col("event_id") % 5 != 0))
        .withColumn("cents", F.col("cents") + 1000)
    )
    fix.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day_id").parquet(table_dir)


def _backfill_overwrite_run(
    spark: SparkSession, sf_dir: str, table_dir: str
) -> None:
    """Stage the day-partitioned table, then dynamically overwrite
    the latest day with the corrected batch (shared by the query and
    the file-isolation test)."""
    mday = _backfill_stage(spark, sf_dir, table_dir)
    _backfill_fix(spark, sf_dir, table_dir, mday)


@_q("w29_backfill_overwrite", _W29_ORACLE)
@releases_unread_cuts
def w29_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restate the latest day's partition in place (see block
    comment), then aggregate the readback per day — replaced rows
    must be gone, earlier days bit-identical."""
    import os
    import shutil
    import tempfile

    run = tempfile.mkdtemp(prefix="ie_backfill_")
    try:
        table = os.path.join(run, "events_by_day")
        _backfill_overwrite_run(spark, sf_dir, table)
        out = cut(
            spark.read.parquet(table)
            .groupBy(F.col("day_id").cast("long").alias("day_id"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("cents").cast("long").alias("sum_cents"),
            )
        )
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return out


# --- Q24: nation-pair trade volume (TPC-H Q7 shape) -------------------------------
#
# Shipping volume between two nations per direction per year — the
# classic disjunctive two-dimension join: the supplier leg and the
# customer leg each resolve to a nation, and the pair condition is an
# OR of the two orderings. The scale-honest shape filters BOTH nation
# dims to the two names of interest BEFORE the fact joins (each dim
# join then acts as a semi-filter on the fact — at 100 TB only rows
# touching the two nations survive the first broadcast probe), and
# the OR evaluates as a cheap post-join predicate over two tiny
# already-joined name columns, never as a join condition (an OR in
# the join condition would force a nested-loop plan). Nation dims
# broadcast (25 rows); the only input-sized exchanges are the
# fact-fact equi-joins on orderkey/custkey. Revenue sums as BIGINT
# cents, divided back once.

_Q24_ORACLE = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= DATE '1996-01-01'
  AND l.l_shipdate < DATE '1998-01-01'
  AND ((sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10')
       OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12'))
GROUP BY 1, 2, 3
"""


@_q("q24_nation_volume", _Q24_ORACLE)
def q24_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_12", "NATION_10")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"),
                             F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    ).select("c_custkey", "cust_nation")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        (F.sum(cents) / F.lit(100.0)).alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    )


# --- Q25: national market share (TPC-H Q8 shape) ----------------------------------
#
# One nation's share of a region's market for one part class, per
# order year — the conditional-share-of-a-filtered-market shape. All
# selective dims (part type, region membership, both nation lookups)
# broadcast and prune the fact stream BEFORE the two big equi-joins;
# the share is a CASE inside the same aggregate (one pass — Q14's
# rule), so the numerator never needs a second scan. Revenue in
# BIGINT cents; the share divides once per year row, rounded 4dp on
# both engines.

_Q25_ORACLE = """
SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CASE WHEN sn.n_name = 'NATION_2'
                THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT) ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                             AS BIGINT)) AS DOUBLE), 4) AS mkt_share,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) / 100.0 AS market_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
GROUP BY 1
"""


@_q("q25_market_share", _Q25_ORACLE)
def q25_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nk"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    ).select("s_suppkey", "supp_nation")
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("c_nk")
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = _t(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
    )
    agg = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_2", cents).otherwise(F.lit(0))
        ).alias("nation_cents"),
        F.sum(cents).alias("total_cents"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("nation_cents").cast("double")
            / F.col("total_cents").cast("double"),
            4,
        ).alias("mkt_share"),
        (F.col("total_cents") / F.lit(100.0)).alias("market_revenue"),
    )


# --- Q26: UNPIVOT / melt — wide metric columns to long form ------------------
#
# The one relational reshaping surface the catalog lacked: the
# inverse of q8_pivot. Per-document metrics are derived in-row
# (n_chars from the table, token counts from one split — no explode),
# melted with DataFrame.unpivot (Spark's native Expand-based melt:
# each input row expands to one row per metric WITHOUT a shuffle),
# then profiled per (lang, metric) in ONE map-side-combined shuffle
# on a bounded key. The DuckDB oracle uses its native UNPIVOT — a
# genuinely independent implementation of the same reshape.

_Q26_ORACLE = """
WITH base AS (
  SELECT lang,
         n_chars,
         CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                              w -> len(w) >= 1)) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(
             string_split(coalesce(text, ''), ' '),
             w -> len(w) >= 1))) AS BIGINT) AS n_distinct_tokens
  FROM documents
), long AS (
  UNPIVOT base ON n_chars, n_tokens, n_distinct_tokens
  INTO NAME metric VALUE value
)
SELECT lang, metric,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(value) AS BIGINT) AS sum_value,
       CAST(max(value) AS BIGINT) AS max_value
FROM long GROUP BY 1, 2
"""


@_q("q26_unpivot", _Q26_ORACLE)
def q26_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: F.length(w) >= 1,
    )
    base = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias(
            "n_distinct_tokens"
        ),
    )
    long = base.unpivot(
        ["lang"],
        ["n_chars", "n_tokens", "n_distinct_tokens"],
        "metric",
        "value",
    )
    return long.groupBy("lang", "metric").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("value").cast("long").alias("sum_value"),
        F.max("value").cast("long").alias("max_value"),
    )


# --- Q27: arbitrary GROUPING SETS ---------------------------------------------------
#
# ROLLUP (q7) and CUBE (q12) are the hierarchical/exhaustive special
# cases; real reporting pipelines ask for ARBITRARY set lists — here
# {(event_type, user_bucket), (event_type,), (user_bucket,)}: both
# one-dimension marginals but NO grand total, a shape neither rollup
# nor cube produces. Spark plans it as ONE Expand (x3) feeding one
# map-side-combined shuffle — never three scans of a 100 TB table.
# gid uses the same bit-per-column encoding on both engines (q7's
# verified contract); money sums in exact cents.

_Q27_ORACLE = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(CAST(user_id % 10 AS BIGINT), -1) AS user_bucket,
       CAST(GROUPING(event_type, user_id % 10) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY GROUPING SETS ((event_type, user_id % 10),
                        (event_type), (user_id % 10))
"""


@_q("q27_grouping_sets", _Q27_ORACLE)
def q27_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 10).cast("long").alias("user_bucket"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    return (
        e.groupingSets(
            [["event_type", "user_bucket"], ["event_type"], ["user_bucket"]],
            "event_type",
            "user_bucket",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_events"),
            F.sum("v_cents").cast("long").alias("cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias(
                "event_type"
            ),
            F.coalesce(F.col("user_bucket"), F.lit(-1))
            .cast("long")
            .alias("user_bucket"),
            "gid",
            "n_events",
            "cents",
        )
    )


# --- W31: incremental view maintenance with retractions -------------------------
#
# The DBSP / differential-dataflow contract a warehouse's maintained
# aggregates live by: a view is kept current by merging a DELTA OF
# SIGNED MULTIPLICITIES (+1 insert, -1 retraction) into its stored
# partials — never by recomputing the base. w15_cdc_apply replays
# key-level last-writer-wins; THIS maintains an *aggregate* under
# corrections: base = events with event_id % 4 != 3, the CDC batch
# inserts the %4==3 rows and RETRACTS the base rows with
# event_id % 5 == 0 (late corrections). Per event_type the
# maintained view merges n += Σmult, cents += Σ mult·cents, and a
# group whose count reaches 0 is DELETED (Z-set zero-weight
# elimination — the semantics naive "merge updates" implementations
# get wrong). The query emits the maintained values NEXT TO a full
# recompute of (base − retracted + inserted) with a `consistent`
# flag — the IVM correctness statement itself is the value-checked
# result. Exact cents BIGINT throughout. Scale: the delta aggregate
# and the view merge are both map-side-combined shuffles on the
# bounded event_type key; the base is scanned once for the stored
# partials and once for the audit recompute (production drops the
# audit leg).

_IVM_ORACLE = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), base AS (
  SELECT * FROM e WHERE event_id % 4 <> 3
), vold AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sum_c
  FROM base GROUP BY 1
), delta AS (
  SELECT event_type, CAST(1 AS BIGINT) AS mult, cents
  FROM e WHERE event_id % 4 = 3
  UNION ALL
  SELECT event_type, CAST(-1 AS BIGINT) AS mult, cents
  FROM base WHERE event_id % 5 = 0
), dagg AS (
  SELECT event_type, CAST(sum(mult) AS BIGINT) AS dn,
         CAST(sum(mult * cents) AS BIGINT) AS dsum
  FROM delta GROUP BY 1
), vnew AS (
  SELECT COALESCE(v.event_type, d.event_type) AS event_type,
         CAST(coalesce(v.n, 0) AS BIGINT) AS n_old,
         CAST(coalesce(d.dn, 0) AS BIGINT) AS dn,
         CAST(coalesce(v.n, 0) + coalesce(d.dn, 0) AS BIGINT) AS n_new,
         CAST(coalesce(v.sum_c, 0) + coalesce(d.dsum, 0) AS BIGINT)
           AS sum_new_c
  FROM vold v FULL OUTER JOIN dagg d ON d.event_type = v.event_type
), truth AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sum_c
  FROM (
    SELECT * FROM base WHERE event_id % 5 <> 0
    UNION ALL SELECT * FROM e WHERE event_id % 4 = 3)
  GROUP BY 1
)
SELECT v.event_type, v.n_old, v.dn, v.n_new, v.sum_new_c,
       CAST(CASE WHEN v.n_new = coalesce(t.n, 0)
                  AND v.sum_new_c = coalesce(t.sum_c, 0)
            THEN 1 ELSE 0 END AS BIGINT) AS consistent
FROM vnew v LEFT JOIN truth t ON t.event_type = v.event_type
WHERE v.n_new <> 0
"""


@_q("w31_ivm_retract", _IVM_ORACLE)
@releases_unread_cuts
def w31_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate IVM under a signed-multiplicity delta, with the
    recompute-consistency audit in the result (see block comment)."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = cut(e)  # base, inserts, retracts, truth branch
    base = e.filter(F.col("event_id") % 4 != 3)
    vold = base.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_c"),
    )
    inserts = e.filter(F.col("event_id") % 4 == 3).select(
        "event_type", F.lit(1).cast("long").alias("mult"), "cents"
    )
    retracts = base.filter(F.col("event_id") % 5 == 0).select(
        "event_type", F.lit(-1).cast("long").alias("mult"), "cents"
    )
    dagg = (
        inserts.unionAll(retracts)
        .groupBy("event_type")
        .agg(
            F.sum("mult").cast("long").alias("dn"),
            F.sum(F.col("mult") * F.col("cents"))
            .cast("long")
            .alias("dsum"),
        )
    )
    vnew = vold.join(dagg, "event_type", "full_outer").select(
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_old"),
        F.coalesce("dn", F.lit(0)).cast("long").alias("dn"),
        (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0)))
        .cast("long")
        .alias("n_new"),
        (F.coalesce("sum_c", F.lit(0)) + F.coalesce("dsum", F.lit(0)))
        .cast("long")
        .alias("sum_new_c"),
    )
    truth = (
        base.filter(F.col("event_id") % 5 != 0)
        .unionAll(e.filter(F.col("event_id") % 4 == 3))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("t_n"),
            F.sum("cents").cast("long").alias("t_sum"),
        )
    )
    return (
        vnew.join(truth, "event_type", "left")
        .filter(F.col("n_new") != 0)
        .select(
            "event_type",
            "n_old",
            "dn",
            "n_new",
            "sum_new_c",
            F.when(
                (F.col("n_new") == F.coalesce("t_n", F.lit(0)))
                & (F.col("sum_new_c") == F.coalesce("t_sum", F.lit(0))),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("consistent"),
        )
    )


# --- Q9 shape: profit by nation and order year ------------------------------------
#
# TPC-H Q9 without a partsupp table: per-line profit = discounted
# revenue minus a 90%-of-retail unit-cost proxy, rolled up by the
# supplier's nation and the ORDER year (which is why orders joins at
# all — the year lives there). Join order matters at scale: the two
# dimension joins (part filter '%widget%', supplier→nation) broadcast
# and prune the fact FIRST — the widget filter alone drops ~87% of
# lineitem — and only then does the one wide shuffle (l_orderkey ⋈
# orders) run over the survivors. Both profit terms quantize to
# BIGINT cents per line before any aggregation, so partial aggs are
# exact and the engines agree bit-for-bit.

_Q26_ORACLE = """
SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)
           - CAST(round(l.l_quantity * p.p_retailprice * 90) AS BIGINT)
       ) / 100.0 AS profit
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""


@_q("q26_profit_by_nation_year", _Q26_ORACLE)
def q26_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    profit_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long") - F.round(
        F.col("l_quantity") * F.col("p_retailprice") * 90
    ).cast("long")
    return (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("profit_cents", profit_cents)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg((F.sum("profit_cents") / F.lit(100.0)).alias("profit"))
    )
