"""Hand-built semantics tests for the relational operator classes in
driver_queries/relational.py: as-of join (backward, inclusive), the
bucketed range join (boundary + cross-bucket cases), the hypertable
minute->hour rollup (partial-merge losslessness), ROLLUP grouping
sets, and the pinned-values pivot (absent combination -> 0)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from information_extraction_spark.driver_queries.relational import (
    j8_asof_join,
    j9_range_join,
    q7_rollup,
    q8_pivot,
    w10_hypertable_rollup,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, sec_offset, user_id, event_type, value)."""
    df = spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(seconds=s), u, t, v, "{}")
            for i, s, u, t, v in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    return str(tmp_path)


def test_asof_join_backward_inclusive(spark, tmp_path):
    """Per purchase: the latest view at or BEFORE it. Covers the
    equal-timestamp tie (inclusive), a later view that must not
    match, and a purchase with no prior view (left row, null)."""
    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: views at 10 and 50; purchases at 50 (tie -> 50),
            # 40 (-> 10), and 5 (no prior view -> null).
            (0, 10, 1, "view", 1.0),
            (1, 50, 1, "view", 1.0),
            (2, 50, 1, "purchase", 9.0),
            (3, 40, 1, "purchase", 9.0),
            (4, 5, 1, "purchase", 9.0),
            # user 2: only a view AFTER its purchase -> null.
            (5, 100, 2, "purchase", 9.0),
            (6, 200, 2, "view", 1.0),
        ],
    )
    got = {
        r["event_id"]: (r["view_sec"], r["gap_s"])
        for r in j8_asof_join(spark, sf).collect()
    }
    base = int(
        spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s")
        .first()["s"]
    )
    assert got == {
        2: (base + 50, 0),
        3: (base + 10, 30),
        4: (None, None),
        5: (None, None),
    }


def test_range_join_boundaries_and_cross_bucket(spark, tmp_path):
    """Window is [esec, esec+600] INCLUSIVE on both ends; a click in
    the error's second 600s bucket must still match exactly once; a
    zero-click error survives with n_clicks=0."""
    sf = _write_events(
        spark,
        tmp_path,
        [
            # error at 100 -> window [100, 700].
            (0, 100, 1, "error", 0.0),
            (1, 100, 1, "click", 1.25),  # at start boundary
            (2, 700, 1, "click", 2.50),  # at end boundary, bucket 1
            (3, 701, 1, "click", 4.00),  # just outside
            (4, 99, 1, "click", 8.00),  # just before
            # error at 1000 for user 2: no clicks at all.
            (5, 1000, 2, "error", 0.0),
        ],
    )
    got = {
        r["event_id"]: (r["n_clicks"], r["click_value"])
        for r in j9_range_join(spark, sf).collect()
    }
    assert got == {0: (2, 3.75), 5: (0, None)}


def test_range_join_no_duplicate_pairs(spark, tmp_path):
    """The 2-bucket explode must emit each (error, click) pair once:
    a click in the SAME bucket as the error matches via bucket k only
    (its own bucket), never again via k+1."""
    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 0, 1, "error", 0.0),
            (1, 10, 1, "click", 1.00),  # same bucket as the error
        ],
    )
    got = j9_range_join(spark, sf).collect()
    assert len(got) == 1 and got[0]["n_clicks"] == 1


def test_hypertable_rollup_merges_partials_losslessly(spark, tmp_path):
    """Hour row re-aggregated from minute partials == direct
    aggregation, and n_active_minutes counts DISTINCT active minutes
    (3 events across 2 minutes -> 2)."""
    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 0, 1, "click", 1.10),
            (1, 30, 1, "click", 2.20),  # same minute as event 0
            (2, 90, 1, "click", 3.30),  # second minute
            (3, 3700, 1, "click", 5.00),  # next hour
        ],
    )
    got = {
        r["hour_start"]: (
            r["n_events"],
            r["sum_value"],
            r["n_active_minutes"],
        )
        for r in w10_hypertable_rollup(spark, sf).collect()
    }
    base = int(
        spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s")
        .first()["s"]
    )
    assert got == {base: (3, 6.60, 2), base + 3600: (1, 5.00, 1)}


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, "t", lang, src, n) for i, (lang, src, n) in enumerate(rows)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


def test_rollup_levels_and_grouping_id(spark, tmp_path):
    sf = _write_docs(
        spark,
        tmp_path,
        [("en", "a", 10), ("en", "b", 20), ("fr", "a", 5)],
    )
    got = {
        (r["lang"], r["source"], r["gid"]): (r["n_docs"], r["sum_chars"])
        for r in q7_rollup(spark, sf).collect()
    }
    assert got == {
        ("en", "a", 0): (1, 10),
        ("en", "b", 0): (1, 20),
        ("fr", "a", 0): (1, 5),
        ("en", "(all)", 1): (2, 30),
        ("fr", "(all)", 1): (1, 5),
        ("(all)", "(all)", 3): (3, 35),
    }


def test_pivot_absent_combo_is_zero(spark, tmp_path):
    sf = _write_docs(
        spark,
        tmp_path,
        [("en", "a", 1), ("en", "a", 1), ("zh", "a", 1), ("fr", "b", 1)],
    )
    got = {
        r["source"]: (
            r["n_de"], r["n_en"], r["n_es"], r["n_fr"], r["n_zh"],
            r["total"],
        )
        for r in q8_pivot(spark, sf).collect()
    }
    assert got == {
        "a": (0, 2, 0, 0, 1, 3),
        "b": (0, 0, 0, 1, 0, 1),
    }


def test_chunk_udtf_boundaries_and_empty_text(spark, tmp_path):
    """p16_chunk_udtf: exact 10-word docs produce one full chunk; 11
    words spill a 1-word tail; empty/whitespace text emits no rows
    (the doc disappears, matching the oracle's empty generate_series)."""
    from information_extraction_spark.driver_queries.core3 import (
        p16_chunk_udtf,
    )

    words = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    sf = _write_docs(
        spark,
        tmp_path,
        [("en", "a", 1)],  # overwritten below with explicit texts
    )
    df = spark.createDataFrame(
        [
            (0, words(10), "en", "a", 10),
            (1, words(11), "en", "a", 11),
            (2, "", "en", "a", 0),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk"], r["n_words"])
        for r in p16_chunk_udtf(spark, sf).collect()
    }
    assert got == {
        (0, 0): (words(10), 10),
        (1, 0): (words(10), 10),
        (1, 1): ("w10", 1),
    }


def test_ntile_deciles_deterministic_tie_order(spark, tmp_path):
    """4 rows into ntile(10) -> tiles 1..4 with one row each; two
    TIED values are split by event_id (the deterministic total
    order), so the lower event_id lands in the earlier tile."""
    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 0, 1, "click", 5.0),
            (1, 1, 1, "click", 5.0),  # tied with event 0
            (2, 2, 1, "click", 1.0),
            (3, 3, 1, "click", 9.0),
        ],
    )
    from information_extraction_spark.driver_queries.relational import (
        w12_ntile_deciles,
    )

    got = {
        r["decile"]: (r["n"], r["min_value"], r["max_value"])
        for r in w12_ntile_deciles(spark, sf).collect()
    }
    assert got == {
        1: (1, 1.0, 1.0),
        2: (1, 5.0, 5.0),  # event 0 (lower id) before event 1
        3: (1, 5.0, 5.0),
        4: (1, 9.0, 9.0),
    }


def test_pandas_udaf_median_interpolates(spark, tmp_path):
    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 0, 1, "click", 1.0),
            (1, 1, 1, "click", 2.0),
            (2, 2, 1, "click", 10.0),
            (3, 3, 1, "click", 11.0),
            (4, 4, 1, "error", 7.0),
        ],
    )
    from information_extraction_spark.driver_queries.relational import (
        a10_pandas_udaf,
    )

    got = {
        r["event_type"]: (r["n"], r["median_value"])
        for r in a10_pandas_udaf(spark, sf).collect()
    }
    assert got == {"click": (4, 6.0), "error": (1, 7.0)}


# --- TPC-H Q10/Q14/Q18 shapes + gaps-and-islands ------------------------------


def _write_tpch(spark, tmp_path, lineitem, orders, customer, part=None):
    """Minimal TPC-H fixture. lineitem rows:
    (orderkey, partkey, qty, extprice, discount, returnflag, shipdate);
    orders: (orderkey, custkey, orderdate); customer: (custkey, name,
    nationkey); part: (partkey, type)."""
    d = str(tmp_path)
    spark.createDataFrame(
        [
            (ok, pk, 1, 1, float(q), float(e), float(disc), 0.0, rf, "O",
             dt.datetime.fromisoformat(sd))
            for ok, pk, q, e, disc, rf, sd in lineitem
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "lineitem.parquet")
    )
    spark.createDataFrame(
        [
            (ok, ck, "O", 100.0, dt.datetime.fromisoformat(od), "1-URGENT")
            for ok, ck, od in orders
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "orders.parquet")
    )
    spark.createDataFrame(
        [(ck, nm, nk, 0.0, "BUILDING") for ck, nm, nk in customer],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "customer.parquet")
    )
    spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey int, n_name string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "nation.parquet")
    )
    if part is not None:
        spark.createDataFrame(
            [(pk, f"p{pk}", "B", ty, 1, 1.0) for pk, ty in part],
            "p_partkey long, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "part.parquet")
        )
    return d


def test_q10_filters_and_revenue(spark, tmp_path):
    """Only returnflag='R' lineitems of orders inside the quarter
    count; revenue is cents-exact; nation name joins through."""
    from information_extraction_spark.driver_queries.relational import (
        q10_returned_items,
    )

    sf = _write_tpch(
        spark,
        tmp_path,
        lineitem=[
            (1, 1, 1, 100.0, 0.10, "R", "1995-11-01"),  # 90.00 in
            (1, 1, 1, 50.0, 0.00, "N", "1995-11-01"),   # wrong flag
            (2, 1, 1, 40.0, 0.25, "R", "1995-11-02"),   # 30.00 in
            (3, 1, 1, 99.0, 0.00, "R", "1995-11-03"),   # order outside window
        ],
        orders=[
            (1, 10, "1995-10-15"),
            (2, 11, "1995-12-31"),
            (3, 12, "1996-01-01"),
        ],
        customer=[(10, "A", 0), (11, "B", 1), (12, "C", 0)],
    )
    rows = {r["c_custkey"]: r for r in q10_returned_items(spark, sf).collect()}
    assert set(rows) == {10, 11}
    assert rows[10]["revenue"] == 90.0 and rows[10]["n_name"] == "ALPHA"
    assert rows[11]["revenue"] == 30.0 and rows[11]["n_name"] == "BETA"


def test_q14_promo_share_exact(spark, tmp_path):
    from information_extraction_spark.driver_queries.relational import (
        q14_promo_share,
    )

    sf = _write_tpch(
        spark,
        tmp_path,
        lineitem=[
            (1, 1, 1, 30.0, 0.0, "N", "1995-09-10"),  # PROMO, 30.00
            (1, 2, 1, 90.0, 0.0, "N", "1995-09-20"),  # STANDARD, 90.00
            (1, 1, 1, 99.0, 0.0, "N", "1995-10-01"),  # outside month
        ],
        orders=[(1, 10, "1995-09-01")],
        customer=[(10, "A", 0)],
        part=[(1, "PROMO"), (2, "STANDARD")],
    )
    r = q14_promo_share(spark, sf).first()
    assert r["promo_revenue"] == 30.0
    assert r["total_revenue"] == 120.0
    assert r["promo_share"] == 100.0 * 3000 / 12000


def test_q18_having_threshold_is_strict(spark, tmp_path):
    """sum(qty) must EXCEED 180 — an order summing exactly 180 is
    excluded, 180.01 qualifies (cents-quantized comparison)."""
    from information_extraction_spark.driver_queries.relational import (
        q18_large_orders,
    )

    sf = _write_tpch(
        spark,
        tmp_path,
        lineitem=[
            (1, 1, 100.0, 1.0, 0.0, "N", "1995-09-10"),
            (1, 1, 80.0, 1.0, 0.0, "N", "1995-09-11"),   # order 1: 180 exactly
            (2, 1, 180.01, 1.0, 0.0, "N", "1995-09-12"),  # order 2: 180.01
        ],
        orders=[(1, 10, "1995-09-01"), (2, 11, "1995-09-02")],
        customer=[(10, "A", 0), (11, "B", 1)],
    )
    rows = q18_large_orders(spark, sf).collect()
    assert [r["o_orderkey"] for r in rows] == [2]
    assert rows[0]["sum_qty"] == 180.01 and rows[0]["c_custkey"] == 11


def test_w13_runs_split_and_tie_order(spark, tmp_path):
    """A,A,B,A per user collapses to 3 runs with correct extents; an
    equal-second tie orders by event_id so the run assignment is
    deterministic."""
    from information_extraction_spark.driver_queries.relational import (
        w13_event_runs,
    )

    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 10, 1, "A", 0.0),
            (1, 20, 1, "A", 0.0),
            (2, 30, 1, "B", 0.0),
            (3, 40, 1, "A", 0.0),
            # user 2: tie at sec 5 — event 4 (A) before event 5 (B) by id.
            (4, 5, 2, "A", 0.0),
            (5, 5, 2, "B", 0.0),
        ],
    )
    base = int(
        spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s").first()["s"]
    )
    got = sorted(
        (r["user_id"], r["run_id"], r["event_type"], r["run_len"],
         r["start_sec"] - base, r["end_sec"] - base)
        for r in w13_event_runs(spark, sf).collect()
    )
    assert got == [
        (1, 1, "A", 2, 10, 20),
        (1, 2, "B", 1, 30, 30),
        (1, 3, "A", 1, 40, 40),
        (2, 1, "A", 1, 5, 5),
        (2, 2, "B", 1, 5, 5),
    ]


def test_arrow_map_stats_and_zero_exchange(spark, tmp_path):
    from information_extraction_spark.driver_queries.relational import (
        p17_arrow_map,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in
         [(1, "hello world 42"), (2, "nodigits"), (3, "a b")]],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    rows = {r["doc_id"]: r for r in p17_arrow_map(spark, sf).collect()}
    assert (rows[1]["n_tokens"], rows[1]["n_utf8"], rows[1]["has_digit"]) == (
        3, 14, True,
    )
    assert (rows[2]["n_tokens"], rows[2]["has_digit"]) == (1, False)
    assert rows[3]["n_tokens"] == 2
    plan = (
        p17_arrow_map(spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # single narrow PythonMapInArrow


def test_set_ops_day_keyed_semantics(spark, tmp_path):
    """user 1 day 0: view+purchase, no error -> kept. user 1 day 1:
    view+purchase+error -> excluded. user 2 day 0: view only ->
    excluded. Duplicate events must not multiply rows (SET
    semantics)."""
    from information_extraction_spark.driver_queries.relational import (
        q11_set_ops,
    )

    day = 86400
    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 10, 1, "view", 0.0),
            (1, 20, 1, "view", 0.0),  # duplicate leg row, same day
            (2, 30, 1, "purchase", 0.0),
            (3, day + 10, 1, "view", 0.0),
            (4, day + 20, 1, "purchase", 0.0),
            (5, day + 30, 1, "error", 0.0),
            (6, 40, 2, "view", 0.0),
        ],
    )
    got = [(r["user_id"], r["day"]) for r in q11_set_ops(spark, sf).collect()]
    base_day = (
        int(
            spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s")
            .first()["s"]
        )
        // 86400
    )
    assert got == [(1, base_day)]


def test_q15_argmax_surfaces_all_ties(spark, tmp_path):
    from information_extraction_spark.driver_queries.relational import (
        q15_top_supplier,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            # suppliers 1 and 2 tie at 150.00; supplier 3 trails;
            # supplier 1's out-of-window row must not count.
            (1, 1, 1, 1, 1.0, 150.0, 0.0, 0.0, "N", "O",
             dt.datetime(1995, 8, 1)),
            (2, 1, 2, 1, 1.0, 100.0, 0.0, 0.0, "N", "O",
             dt.datetime(1995, 8, 2)),
            (3, 1, 2, 1, 1.0, 50.0, 0.0, 0.0, "N", "O",
             dt.datetime(1995, 9, 2)),
            (4, 1, 3, 1, 1.0, 10.0, 0.0, 0.0, "N", "O",
             dt.datetime(1995, 8, 3)),
            (5, 1, 1, 1, 1.0, 999.0, 0.0, 0.0, "N", "O",
             dt.datetime(1995, 10, 1)),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "lineitem.parquet")
    )
    spark.createDataFrame(
        [(i, f"Supplier#{i}", 0, 0.0) for i in (1, 2, 3)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "supplier.parquet")
    )
    got = sorted(
        (r["s_suppkey"], r["total_revenue"])
        for r in q15_top_supplier(spark, sf).collect()
    )
    assert got == [(1, 150.0), (2, 150.0)]


def test_ann_recall_audit_full_and_partial(spark, tmp_path):
    """12 identical vectors share one LSH bucket: truth top-10 ⊆
    candidates -> recall 1.0; an opposite-sign vector lands in a
    different bucket and is neither candidate nor truth."""
    from information_extraction_spark.driver_queries.core2 import (
        ann_recall_audit,
    )

    sf = str(tmp_path)
    vec = [1.0, 0.5, -0.25, 2.0]
    rows = [(i, vec, 0) for i in range(12)]
    rows.append((12, [-v for v in vec], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    r = ann_recall_audit(spark, sf).first()
    assert r["n_candidates"] == 11
    assert r["n_hits"] == 10
    assert r["recall"] == 1.0


def test_q19_disjunct_boundaries(spark, tmp_path):
    """Each disjunct admits only its own (type, quantity) region:
    PROMO@20 in, PROMO@21 out, STANDARD@10 in, STANDARD@9 out,
    MEDIUM@15 out regardless of quantity."""
    from information_extraction_spark.driver_queries.relational import (
        q19_disjunctive_filter,
    )

    sf = _write_tpch(
        spark,
        tmp_path,
        lineitem=[
            (1, 1, 20.0, 10.0, 0.0, "N", "1995-09-10"),
            (1, 1, 21.0, 10.0, 0.0, "N", "1995-09-10"),
            (1, 2, 10.0, 10.0, 0.0, "N", "1995-09-10"),
            (1, 2, 9.0, 10.0, 0.0, "N", "1995-09-10"),
            (1, 3, 15.0, 10.0, 0.0, "N", "1995-09-10"),
        ],
        orders=[(1, 10, "1995-09-01")],
        customer=[(10, "A", 0)],
        part=[(1, "PROMO"), (2, "STANDARD"), (3, "MEDIUM")],
    )
    r = q19_disjunctive_filter(spark, sf).first()
    assert (r["n_rows"], r["revenue"]) == (2, 20.0)


def test_w14_funnel_ordering_not_presence(spark, tmp_path):
    """Step N counts only at/after step N-1: user 2's purchase BEFORE
    the view doesn't advance the funnel (the later one does); user
    3's error before the purchase is ignored; user 4 stalls at view;
    user 5 (no view) completes 0 steps."""
    from information_extraction_spark.driver_queries.relational import (
        w14_funnel,
    )

    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: clean view(10) -> purchase(20) -> error(30).
            (0, 10, 1, "view", 0.0),
            (1, 20, 1, "purchase", 0.0),
            (2, 30, 1, "error", 0.0),
            # user 2: purchase(5) precedes view(10); purchase(40) counts.
            (3, 5, 2, "purchase", 0.0),
            (4, 10, 2, "view", 0.0),
            (5, 40, 2, "purchase", 0.0),
            # user 3: error(15) before purchase(20) is ignored -> steps 2.
            (6, 10, 3, "view", 0.0),
            (7, 15, 3, "error", 0.0),
            (8, 20, 3, "purchase", 0.0),
            # user 4: view only.
            (9, 10, 4, "view", 0.0),
            # user 5: error only -> steps 0.
            (10, 10, 5, "error", 0.0),
        ],
    )
    base = int(
        spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s")
        .first()["s"]
    )
    got = {
        r["user_id"]: (
            None if r["v1"] is None else r["v1"] - base,
            None if r["p1"] is None else r["p1"] - base,
            None if r["e1"] is None else r["e1"] - base,
            r["steps_completed"],
        )
        for r in w14_funnel(spark, sf).collect()
    }
    assert got == {
        1: (10, 20, 30, 3),
        2: (10, 40, None, 2),
        3: (10, 20, None, 2),
        4: (10, None, None, 1),
        5: (None, None, None, 0),
    }


def test_w15_cdc_latest_op_wins_and_tombstone_deletes(spark, tmp_path):
    """Latest op per user wins with (sec, event_id) tie-break; a
    trailing tombstone removes the row; an upsert AFTER a tombstone
    restores it."""
    from information_extraction_spark.driver_queries.relational import (
        w15_cdc_apply,
    )

    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: upsert then tombstone -> gone.
            (0, 10, 1, "view", 1.0),
            (1, 20, 1, "error", 0.0),
            # user 2: tombstone then upsert -> restored with the upsert.
            (2, 10, 2, "error", 0.0),
            (3, 20, 2, "purchase", 7.5),
            # user 3: same-sec tie -> higher event_id (click) wins.
            (4, 30, 3, "view", 1.0),
            (5, 30, 3, "click", 2.0),
        ],
    )
    base = int(
        spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s")
        .first()["s"]
    )
    got = {
        r["user_id"]: (r["current_type"], r["current_value"],
                       r["updated_sec"] - base)
        for r in w15_cdc_apply(spark, sf).collect()
    }
    assert got == {
        2: ("purchase", 7.5, 20),
        3: ("click", 2.0, 30),
    }


def test_w16_retention_hand_case(spark, tmp_path):
    # u1 first active day 0, active days {0,1,3}; u2 first day 0,
    # active {0}; u3 first day 1, active {1,3}. Cohort day0 has 2
    # users: offsets 0 (2 active), 1 (1), 3 (1); cohort day1 has 1
    # user: offsets 0 and 2.
    import datetime as dt

    import information_extraction_spark.driver_queries.relational as R

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid, days in [(1, [0, 1, 3]), (2, [0]), (3, [1, 3])]:
        for d in days:
            rows.append((eid, base + dt.timedelta(days=d, hours=2), uid, "view", 1.0, "{}"))
            eid += 1
    import pandas as pd

    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = str(tmp_path / "w16")
    spark.createDataFrame(pdf).write.parquet(f"{d}/events.parquet")
    got = {
        (r["cohort_day"], r["day_offset"]): (
            r["n_active"],
            r["n_cohort"],
            r["retention_ppm"],
        )
        for r in R.w16_retention(spark, d).collect()
    }
    day0 = 19723  # 2024-01-01 epoch-days
    assert got[(day0, 0)] == (2, 2, 1000000)
    assert got[(day0, 1)] == (1, 2, 500000)
    assert got[(day0, 3)] == (1, 2, 500000)
    assert got[(day0 + 1, 0)] == (1, 1, 1000000)
    assert got[(day0 + 1, 2)] == (1, 1, 1000000)
    assert len(got) == 5


def test_q4_semi_join_counts_orders_not_lines(spark, tmp_path):
    # An order with THREE late lines counts once; an order with only
    # on-time lines does not count; an order outside the date window
    # never enters.
    import datetime as dt

    import pandas as pd

    import information_extraction_spark.driver_queries.relational as R

    in_win = dt.datetime(1996, 2, 1)
    out_win = dt.datetime(1997, 2, 1)
    orders = pd.DataFrame(
        [
            (1, 10, "O", 1.0, in_win, "1-URGENT"),
            (2, 11, "O", 1.0, in_win, "1-URGENT"),
            (3, 12, "O", 1.0, out_win, "1-URGENT"),
        ],
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ],
    )
    late = in_win + dt.timedelta(days=90)
    ontime = in_win + dt.timedelta(days=10)
    lineitem = pd.DataFrame(
        [
            (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
            (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
            (1, 1, 1, 3, 1.0, 1.0, 0.0, 0.0, "N", "O", late),
            (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ontime),
            (3, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", out_win + dt.timedelta(days=90)),
        ],
        columns=[
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
    )
    d = str(tmp_path / "q4")
    spark.createDataFrame(orders).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(lineitem).write.parquet(f"{d}/lineitem.parquet")
    got = {
        r["o_orderpriority"]: r["order_count"]
        for r in R.q4_order_priority(spark, d).collect()
    }
    assert got == {"1-URGENT": 1}


def test_q13_zero_order_bucket_survives_prefilter(spark, tmp_path):
    """The right-side filter must apply BEFORE the left join: a
    customer whose only orders are URGENT lands in the c_count=0
    bucket (filtering after the join would drop them entirely)."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q13")
    spark.createDataFrame(
        [(1, "a", 0, 0.0, "B"), (2, "b", 0, 0.0, "B"), (3, "c", 0, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    day = dt.datetime(1996, 1, 1)
    spark.createDataFrame(
        [
            # cust 1: two non-urgent -> c_count 2
            (10, 1, "O", 1.0, day, "5-LOW"),
            (11, 1, "O", 1.0, day, "5-LOW"),
            # cust 2: ONLY urgent -> c_count 0 (the load-bearing case)
            (12, 2, "O", 1.0, day, "1-URGENT"),
            # cust 3: no orders at all -> c_count 0
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    got = {
        r["c_count"]: r["custdist"]
        for r in R.q13_cust_distribution(spark, d).collect()
    }
    assert got == {2: 1, 0: 2}


def test_q17_threshold_is_per_part_and_strict(spark, tmp_path):
    """The 0.2*avg cut is computed per part over the SAME brand-
    filtered scan; the comparison is strict <, and other-brand
    lineitems never contribute to a part's average."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q17")
    spark.createDataFrame(
        [
            (1, "p1", "Brand#11", "T", 1, 1.0),
            (2, "p2", "Brand#99", "T", 1, 1.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    day = dt.datetime(1996, 1, 1)
    rows = [
        # part 1: quantities 1, 9, 50 -> avg 20, cut 4.0.
        # qty 1 passes (< 4); qty 4 would NOT (strict) — use 9/50 as
        # the non-passing bulk. extprice 10.0 on the passing row.
        (100, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", day),
        (100, 1, 1, 2, 9.0, 99.0, 0.0, 0.0, "N", "O", day),
        (101, 1, 1, 1, 50.0, 99.0, 0.0, 0.0, "N", "O", day),
        # part 2 is Brand#99 (not selected): must not appear at all.
        (102, 2, 1, 1, 1.0, 77.0, 0.0, 0.0, "N", "O", day),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    out = R.q17_small_qty_revenue(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["p_brand"] == "Brand#11"
    assert r["n_small"] == 1
    assert r["revenue"] == 10.0


def test_q22_dormant_and_above_average_balance(spark, tmp_path):
    """Dormancy = NO order at/after the 2001-01-01 cutoff (an old
    order does not disqualify); the balance bar is the average over
    positive balances only, compared by exact integer cross-multiply."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q22")
    # Positive balances: 300, 300, 100 -> avg 233.33; the negative
    # balance stays out of the bar. Only bal 300 clears it.
    spark.createDataFrame(
        [
            (1, "a", 0, 300.0, "SEG1"),   # above avg, dormant -> kept
            (2, "b", 0, 300.0, "SEG1"),   # above avg, RECENT order -> out
            (3, "c", 0, 100.0, "SEG2"),   # below avg -> out
            (4, "d", 0, -50.0, "SEG2"),   # negative, below avg -> out
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    old = dt.datetime(1999, 6, 1)
    recent = dt.datetime(2001, 6, 1)
    spark.createDataFrame(
        [
            (10, 1, "O", 1.0, old, "5-LOW"),     # old order: still dormant
            (11, 2, "O", 1.0, recent, "5-LOW"),  # recent: not dormant
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    out = R.q22_dormant_customers(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["c_mktsegment"] == "SEG1"
    assert r["n_custs"] == 1
    assert r["sum_bal4"] == 3000000


def test_w17_markov_order_and_ppm(spark, tmp_path):
    """Transitions follow the (sec, event_id) total order — the
    equal-timestamp tie breaks by event_id — and p_ppm is floor
    division of per-src counts."""
    import information_extraction_spark.driver_queries.relational as R

    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: view(10) -> click(20) -> click(20, higher id)
            # -> buy(30): transitions view->click, click->click,
            # click->buy.
            (0, 10, 1, "view", 1.0),
            (1, 20, 1, "click", 1.0),
            (2, 20, 1, "click", 1.0),
            (3, 30, 1, "buy", 1.0),
            # user 2: view -> buy (single transition; last event of a
            # user emits nothing).
            (4, 5, 2, "view", 1.0),
            (5, 6, 2, "buy", 1.0),
        ],
    )
    got = {
        (r["src"], r["dst"]): (r["n_trans"], r["p_ppm"])
        for r in R.w17_markov(spark, sf).collect()
    }
    assert got == {
        ("view", "click"): (1, 500000),
        ("view", "buy"): (1, 500000),
        ("click", "click"): (1, 500000),
        ("click", "buy"): (1, 500000),
    }


def test_zorder_value_interleaves_and_tiles_cluster_both_dims(
    spark, tmp_path
):
    """zorder_value interleaves bits (hand cases), and a z-sorted
    file layout bounds BOTH dimensions' per-file spans — the pruning
    property a 1-D sort only gives its leading column."""
    import information_extraction_spark.driver_queries.relational as R

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (255, 255), (3, 5)], "ub long, tb long"
    )
    got = {
        (r["ub"], r["tb"]): r["z"]
        for r in df.select(
            "ub", "tb", R.zorder_value(F.col("ub"), F.col("tb")).alias("z")
        ).collect()
    }
    # bit b of ub -> z bit 2b; bit b of tb -> z bit 2b+1.
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(255, 255)] == 65535
    # ub=3 (011), tb=5 (101) -> z = 1 + 4 + 2*... hand: ub bits 0,1;
    # tb bits 0,2 -> z = 2^0 + 2^2 + 2^1 + 2^5 = 39.
    assert got[(3, 5)] == 39
    # Layout evidence: 256 points on a 16x16 grid, written as 4 files
    # sorted by z vs sorted by ub only. Under z order every file's
    # ub-span AND tb-span cover at most half the domain; under the
    # 1-D sort the non-leading tb spans the full domain.
    pts = spark.createDataFrame(
        [(u, t) for u in range(16) for t in range(16)], "ub long, tb long"
    ).withColumn("z", R.zorder_value(F.col("ub"), F.col("tb")))
    zdir = str(tmp_path / "zsorted")
    pts.repartitionByRange(4, "z").write.parquet(zdir)
    spans = (
        spark.read.parquet(zdir)
        .groupBy(F.spark_partition_id())
        .agg(
            (F.max("ub") - F.min("ub")).alias("du"),
            (F.max("tb") - F.min("tb")).alias("dt"),
        )
        .collect()
    )
    assert all(r["du"] <= 8 and r["dt"] <= 8 for r in spans)
    udir = str(tmp_path / "usorted")
    pts.repartitionByRange(4, "ub").write.parquet(udir)
    uspans = (
        spark.read.parquet(udir)
        .groupBy(F.spark_partition_id())
        .agg((F.max("tb") - F.min("tb")).alias("dt"))
        .collect()
    )
    assert all(r["dt"] == 15 for r in uspans)  # full-domain tb spans


def test_a15_bitmap_counts_distinct_users_exactly(spark, tmp_path):
    """Duplicate events set the same bit (idempotent OR); users 63
    apart land in different words; day_distinct is exact."""
    from information_extraction_spark.driver_queries.sketches import (
        a15_bitmap_users,
    )

    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 10, 1, "view", 1.0),
            (1, 20, 1, "view", 1.0),     # same user, same day
            (2, 30, 64, "view", 1.0),    # word 1 (64 div 63)
            (3, 40, 62, "view", 1.0),    # word 0, bit 62
            (4, 86410, 1, "view", 1.0),  # next day
        ],
    )
    rows = a15_bitmap_users(spark, sf).collect()
    days = sorted({r["day"] for r in rows})
    d0, d1 = days
    by = {(r["day"], r["word"]): r for r in rows}
    assert by[(d0, 0)]["bits"] == (1 << 1) | (1 << 62)
    assert by[(d0, 1)]["bits"] == 1 << 1  # user 64 -> bit 64 % 63 = 1
    assert by[(d0, 0)]["day_distinct"] == 3
    assert by[(d1, 0)]["day_distinct"] == 1


def test_w21_drift_flag_exact_boundary(spark, tmp_path):
    """Flag iff day mean STRICTLY exceeds 2x trailing mean (integer
    cross-multiply); day zero (no history) never flags."""
    import information_extraction_spark.driver_queries.relational as R

    day = 86400
    sf = _write_events(
        spark,
        tmp_path,
        [
            # day 0: two purchases mean 1.00 -> no history, no flag.
            (0, 10, 1, "purchase", 1.00),
            (1, 20, 1, "purchase", 1.00),
            # day 1: mean exactly 2x trailing (2.00) -> NOT flagged.
            (2, day + 10, 1, "purchase", 2.00),
            # day 2: trailing mean (1+1+2)/3 = 4/3; 2x = 8/3; a 2.70
            # purchase strictly exceeds -> flagged.
            (3, 2 * day + 10, 1, "purchase", 2.70),
            # non-purchase noise must not enter.
            (4, 2 * day + 20, 1, "view", 99.0),
        ],
    )
    got = {r["day"]: r["drift_flag"] for r in
           R.w21_drift_monitor(spark, sf).collect()}
    days = sorted(got)
    assert [got[d] for d in days] == [False, False, True]


def test_w22_scd2_intervals_chain_and_tombstone_versions(spark, tmp_path):
    """Versions chain with half-open adjacency (valid_to = next
    valid_from), only the last is current, and a tombstone closes
    the chain as a versioned 'D' row."""
    import information_extraction_spark.driver_queries.relational as R

    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, 10, 1, "view", 1.00),
            (1, 20, 1, "click", 2.00),
            (2, 30, 1, "error", 0.0),   # tombstone
            (3, 5, 2, "view", 3.00),    # single-version user
        ],
    )
    rows = {
        (r["user_id"], r["version"]): r
        for r in R.w22_scd2_history(spark, sf).collect()
    }
    base = int(
        spark.sql("SELECT unix_timestamp(timestamp'2024-01-01') s")
        .first()["s"]
    )
    v1, v2, v3 = rows[(1, 1)], rows[(1, 2)], rows[(1, 3)]
    assert (v1["valid_from"], v1["valid_to"]) == (base + 10, base + 20)
    assert (v2["valid_from"], v2["valid_to"]) == (base + 20, base + 30)
    assert v3["valid_to"] is None and v3["is_current"] and v3["op"] == "D"
    assert not v1["is_current"] and not v2["is_current"]
    assert rows[(2, 1)]["is_current"]


def test_q20_decile_cut_and_share_exact(spark, tmp_path):
    """ceil(n/10) customers make the top decile (n=11 -> 2) and the
    share is exact integer ppm."""
    import information_extraction_spark.driver_queries.relational as R

    day = dt.datetime(1996, 1, 1)
    # 11 customers: revenues 110, 100, 90, ..., 10 (cents-exact).
    orders = [
        (i, i, "O", float(110 - 10 * i), day, "5-LOW") for i in range(11)
    ]
    d = str(tmp_path / "q20")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    r = R.q20_revenue_concentration(spark, d).collect()[0]
    assert r["all_customers"] == 11
    assert r["top_customers"] == 2      # ceil(11/10)
    total = sum(110 - 10 * i for i in range(11)) * 100
    top = (110 + 100) * 100
    assert r["total_rev2"] == total and r["top_rev2"] == top
    assert r["share_ppm"] == (top * 1000000) // total


def test_q2_argmin_ties_break_to_smaller_suppkey(spark, tmp_path):
    """Per brand the minimum balance wins; at equal minimum balance
    the SMALLER suppkey is the arg-min (struct ordering), and a
    supplier who never shipped the brand can't win even with the
    lowest balance overall."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q2")
    spark.createDataFrame(
        [
            (1, "p1", "Brand#11", "T", 1, 1.0),
            (2, "p2", "Brand#22", "T", 1, 1.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    spark.createDataFrame(
        [
            (7, "s7", 0, 10.0),   # ships Brand#11 only
            (5, "s5", 0, 10.0),   # ships Brand#11 only — tie, smaller key
            (9, "s9", 0, -99.0),  # lowest balance, ships Brand#22 only
        ],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(f"{d}/supplier.parquet")
    day = dt.datetime(1996, 1, 1)
    rows = [
        (100, 1, 7, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
        (100, 1, 5, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
        (101, 2, 9, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    out = {r["p_brand"]: r for r in R.q2_min_cost_supplier(spark, d).collect()}
    assert out["Brand#11"]["s_suppkey"] == 5       # tie -> smaller key
    assert out["Brand#11"]["min_bal4"] == 100000
    assert out["Brand#22"]["s_suppkey"] == 9       # per-brand, not global
    assert out["Brand#22"]["min_bal4"] == -990000


def test_q11_threshold_is_strict_and_exact(spark, tmp_path):
    """The 1/200 global-share bar is the exact integer cross-multiply
    rev4 * 200 > total4: a type at EXACTLY 0.5% is excluded (strict),
    one micro-unit above passes."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q11")
    spark.createDataFrame(
        [
            (1, "p", "B", "TYPE_A", 1, 1.0),
            (2, "p", "B", "TYPE_B", 1, 1.0),
            (3, "p", "B", "TYPE_C", 1, 1.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    day = dt.datetime(1996, 1, 1)
    # total = 200.0 -> total4 = 2_000_000. TYPE_A = 1.0 (exactly
    # 0.5%: 10_000 * 200 == 2_000_000 -> OUT). TYPE_B = 1.0001
    # (one unit above -> IN). TYPE_C = the bulk.
    rows = [
        (100, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
        (101, 2, 1, 1, 1.0, 1.0001, 0.0, 0.0, "N", "O", day),
        (102, 3, 1, 1, 1.0, 197.9999, 0.0, 0.0, "N", "O", day),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    out = {r["p_type"]: r for r in R.q11_revenue_share(spark, d).collect()}
    assert set(out) == {"TYPE_B", "TYPE_C"}
    assert out["TYPE_B"]["rev4"] == 10001
    assert out["TYPE_B"]["share_ppm"] == 5000  # floor(10001e6/2000000)


@pytest.mark.parametrize(
    "prices, pinned",
    [
        ([5.0], [1_000_000]),
        ([1.0, 1.0, 1.0], [333_333] * 3),
        ([3.0, 1.0, 2.5], None),
    ],
    ids=["single_type", "thirds", "uneven"],
)
def test_q11_share_ppm_matches_fraction(spark, tmp_path, prices, pinned):
    """share_ppm is floor(10^6 * rev4 / total4), here computed with
    Fraction rather than the chained decomposition both the engine and
    the oracle use: a type holding all the revenue has 1,000,000, and
    three equal types have 333,333 each."""
    import math
    from fractions import Fraction

    import duckdb

    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q11")
    types = [f"TYPE_{i}" for i in range(len(prices))]
    spark.createDataFrame(
        [(i, "p", "B", t, 1, 1.0) for i, t in enumerate(types)],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    day = dt.datetime(1996, 1, 1)
    spark.createDataFrame(
        [
            (100 + i, i, 1, 1, 1.0, price, 0.0, 0.0, "N", "O", day)
            for i, price in enumerate(prices)
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    rev4 = {t: round(price * 10000) for t, price in zip(types, prices)}
    total4 = sum(rev4.values())
    want = {t: math.floor(Fraction(r, total4) * 1_000_000) for t, r in rev4.items()}
    if pinned is not None:
        assert [want[t] for t in types] == pinned

    engine = {
        r["p_type"]: r["share_ppm"] for r in R.q11_revenue_share(spark, d).collect()
    }
    con = duckdb.connect()
    for t in ("part", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    oracle = {p_type: share for p_type, _, share in con.execute(R._Q11_ORACLE).fetchall()}
    assert engine == want
    assert oracle == want


def test_q21_semi_and_anti_legs(spark, tmp_path):
    """A late supplier counts an order only when ANOTHER supplier is
    on it (semi leg) and NO other supplier is late on it (anti leg);
    two late suppliers on one order blame nobody; a late line on a
    single-supplier order blames nobody."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q21")
    t0 = dt.datetime(1996, 1, 1)
    late_day = dt.datetime(1996, 4, 1)   # 91 days > 60 -> late
    ok_day = dt.datetime(1996, 2, 1)     # 31 days -> on time
    spark.createDataFrame(
        [
            (100, 1, "O", 1.0, t0, "5-LOW"),  # s1 late, s2 on time -> blame s1
            (101, 1, "O", 1.0, t0, "5-LOW"),  # s1 and s2 BOTH late -> nobody
            (102, 1, "O", 1.0, t0, "5-LOW"),  # s3 late, sole supplier -> nobody
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    rows = [
        (100, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late_day),
        (100, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ok_day),
        (101, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late_day),
        (101, 1, 2, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", late_day),
        (102, 1, 3, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", late_day),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    out = {r["l_suppkey"]: r["numwait"] for r in
           R.q21_waiting_suppliers(spark, d).collect()}
    assert out == {1: 1}


def test_w23_skew_profile_ties_and_ppm(spark, tmp_path):
    """Heavy-hitter ties break by user_id; share and skew ratios are
    exact BIGINT ppm floors. Users 1..6 with counts 4,4,2,1,1,1 ->
    13 events over 6 keys, max 4: skew = floor(4*6e6/13) = 1846153."""
    import information_extraction_spark.driver_queries.relational as R

    rows, eid = [], 0
    for u, n in [(2, 4), (1, 4), (3, 2), (4, 1), (5, 1), (6, 1)]:
        for _ in range(n):
            rows.append((eid, 10 + eid, u, "view", 1.0))
            eid += 1
    d = _write_events(spark, tmp_path, rows)
    out = R.w23_skew_profile(spark, d).collect()
    by_rank = {r["rank"]: r for r in out}
    assert len(out) == 5
    assert by_rank[1]["user_id"] == 1 and by_rank[2]["user_id"] == 2
    assert by_rank[1]["share_ppm"] == 307692  # floor(4e6/13)
    assert by_rank[1]["skew_ppm"] == 1846153  # floor(4*6e6/13)
    assert by_rank[5]["n_events"] == 1


def test_w26_dq_audit_violations_and_exact_ppm(spark, tmp_path):
    """Every check fires on a hand-built corrupt snapshot: duplicate
    order key, FK orphans on both reference legs (the lineitem leg
    weighted by LINE count, not key count), negative balances, an
    out-of-domain status, a NULL event_type — and pass_ppm is the
    exact integer floor."""
    import datetime as dt

    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "dq")
    day = dt.datetime(1996, 1, 1)
    spark.createDataFrame(
        [
            (1, 10, "O", 5.0, day, "1-URGENT"),
            (1, 10, "F", 6.0, day, "1-URGENT"),   # dup orderkey
            (2, 99, "X", 7.0, day, "1-URGENT"),   # orphan cust + bad status
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(10, "c", 0, -1.0, "B")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(20, "s", 0, 3.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(f"{d}/supplier.parquet")
    li = [
        (1, 1, 20, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
        (7, 1, 20, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day),  # orphan x2
        (7, 1, 20, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", day),
    ]
    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1, day, 1, None, 1.0, "{}"), (2, day, 1, "view", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    got = {
        r["check_name"]: (r["n_evaluated"], r["n_failed"], r["pass_ppm"])
        for r in R.w26_dq_audit(spark, d).collect()
    }
    assert got["orders.o_orderkey unique"] == (3, 1, 666666)
    assert got["orders.o_custkey fk customer"] == (3, 1, 666666)
    # orphan key 7 carries TWO lines -> 2 failed of 3 lines.
    assert got["lineitem.l_orderkey fk orders"] == (3, 2, 333333)
    assert got["customer.c_acctbal >= 0"] == (1, 1, 0)
    assert got["supplier.s_acctbal >= 0"] == (1, 0, 1000000)
    assert got["orders.o_orderstatus in domain"] == (3, 1, 666666)
    assert got["events.event_type complete"] == (2, 1, 500000)
    assert len(got) == 7


def test_q23_skyline_dominance_rules(spark, tmp_path):
    """Pinned dominance semantics: strict domination removes a part,
    equal price + larger size dominates, equal (price, size)
    duplicates dominate NEITHER way (both stay), and brands never
    interact — a globally-dominated part survives inside its own
    brand."""
    import information_extraction_spark.driver_queries.relational as R

    d = str(tmp_path / "q23")
    spark.createDataFrame(
        [
            # Brand A: (price cents, size)
            (1, "pa", "A", "T", 10, 1.00),   # frontier (cheapest)
            (2, "pb", "A", "T", 30, 2.00),   # frontier (bigger, dearer)
            (3, "pc", "A", "T", 5, 2.00),    # dominated by 2 (same price, smaller)
            (4, "pd", "A", "T", 2, 3.00),    # dominated by 1 AND 2
            (5, "pe", "A", "T", 30, 2.00),   # duplicate of 2 — both stay
            # Brand B: one part, globally worse than everything in A,
            # still its own brand frontier.
            (6, "pf", "B", "T", 1, 9.00),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).write.parquet(f"{d}/part.parquet")
    got = {
        (r.p_partkey, r.p_brand, r.price_c, r.p_size)
        for r in R.q23_skyline(spark, d).collect()
    }
    assert got == {
        (1, "A", 100, 10),
        (2, "A", 200, 30),
        (5, "A", 200, 30),
        (6, "B", 900, 1),
    }


def test_decay_agg_halves_per_day_and_caps(spark, tmp_path):
    """Half-life semantics pinned by hand: anchored at the corpus
    max(ts), same-day weight 1000000 ppm, one day earlier 500000, 50
    days earlier capped at 2^-40."""
    import os

    import pandas as pd

    from information_extraction_spark.driver_queries.relational import (
        w28_decay_agg,
    )

    base = pd.Timestamp("2026-03-01 12:00:00")
    rows = [
        (1, base, 1, "x", 2.0, "{}"),                                # w 1000000
        (2, base - pd.Timedelta(days=1), 1, "x", 1.0, "{}"),         # w 500000
        (3, base - pd.Timedelta(days=50), 1, "x", 4.0, "{}"),        # capped
        (4, base - pd.Timedelta(seconds=86399), 1, "y", 1.0, "{}"),  # same day
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    d = os.path.join(tmp_path, "decay_sf")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {
        r["event_type"]: (r["n"], r["decayed_count_ppm"], r["decayed_cents_ppm"])
        for r in w28_decay_agg(spark, d).collect()
    }
    w_cap = 1000000 // (1 << 40)  # = 0
    assert got["x"] == (
        3,
        1000000 + 500000 + w_cap,
        200 * 1000000 + 100 * 500000 + 400 * w_cap,
    )
    assert got["y"] == (1, 1000000, 100 * 1000000)


def test_backfill_overwrite_isolates_untouched_partitions(spark, tmp_path):
    """Between staging and the dynamic overwrite, every other day's
    FILES must stay byte-identical (paths, sizes, mtimes); the latest
    day must be fully REPLACED — restated cents, dropped
    event_id % 5 == 0 rows gone (an append would keep them)."""
    import os

    from information_extraction_spark.driver_queries.relational import (
        _backfill_fix,
        _backfill_stage,
    )

    sf = "/root/testdata/sf0.001"
    table = os.path.join(tmp_path, "events_by_day")
    mday = _backfill_stage(spark, sf, table)

    def inventory():
        inv = {}
        for root, _d, files in os.walk(table):
            if f"day_id={mday}" in root:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    inv[p] = (st.st_size, st.st_mtime_ns)
        return inv

    before = inventory()
    assert len(before) >= 2  # several untouched day partitions exist
    dropped = {
        r["event_id"]
        for r in spark.read.parquet(table)
        .filter(f"day_id = {mday} AND event_id % 5 = 0")
        .collect()
    }
    assert dropped  # the fix genuinely removes something
    _backfill_fix(spark, sf, table, mday)
    assert inventory() == before
    latest = spark.read.parquet(table).filter(f"day_id = {mday}").collect()
    assert latest and all(r["event_id"] % 5 != 0 for r in latest)


def _write_trade_fixture(spark, tmp_path):
    """Six-table fixture for the nation-pair / market-share shapes.
    Nations use the REAL testdata names (the queries pin them):
    NATION_12 / NATION_10 are the q24 pair; NATION_2 sells into ASIA
    (region of NATION_12/NATION_2) for q25."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(2, "NATION_2", 2), (10, "NATION_10", 0), (12, "NATION_12", 2),
         (1, "NATION_1", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "nation.parquet"))
    spark.createDataFrame(
        [(2, "ASIA"), (0, "AMERICA"), (1, "EUROPE")],
        "r_regionkey int, r_name string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "region.parquet"))
    spark.createDataFrame(
        [(1, "s1", 12, 0.0), (2, "s2", 10, 0.0), (3, "s3", 2, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "supplier.parquet"))
    spark.createDataFrame(
        [(1, "c10", 10, 0.0, "B"), (2, "c12", 12, 0.0, "B"),
         (3, "c1", 1, 0.0, "B"), (4, "c2", 2, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    spark.createDataFrame(
        [(pk, f"p{pk}", "B", ty, 1, 1.0) for pk, ty in
         [(1, "ECONOMY"), (2, "STANDARD")]],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))
    # orders: (orderkey, custkey, orderdate)
    spark.createDataFrame(
        [(ok, ck, "O", 1.0, dt.datetime.fromisoformat(od), "x")
         for ok, ck, od in
         [(100, 1, "1996-02-01"),   # cust NATION_10
          (101, 2, "1996-03-01"),   # cust NATION_12
          (102, 3, "1996-04-01"),   # cust NATION_1 (outside pair)
          (103, 4, "1997-05-01")]], # cust NATION_2 (ASIA)
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    # lineitem: (orderkey, partkey, suppkey, extprice, discount, shipdate)
    li = [
        (100, 1, 1, 100.0, 0.0, "1996-02-02"),  # 12 -> 10: q24 dir A
        (101, 1, 2, 200.0, 0.5, "1996-03-02"),  # 10 -> 12: q24 dir B
        (101, 2, 1, 400.0, 0.0, "1996-03-03"),  # 12 -> 12: SAME both ends, excluded
        (102, 1, 1, 800.0, 0.0, "1996-04-02"),  # 12 -> 1: outside pair
        (100, 1, 1, 50.0, 0.0, "1995-06-01"),   # out of date range for q24
        (103, 1, 3, 300.0, 0.0, "1997-05-02"),  # NATION_2 supp -> ASIA cust (q25 num)
        (103, 1, 1, 100.0, 0.0, "1997-05-03"),  # NATION_12 supp -> ASIA cust (q25 den)
        (103, 2, 3, 999.0, 0.0, "1997-05-04"),  # STANDARD part: excluded from q25
    ]
    spark.createDataFrame(
        [(ok, pk, sk, 1, 1.0, ep, disc, 0.0, "N", "O",
          dt.datetime.fromisoformat(sd))
         for ok, pk, sk, ep, disc, sd in li],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    return d


def test_q24_pair_directions_and_exclusions(spark, tmp_path):
    """Both pair directions survive as separate rows; a same-nation
    line (12->12), a non-pair partner (12->1), and an out-of-range
    shipdate are all excluded."""
    from information_extraction_spark.driver_queries.relational import (
        q24_nation_volume,
    )

    sf = _write_trade_fixture(spark, tmp_path)
    rows = {(r["supp_nation"], r["cust_nation"]): r
            for r in q24_nation_volume(spark, sf).collect()}
    assert set(rows) == {("NATION_12", "NATION_10"), ("NATION_10", "NATION_12")}
    a = rows[("NATION_12", "NATION_10")]
    assert (a["l_year"], a["revenue"], a["n_items"]) == (1996, 100.0, 1)
    b = rows[("NATION_10", "NATION_12")]
    assert (b["l_year"], b["revenue"], b["n_items"]) == (1996, 100.0, 1)


def test_q25_share_is_case_over_one_market(spark, tmp_path):
    """Share = NATION_2 revenue / ASIA-customer ECONOMY revenue:
    non-ECONOMY parts and non-ASIA customers never enter the
    denominator."""
    from information_extraction_spark.driver_queries.relational import (
        q25_market_share,
    )

    sf = _write_trade_fixture(spark, tmp_path)
    rows = {r["o_year"]: r for r in q25_market_share(spark, sf).collect()}
    # ASIA customers: order 103 (NATION_2) and order 101 (NATION_12 is
    # also an ASIA nation in this fixture). 1997: ECONOMY lines 300 +
    # 100, numerator 300 -> share 0.75. 1996: order 101's ECONOMY line
    # 200*(1-0.5)=100 with a NATION_10 supplier -> zero numerator, so
    # the share is exactly 0.0 (a market year with no target-nation
    # sales still surfaces). Order 100's AMERICA customer and every
    # STANDARD part stay out of the denominator.
    assert set(rows) == {1996, 1997}
    r = rows[1997]
    assert r["market_revenue"] == 400.0
    assert r["mkt_share"] == 0.75
    z = rows[1996]
    assert z["market_revenue"] == 100.0
    assert z["mkt_share"] == 0.0


# --- Q2 correlated-min / Q9 profit (TPC-H sweep completion) -----------------------


def _write_tpch_min(spark, tmp_path, lineitem_rows):
    """Minimal 5-table TPC-H fixture. lineitem_rows:
    (orderkey, partkey, suppkey, qty, extprice)."""
    base = str(tmp_path)
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/region.parquet")
    spark.createDataFrame(
        [(0, "NATION_0", 0), (1, "NATION_1", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/nation.parquet")
    # suppliers 1,2 in EUROPE; supplier 3 in ASIA
    spark.createDataFrame(
        [(1, "S1", 0, 0.0), (2, "S2", 0, 0.0), (3, "S3", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/supplier.parquet")
    spark.createDataFrame(
        [
            (10, "p10", "Brand#1", "STANDARD", 5, 900.0),
            (11, "p11", "Brand#1", "STANDARD", 20, 900.0),  # size filter
            (12, "p12", "Brand#1", "PROMO", 5, 900.0),  # type filter
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/part.parquet")
    spark.createDataFrame(
        [
            (ok, pk, sk, 1, float(q), float(ep), 0.0, 0.0, "N", "O",
             dt.datetime(2000, 1, 1))
            for ok, pk, sk, q, ep in lineitem_rows
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
    return base


def test_q26_profit_sign_and_year(spark, tmp_path):
    """Profit = rev cents − 90%%-retail cost cents, grouped by the
    ORDER year (not ship year). One widget line: qty 2 at 2000.00
    rev, cost 2*900*0.9 = 1620 → profit 380; non-widget parts drop."""
    from information_extraction_spark.driver_queries.relational import (
        q26_profit_by_nation_year,
    )

    base = _write_tpch_min(
        spark,
        tmp_path,
        [(1, 10, 1, 2, 2000.0), (2, 12, 1, 1, 999.0)],
    )
    # rename part 10 to a widget, part 12 stays non-widget
    spark.createDataFrame(
        [
            (10, "red widget", "Brand#1", "STANDARD", 5, 900.0),
            (12, "blue bolt", "Brand#1", "PROMO", 5, 900.0),
        ],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/part.parquet")
    spark.createDataFrame(
        [(1, 1, "F", 0.0, dt.datetime(1997, 6, 1), "1-URGENT"),
         (2, 1, "F", 0.0, dt.datetime(1998, 6, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/orders.parquet")
    rows = [
        (r.n_name, r.o_year, r.profit)
        for r in q26_profit_by_nation_year(spark, base).collect()
    ]
    assert rows == [("NATION_0", 1997, 380.0)]
