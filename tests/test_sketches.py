"""Hand-verified semantics for the sketch operators: the portable
48-bit md5 hash, Count-Min overestimation + min-recovery, KMV
bottom-k estimation, and Bloom-filter no-false-negative + engineered
false-positive behavior."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from information_extraction_spark.driver_queries.sketches import (
    _BLOOM_HASHES,
    _BLOOM_M,
    _BLOOM_P,
    _KMV_NUM,
    a11_countmin_heavy,
    a12_kmv_distinct,
    j10_bloom_filter_join,
    _h48,
)


def _py_h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def _write_docs(spark, tmp_path, texts):
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


def _write_parts_lineitem(spark, tmp_path, promo_keys, other_keys, probe_keys):
    d = str(tmp_path)
    spark.createDataFrame(
        [(k, f"p{k}", "B", "PROMO", 1, 1.0) for k in promo_keys]
        + [(k, f"p{k}", "B", "STANDARD", 1, 1.0) for k in other_keys],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "part.parquet")
    )
    spark.createDataFrame(
        [(1, k, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", None) for k in probe_keys],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "lineitem.parquet")
    )
    return d


def test_h48_matches_hashlib(spark):
    got = (
        spark.range(1)
        .select(_h48(F.lit("hello world")).alias("h"))
        .first()["h"]
    )
    assert got == _py_h48("hello world")


def test_countmin_matches_reference_and_overestimates(spark, tmp_path):
    texts = ["a b a c", "b a d d d"]
    sf = _write_docs(spark, tmp_path, texts)
    true = {}
    for t in texts:
        for w in t.split(" "):
            true[w] = true.get(w, 0) + 1
    # Reference CMS with the same seeds/width.
    table = {}
    for w, n in true.items():
        for s in "abc":
            table[(s, _py_h48(s + w) % 16)] = (
                table.get((s, _py_h48(s + w) % 16), 0) + n
            )
    expect = {
        w: min(table[(s, _py_h48(s + w) % 16)] for s in "abc")
        for w in true
    }
    rows = {r["word"]: r for r in a11_countmin_heavy(spark, sf).collect()}
    assert set(rows) == set(true)
    for w in true:
        assert rows[w]["true_n"] == true[w]
        assert rows[w]["cms_est"] == expect[w]
        assert rows[w]["cms_est"] >= true[w]


def test_kmv_small_universe_and_short_text_guard(spark, tmp_path):
    # 4 distinct trigrams (< k) plus a 2-word doc that must contribute
    # nothing (the sequence() guard) — n_hashes == exact_distinct and
    # the estimate formula applies to the max hash.
    sf = _write_docs(spark, tmp_path, ["a b c d e f", "x y"])
    tris = ["a b c", "b c d", "c d e", "d e f"]
    hashes = sorted(_py_h48(t) for t in tris)
    r = a12_kmv_distinct(spark, sf).first()
    assert r["exact_distinct"] == 4
    assert r["n_hashes"] == 4
    assert r["kth_hash"] == hashes[-1]
    assert r["est_distinct"] == _KMV_NUM // hashes[-1]


def _positions(k: int) -> set[int]:
    return {((a * k + b) % _BLOOM_P) % _BLOOM_M for a, b in _BLOOM_HASHES}


def test_bloom_no_false_negatives_and_engineered_false_positive(
    spark, tmp_path
):
    promo = list(range(1, 400))
    covered = set()
    for k in promo:
        covered |= _positions(k)
    # Deterministically find a non-member whose three positions are all
    # covered (false positive) and one with at least one uncovered
    # position (true negative).
    fp = tn = None
    for k in range(1000, 200000):
        if k in promo:
            continue
        if fp is None and _positions(k) <= covered:
            fp = k
        if tn is None and not (_positions(k) <= covered):
            tn = k
        if fp is not None and tn is not None:
            break
    assert fp is not None and tn is not None
    probe = promo + [fp, tn]
    sf = _write_parts_lineitem(
        spark, tmp_path, promo, other_keys=[fp, tn], probe_keys=probe
    )
    r = j10_bloom_filter_join(spark, sf).first()
    assert r["n_true"] == len(promo)          # no false negatives
    assert r["n_pass"] == len(promo) + 1      # exactly the engineered fp
    assert r["n_false_pos"] == 1
    assert r["pass_revenue"] == 100.0 * (len(promo) + 1)


def test_hll_estimate_within_error_bound(spark):
    # m=64 registers -> relative error ~1.04/sqrt(64) = 13%; assert a
    # loose 3-sigma bound on the real sf0.001 shingle stream.
    import information_extraction_spark.driver_queries.sketches as S

    out = S.a14_hll_distinct(spark, "/root/testdata/sf0.001").collect()
    est = out[0]["est_e4"] / 10000.0
    true = out[0]["true_distinct"]
    assert true > 1000  # raw-HLL regime, far above 2.5*m
    assert abs(est / true - 1.0) < 0.4
    # register table is the sketch: <=64 rows, ranks in [1, 43]
    assert len(out) <= 64
    assert all(1 <= r["max_rank"] <= 43 for r in out)


def test_hll_rank_matches_pure_python(spark):
    # The Spark-side rank expression must equal the reference
    # definition: leading zeros of the 42-bit remainder + 1.
    import hashlib

    from pyspark.sql import functions as F
    import information_extraction_spark.driver_queries.sketches as S

    vals = ["alpha", "beta", "gamma", "delta"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    h = S._h48(F.col("s"))
    w = (h / F.lit(64)).cast("long")
    rank = F.when(w == 0, F.lit(43)).otherwise(
        F.lit(43) - F.length(F.bin(w))
    )
    got = {
        r["s"]: (r["reg"], r["rank"])
        for r in df.select(
            "s", (h % 64).alias("reg"), rank.alias("rank")
        ).collect()
    }
    for v in vals:
        hv = int(hashlib.md5(v.encode()).hexdigest()[:12], 16)
        wv = hv // 64
        exp_rank = 43 if wv == 0 else 42 - wv.bit_length() + 1
        assert got[v] == (hv % 64, exp_rank)


def test_hll_merge_equals_direct_and_matches_a14(spark):
    """Mergeability is the a17 contract: the 'ALL' row derived by
    register-wise max over per-language sketches must equal a DIRECT
    global sketch — i.e. a14's estimate on the same stream — and
    every per-scope estimate stays inside the loose raw-HLL bound."""
    import information_extraction_spark.driver_queries.sketches as S

    sf = "/root/testdata/sf0.001"
    out = {r["scope"]: r for r in S.a17_hll_mergeable(spark, sf).collect()}
    a14 = S.a14_hll_distinct(spark, sf).first()
    assert out["ALL"]["est_e4"] == a14["est_e4"]
    assert out["ALL"]["true_distinct"] == a14["true_distinct"]
    # multiple genuine language scopes, each in the raw-HLL regime
    assert len(out) >= 3
    for scope, r in out.items():
        assert abs(r["est_e4"] / 10000.0 / r["true_distinct"] - 1.0) < 0.5, (
            scope,
            r,
        )


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, user_id, event_type, value) with a fixed ts."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, ts, u, t, v, "{}") for (i, u, t, v) in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    return d


def test_auc_matches_bruteforce_pairwise_with_ties(spark, tmp_path):
    """AUC from the score histogram must equal the O(n_pos*n_neg)
    pairwise definition (ties credit 1/2) on a hand-built set where
    a positive and a negative SHARE a score, so the midrank term is
    load-bearing."""
    from information_extraction_spark.driver_queries.sketches import (
        a18_auc_exact,
    )

    # scores: pos {3.0, 2.0, 1.0}, neg {2.0, 0.5} — the 2.0 tie pair
    # contributes 0.5; pairwise sum = (1+1) + (0.5+1) + (0+1) = 4.5
    # over 6 pairs -> AUC = 0.75.
    rows = [
        (0, 1, "purchase", 3.0),
        (1, 1, "purchase", 2.0),
        (2, 1, "purchase", 1.0),
        (3, 2, "view", 2.0),
        (4, 2, "view", 0.5),
    ]
    sf = _write_events(spark, tmp_path, rows)
    r = a18_auc_exact(spark, sf).first()
    assert (r["n_pos"], r["n_neg"]) == (3, 2)
    assert r["auc_ppm"] == 750000

    # Independent brute force over the same rows (no histogram).
    pos = [v for (_, _, t, v) in rows if t == "purchase"]
    neg = [v for (_, _, t, v) in rows if t != "purchase"]
    credit = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    assert int(credit / (len(pos) * len(neg)) * 1_000_000) == r["auc_ppm"]


def test_calibration_bins_hand_computed(spark, tmp_path):
    """Bin edges, exact ppm confidence, accuracy, and gap on a
    hand-built 4-event set spanning two bins, including the
    overflow clamp into bin 9."""
    from information_extraction_spark.driver_queries.sketches import (
        a19_calibration,
    )

    rows = [
        # bin 0: cents 100 and 300 -> conf_ppm = (400*20) div 2 = 4000;
        # one of two is positive -> acc_ppm = 500000.
        (0, 1, "purchase", 1.0),
        (1, 1, "view", 3.0),
        # bin 9 via clamp: cents 60000 (div 5000 = 12 -> 9), positive.
        (2, 2, "purchase", 600.0),
        # bin 2: cents 12500, negative.
        (3, 2, "error", 125.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r["bin"]: r for r in a19_calibration(spark, sf).collect()}
    assert set(got) == {0, 2, 9}
    b0 = got[0]
    assert (b0["n"], b0["n_pos"]) == (2, 1)
    assert b0["conf_ppm"] == 4000
    assert b0["acc_ppm"] == 500000
    assert b0["gap_ppm"] == 496000
    assert got[9]["n"] == 1 and got[9]["n_pos"] == 1
    assert got[9]["conf_ppm"] == 1200000  # clamped bin keeps exact conf
    assert got[2]["acc_ppm"] == 0


# --- A25 / A26 / A27: distribution statistics ------------------------------------


def _write_docs_full(spark, tmp_path, rows):
    """rows: (doc_id, text, lang, source, n_chars)."""
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


def test_ks_planted_shift_rejects(spark, tmp_path):
    """A fully-separated pair of distributions (en all at length 10,
    others all at 1000, 30 docs each) has D = 1 and must REJECT at
    0.05; the sup location is the last en value (10)."""
    from information_extraction_spark.driver_queries.sketches import (
        a25_ks_drift,
    )

    rows = [(i, "t", "en", "s", 10) for i in range(30)] + [
        (100 + i, "t", "de", "s", 1000) for i in range(30)
    ]
    sf = _write_docs_full(spark, tmp_path, rows)
    r = a25_ks_drift(spark, sf).collect()[0]
    assert (r.n_a, r.n_b) == (30, 30)
    assert r.d_num == 30 * 30 and r.d_ppm == 1000000
    assert r.ks_at == 10
    assert r.reject_05 == 1


def test_ks_identical_distributions_accept(spark, tmp_path):
    """Identical en/other distributions: D = 0, accept, and the sup
    location ties resolve to the smallest value."""
    from information_extraction_spark.driver_queries.sketches import (
        a25_ks_drift,
    )

    rows = []
    for i in range(20):
        rows.append((i, "t", "en", "s", 10 + (i % 3)))
        rows.append((1000 + i, "t", "fr", "s", 10 + (i % 3)))
    sf = _write_docs_full(spark, tmp_path, rows)
    r = a25_ks_drift(spark, sf).collect()[0]
    assert r.d_num == 0 and r.reject_05 == 0
    assert r.ks_at == 10


def test_chi2_perfect_dependence_and_independence(spark, tmp_path):
    """A 2×2 with lang determined by source has chi2 = n and
    V² = 1 (1e6 ppm); a perfectly balanced 2×2 has chi2 = 0."""
    from information_extraction_spark.driver_queries.sketches import (
        a26_chi2_independence,
    )

    dep = [(i, "t", "en", "s1", 1) for i in range(10)] + [
        (100 + i, "t", "de", "s2", 1) for i in range(10)
    ]
    sf = _write_docs_full(spark, tmp_path / "dep", dep)
    r = a26_chi2_independence(spark, sf).collect()[0]
    assert (r.n_langs, r.n_sources, r.dof) == (2, 2, 1)
    assert r.chi2_milli == 20000  # chi2 == n == 20
    assert r.cramers_v2_ppm == 1000000

    ind = []
    for i in range(5):
        for lang in ("en", "de"):
            for src in ("s1", "s2"):
                ind.append((len(ind), "t", lang, src, 1))
    sf2 = _write_docs_full(spark, tmp_path / "ind", ind)
    r2 = a26_chi2_independence(spark, sf2).collect()[0]
    assert r2.chi2_milli == 0 and r2.cramers_v2_ppm == 0


def test_chi2_cell_term_exact_past_1e9_docs(spark):
    """a26's per-cell term num·(num·1000 div (rs·cs)) div n, num =
    |o·n − rs·cs|, at 2·10⁹ docs with skewed marginals (num·1000 is
    past 2⁶³) and at 10¹² docs (o·n is past 2⁶³) equals the same
    double floor computed with Fractions."""
    from fractions import Fraction

    from information_extraction_spark.driver_queries.sketches import (
        a26_chi2_cell_milli,
    )

    rows = [  # (o, rs, cs, n)
        (1_900_000_000, 1_950_000_000, 1_920_000_000, 2_000_000_000),
        (10_000_000, 1_950_000_000, 80_000_000, 2_000_000_000),
        (0, 50_000_000, 1_920_000_000, 2_000_000_000),
        (3, 7, 11, 2_000_000_000),
        (600 * 10**9, 700 * 10**9, 800 * 10**9, 10**12),
    ]

    def floor(q: Fraction) -> int:
        return q.numerator // q.denominator

    def term(o, rs, cs, n):
        num = abs(o * n - rs * cs)
        return floor(Fraction(num * floor(Fraction(num * 1000, rs * cs)), n))

    cells = spark.createDataFrame(rows, "o long, rs long, cs long, n long")
    got = [r.c_milli for r in a26_chi2_cell_milli(cells).collect()]
    assert got == [term(*r) for r in rows]


def test_spearman_perfect_and_inverse(spark, tmp_path):
    """Monotone-increasing word counts with n_chars give rho = 1
    (sum_d2 = 0); reversing the word counts gives rho = -1."""
    from information_extraction_spark.driver_queries.sketches import (
        a27_spearman,
    )

    inc = [
        (i, " ".join(["w"] * (i + 1)), "en", "s", 10 * (i + 1))
        for i in range(6)
    ]
    sf = _write_docs_full(spark, tmp_path / "inc", inc)
    r = a27_spearman(spark, sf).collect()[0]
    assert (r.n, r.sum_d2) == (6, 0) and r.rho == 1.0

    dec = [
        (i, " ".join(["w"] * (6 - i)), "en", "s", 10 * (i + 1))
        for i in range(6)
    ]
    sf2 = _write_docs_full(spark, tmp_path / "dec", dec)
    r2 = a27_spearman(spark, sf2).collect()[0]
    assert r2.sum_d2 == 70  # n(n²−1)/3 → rho exactly −1
    assert r2.rho == -1.0


def test_null_injected_strata_close_divergence(spark, tmp_path):
    """Round-5 ADVICE regressions: NULL n_chars docs drop out of the
    a25 CDF and the a27 ranking identically on both engines, and a
    NULL lang/source stratum KEEPS its observed cells in a26 (the
    '(none)' sentinel) instead of reading o=0 while the marginals
    still count it. Pinned by comparing against the clean-corpus
    result: a25/a27 must be unchanged by NULL-n_chars rows; a26 on a
    lang-independent corpus must stay chi2=0 even when one 'lang' is
    NULL."""
    from information_extraction_spark.driver_queries.sketches import (
        a25_ks_drift,
        a26_chi2_independence,
        a27_spearman,
    )

    base = [(i, "t", "en", "s", 10) for i in range(30)] + [
        (100 + i, "t", "de", "s", 1000) for i in range(30)
    ]
    clean = _write_docs_full(spark, tmp_path / "clean", base)
    r_clean = a25_ks_drift(spark, clean).collect()[0]

    injected = base + [(200 + i, "t", "de", "s", None) for i in range(5)]
    dirty = _write_docs_full(spark, tmp_path / "dirty", injected)
    r_dirty = a25_ks_drift(spark, dirty).collect()[0]
    assert r_clean == r_dirty  # NULL n_chars never enters the CDF

    # a26: 2 langs x 2 sources, perfectly independent counts, but one
    # "lang" is NULL -> sentinel stratum; chi2 must still be exactly 0
    # and the NULL stratum must be COUNTED (n_langs = 2, not 1).
    ind = []
    k = 0
    for lang in ("en", None):
        for src in ("s1", "s2"):
            for _ in range(4):
                ind.append((k, "t", lang, src, 1))
                k += 1
    sf2 = _write_docs_full(spark, tmp_path / "ind", ind)
    r2 = a26_chi2_independence(spark, sf2).collect()[0]
    assert (r2.n_docs, r2.n_langs, r2.n_sources) == (16, 2, 2)
    assert r2.chi2_milli == 0 and r2.cramers_v2_ppm == 0

    # a27: monotone corpus + NULL-n_chars rows -> rho still exactly 1
    inc = [
        (i, " ".join(["w"] * (i + 1)), "en", "s", 10 * (i + 1))
        for i in range(6)
    ] + [(50, "w w", "en", "s", None)]
    sf3 = _write_docs_full(spark, tmp_path / "inc", inc)
    r3 = a27_spearman(spark, sf3).collect()[0]
    assert (r3.n, r3.sum_d2, r3.rho) == (6, 0, 1.0)
