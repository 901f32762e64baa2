"""Tests for the training-data curation operators added in round 4:
deterministic split (ta_split), data-mixture rates (ta_domain_mix),
PII-style redaction (ta_redact), and negative sampling for
KG-embedding training (kg_neg_sampling's core). The driver's DuckDB
oracle checks each on the fixed test corpus; these tests pin the
SEMANTICS on hand-built fixtures where expected values are computed
independently in Python (hashlib md5, brute-force loops).
"""

from __future__ import annotations

import hashlib
import os
import re

import pandas as pd
import pytest

from information_extraction_spark.driver_queries.kg import negative_samples
from information_extraction_spark.driver_queries.textdata import (
    _EMAIL_RE,
    _HEXID_RE,
    ta_domain_mix,
    ta_redact,
    ta_split,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _write_docs(spark, tmp_dir, rows, name):
    d = os.path.join(tmp_dir, name)
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": ["t"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


@pytest.fixture(scope="module")
def cur_sf_dir(spark, tmp_dir):
    rows = [
        (0, "the quick brown fox", "en"),
        (1, "la rapida zorra marron", "es"),
        (2, "of the and to", "en"),
        (3, "one two", "de"),
        (4, "a b c d e f", "en"),
    ]
    return _write_docs(spark, tmp_dir, rows, "cur_sf")


def test_split_matches_hashlib_and_is_id_pure(spark, cur_sf_dir, tmp_dir):
    out = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in ta_split(spark, cur_sf_dir).collect()
    }
    assert len(out) == 5
    for doc_id, (bucket, split) in out.items():
        h = _md5(str(doc_id))
        v = int(h[:2], 16)
        assert bucket == v
        assert split == ("test" if v < 13 else "val" if v < 26 else "train")
    # Pure function of doc_id: same ids with DIFFERENT text/lang land
    # in the same split (the stability property random() splits lack).
    alt = _write_docs(
        spark,
        tmp_dir,
        [(i, f"totally different text {i}", "fr") for i in range(5)],
        "cur_sf_alt",
    )
    out2 = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in ta_split(spark, alt).collect()
    }
    assert out == out2


def test_split_proportions_on_wide_id_range(spark, tmp_dir):
    rows = [(i, "w", "en") for i in range(3000)]
    d = _write_docs(spark, tmp_dir, rows, "cur_sf_wide")
    counts = {
        r["split"]: r["n"]
        for r in ta_split(spark, d).groupBy("split").count()
        .withColumnRenamed("count", "n").collect()
    }
    # Expected mass: test 13/256 ≈ 5.1%, val 13/256, train the rest.
    assert counts["train"] > counts["val"] > 0
    assert counts["train"] > counts["test"] > 0
    for k, lo, hi in [("test", 0.03, 0.08), ("val", 0.03, 0.08)]:
        frac = counts[k] / 3000
        assert lo < frac < hi, (k, frac)


def test_domain_mix_rates_exact(spark, cur_sf_dir):
    rows = {r["lang"]: r for r in ta_domain_mix(spark, cur_sf_dir).collect()}
    # Token counts: en = 4 + 4 + 6 = 14, es = 4, de = 2; total 20,
    # 3 languages → fair share 20/3.
    assert rows["en"]["n_docs"] == 3 and rows["en"]["lang_tokens"] == 14
    assert rows["es"]["lang_tokens"] == 4 and rows["de"]["lang_tokens"] == 2
    assert rows["en"]["share"] == round(14 / 20, 4)
    assert rows["en"]["keep_rate"] == round((20 / 3) / 14, 4)
    # Under-represented languages keep everything (rate capped at 1).
    assert rows["es"]["keep_rate"] == 1.0
    assert rows["de"]["keep_rate"] == 1.0


def test_redact_scrubs_all_injected_pii(spark, cur_sf_dir):
    out = {r["doc_id"]: r for r in ta_redact(spark, cur_sf_dir).collect()}
    email_re = re.compile(_EMAIL_RE)
    hex_re = re.compile(_HEXID_RE)
    for doc_id, r in out.items():
        h = _md5(str(doc_id))
        want_email = int(h[0], 16) < 12
        want_hex = int(h[1], 16) < 8
        assert r["n_emails"] == (1 if want_email else 0), doc_id
        assert r["n_hex_ids"] == (1 if want_hex else 0), doc_id
        # Nothing PII-shaped survives the scrub.
        assert not email_re.search(r["redacted"])
        assert not hex_re.search(r["redacted"])
        assert ("<EMAIL>" in r["redacted"]) == want_email
        assert ("<ID>" in r["redacted"]) == want_hex


def test_negative_samples_match_bruteforce(spark):
    triples = [
        ("s1", "p1", "a"),
        ("s1", "p1", "b"),
        ("s1", "p2", "a"),
        ("s2", "p1", "c"),
        ("s2", "p2", "b"),
        ("s3", "p1", "a"),
    ]
    t = spark.createDataFrame(
        triples, "subject string, predicate string, object string"
    )
    got = {
        (r["subject"], r["predicate"], r["object"]): (
            r["neg_object"],
            r["n_candidates"],
        )
        for r in negative_samples(t, pool_size=2).collect()
    }
    # Brute-force re-derivation: pool = top-2 objects by (count desc,
    # object asc) = [a (3), b (2)].
    pool = ["a", "b"]
    true = set(triples)
    expect = {}
    for s, p, o in triples:
        cands = [
            c for c in pool if c != o and (s, p, c) not in true
        ]
        if cands:
            best = min(cands, key=lambda c: _md5(f"{s}|{p}|{o}|{c}"))
            expect[(s, p, o)] = (best, len(cands))
    assert got == expect
    # Structural guarantees: a negative is never a true object for its
    # (s, p) and never equals the positive object.
    for (s, p, o), (neg, _) in got.items():
        assert (s, p, neg) not in true
        assert neg != o


# --- ta_contamination --------------------------------------------------------


def _bucket(doc_id: int) -> int:
    h = _md5(str(doc_id))
    hexd = "0123456789abcdef"
    return hexd.index(h[0]) * 16 + hexd.index(h[1])


def _grams8(text: str) -> set[str]:
    ws = text.split(" ")
    return {
        " ".join(ws[i : i + 8]) for i in range(len(ws) - 7)
    }


def test_ta_contamination_hand_built(spark, tmp_dir):
    from information_extraction_spark.driver_queries.textdata import (
        ta_contamination,
    )

    # Deterministically pick ids on each side of the md5-bucket split
    # (eval = bucket < 26) — same rule hashlib-side as the operator.
    eval_ids = [i for i in range(300) if _bucket(i) < 26]
    train_ids = [i for i in range(300) if _bucket(i) >= 26]
    run = "q w e r t y u i"  # the shared 8-gram (exactly 8 words)
    texts = {
        # eval doc embedding the shared run among filler -> 3 grams,
        # exactly 1 contaminated (only the run itself recurs in train)
        eval_ids[0]: f"z1 {run} z2",
        # clean eval doc, >= 8 words, zero hits
        eval_ids[1]: "c1 c2 c3 c4 c5 c6 c7 c8 c9",
        # short eval doc: no 8-grams at all
        eval_ids[2]: "tiny doc",
        # train doc carrying the run
        train_ids[0]: f"t1 t2 {run} t3",
        # unrelated train doc
        train_ids[1]: "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10",
    }
    rows = [(i, t, "en") for i, t in sorted(texts.items())]
    sf = _write_docs(spark, tmp_dir, rows, "contam_sf")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
        for r in ta_contamination(spark, sf).collect()
    }
    # Independent brute force over the same split/gram definitions.
    train_grams = set()
    for i in (train_ids[0], train_ids[1]):
        train_grams |= _grams8(texts[i])
    expect = {}
    for i in (eval_ids[0], eval_ids[1], eval_ids[2]):
        g = _grams8(texts[i])
        hits = len(g & train_grams)
        expect[i] = (len(g), hits, int(hits > 0))
    assert got == expect
    # And the crafted corpus is load-bearing: one contaminated doc,
    # one clean long doc, one zero-gram doc.
    flags = sorted(v[2] for v in got.values())
    assert flags == [0, 0, 1]
    assert got[eval_ids[2]][0] == 0


# --- ta_perplexity -----------------------------------------------------------


def test_ta_perplexity_hand_built(spark, tmp_dir):
    import math

    from information_extraction_spark.driver_queries.textdata import (
        ta_perplexity,
    )

    rows = [
        (0, "a a b", "en"),
        (1, "b c", "en"),
    ]
    sf = _write_docs(spark, tmp_dir, rows, "ppl_sf")
    got = {
        r["doc_id"]: (r["n_tokens"], r["xent"], r["ppl"])
        for r in ta_perplexity(spark, sf).collect()
    }
    # Unigram LM over the 5-token corpus: p(a)=2/5, p(b)=2/5, p(c)=1/5.
    pa, pb, pc = 2 / 5, 2 / 5, 1 / 5
    x0 = -(math.log(pa) + math.log(pa) + math.log(pb)) / 3
    x1 = -(math.log(pb) + math.log(pc)) / 2
    assert got[0] == (3, pytest.approx(round(x0, 4)), pytest.approx(round(math.exp(x0), 4)))
    assert got[1] == (2, pytest.approx(round(x1, 4)), pytest.approx(round(math.exp(x1), 4)))
    # Rarer-token doc scores strictly higher (the filtering property).
    assert got[1][1] > got[0][1]


def test_length_quantiles_interpolation_matches_sorted_reference(
    spark, tmp_path
):
    """The histogram-derived quantiles must equal quantile_cont over
    the raw sorted values, including fractional interpolation
    positions (n chosen so p*(n-1) is non-integral for p90/p99)."""
    import math

    from information_extraction_spark.driver_queries.textdata import (
        ta_length_quantiles,
    )

    # 23 docs of 'w'*k tokens (no stopwords -> all 'other'), sizes with
    # duplicates so the histogram path (cnt > 1) is exercised.
    sizes = [3, 3, 3, 5, 5, 7, 8, 8, 8, 8, 11, 13, 17, 17, 19, 23, 23,
             29, 31, 37, 41, 43, 47]
    rows = [(i, " ".join(["w"] * k)) for i, k in enumerate(sizes)]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got = {
        r["pred_lang"]: (r["n_docs"], r["p50"], r["p90"], r["p99"])
        for r in ta_length_quantiles(spark, d).collect()
    }

    def qc(vals, p):
        vals = sorted(vals)
        h = p * (len(vals) - 1)
        lo = math.floor(h)
        f = h - lo
        if f == 0:
            return float(vals[lo])
        return vals[lo] + f * (vals[lo + 1] - vals[lo])

    r4 = lambda x: math.floor(x * 10**4 + 0.5) / 10**4
    assert got == {
        "other": (
            len(sizes),
            r4(qc(sizes, 0.5)),
            r4(qc(sizes, 0.9)),
            r4(qc(sizes, 0.99)),
        )
    }


def test_selfsim_spans_brute_force(spark, tmp_path):
    """ta_selfsim_spans vs a hand-computed corpus: shared 8-gram
    spans across docs count toward n_dup; a doc shorter than 8 words
    has zero grams and ratio 0.0; within-doc repetition of a gram
    does NOT make it 'duplicated' (distinct per doc first)."""
    from information_extraction_spark.driver_queries.textdata import (
        ta_selfsim_spans,
    )

    shared = "a b c d e f g h"          # one 8-gram, shared by 0 and 1
    rows = [
        (0, shared + " x"),              # grams: [a..h], [b..h x] -> 2
        (1, shared),                     # gram: [a..h] -> 1 (shared)
        (2, "short doc only"),           # < 8 words -> 0 grams
        (3, shared + " " + shared),      # within-doc repeat of [a..h]
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup"], r["dup_ratio"])
        for r in ta_selfsim_spans(spark, d).collect()
    }
    # doc 3's text: 17 words -> 10 positions, some windows repeat
    # within the doc -> DISTINCT grams; [a..h] appears in docs 0,1,3.
    assert got[2] == (0, 0, 0.0)
    assert got[1] == (1, 1, 1.0)
    assert got[0][0] == 2 and got[0][1] == 1 and got[0][2] == 0.5
    # every one of doc 3's distinct grams containing the full shared
    # window is duplicated only if another doc has it — exactly
    # [a..h] qualifies
    n3, d3, r3 = got[3]
    assert d3 == 1 and r3 == round(1 / n3, 4)


# --- TF-IDF top-k + BM25 -----------------------------------------------------


def _write_tfidf_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    return str(tmp_path)


TFIDF_DOCS = [
    (1, "apple banana apple cherry"),
    (2, "banana banana date"),
    (3, "cherry date date date the the"),
]


def test_tfidf_topk_scores_and_rank(spark, tmp_path):
    import math

    from information_extraction_spark.driver_queries.textdata import (
        ta_tfidf_topk,
    )

    sf = _write_tfidf_docs(spark, tmp_path, TFIDF_DOCS)
    rows = ta_tfidf_topk(spark, sf).collect()
    # Brute-force reference.
    toks = {i: t.split(" ") for i, t in TFIDF_DOCS}
    df = {}
    for ws in toks.values():
        for w in set(ws):
            df[w] = df.get(w, 0) + 1
    n = len(toks)
    got = {(r["doc_id"], r["word"]): r for r in rows}
    for (d, w), r in got.items():
        tf = toks[d].count(w)
        assert r["tf"] == tf and r["df"] == df[w]
        assert r["tfidf"] == pytest.approx(
            round(tf * math.log(n / df[w]), 4), abs=1e-9
        )
    # 'apple' is doc1's top term (tf=2, df=1 -> ln 3); corpus-wide
    # words ('the' appears only in doc3 but df: banana=2, date=2,
    # cherry=2) score lower per occurrence.
    d1 = sorted(
        (r for (d, _), r in got.items() if d == 1),
        key=lambda r: r["rk"],
    )
    assert d1[0]["word"] == "apple" and d1[0]["rk"] == 1
    # Every doc emits at most 5 rows, ranks dense from 1.
    for d in (1, 2, 3):
        rks = sorted(r["rk"] for (dd, _), r in got.items() if dd == d)
        assert rks == list(range(1, len(rks) + 1)) and len(rks) <= 5


def test_bm25_reference_and_ordering(spark, tmp_path):
    import math

    from information_extraction_spark.driver_queries.textdata import (
        ta_bm25,
    )

    docs = [
        (1, "date date date apple"),
        (2, "date banana banana cherry cherry cherry"),
        (3, "apple banana cherry plum plum"),
        (4, "the the the the of of"),
    ]
    sf = _write_tfidf_docs(spark, tmp_path, docs)
    rows = ta_bm25(spark, sf).collect()
    toks = {i: t.split(" ") for i, t in docs}
    stop = {"the", "a", "of", "and", "to", "in", "is"}
    freq = {}
    for ws in toks.values():
        for w in ws:
            if w not in stop:
                freq[w] = freq.get(w, 0) + 1
    q = [w for w in sorted(freq, key=lambda w: (-freq[w], w))[:3]]
    n = len(toks)
    tot = sum(len(ws) for ws in toks.values())
    dfq = {w: sum(1 for ws in toks.values() if w in ws) for w in q}
    want = {}
    for d, ws in toks.items():
        s = 0
        terms = 0
        for w in q:
            tf = ws.count(w)
            if not tf:
                continue
            terms += 1
            idf = math.log((n - dfq[w] + 0.5) / (dfq[w] + 0.5) + 1.0)
            den = tf + 1.2 * (0.25 + 0.75 * len(ws) * float(n) / tot)
            s += int(
                math.floor(1000000.0 * (idf * (tf * 2.2) / den) + 0.5)
            )
        if terms:
            want[d] = (round(s / 1e6, 4), terms)
    got = {r["doc_id"]: r for r in rows}
    assert set(got) == set(want)
    for d, (s, terms) in want.items():
        assert got[d]["bm25"] == pytest.approx(s, abs=2e-6)
        assert got[d]["n_terms"] == terms
    # Ranks follow (score desc, doc_id) exactly.
    order = sorted(want, key=lambda d: (-want[d][0], d))
    for i, d in enumerate(order, 1):
        assert got[d]["rk"] == i
    # The all-stopword doc matches no query term and is absent.
    assert 4 not in got


def test_pmi_collocations_integer_ratio(spark, tmp_path):
    """Two docs; 'a b' occurs 5x (passes the floor), 'b c' only 1x
    (filtered). Ratio is exact BIGINT ppm."""
    from information_extraction_spark.driver_queries.textdata import (
        ta_pmi_collocations,
    )

    texts = ["a b a b a b c", "a b a b x"]
    sf = _write_tfidf_docs(spark, tmp_path, list(enumerate(texts)))
    rows = {(r["w1"], r["w2"]): r for r in ta_pmi_collocations(spark, sf).collect()}
    assert set(rows) == {("a", "b")}
    r = rows[("a", "b")]
    # tokens: a=5, b=5, x=1, c=1 -> n_x=n_y=5; bigrams total 10; c_ab=5.
    assert (r["n_xy"], r["n_x"], r["n_y"], r["n_bigrams"]) == (5, 5, 5, 10)
    assert r["pmi_ratio_ppm"] == (5 * 10 * 1000000) // 25


def test_weighted_sample_matches_hashlib_decisions(spark, tmp_path):
    """The keep decision is exactly h48(doc_id)*10^4 < rate4*2^48,
    recomputed here with hashlib; a language sampled to zero still
    reports its audit row."""
    import hashlib

    from information_extraction_spark.driver_queries.textdata import (
        ta_weighted_sample,
    )

    # en: 9 docs x 8 tokens = 72; de: 1 doc x 8 tokens = 8.
    # total=80, n_langs=2, target=40 -> en rate = 40/72 = 0.5556,
    # de rate = 1.0 (capped).
    rows = [(i, "a b c d e f g h", "en") for i in range(9)]
    rows.append((99, "a b c d e f g h", "de"))
    sf = _write_docs(spark, tmp_path, rows, "wsample_sf")
    got = {r["lang"]: r for r in ta_weighted_sample(spark, sf).collect()}
    assert got["de"]["rate4"] == 10000 and got["de"]["n_kept"] == 1
    assert got["en"]["rate4"] == 5556
    expect_en = sum(
        1
        for i in range(9)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16) * 10000
        < 5556 * 2**48
    )
    assert got["en"]["n_kept"] == expect_en


def test_bpe_train_merges_and_same_char_run(spark, tmp_path):
    """Hand corpus: 'abab' x3 + 'aaaa' x2. Round 1: (a,b) count 6
    beats (a,a) count 6? No — abab has pairs ab,ba,ab -> ab=6, ba=3;
    aaaa has aa=6 (3 pairs x2). Tie ab vs aa at 6 -> ('a','a') wins
    lexicographically. The merge collapses 'a a a a' to 'aa aa'
    (the 3x-replace covers the same-char run). Round 2: ab=6 wins."""
    from information_extraction_spark.driver_queries.textdata import (
        p18_bpe_train,
    )

    rows = [(0, "abab abab abab", "en"), (1, "aaaa aaaa", "en")]
    sf = _write_docs(spark, tmp_path, rows, "bpe_sf")
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in p18_bpe_train(spark, sf).collect()
    ]
    got.sort()
    assert got[0] == (1, "a", "a", 6)
    assert got[1] == (2, "a", "b", 6)
    # Round 3 operates on 'ab ab' x3 (from a b a b after no a-a in it?)
    # -- 'abab' split is 'a b a b': round 1 merged nothing there
    # (no ' a a '), round 2 merged to 'ab ab' (pairs ab=6 ba=3;
    # 3x replace turns ' a b a b ' -> ' ab ab '); round 3's top pair
    # is (ab, ab) with count 3.
    assert got[2] == (3, "ab", "ab", 3)


def test_ta_repetition_hand_built(spark, tmp_dir):
    """dup fraction counts ALL occurrences of repeated tokens; the
    top bigram is the max-count gram with lexicographic-min tie
    break; one-token docs are excluded (no bigram slots)."""
    from information_extraction_spark.driver_queries.textdata import (
        ta_repetition,
    )

    d = _write_docs(
        spark,
        tmp_dir,
        [
            # tokens: a a b -> n=3, dup=2 (both a's). bigrams:
            # "a a" x1, "a b" x1 -> tie, top = "a a", ppm 500000.
            (0, "a a b", "en"),
            # all distinct -> dup 0; bigrams all unique; top is the
            # lexicographic min "b c" vs "c d" vs "b c"? grams are
            # b c, c d -> top "b c" at 500000.
            (1, "b c d", "en"),
            # single token: excluded entirely.
            (2, "solo", "en"),
        ],
        "rep",
    )
    got = {r["doc_id"]: r for r in ta_repetition(spark, d).collect()}
    assert set(got) == {0, 1}
    assert got[0]["n_tokens"] == 3
    assert got[0]["dup_token_ppm"] == (2 * 1000000) // 3
    assert got[0]["top_bigram"] == "a a"
    assert got[0]["top_bigram_ppm"] == 500000
    assert got[1]["dup_token_ppm"] == 0
    assert got[1]["top_bigram"] == "b c"


def test_emb_rproj_matches_hashlib_reference(spark, tmp_dir):
    """The sign matrix is md5-parity of 'i:j'; projections are exact
    integer micro-unit sums of the per-component contributions."""
    import numpy as np

    from information_extraction_spark.driver_queries.textdata import (
        _rproj_signs,
        emb_rproj,
    )

    signs = _rproj_signs()
    # Independent recomputation of two entries straight from hashlib.
    assert signs[0][0] == (
        1 if int(_md5("0:0")[:12], 16) % 2 == 0 else -1
    )
    assert signs[7][63] == (
        1 if int(_md5("63:7")[:12], 16) % 2 == 0 else -1
    )
    rng = np.random.RandomState(7)
    vecs = rng.randn(3, 64).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [v.tolist() for v in vecs],
            "label": [0, 1, 2],
        }
    )
    d = os.path.join(tmp_dir, "rproj")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    got = {
        (r["vec_id"], r["out_dim"]): r["proj_u6"]
        for r in emb_rproj(spark, d).collect()
    }
    for vid in range(3):
        x = vecs[vid].astype("float64")
        for j in range(16):
            want = sum(
                int(
                    np.copysign(
                        np.floor(abs(x[i] * signs[j][i] * 1e6) + 0.5), 
                        x[i] * signs[j][i],
                    )
                )
                for i in range(64)
            )
            assert got[(vid, j)] == want, (vid, j)


def test_bpe_encode_applies_merges_in_rank_order(spark, tmp_path):
    """Same hand corpus as the train test: the encode output must
    reflect merges (a,a) then (a,b) then (ab,ab) applied in order —
    'aaaa' -> 'aa aa', 'abab' -> 'abab' (one symbol by round 3);
    counts and symbol counts exact."""
    from information_extraction_spark.driver_queries.textdata import (
        p19_bpe_encode,
    )

    rows = [(0, "abab abab abab", "en"), (1, "aaaa aaaa", "en")]
    sf = _write_docs(spark, tmp_path, rows, "bpe_enc_sf")
    got = {
        r["word"]: (r["encoded"], r["n_symbols"], r["word_count"])
        for r in p19_bpe_encode(spark, sf).collect()
    }
    # round 1 merged aa (aaaa -> 'aa aa'); rounds 2-3 touch abab:
    # 'a b a b' -> 'ab ab' -> 'abab'.
    assert got["aaaa"] == ("aa aa", 2, 2)
    assert got["abab"] == ("abab", 1, 3)
    assert len(got) == 2


def test_phrase_search_adjacency_and_overlap(spark, tmp_path):
    """Phrase occurrences must be position-adjacent WITHIN a doc:
    'a a a' yields overlapping hits at pos 1 and 2 for phrase 'a a';
    'a b' split across docs never matches; the hottest bigram is
    tie-broken lexicographically."""
    from information_extraction_spark.driver_queries.textdata import (
        ta_phrase_search,
    )

    rows = [
        (0, "a a a x", "en"),   # 'a a' twice (overlapping)
        (1, "a y a", "en"),     # non-adjacent a's: no hit
        (2, "z a", "en"),       # doc ends in 'a': no next term
    ]
    sf = _write_docs(spark, tmp_path, rows, "phrase_sf")
    got = sorted(
        (r["doc_id"], r["pos"], r["phrase"])
        for r in ta_phrase_search(spark, sf).collect()
    )
    # bigram counts: 'a a' x2; all others x1 -> top = 'a a'.
    assert got == [(0, 1, "a a"), (0, 2, "a a")]


def test_seq_packing_next_fit_semantics(spark, tmp_path):
    """Pins the next-fit fold against hand-walked bins: exact
    boundary fit stays in the bin, a one-token overflow seals it, an
    oversize doc (> capacity) sits alone AND its successor opens a
    fresh bin, and shards pack independently."""
    import information_extraction_spark.driver_queries.textdata as T

    cap = T._SEQ_PACK_CAPACITY  # 256
    def words(n):
        return " ".join(["w"] * n)

    rows = [
        (0, words(200), "en"),          # bin 1 (fill 200)
        (1, words(56), "en"),           # fits exactly: 200+56 == 256
        (2, words(1), "en"),            # overflow by 1 -> bin 2
        (3, words(cap + 10), "en"),     # oversize -> seals bin 2, own bin 3
        (4, words(5), "en"),            # successor of oversize -> bin 4
        (5, words(300), "de"),          # other shard starts at bin 1
        (6, words(2), "de"),            # -> bin 2
    ]
    sf = _write_docs(spark, tmp_path, rows, "pack_sf")
    got = {
        r["doc_id"]: (r["lang"], r["bin_id"], r["n_tokens"])
        for r in T.ta_seq_packing(spark, sf).collect()
    }
    assert got == {
        0: ("en", 1, 200),
        1: ("en", 1, 56),
        2: ("en", 2, 1),
        3: ("en", 3, cap + 10),
        4: ("en", 4, 5),
        5: ("de", 1, 300),
        6: ("de", 2, 2),
    }


def test_bigram_lm_hand_computed_and_short_doc_drops(spark, tmp_path):
    """Hand fold of the add-one bigram model on a 3-doc corpus; a
    1-token doc contributes to the vocab but emits no bigram row."""
    import math

    import information_extraction_spark.driver_queries.textdata as T

    rows = [(0, "a b a b", "en"), (1, "b a", "en"), (2, "c", "en")]
    sf = _write_docs(spark, tmp_path, rows, "bg_sf")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent"], r["ppl"])
        for r in T.ta_bigram_lm(spark, sf).collect()
    }
    # bigrams: doc0 = ab, ba, ab; doc1 = ba. c2: ab=2, ba=2.
    # histories: a as prev x2, b as prev x2. V = 3 (a, b, c).
    p_ab = (2 + 1) / (2 + 3)
    p_ba = (2 + 1) / (2 + 3)
    x0 = -(math.log(p_ab) * 2 + math.log(p_ba)) / 3
    x1 = -math.log(p_ba)
    assert got[0] == (3, round(x0, 4), round(math.exp(x0), 4))
    assert got[1] == (1, round(x1, 4), round(math.exp(x1), 4))
    assert 2 not in got and len(got) == 2


def test_heaps_law_first_occurrence_and_deciles(spark, tmp_path):
    """Hand corpus with 10 docs (one per decile): each word counts
    toward vocab only at its FIRST doc; token mass accumulates; a
    repeated-vocab tail shows a flat vocab_cum while tokens_cum keeps
    growing (the saturation signal)."""
    from information_extraction_spark.driver_queries.textdata import (
        ta_heaps_law,
    )

    rows = [
        (0, "a b", "en"),       # vocab 2, tokens 2
        (1, "a c c", "en"),     # +1 (c), tokens 3
        (2, "b a", "en"),       # +0, tokens 2
        (3, "d", "en"),         # +1, tokens 1
        (4, "a a a", "en"),     # +0, tokens 3
        (5, "e f", "en"),       # +2, tokens 2
        (6, "a", "en"),
        (7, "b", "en"),
        (8, "c", "en"),
        (9, "a b c d e f", "en"),  # +0, tokens 6
    ]
    sf = _write_docs(spark, str(tmp_path), rows, "heaps")
    got = {r["decile"]: r for r in ta_heaps_law(spark, sf).collect()}
    assert set(got) == set(range(10))
    assert (got[0]["docs_cum"], got[0]["tokens_cum"], got[0]["vocab_cum"]) \
        == (1, 2, 2)
    assert got[1]["vocab_cum"] == 3
    assert got[2]["vocab_cum"] == 3          # repeat-only doc adds none
    assert got[3]["vocab_cum"] == 4
    assert got[5]["vocab_cum"] == 6
    assert got[9]["vocab_cum"] == 6          # saturated tail stays flat
    assert got[9]["tokens_cum"] == 2 + 3 + 2 + 1 + 3 + 2 + 1 + 1 + 1 + 6
    assert got[9]["docs_cum"] == 10


def test_nb_classify_smoothing_oov_and_prior_only(spark, tmp_path):
    """Hand corpus: train = docs 0/2 (en: 'x x y', fr: 'y z').
    Vocab {x,y,z}, V=3; tok_en=3, tok_fr=2.
    Test doc 1 = 'x x q': q is OOV -> dropped; per-token micro-nats
    ln((c+1)/(tok_l+V)) with c_en(x)=2, c_fr(x)=0.
      en: prior ln(1/2) + 2*ln(3/6);  fr: prior ln(1/2) + 2*ln(1/5)
    -> en wins. Test doc 3 = 'q q' -> zero in-vocab tokens, prior
    alone; priors tie (1 doc each) -> lexicographic tie-break to
    'en'."""
    import math

    from information_extraction_spark.driver_queries.textdata import (
        ta_nb_classify,
    )

    rows = [
        (0, "x x y", "en"),
        (1, "x x q", "en"),
        (2, "y z", "fr"),
        (3, "q q", "fr"),
    ]
    sf = _write_docs(spark, str(tmp_path), rows, "nb")
    got = {r["doc_id"]: r for r in ta_nb_classify(spark, sf).collect()}
    assert set(got) == {1, 3}

    def u(x):
        return int(math.copysign(math.floor(abs(x) * 1e6 + 0.5), x))

    prior = u(math.log(0.5))
    en_score = prior + 2 * u(math.log(3 / 6))
    fr_score = prior + 2 * u(math.log(1 / 5))
    assert en_score > fr_score
    assert got[1]["pred_lang"] == "en"
    assert got[1]["score_u"] == en_score
    assert got[1]["correct"] == 1
    # prior-only doc: scores equal -> tie to 'en'; true lang fr
    assert got[3]["pred_lang"] == "en"
    assert got[3]["score_u"] == prior
    assert got[3]["correct"] == 0


def test_kn_smoothing_hand_corpus(spark, tmp_path):
    """Corpus 'a b a b a c': hand-computed interpolated KN with
    d = 3/4 — P(b|a) = 1.25/3 + (0.75*2/3)*(1/3), each term floored
    once in ppm; continuation counts distinguish b (follows only a)
    from a (follows only b)."""
    import os

    from information_extraction_spark.driver_queries.textdata import (
        ta_kn_smoothing,
    )

    df = spark.createDataFrame(
        [(1, "a b a b a c", "en", "s", 11)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    got = {
        (r.prev, r.cur): (
            r.c12, r.c1, r.n1p_fwd, r.n1p_bwd, r.p_kn_ppm
        )
        for r in ta_kn_smoothing(spark, str(tmp_path)).collect()
    }
    # bigrams: (a,b) x2, (b,a) x2, (a,c) x1; n_types = 3
    assert got[("a", "b")] == (2, 3, 2, 1, 416666 + 166666)
    assert got[("b", "a")] == (2, 2, 1, 1, 625000 + 125000)
    assert got[("a", "c")] == (1, 3, 2, 1, 83333 + 166666)


def test_seq_packing_skips_null_text(spark, tmp_path):
    """The documents contract allows NULL text; packing excludes it
    identically on both engines (a NULL token count crashed the fold
    as NaN before — found by the full-catalog NULL-injection sweep).
    Non-null docs pack exactly as if the NULL rows were absent."""
    import os

    from information_extraction_spark.driver_queries.textdata import (
        ta_seq_packing,
    )

    rows = [
        (1, "a b c", "en", "s", 5),
        (2, None, "en", "s", 0),
        (3, "d e", "en", "s", 3),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    got = {
        r.doc_id: (r.bin_id, r.n_tokens)
        for r in ta_seq_packing(spark, str(tmp_path)).collect()
    }
    assert got == {1: (1, 3), 3: (1, 2)}  # doc 2 absent, bin unbroken


def test_seat_alloc_remainder_ties_and_exact_budget(spark, tmp_path):
    """Hamilton apportionment: B=97 over strata sized 1:1:1 gives
    base 32 each (97*1 div 3), remainders all tied at 1 -> the ONE
    leftover seat goes to the lexicographically first lang; seats
    always sum exactly to the budget."""
    import os

    from information_extraction_spark.driver_queries.textdata import (
        ta_seat_alloc,
    )

    rows = []
    for i, lang in enumerate(["de", "en", "fr"]):
        rows.append((i, "t", lang, "s", 1))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    got = {
        r.lang: (r.base, r.rem, r.extra, r.seats)
        for r in ta_seat_alloc(spark, str(tmp_path)).collect()
    }
    assert got == {
        "de": (32, 1, 1, 33),  # tie -> lexicographically first
        "en": (32, 1, 0, 32),
        "fr": (32, 1, 0, 32),
    }
    assert sum(v[3] for v in got.values()) == 97
    # the conservation certificate is computed, not a literal
    rows = ta_seat_alloc(spark, str(tmp_path)).collect()
    assert all(r.conserved == 1 for r in rows)
