"""lloyd_kmeans vs a sequential no-Spark reference implementation:
random parity, the duplicate-init tie-break, and empty-cluster
centroid retention."""

from __future__ import annotations

import numpy as np


def _ref_kmeans(vs, k, iterations, round_dp=6):
    """Driver-side reference mirroring the documented contract: init =
    the k smallest vec_ids' vectors, squared-L2 argmin with ties to
    the lower cid, centroid components rounded HALF-AWAY-FROM-ZERO
    after each update (SQL ROUND semantics, not Python half-even),
    empty clusters keep their centroid. Distances accumulate in
    position order (plain Python sum, same as the engine's
    F.aggregate)."""
    import math

    def rha(x, dp):
        s = 10**dp
        return math.copysign(math.floor(abs(x) * s + 0.5), x) / s

    vs = [[float(x) for x in v] for v in vs]
    cents = {i: list(vs[i]) for i in range(k)}

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    def assign():
        return {
            vid: min((d2(v, cents[c]), c) for c in sorted(cents))
            for vid, v in enumerate(vs)
        }

    for _ in range(iterations):
        a = assign()
        for cid in sorted(cents):
            members = [vs[vid] for vid, (_, c) in a.items() if c == cid]
            if members:
                dim = len(members[0])
                cents[cid] = [
                    rha(sum(m[p] for m in members) / len(members), round_dp)
                    for p in range(dim)
                ]
    return {vid: (c, round(d, 4)) for vid, (d, c) in assign().items()}


def _run(spark, vecs, k, iterations):
    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cid"], r["dist2"])
        for r in lloyd_kmeans(df, k=k, iterations=iterations).collect()
    }
    # The engine casts float32 -> double exactly; the reference must
    # see the same float32-quantized values.
    quant = [np.array(v, dtype=np.float32).astype(np.float64) for v in vecs]
    return got, _ref_kmeans(quant, k, iterations)


def test_kmeans_matches_reference_on_random_vectors(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(30, 6))
    got, want = _run(spark, vecs, k=3, iterations=3)
    assert got == want


def test_kmeans_single_iteration_and_k_equals_n(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(5, 4))
    got, want = _run(spark, vecs, k=5, iterations=1)
    assert got == want
    # every vector IS a centroid: all dist2 == 0 after one iteration
    # of singleton clusters
    assert all(d == 0.0 for _, d in got.values())


def test_kmeans_duplicate_init_tie_break_and_empty_cluster(spark):
    # v0 == v1 == [0]: init c0 = c1 = [0]. Every point ties between
    # them -> lower cid wins -> c1 goes EMPTY and must keep centroid
    # [0] while c0 moves to the running mean. The reference encodes
    # exactly that contract; parity proves the engine honors it.
    vecs = [[0.0], [0.0], [5.0]]
    got, want = _run(spark, vecs, k=2, iterations=1)
    assert got == want
    # After the update c0 = mean(0,0,5) = 1.666667, c1 retained [0]:
    # the zero vectors re-assign to the RETAINED empty centroid.
    assert got[0][0] == 1 and got[1][0] == 1 and got[0][1] == 0.0
    assert got[2][0] == 0


def test_kmeans_raises_below_k_vectors(spark):
    import pytest

    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    df = spark.createDataFrame(
        [(0, [0.0]), (1, [1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        lloyd_kmeans(df, k=3, iterations=1)


def _ref_pq(vs, q, m, n_cw, k, exclude_id):
    import math

    dim = len(q)
    dsub = dim // m

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    cbs = [
        [(cid, vs[cid][s * dsub : (s + 1) * dsub]) for cid in range(n_cw)]
        for s in range(m)
    ]
    dtab = [
        [d2(q[s * dsub : (s + 1) * dsub], cw) for _, cw in cbs[s]]
        for s in range(m)
    ]
    out = []
    for vid, v in enumerate(vs):
        if vid == exclude_id:
            continue
        adc = 0.0
        for s in range(m):
            code = min(
                (d2(v[s * dsub : (s + 1) * dsub], cw), cid)
                for cid, cw in cbs[s]
            )[1]
            adc += dtab[s][code]
        out.append((round(adc, 6), vid))
    out.sort()
    # HALF_UP display rounding, matching F.round / DuckDB ROUND
    return [
        (vid, i + 1, math.floor(a * 10**4 + 0.5) / 10**4)
        for i, (a, vid) in enumerate(out[:k])
    ]


def test_pq_adc_matches_reference(spark):
    from information_extraction_spark.operators.clustering import (
        pq_adc_topk,
    )

    rng = np.random.default_rng(11)
    raw = rng.normal(size=(40, 16))
    quant = [
        list(np.array(v, dtype=np.float32).astype(np.float64))
        for v in raw
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(raw)],
        "vec_id long, embedding array<float>",
    )
    got = [
        (r["vec_id"], r["rank"], r["adc"])
        for r in pq_adc_topk(
            df, quant[0], m=4, n_codewords=8, k=5, exclude_id=0
        )
        .orderBy("rank")
        .collect()
    ]
    assert got == _ref_pq(quant, quant[0], m=4, n_cw=8, k=5, exclude_id=0)


def test_pq_rejects_bad_dim_and_short_table(spark):
    import pytest

    from information_extraction_spark.operators.clustering import (
        pq_adc_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError):
        pq_adc_topk(df, [0.0, 0.0, 0.0], m=2)  # 3 % 2 != 0
    with pytest.raises(ValueError):
        pq_adc_topk(df, [0.0, 0.0, 0.0], m=3, n_codewords=16)


def test_train_pq_codebooks_matches_per_slice_kmeans(spark):
    """The fused all-subspaces training pass must equal running the
    sequential k-means reference independently on each slice —
    including the half-away centroid rounding and empty-codeword
    retention contracts."""
    import math

    rng = np.random.default_rng(23)
    raw = rng.normal(size=(30, 8))
    quant = [
        list(np.array(v, dtype=np.float32).astype(np.float64))
        for v in raw
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(raw)],
        "vec_id long, embedding array<float>",
    )
    from information_extraction_spark.operators.clustering import (
        train_pq_codebooks,
    )

    m, dsub, n_cw, iters = 4, 2, 5, 2
    got = train_pq_codebooks(df, m=m, n_codewords=n_cw, iterations=iters)

    def rha(x, dp=6):
        s = 10**dp
        return math.copysign(math.floor(abs(x) * s + 0.5), x) / s

    def ref_slice(vs, k, iterations):
        cents = {i: list(vs[i]) for i in range(k)}

        def d2(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += (x - y) * (x - y)
            return acc

        for _ in range(iterations):
            assign = {
                vid: min((d2(v, cents[c]), c) for c in sorted(cents))[1]
                for vid, v in enumerate(vs)
            }
            for cid in sorted(cents):
                mem = [vs[vid] for vid, c in assign.items() if c == cid]
                if mem:
                    cents[cid] = [
                        rha(sum(x[p] for x in mem) / len(mem))
                        for p in range(len(mem[0]))
                    ]
        return cents

    for s in range(m):
        vs = [v[s * dsub : (s + 1) * dsub] for v in quant]
        want = ref_slice(vs, n_cw, iters)
        assert {cid: cw for cid, cw in got[s]} == want


def test_emb_outliers_integer_rule_parity(spark, tmp_path):
    """emb_outliers must equal the integer rule applied to the
    trusted lloyd_kmeans assignments: dq * n * 100 > 108 * sum_q,
    ratio_ppm = dq * n * 10^6 div sum_q."""
    import os

    from information_extraction_spark.driver_queries.textdata import (
        emb_outliers,
    )
    from information_extraction_spark.operators.clustering import (
        lloyd_kmeans,
    )

    rng = __import__("random").Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], 0) for i in range(40)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    assigned = lloyd_kmeans(
        spark.read.parquet(os.path.join(sf, "embeddings.parquet")),
        k=8,
        iterations=3,
    ).collect()
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    dq = {}
    for r in assigned:
        q = round(r["dist2"] * 10000)
        dq[r["vec_id"]] = (r["cid"], q, r["dist2"])
        agg[r["cid"]][0] += 1
        agg[r["cid"]][1] += q
    want = {}
    for vid, (cid, q, d2) in dq.items():
        n, sum_q = agg[cid]
        if q * n * 100 > 108 * sum_q:
            want[vid] = (cid, d2, q * n * 1000000 // sum_q)
    got = {
        r["vec_id"]: (r["cid"], r["dist2"], r["ratio_ppm"])
        for r in emb_outliers(spark, sf).collect()
    }
    assert got == want
    assert want, "fixture must produce at least one outlier"


def test_power_iteration_pca_recovers_dominant_axis(spark):
    # Vectors spread along axis 0 with small axis-1 jitter: the top
    # principal direction is ~e0, so projections must order with the
    # (centered) first coordinate and carry ~its magnitude.
    import numpy as np
    from information_extraction_spark.operators.clustering import (
        power_iteration_pca,
    )

    dim = 8
    rows = []
    for i in range(40):
        v = [0.0] * dim
        v[0] = float(i)  # dominant spread
        v[1] = float((i * 7) % 5) * 0.01  # jitter
        rows.append((i, v))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["proj"]
        for r in power_iteration_pca(df, dim=dim, iterations=3).collect()
    }
    projs = [got[i] for i in range(40)]
    # monotone in the dominant coordinate (sign fixed by the init)
    assert all(b > a for a, b in zip(projs, projs[1:]))
    centered = np.arange(40) - 19.5
    corr = np.corrcoef(np.array(projs), centered)[0, 1]
    assert corr > 0.9999


def test_power_iteration_pca_projection_sums_to_zero(spark):
    # Mean-centering contract: projections of centered data onto any
    # fixed direction sum to ~0 (up to the 6dp mean rounding).
    from information_extraction_spark.operators.clustering import (
        power_iteration_pca,
    )

    rows = [(i, [float((i * 13) % 7), float((i * 5) % 11)]) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = power_iteration_pca(df, dim=2, iterations=3).collect()
    assert abs(sum(r["proj"] for r in out)) < 0.01


def test_linreg_gd_matches_sequential_mirror(spark):
    # The distributed loop must equal a pure-Python mirror of the
    # same quantized update rule, prediction for prediction.
    from information_extraction_spark.operators.clustering import (
        _round_half_away,
        linreg_gd,
    )

    dim, n, iters, lr = 4, 20, 3, 0.1
    rows = []
    for i in range(n):
        x = [((i * (j + 3)) % 7) / 7.0 for j in range(dim)]
        y = (i * 5) % 3
        rows.append((i, x, y))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r["vec_id"]: r["pred"]
        for r in linreg_gd(df, dim=dim, iterations=iters, lr=lr).collect()
    }

    w = [0.0] * dim
    b = 0.0
    for _ in range(iters):
        s = [0] * dim
        sb = 0
        for _, x, y in rows:
            acc = 0.0
            for xi, wi in zip(x, w):
                acc += xi * wi
            err = acc + b - float(y)
            for j in range(dim):
                s[j] += int(
                    _round_half_away(err * x[j] * 1e6, 0)
                )
            sb += int(_round_half_away(err * 1e6, 0))
        w = [
            _round_half_away(w[j] - lr * (2.0 * (s[j] / 1e6) / n), 6)
            for j in range(dim)
        ]
        b = _round_half_away(b - lr * (2.0 * (sb / 1e6) / n), 6)
    for i, x, y in rows:
        acc = 0.0
        for xi, wi in zip(x, w):
            acc += xi * wi
        exp = _round_half_away(acc + b, 4) + 0.0
        assert got[i] == exp


def test_linreg_gd_loss_decreases(spark):
    # Three rounds must fit better than zero rounds on a linearly
    # generated target.
    from information_extraction_spark.operators.clustering import (
        linreg_gd,
    )

    rows = [
        (i, [float(i % 5), float((i * 3) % 4)], (i % 5) * 2 + 1)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r["vec_id"]: r["pred"]
        for r in linreg_gd(df, dim=2, iterations=3, lr=0.05).collect()
    }
    mse3 = sum((got[i] - y) ** 2 for i, _, y in rows) / len(rows)
    mse0 = sum(float(y) ** 2 for _, _, y in rows) / len(rows)
    assert mse3 < mse0 * 0.8


def test_emb_quantize_exact_halfaway_and_zero_vector(spark, tmp_path):
    """Int8 codes are the exact half-away rounding of xi6*127/m6 in
    pure BIGINT; the max-component quantizes to ±127 exactly; an
    all-zero vector is excluded (no scale)."""
    import os

    import pandas as pd

    from information_extraction_spark.driver_queries.textdata import (
        emb_quantize,
    )

    vecs = [
        # max |x| = 0.5 -> m6 = 500000. x=0.25 -> 63.5 -> half-away 64.
        [0.5, -0.25, 0.0] + [0.0] * 61,
        [0.0] * 64,  # excluded
    ]
    pdf = pd.DataFrame(
        {"vec_id": [0, 1], "embedding": vecs, "label": [0, 0]}
    )
    d = str(tmp_path / "qz")
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(d, "embeddings.parquet")
    )
    rows = emb_quantize(spark, d).collect()
    assert {r["vec_id"] for r in rows} == {0}
    got = {r["dim_i"]: (r["q"], r["m6"]) for r in rows}
    assert got[0] == (127, 500000)
    assert got[1] == (-64, 500000)   # -63.5 rounds away to -64
    assert got[2] == (0, 500000)


def test_knn_graph_and_triplet_mining_hand_case(spark, tmp_path):
    """Deterministic ranking: neighbors order by (cos4 DESC, nb ASC);
    triplet mining picks the most-similar DIFFERENT-label vector and
    skips a same-label one even when it is closer. Fixture note:
    k-means init takes the 8 SMALLEST vec_ids as centroids, so the
    clustered test vectors carry ids 8-10 (they fall into id 0's
    cluster); ids 1-7 are far-off singleton fillers."""
    import os

    import numpy as np
    import pandas as pd

    from information_extraction_spark.driver_queries.textdata import (
        emb_knn_graph,
        emb_triplet_mining,
    )

    base = [1.0] + [0.0] * 63
    near = lambda eps: [1.0, eps] + [0.0] * 62  # noqa: E731
    vecs = [base]
    for d in range(7):          # ids 1..7: far singleton fillers
        v = [0.0] * 64
        v[20 + d] = 1.0
        vecs.append(v)
    vecs += [near(0.01), near(0.02), near(0.03)]  # ids 8, 9, 10
    labels = [0, 2, 2, 2, 2, 2, 2, 2, 0, 1, 1]
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(11)),
            "embedding": vecs,
            "label": labels,
        }
    )
    d = str(tmp_path / "knn")
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(d, "embeddings.parquet")
    )
    got = {
        (r["src"], r["rank"]): r["nb"]
        for r in emb_knn_graph(spark, d).collect()
        if r["src"] == 8
    }
    # Expected order for anchor 8 among cluster {0, 8, 9, 10}:
    # (cos4 DESC, nb ASC) computed independently in numpy.
    X = np.array(vecs)
    cl = [0, 9, 10]
    cos4 = {
        j: round(float(X[8] @ X[j] /
                       (np.linalg.norm(X[8]) * np.linalg.norm(X[j]))), 4)
        for j in cl
    }
    want = [j for j in sorted(cl, key=lambda j: (-cos4[j], j))]
    assert [got[(8, k)] for k in (1, 2, 3)] == want
    t = {
        r["src"]: (r["hard_neg"], r["neg_label"])
        for r in emb_triplet_mining(spark, d).collect()
    }
    # Anchor 8 (label 0): candidates with a DIFFERENT label in its
    # cluster are 9 and 10 (label 1); 9 is closer -> the hard
    # negative, even though 0 (same label) is closer still.
    assert t[8] == (9, 1)


def test_coreset_farthest_point_traversal_order(spark, tmp_path):
    """1-D pool at positions 0,100,50,25,75,12,37,63,88 (ids 1..9):
    the traversal must visit them in exactly that binary-refinement
    order, ties broken by vec_id asc, with the hand-computed squared
    distances at each pick."""
    import os

    from information_extraction_spark.driver_queries.textdata import (
        emb_coreset,
    )

    pos = [0.0, 100.0, 50.0, 25.0, 75.0, 12.0, 37.0, 63.0, 88.0]
    rows = [(i + 1, [p], 0) for i, p in enumerate(pos)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    got = [
        (r["step"], r["vec_id"], r["d6"])
        for r in sorted(emb_coreset(spark, sf).collect())
    ]
    assert got == [
        (0, 1, None),
        (1, 2, 10000.0),
        (2, 3, 2500.0),
        (3, 4, 625.0),
        (4, 5, 625.0),
        (5, 6, 144.0),
        (6, 7, 144.0),
        (7, 8, 144.0),
    ]


def test_silhouette_matches_sequential_reference(spark, tmp_path):
    """emb_silhouette vs an independent driver-side reference: run the
    same Lloyd contract sequentially, then compute a (own-centroid
    d2), b (nearest-other d2), s_ppm = ((b4-a4)*10^6) div max(a4,b4)
    with 4dp BIGINT quantization and integer-div cluster means —
    including an engineered on-centroid vector (a=0 -> s_ppm
    exactly 10^6)."""
    import math
    import os

    from information_extraction_spark.driver_queries.textdata import (
        emb_silhouette,
    )

    def rha(x, dp):
        s = 10**dp
        return math.copysign(math.floor(abs(x) * s + 0.5), x) / s

    rng = __import__("random").Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    vecs[20] = list(vecs[3])  # duplicate of an init centroid's seed
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )

    # float32 write quantization, same as the engine sees
    q = [list(np.array(v, dtype=np.float32).astype(np.float64)) for v in vecs]
    cents = {i: list(q[i]) for i in range(8)}

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    for _ in range(3):
        assign = {
            vid: min((d2(v, cents[c]), c) for c in sorted(cents))[1]
            for vid, v in enumerate(q)
        }
        for cid in sorted(cents):
            members = [q[v] for v, c in assign.items() if c == cid]
            if members:
                cents[cid] = [
                    rha(sum(m[p] for m in members) / len(members), 6)
                    for p in range(64)
                ]

    per_cluster: dict[int, list[int]] = {}
    for vid, v in enumerate(q):
        ds = sorted((d2(v, cents[c]), c) for c in sorted(cents))
        (da, cid), (db, _) = ds[0], ds[1]
        a4, b4 = int(rha(da * 10000, 0)), int(rha(db * 10000, 0))
        s = 0 if max(a4, b4) == 0 else ((b4 - a4) * 1_000_000) // max(a4, b4)
        per_cluster.setdefault(cid, []).append(s)

    expect = {
        cid: (len(ss), sum(ss) // len(ss), min(ss))
        for cid, ss in per_cluster.items()
    }
    got = {
        r["cid"]: (r["n_vecs"], r["mean_s_ppm"], r["min_s_ppm"])
        for r in emb_silhouette(spark, sf).collect()
    }
    assert got == expect
    # the duplicated-seed vector sits ON its centroid only if its
    # cluster is a singleton pair that averaged to itself — instead
    # pin the invariant everywhere: s_ppm bounded by [-1e6, 1e6]
    assert all(-1_000_000 <= s <= 1_000_000 for ss in per_cluster.values()
               for s in ss)


# vec_id offsets every dbscan case runs at: ids as written, and ids
# shifted past 10^8 (and 2^31), where a fixed-width rendering of the id
# would truncate.
_DBSCAN_ID_OFFSETS = (0, 3_000_000_000)


def _run_dbscan(spark, pts_q, eps_q, min_pts):
    """pts_q: list of (vec_id, qx, qy) in quantized units; embeds them
    back at scale 10^4 so dbscan_grid re-quantizes to exactly pts_q.
    Runs once per offset in _DBSCAN_ID_OFFSETS, shifts the labels back,
    and requires every offset to give the same labels."""
    from information_extraction_spark.operators.clustering import (
        dbscan_grid,
    )

    runs = []
    for off in _DBSCAN_ID_OFFSETS:
        df = spark.createDataFrame(
            [(i + off, [x / 10000.0, y / 10000.0]) for i, x, y in pts_q],
            "vec_id long, embedding array<float>",
        )
        rows = dbscan_grid(df, eps_q=eps_q, min_pts=min_pts).collect()
        runs.append(
            {
                r["vec_id"] - off: (
                    r["cluster_id"] - off if r["cluster_id"] >= 0 else -1,
                    r["is_core"],
                )
                for r in rows
            }
        )
    assert all(run == runs[0] for run in runs), runs
    return runs[0]


def test_dbscan_core_border_noise_semantics(spark):
    # eps=10, min_pts=3. Cluster A: 0,1,2 mutually within eps (core).
    # Point 3 is within eps of core 0 only -> border of A.
    # Point 4 is isolated -> noise. Chain test: 5,6,7 colinear spaced
    # 8 apart: 6 sees 5 and 7 (core); 5 and 7 see only 6 (border) --
    # density-connected through 6 into ONE cluster labeled min core 6.
    pts = [
        (0, 0, 0),
        (1, 5, 0),
        (2, 0, 5),
        (3, -9, 0),
        (4, 100, 100),
        (5, 200, 0),
        (6, 208, 0),
        (7, 216, 0),
    ]
    got = _run_dbscan(spark, pts, eps_q=10, min_pts=3)
    assert got[0] == (0, 1) and got[1] == (0, 1) and got[2] == (0, 1)
    assert got[3] == (0, 0)  # border of cluster 0
    assert got[4] == (-1, 0)  # noise
    assert got[5] == (6, 0) and got[7] == (6, 0)  # borders via chain
    assert got[6] == (6, 1)  # the only core in its cluster


def test_dbscan_border_min_label_and_cell_boundaries(spark):
    # Two 4-point cores 30 apart; point 8 sits within eps of ONE core
    # point from EACH (2 neighbors + self = 3 < min_pts=4, so it stays
    # border, not a bridging core) -> ambiguous border, must take the
    # MIN cluster label. Coordinates negative/positive straddle cell 0
    # to exercise the shifted integer cell division.
    pts = [
        (0, -15, 0),
        (1, -20, 0),
        (2, -15, 5),
        (6, -20, 5),
        (3, 15, 0),
        (4, 20, 0),
        (5, 15, 5),
        (7, 20, 5),
        (8, 0, 0),  # within eps=15 of 0 (-15,0) and 3 (15,0) only
    ]
    got = _run_dbscan(spark, pts, eps_q=15, min_pts=4)
    assert got[0] == (0, 1) and got[3] == (3, 1)
    assert got[8] == (0, 0)  # min cluster label wins


def test_dbscan_isolated_core_singleton(spark):
    # min_pts=2: a pair 9 apart are both core of one cluster; a lone
    # point is noise; eps exactly equal to the distance is INCLUSIVE.
    pts = [(10, 0, 0), (11, 9, 0), (12, 50, 50)]
    got = _run_dbscan(spark, pts, eps_q=9, min_pts=2)
    assert got[10] == (10, 1) and got[11] == (10, 1)
    assert got[12] == (-1, 0)
