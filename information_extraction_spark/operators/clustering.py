"""Distributed Lloyd's k-means over an embedding column.

The training-data pipeline's clustering primitive: topic/domain
clustering of document embeddings (cluster-balanced sampling,
near-dup triage, domain-mix curation all start from an assignment
table). The reference has no clustering stage — this generalizes its
nearest-candidate selection (the same argmin-over-centroids shape as
the IVF quantizer assignment in driver_queries/textdata.py) into the
standard fixed-iteration Lloyd loop.

Scale shape (what survives 100 TB of vectors):

- Centroids are a k×dim literal — broadcast by construction (they are
  baked into the plan as a column literal, not even a broadcast
  exchange). The ASSIGNMENT pass is therefore completely narrow: one
  whole-stage-codegen map over the vector table per iteration, no
  crossJoin row expansion, no shuffle.
- The UPDATE pass is ONE map-side-combined shuffle per iteration,
  keyed on (cid, pos) — k×dim groups regardless of corpus size, and
  partial aggregation collapses each map task's contribution to at
  most k×dim rows before the exchange.
- The per-iteration driver collect is exactly k×dim averaged floats
  (the same bounded-dim collect as the IVF quantizer) — never the
  vectors.
- Iteration count is FIXED (a hyperparameter), so the loop runs a
  deterministic number of jobs and the result is exactly expressible
  as chained SQL CTEs — which is what the DuckDB oracle does.

Determinism contract (shared with the oracle): init centroids are the
vectors with the k smallest ids; updated centroid components round to
``round_dp`` decimals (double sums are order-sensitive at ~1e-15 —
rounding makes both engines agree; 6dp keeps the flip probability per
component around 1e-9 while distorting geometry not at all); empty
clusters keep their previous centroid; argmin ties break on the lower
cid. Distances are SQUARED L2 in pure double arithmetic, accumulated
in position order on both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _round_half_away(x: float, dp: int) -> float:
    """Round half away from zero — the semantic BOTH engines' SQL
    ROUND uses (DuckDB ROUND, Spark F.round/HALF_UP). Python's
    built-in round() is half-EVEN and disagrees on binary-exact
    halves (the same trap pq_adc_topk documents for its display
    rounding), so centroid updates must not use it."""
    s = 10**dp
    return math.copysign(math.floor(abs(x) * s + 0.5), x) / s


def _dist2(v, c):
    """Squared L2 between two array<double> columns, accumulated in
    position order (deterministic double arithmetic, matching the
    oracle's list_sum over list_transform)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroid_literal(cents: list[tuple[int, list[float]]]):
    """k centroids as a plan literal: array<struct<cid:int,
    c:array<double>>>. k×dim literals — the broadcast-by-construction
    side of the assignment map."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("c"),
            )
            for cid, vec in cents
        ]
    )


def assign_to_centroids(
    vectors: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(vec_id, v, cid, dist2): each vector assigned to its nearest
    centroid (squared L2, ties to the lower cid). Completely narrow —
    the k distances and the argmin evaluate per-row inside one
    codegen stage; nothing shuffles."""
    best = F.array_min(
        F.transform(
            _centroid_literal(cents),
            lambda s: F.struct(
                _dist2(F.col("v"), s.c).alias("d"), s.cid.alias("cid")
            ),
        )
    )
    return vectors.withColumn("_b", best).select(
        "vec_id",
        "v",
        F.col("_b.cid").alias("cid"),
        F.col("_b.d").alias("dist2"),
    )


def lloyd_centroids(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    round_dp: int = 6,
) -> list[tuple[int, list[float]]]:
    """The Lloyd loop alone: returns the iteration-``iterations``
    centroids as (cid, vector) pairs under lloyd_kmeans's determinism
    contract (k-smallest-vec_id init, half-away round_dp rounding per
    update, empty clusters keep their centroid). Consumers that need
    the centroids themselves (silhouette, ADC training seams) share
    this so the contract lives in exactly one place."""
    v = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # Bounded collect: exactly k rows (the IVF-quantizer pattern).
    init = v.orderBy("vec_id").limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init)}")
    cents = [(i, list(r["v"])) for i, r in enumerate(init)]

    for _ in range(iterations):
        members = assign_to_centroids(v, cents)
        # ONE map-side-combined shuffle: k×dim groups total.
        sums = (
            members.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = _round_half_away(
                r["m"], round_dp
            )
        cents = [
            (
                cid,
                [by_cid[cid][p] for p in range(len(prev))]
                if cid in by_cid
                else prev,  # empty cluster keeps its centroid
            )
            for cid, prev in cents
        ]

    return cents


def lloyd_kmeans(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means over (vec_id, embedding) rows.

    Returns (vec_id, cid, dist2) — the final assignment under the
    iteration-``iterations`` centroids, dist2 rounded to 4dp. Init
    centroids are the k smallest vec_ids' vectors (deterministic,
    oracle-expressible); see the module docstring for the full
    determinism contract and scale shape.
    """
    cents = lloyd_centroids(vectors, k, iterations, round_dp)
    v = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    return assign_to_centroids(v, cents).select(
        "vec_id", "cid", F.round("dist2", 4).alias("dist2")
    )


# --- Product quantization (ADC) ----------------------------------------------
#
# The 100 TB ANN scan shape: vectors compress to m sub-space codes; a
# query probes by (1) building an m×n_codewords distance table ONCE on
# the driver, then (2) one completely NARROW pass over the corpus —
# per row, m argmins against literal codebooks plus m table lookups —
# feeding TakeOrderedAndProject. No shuffle anywhere; scan cost is the
# only cost, which is the whole point of PQ (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search" — asymmetric
# distance computation, eq. 12-13).
#
# Codebooks here are DATA-SAMPLED (the first n_codewords vectors'
# sub-vectors) so the whole operator stays oracle-expressible; a
# production pipeline trains each sub-space codebook with
# ``lloyd_kmeans`` above — the seam is the codebooks argument.


def _seq_d2(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += (float(x) - float(y)) * (float(x) - float(y))
    return acc


def pq_codebooks(head_vectors: list[list[float]], m: int, dsub: int):
    """Codebooks from the first n_codewords vectors: codebooks[s] =
    [(cid, sub-vector)] for sub-space s. Driver-side, bounded
    (n_codewords × dim floats)."""
    return [
        [
            (cid, [float(x) for x in vec[s * dsub : (s + 1) * dsub]])
            for cid, vec in enumerate(head_vectors)
        ]
        for s in range(m)
    ]


def pq_encode_expr(v_col, codebooks):
    """array<int> of per-sub-space code assignments (squared-L2
    argmin against the literal codebook, ties to the lower cid) —
    evaluates per-row inside one codegen stage, no shuffle."""
    codes = []
    for s, cws in enumerate(codebooks):
        dsub = len(cws[0][1])
        sub = F.slice(v_col, s * dsub + 1, dsub)
        best = F.array_min(
            F.array(
                *[
                    F.struct(
                        _dist2(
                            sub, F.array(*[F.lit(x) for x in cw])
                        ).alias("d"),
                        F.lit(int(cid)).alias("cid"),
                    )
                    for cid, cw in cws
                ]
            )
        )
        codes.append(best.cid)
    return F.array(*codes)


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    n_codewords: int = 16,
    iterations: int = 1,
    round_dp: int = 6,
) -> list[list[tuple[int, list[float]]]]:
    """Lloyd-train the m sub-space codebooks (the real PQ training
    step, Jégou et al. §III: an independent k-means per sub-space).

    All m sub-space k-means run TOGETHER in one distributed pass per
    iteration: the vector table explodes to (vec_id, s, subvec) rows
    once; the assignment is a narrow map against an s-indexed literal
    of all m codebooks (element_at picks the sub-space's centroids
    per row); the update is ONE map-side-combined shuffle keyed on
    (s, cid, pos) — m×k×dsub groups total regardless of corpus size
    — and the per-iteration driver collect is exactly that bounded
    table. Init and determinism contract match lloyd_kmeans (init =
    the n_codewords smallest vec_ids' sub-vectors; centroid
    components rounded half-away at ``round_dp`` per update; argmin
    ties to the lower cid; empty codewords keep their previous
    value).
    """
    v = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    head = v.orderBy("vec_id").limit(n_codewords).collect()
    if len(head) < n_codewords:
        raise ValueError(
            f"need {n_codewords} vectors for codebooks, got {len(head)}"
        )
    dim = len(head[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    cbs = pq_codebooks([list(r["v"]) for r in head], m, dsub)

    # (vec_id, s, subvec) — one narrow explode, reused each iteration.
    sub = v.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("v", s * dsub + 1, dsub) for s in range(m)])
        ).alias("s", "sv"),
    )
    for _ in range(iterations):
        # s-indexed literal of ALL m codebooks; element_at picks the
        # row's sub-space — assignment stays a zero-shuffle map.
        cents_lit = F.array(
            *[
                F.array(
                    *[
                        F.struct(
                            F.lit(int(cid)).alias("cid"),
                            F.array(*[F.lit(float(x)) for x in cw]).alias(
                                "c"
                            ),
                        )
                        for cid, cw in cbs[s]
                    ]
                )
                for s in range(m)
            ]
        )
        best = F.array_min(
            F.transform(
                F.element_at(cents_lit, F.col("s") + 1),
                lambda e: F.struct(
                    _dist2(F.col("sv"), e.c).alias("d"),
                    e.cid.alias("cid"),
                ),
            )
        )
        sums = (
            sub.withColumn("_cid", best.cid)
            .select("s", "_cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("s", "_cid", "pos")
            .agg(F.avg("val").alias("mean"))
            .collect()  # bounded: m × k × dsub rows
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in sums:
            upd.setdefault((r["s"], r["_cid"]), {})[r["pos"]] = (
                _round_half_away(r["mean"], round_dp)
            )
        cbs = [
            [
                (
                    cid,
                    [upd[(s, cid)][p] for p in range(dsub)]
                    if (s, cid) in upd
                    else prev,  # empty codeword keeps its value
                )
                for cid, prev in cbs[s]
            ]
            for s in range(m)
        ]
    return cbs


def pq_adc_topk(
    vectors: DataFrame,
    query: list[float],
    m: int = 8,
    n_codewords: int = 16,
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k with DATA-SAMPLED codebooks (the
    first n_codewords vectors' sub-vectors); see
    ``pq_adc_topk_with_codebooks`` for the scan itself and
    ``train_pq_codebooks`` for the Lloyd-trained variant."""
    dim = len(query)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    head = vectors.orderBy("vec_id").limit(n_codewords).collect()
    if len(head) < n_codewords:
        raise ValueError(
            f"need {n_codewords} vectors for codebooks, got {len(head)}"
        )
    cbs = pq_codebooks([list(r["embedding"]) for r in head], m, dsub)
    return pq_adc_topk_with_codebooks(
        vectors, query, cbs, k=k, exclude_id=exclude_id
    )


def pq_adc_topk_with_codebooks(
    vectors: DataFrame,
    query: list[float],
    cbs: list[list[tuple[int, list[float]]]],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: encode every vector to m codes, then
    approximate dist²(q, v) ≈ Σ_s dtab[s][code_s] where dtab is the
    query-to-codeword distance table (computed once, driver-side, in
    sequential double arithmetic — the order the oracle's list_sum
    uses). ADC rounds to 6dp before ranking (ties then break on
    vec_id); returns (vec_id, rank, adc) with adc displayed at 4dp.

    Scale shape: ONE narrow scan (encode + m element_at lookups per
    row) into TakeOrderedAndProject — each partition keeps its local
    top-k; nothing shuffles. Codebooks and dtab are plan literals.
    """
    m = len(cbs)
    dsub = len(cbs[0][0][1])
    if len(query) != m * dsub:
        raise ValueError(
            f"query dim {len(query)} != m*dsub {m * dsub}"
        )
    q = [float(x) for x in query]
    dtab = [
        [_seq_d2(q[s * dsub : (s + 1) * dsub], cw) for _, cw in cbs[s]]
        for s in range(m)
    ]

    v = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    if exclude_id is not None:
        v = v.filter(F.col("vec_id") != int(exclude_id))
    coded = v.withColumn("_codes", pq_encode_expr(F.col("v"), cbs))
    adc = None
    for s in range(m):
        term = F.element_at(
            F.array(*[F.lit(d) for d in dtab[s]]),
            F.col("_codes")[s] + 1,
        )
        adc = term if adc is None else adc + term
    top = (
        coded.withColumn("_adc6", F.round(adc, 6))
        .orderBy("_adc6", "vec_id")
        .limit(k)
        # HALF_UP at 4dp like the oracle's ROUND — Python's round()
        # is half-even and can disagree on binary-exact halves.
        .select("vec_id", F.round("_adc6", 4).alias("_adc4"))
        .collect()
    )
    rows = [(r["vec_id"], i + 1, r["_adc4"]) for i, r in enumerate(top)]
    return vectors.sparkSession.createDataFrame(
        rows, "vec_id long, rank int, adc double"
    )


def _dot(v, c):
    """Dot product of two array<double> columns, accumulated in
    position order (same deterministic fold as _dist2)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def power_iteration_pca(
    vectors: DataFrame,
    dim: int = 64,
    iterations: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Top principal direction of the mean-centered embedding table by
    FIXED-round power iteration on the covariance operator, returning
    each vector's projection onto it — the 1-D curation coordinate
    (sort-by-first-PC sharding, spectral outlier triage, the seed
    direction for PCA-tree partitioning) training-data pipelines
    derive before any heavier factorization. Returns (vec_id, proj)
    with proj = round(<x - mean, v_final>, 4).

    The d×d covariance never materializes: each round computes
    sum_rows((x·v) * x) directly — a mat-vec against the data — so
    the cost per round is one narrow map (the in-order dot) plus ONE
    map-side-combined shuffle keyed on the dim positions (dim groups
    regardless of corpus size), and the driver collect is exactly
    dim scalars per round (the kmeans/IVF bounded-collect rule).

    Determinism contract (shared with the DuckDB oracle, the
    emb_kmeans playbook): per-row contributions quantize to integer
    micro-units before the cross-row sum (BIGINT adds commute — a
    double sum over an unordered shuffle does not); the per-row dot
    folds in position order (identical IEEE doubles both engines);
    the mean and each normalized iterate round half-away-from-zero to
    ``round_dp``; the init is the constant unit vector
    round(1/sqrt(dim), round_dp). Sign is pinned by the init.
    """
    e = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("x"),
    )
    n = e.count()
    pos = e.select(F.posexplode("x").alias("i", "xi"))
    msums = (
        pos.groupBy("i")
        .agg(F.sum(F.round(F.col("xi") * 1e6).cast("long")).alias("s"))
        .collect()
    )
    by_i = {r["i"]: r["s"] for r in msums}
    mean = [
        _round_half_away((by_i.get(i, 0) / 1e6) / n, round_dp)
        for i in range(dim)
    ]
    mean_lit = F.array(*[F.lit(float(m)) for m in mean])
    c = e.select(
        "vec_id",
        F.zip_with("x", mean_lit, lambda x, m: x - m).alias("x"),
    )
    v = [_round_half_away(1.0 / math.sqrt(dim), round_dp)] * dim
    for _ in range(iterations):
        v_lit = F.array(*[F.lit(float(vi)) for vi in v])
        d = c.withColumn("dot", _dot(F.col("x"), v_lit))
        srows = (
            d.select("dot", F.posexplode("x").alias("i", "xi"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(F.col("dot") * F.col("xi") * 1e6).cast("long")
                ).alias("s")
            )
            .collect()
        )
        s_by_i = {r["i"]: r["s"] for r in srows}
        comps = [s_by_i.get(i, 0) / 1e6 for i in range(dim)]
        acc = 0.0
        for ci in comps:
            acc += ci * ci
        norm = math.sqrt(acc)
        v = [_round_half_away(ci / norm, round_dp) for ci in comps]
    v_lit = F.array(*[F.lit(float(vi)) for vi in v])
    # + 0.0 canonicalizes IEEE negative zero: DuckDB's round keeps
    # the sign of a tiny negative rounded to zero (-0.0), Spark's
    # BigDecimal round cannot represent it — the engines would
    # otherwise disagree on the string form of the same value.
    return c.select(
        "vec_id",
        (F.round(_dot(F.col("x"), v_lit), 4) + F.lit(0.0)).alias("proj"),
    )


def linreg_gd(
    vectors: DataFrame,
    dim: int = 64,
    iterations: int = 3,
    lr: float = 0.1,
    round_dp: int = 6,
) -> DataFrame:
    """Distributed batch gradient descent for least-squares linear
    regression of the integer ``label`` column on the embedding
    features — the training-loop seam itself (not just inference):
    the quality-score / density-model fits a curation pipeline runs
    are exactly this loop at larger dim. Fixed ``iterations`` full-
    batch rounds from w = 0, b = 0; returns (vec_id, pred) with
    pred = round(<x, w_final> + b_final, 4).

    Scale shape: each round is one narrow map (the in-order dot +
    residual) and ONE map-side-combined shuffle keyed on the dim
    positions (dim+1 groups at any corpus size — the bias gradient
    rides the same pass as a second aggregate); the driver collect
    is dim+1 scalars per round (the PCA/kmeans bounded-collect rule).
    The model never materializes row-wise — weights re-enter each
    round as plan literals.

    Determinism contract (the power_iteration_pca playbook): per-row
    residual contributions quantize to integer micro-units before the
    cross-row BIGINT sum; the update arithmetic is the fixed
    expression w - lr * (2 * (S/1e6) / n) rounded half-away to
    ``round_dp``, mirrored verbatim by the DuckDB oracle's chained
    per-round CTEs; gradient: d/dw MSE = (2/n) * sum(err * x).
    """
    e = vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("x"),
        F.col("label").cast("double").alias("y"),
    )
    n = e.count()
    w = [0.0] * dim
    b = 0.0
    for _ in range(iterations):
        w_lit = F.array(*[F.lit(float(wi)) for wi in w])
        d = e.withColumn(
            "err", _dot(F.col("x"), w_lit) + F.lit(float(b)) - F.col("y")
        )
        srows = (
            d.select("err", F.posexplode("x").alias("i", "xi"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(F.col("err") * F.col("xi") * 1e6).cast("long")
                ).alias("s")
            )
            .collect()
        )
        sb = d.agg(
            F.sum(F.round(F.col("err") * 1e6).cast("long")).alias("s")
        ).collect()[0]["s"]
        s_by_i = {r["i"]: r["s"] for r in srows}
        w = [
            _round_half_away(
                w[i] - lr * (2.0 * (s_by_i.get(i, 0) / 1e6) / n), round_dp
            )
            for i in range(dim)
        ]
        b = _round_half_away(b - lr * (2.0 * (sb / 1e6) / n), round_dp)
    w_lit = F.array(*[F.lit(float(wi)) for wi in w])
    return e.select(
        "vec_id",
        (
            F.round(_dot(F.col("x"), w_lit) + F.lit(float(b)), 4)
            + F.lit(0.0)
        ).alias("pred"),
    )


def dbscan_grid(
    embeddings: DataFrame,
    eps_q: int = 200,
    min_pts: int = 6,
    scale: int = 10_000,
    dims: tuple[int, int] = (0, 1),
) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) over a
    2-D projection of the embedding column, with GRID-CELL blocking
    as the distributed neighborhood search.

    kmeans gives every vector a cluster whether or not structure
    exists; curation pipelines also need the density view — dense
    regions are (near-)duplicate or templated content, sparse points
    are the rare/novel tail worth oversampling. DBSCAN's labels:
    core (>= ``min_pts`` points incl. itself within eps), border
    (non-core within eps of a core), noise (everything else,
    cluster_id = -1). Cluster identity = the minimum core vec_id of
    the density-connected component. Border points with core
    neighbors in several clusters take the MINIMUM cluster_id —
    classic DBSCAN leaves this order-dependent; the explicit rule
    makes both engines (and reruns) agree.

    The projection is dims (0, 1) of the embedding — in production
    the 2-D input comes from emb_rproj/emb_pca_power; grid blocking
    is what makes the neighborhood search scale, and it only works in
    low dimension. Coordinates quantize to ints (×``scale``, round
    half-away — both engines agree) so every distance is exact
    BIGINT; eps lives in quantized units.

    Scale shape (the 100 TB story):
    - Neighborhood candidates come from a 3×3 neighbor-CELL equi-join
      (cell edge = eps, so any pair within eps shares adjacent
      cells): the probe side explodes each point to its 9 neighbor
      cells (bounded ×9, in-row), the build side keys points by their
      own cell — co-partitioned hash join on (cx, cy), each true pair
      produced exactly once, NO all-pairs crossJoin anywhere. Pair
      volume is Σ_cell |probe∩cell|·|build∩cell| — bounded by local
      density, not corpus size.
    - Dense cells are the skew risk (a hot cell quadratically
      amplifies); AQE skew-join splitting handles moderate cases and
      eps controls it structurally — the same knob that defines the
      semantics.
    - Degree count and border assignment are map-side-combined
      shuffles on the point key; the core-core component step reuses
      connected_components (size-dispatched driver union-find vs
      star contraction) on edges already restricted to core points;
      it labels vec_ids by their numeric minimum.
    """
    eps2 = eps_q * eps_q
    off = 1_000_000_000  # shift keeps cell division on positive ints
    pts = embeddings.select(
        "vec_id",
        F.round(F.col("embedding").getItem(dims[0]) * scale)
        .cast("long")
        .alias("qx"),
        F.round(F.col("embedding").getItem(dims[1]) * scale)
        .cast("long")
        .alias("qy"),
    )
    base = pts.select(
        "vec_id",
        "qx",
        "qy",
        F.expr(f"(qx + {off}) div {eps_q}").alias("cx"),
        F.expr(f"(qy + {off}) div {eps_q}").alias("cy"),
    )
    three = F.array(F.lit(-1), F.lit(0), F.lit(1))
    probe = (
        base.withColumn("dx", F.explode(three))
        .withColumn("dy", F.explode(three))
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("qx").alias("ax"),
            F.col("qy").alias("ay"),
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
        )
    )
    build = base.select(
        F.col("vec_id").alias("b_id"),
        F.col("qx").alias("bx"),
        F.col("qy").alias("by"),
        "cx",
        "cy",
    )
    dx, dy = F.col("ax") - F.col("bx"), F.col("ay") - F.col("by")
    pairs = (
        probe.join(build, ["cx", "cy"])
        .where((F.col("a_id") != F.col("b_id")) & (dx * dx + dy * dy <= eps2))
        .select("a_id", "b_id")
    )
    deg = pairs.groupBy("a_id").count()
    core = deg.filter(F.col("count") + 1 >= min_pts).select(
        F.col("a_id").alias("vec_id")
    )

    from information_extraction_spark.operators.linking import (
        connected_components,
    )

    cc_edges = (
        pairs.join(
            core.withColumnRenamed("vec_id", "a_id"), "a_id", "left_semi"
        )
        .join(core.withColumnRenamed("vec_id", "b_id"), "b_id", "left_semi")
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    # Self-loops keep isolated cores (all neighbors border) as their
    # own singleton clusters instead of dropping out of the CC input.
    loops = core.select(
        F.col("vec_id").alias("src"), F.col("vec_id").alias("dst")
    )
    comps = connected_components(cc_edges.unionByName(loops))
    core_rows = comps.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        F.lit(1).cast("long").alias("is_core"),
    )
    border_rows = (
        pairs.join(
            core.withColumnRenamed("vec_id", "a_id"), "a_id", "left_anti"
        )
        .join(comps, F.col("b_id") == F.col("node"))
        .groupBy("a_id")
        .agg(F.min("component").alias("cluster_id"))
        .select(
            F.col("a_id").alias("vec_id"),
            "cluster_id",
            F.lit(0).cast("long").alias("is_core"),
        )
    )
    labeled = core_rows.unionByName(border_rows)
    return pts.select("vec_id").join(labeled, "vec_id", "left").select(
        "vec_id",
        F.coalesce("cluster_id", F.lit(-1)).cast("long").alias("cluster_id"),
        F.coalesce("is_core", F.lit(0)).cast("long").alias("is_core"),
    )
