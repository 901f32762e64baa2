"""Entity linking & canonicalization: connected components over the
alias dictionary, joined back onto the triples by broadcast.

The reference's alias dictionary is only consulted at evaluation time
(calc_pr.py:141-161); our engine promotes it to a first-class linking
stage: alias rows form an undirected surface-form graph, connected
components assign every surface form a canonical id (the smallest
member of its component — covering chains a→b→c the flat dict
cannot), and triples are canonicalized through a broadcast join on
both endpoints.

``relabel`` is the one way a table gets component labels. The
mapping lives on the driver: union-find rows as they are, or the
collected star-contraction labels (a graph past ``CC_DRIVER_EDGES``),
whose round cuts are all released before it returns. Each key then
joins the broadcast mapping, so the fact side never shuffles and no
checkpoint outlives the call. A mapping too large for the driver
would need star contraction plus a shuffle join; no caller has one.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from information_extraction_spark.functions.exact import exact_muldiv
from information_extraction_spark.operators.checkpoint import (
    cut,
    iterate,
    releases_unread_cuts,
)
from information_extraction_spark.operators.evaluation import normalize_entity

# Graphs with at most this many edges run union-find on the driver;
# larger ones run star contraction.
CC_DRIVER_EDGES = 100_000


def alias_edges(alias_df: DataFrame) -> DataFrame:
    """Undirected edges from (canonical, alias) rows, lowercased."""
    return alias_df.select(
        F.lower("canonical").alias("src"), F.lower("alias").alias("dst")
    ).filter(F.col("src") != F.col("dst"))


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components: every node labeled with the minimum node
    id in its component. Returns (node, component), typed like the
    edges' ``src`` (string, bigint, ...), for every non-NULL endpoint,
    self-loop-only nodes included; rows with a NULL endpoint are
    dropped, and no edges give no rows.

    Two legs, picked by input size. An edge list of at most
    ``CC_DRIVER_EDGES`` runs union-find on the driver and comes back
    as a local DataFrame over driver-held rows: the distributed leg
    costs ~2 Spark jobs per round, pure latency for a graph that fits
    in one list. Larger graphs run star contraction
    (``_star_contraction``) and come back as its labels cut. Callers
    that join the labels without broadcasting them (louvain, dbscan)
    take either; ``relabel`` and ``canonical_mapping`` hold the labels
    on the driver whatever the leg. Both legs produce identical labels
    (tested against a BFS oracle).
    """
    # NULL endpoints link nothing; dropping them up front also keeps
    # union-find from ordering None against keys.
    edges = edges.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    # ONE bounded probe job decides the dispatch AND supplies the
    # driver-leg rows. A count-then-collect split would evaluate the
    # (possibly expensive) edges plan twice, and on nondeterministic
    # lineage the second evaluation could exceed what the count
    # promised — unbounding the collect. The cost of this shape is
    # holding ≤ CC_DRIVER_EDGES+1 short tuples (a few MB) briefly on
    # the driver even when the graph turns out large; that is cheaper
    # and safer than re-evaluating the plan.
    probe = edges.select("src", "dst").limit(CC_DRIVER_EDGES + 1).collect()
    if len(probe) <= CC_DRIVER_EDGES:
        return _union_find(edges, probe)
    return _star_contraction(edges)


def _union_find(edges: DataFrame, edge_rows: list) -> DataFrame:
    """Driver leg: union-find over the collected (src, dst) rows."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        # Union-by-min: the larger root links under the smaller, so
        # each component's minimum stays a root and find() yields it.
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = sorted({n for r in edge_rows for n in (r["src"], r["dst"])})
    key = to_arrow_type(edges.schema["src"].dataType)
    return edges.sparkSession.createDataFrame(
        pa.table(
            {
                "node": pa.array(nodes, key),
                "component": pa.array([find(n) for n in nodes], key),
            }
        )
    )


# Kiveris et al. bound star contraction by O(log² n) rounds and observe
# O(log n) in practice (a 40,000-node chain settles in 17 rounds); a
# graph still changing after this many rounds is a defect, not a large
# input.
_MAX_STAR_ROUNDS = 100


@releases_unread_cuts
def _star_contraction(edges: DataFrame) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14):
    O(log² n) rounds where label propagation needs O(diameter), and
    every round SHRINKS the edge set (each phase rewires nodes toward
    their neighborhood minimum, collapsing paths into stars), so the
    per-round shuffle cost decays as components contract.

    * large-star: every node u links its LARGER neighbors (v > u) to
      min(N(u) ∪ {u}) — cuts long chains in half without ever
      directing an edge "upward".
    * small-star: every node u links its smaller-or-equal neighbors
      and itself to that minimum — flattens the remaining 2-paths.

    Runs until the edge set stops changing; raises if it has not
    after ``_MAX_STAR_ROUNDS``. Each round's edge set is cut on the
    round driver, which releases its predecessor, and the returned
    labels are the only cut the call leaves persisted. ``edges`` must
    have no NULL endpoint.
    """
    nodes = cut(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Canonical (big, small) edges; self loops carry no link.
    e = cut(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("a"),
            F.least("src", "dst").alias("b"),
        )
        .distinct()
    )

    def contract(e: DataFrame, i: int) -> DataFrame | None:
        # large-star over the symmetric view: m(u) = min(N(u) ∪ {u});
        # emit (v, m) for v > u. Output stays canonical (big, small)
        # because v > u >= m.
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        ls = (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the downward-directed view: per larger
        # endpoint a, m = min of its smaller neighbors; emit every
        # smaller neighbor AND a itself re-linked to m.
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss = cut(
            ls.join(sm, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(sm.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        if ss.subtract(e).unionByName(e.subtract(ss)).count() == 0:
            return None
        if i == _MAX_STAR_ROUNDS - 1:
            raise RuntimeError(
                "connected_components: edge set still changing after "
                f"{_MAX_STAR_ROUNDS} star-contraction rounds"
            )
        return ss

    e = iterate(e, contract, _MAX_STAR_ROUNDS)
    # The settled edge set is a star forest: every non-root node links
    # directly to its component minimum; roots and self-loop-only nodes
    # label themselves.
    roots = e.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("component")
    )
    return cut(
        nodes.join(roots, "node", "left").select(
            "node",
            F.coalesce("component", "node").alias("component"),
        )
    )


@releases_unread_cuts
def _driver_mapping(edges: DataFrame) -> DataFrame:
    """``connected_components`` held on the driver: the union-find
    leg's local DataFrame as it is, the star-contraction labels
    collected into one. Either way the call leaves no cut persisted."""
    labels = connected_components(edges)
    if labels.isLocal():
        return labels
    return labels.sparkSession.createDataFrame(labels.toArrow())


def relabel(
    df: DataFrame, edges: DataFrame, **out_cols: str | Column
) -> DataFrame:
    """``df`` plus one column per keyword ``out=key``: the component
    minimum of ``key`` (a column name or expression) in the graph of
    ``edges`` (src, dst), or the key itself when the graph does not
    hold it. A column of ``df`` named ``out`` is replaced in place.

    The labels are computed once, held on the driver and broadcast to
    one left join per key, so ``df`` never shuffles. The mapping must
    therefore fit on the driver; every caller broadcasts it anyway.
    """
    labels = _driver_mapping(edges)
    for out, key in out_cols.items():
        k, lab = f"_{out}_key", f"_{out}_label"
        df = (
            df.withColumn(k, F.col(key) if isinstance(key, str) else key)
            .join(F.broadcast(labels.toDF(k, lab)), k, "left")
            .withColumn(out, F.coalesce(lab, k))
            .drop(k, lab)
        )
    return df


def canonical_mapping(alias_df: DataFrame) -> DataFrame:
    """(surface, canonical_id): every surface form in the alias graph
    mapped to its component's minimum member, held on the driver."""
    return _driver_mapping(alias_edges(alias_df)).toDF(
        "surface", "canonical_id"
    )


def er_candidates(
    triples: DataFrame,
    tau: float = 0.5,
    max_slot_freq: int = 1000,
) -> DataFrame:
    """Entity-resolution candidate generation BEYOND the alias
    dictionary: subject pairs asserting many of the same (predicate,
    object) slots are duplicate-entity candidates (two surface forms
    of one real-world entity accumulate the same facts). Returns
    (s1, s2, shared, jaccard) with jaccard = |slots₁ ∩ slots₂| /
    |slots₁ ∪ slots₂| ≥ ``tau``, s1 < s2.

    Scale shape — the standard ER blocking pattern, never an
    all-pairs subject join:

    - Candidate pairs come from an equi-join on the (predicate,
      object) blocking key; per-key fan-out is C(f, 2) where f is the
      slot's subject count.
    - ``max_slot_freq`` drops stop-slots (a (p, o) shared by 100k
      subjects is both a quadratic blowup and zero evidence of
      identity — the same reason ER blocking drops high-frequency
      blocks and dd_ngram_jaccard blocks on fine keys).
    - The per-subject slot-count table joins back on the pair's
      endpoints: co-keyed shuffles on s1 / s2, both sides already
      collapsed to entity cardinality. Nothing broadcasts — entity
      tables are unbounded at 100 TB.
    - The two join branches read the same filtered slot table; the
      EXECUTED adaptive plan reuses its exchange (ReusedExchange
      nodes under AQE — verified on the live plan), so the distinct
      runs once.
    """
    slots = triples.select("subject", "predicate", "object").distinct()
    keep = (
        slots.groupBy("predicate", "object")
        .agg(F.count("*").alias("_f"))
        .filter(F.col("_f") <= max_slot_freq)
        .select("predicate", "object")
    )
    # Stop-slots leave the similarity universe entirely: they count
    # toward neither intersection nor union (they carry no identity
    # signal either way), so degrees come from the FILTERED table.
    blocked = slots.join(keep, ["predicate", "object"])
    deg = blocked.groupBy("subject").agg(
        F.count("*").cast("long").alias("_n")
    )
    a = blocked.select(F.col("subject").alias("s1"), "predicate", "object")
    b = blocked.select(F.col("subject").alias("s2"), "predicate", "object")
    pairs = (
        a.join(b, ["predicate", "object"])
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    d1 = deg.select(F.col("subject").alias("s1"), F.col("_n").alias("_n1"))
    d2 = deg.select(F.col("subject").alias("s2"), F.col("_n").alias("_n2"))
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("_n1") + F.col("_n2") - F.col("shared")).cast(
                    "double"
                ),
                4,
            ),
        )
        .filter(F.col("jaccard") >= tau)
        .select("s1", "s2", "shared", "jaccard")
    )


def build_er_slot_index(
    triples: DataFrame, max_slot_freq: int = 1000
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable ER slot index for ``er_probe``: the base
    corpus's distinct (subject, predicate, object) slots with the
    subject's slot count DENORMALIZED onto every row, plus the
    stop-key table ((p, o) keys above ``max_slot_freq``). Stop-slots
    are excluded from the index entirely — the cap is fixed at BUILD
    time from base-corpus statistics, which is what an ingest
    pipeline actually knows (future batches' frequencies don't exist
    yet). Returns (index, stop_keys).

    Scale shape: two map-side-combined aggregations ((p,o) freq and
    per-subject degree over the capped universe) plus the co-keyed
    degree join-back; runs once per index build, amortized over every
    arriving batch.
    """
    slots = triples.select("subject", "predicate", "object").distinct()
    freq = slots.groupBy("predicate", "object").agg(
        F.count("*").alias("_f")
    )
    stop = freq.filter(F.col("_f") > max_slot_freq).select(
        "predicate", "object"
    )
    kept = slots.join(stop, ["predicate", "object"], "left_anti")
    deg = kept.groupBy("subject").agg(
        F.count("*").cast("long").alias("subj_slots")
    )
    return kept.join(deg, "subject"), stop


def er_probe(
    index: DataFrame,
    stop_keys: DataFrame,
    new_triples: DataFrame,
    tau: float = 0.5,
) -> DataFrame:
    """Probe an arriving batch against a persisted ER slot index (the
    incremental counterpart of ``er_candidates`` — the shape a daily
    ingest runs: the 100 TB base graph is NEVER re-blocked; the batch
    is). Returns (s_base, s_new, shared, jaccard >= tau) candidate
    links between a known base entity and a batch entity; identity
    pairs (same surface on both sides) are excluded — exact-name
    matches resolve upstream, this operator exists for the non-equal
    surfaces.

    Scale shape mirrors dd_incremental_lsh: the batch's slot table
    and the (heavy-hitter-bounded) stop-key table BROADCAST; the
    index side is a plain parquet scan streamed past the in-memory
    maps — zero shuffle, zero sort on the indexed base. The pair
    aggregation keys on (s_base, s_new) — output bounded by batch
    size × slot fan-out (the build-time cap). Base degrees ride the
    index rows (no join against an entity-sized degree table at probe
    time); the batch-side degree join is batch-bounded.
    """
    new_slots = (
        new_triples.select("subject", "predicate", "object")
        .distinct()
        .join(F.broadcast(stop_keys), ["predicate", "object"], "left_anti")
    )
    nn = new_slots.groupBy("subject").agg(
        F.count("*").cast("long").alias("_nn")
    )
    pairs = (
        index.join(
            F.broadcast(
                new_slots.select(
                    F.col("subject").alias("s_new"), "predicate", "object"
                )
            ),
            ["predicate", "object"],
        )
        .filter(F.col("subject") != F.col("s_new"))
        .select(
            F.col("subject").alias("s_base"), "s_new", "subj_slots"
        )
        .groupBy("s_base", "s_new")
        .agg(
            F.count("*").cast("long").alias("shared"),
            F.max("subj_slots").alias("_nb"),
        )
    )
    return (
        pairs.join(
            nn.select(F.col("subject").alias("s_new"), "_nn"), "s_new"
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("_nb") + F.col("_nn") - F.col("shared")).cast(
                    "double"
                ),
                4,
            ),
        )
        .filter(F.col("jaccard") >= tau)
        .select("s_base", "s_new", "shared", "jaccard")
    )


def apply_er_merge(
    triples: DataFrame,
    tau: float = 0.5,
    max_slot_freq: int = 1000,
) -> DataFrame:
    """APPLY the ER decisions: candidate pairs (``er_candidates``) →
    connected components → rewrite every merged subject to its
    component's minimum member → re-aggregate per-triple support.
    The stage between candidate generation and a deduplicated graph —
    er_candidates proposes, this merges. Returns (subject, predicate,
    object, support, n_convs, n_surfaces) where subject is canonical
    and n_surfaces counts the distinct raw surface forms folded into
    the row (n_surfaces > 1 marks rows the merge actually changed).

    Scale shape: the component label table is bounded by the entities
    appearing in an above-threshold candidate pair — a vanishing
    fraction of the entity universe (duplicates that also share ≥ tau
    of their slots), NOT entity-sized — so ``relabel`` broadcasts it
    onto the fact table; unmatched subjects canonicalize to
    themselves with no second pass. The re-aggregation is one
    map-side-combined shuffle on the rewritten (s, p, o) key.
    """
    pairs = er_candidates(triples, tau=tau, max_slot_freq=max_slot_freq)
    rewritten = relabel(
        triples.withColumnRenamed("subject", "_surface"),
        pairs.select(F.col("s1").alias("src"), F.col("s2").alias("dst")),
        subject="_surface",
    )
    return rewritten.groupBy("subject", "predicate", "object").agg(
        F.count("*").cast("long").alias("support"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.countDistinct("_surface").cast("long").alias("n_surfaces"),
    )


def canonicalize_triples(
    triples: DataFrame, alias_df: DataFrame
) -> DataFrame:
    """Attach canonical subject/object ids: ``relabel`` on the
    normalized surface forms over the alias graph. Surfaces outside
    the alias graph are their own canonical id."""
    return relabel(
        triples,
        alias_edges(alias_df),
        subject_canonical=normalize_entity(F.col("subject")),
        object_canonical=normalize_entity(F.col("object")),
    )


def resource_alloc_pairs(
    triples: DataFrame,
    max_obj_deg: int = 1000,
    min_shared: int = 1,
) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009)
    over the subject→object graph: subject pairs that share objects
    are scored by Σ 1/d(o) over the shared objects — a rare shared
    object (low degree) is strong evidence the pair is related, a
    common one is weak. The KG-completion companion to
    :func:`er_candidates` (same blocking skeleton, different key —
    the bare object, not the (predicate, object) slot — and a
    degree-weighted score instead of set Jaccard).

    Integer-exact determinism: the score is emitted in parts-per-
    million as Σ (10^6 div d(o)) — pure BIGINT on any engine; 1/d is
    monotone so ranking semantics survive the quantization.

    Scale shape: candidate pairs come from an equi-join on the object
    blocking key (per-key fan-out C(d(o), 2)); ``max_obj_deg`` drops
    hub objects — the quadratic-blowup AND zero-signal tail at once
    (for d(o) = 10^5 the pair count is 5·10^9 and each contributes
    10 ppm — the index is dominated by rare objects, so the cap
    changes scores only negligibly while bounding the join). Degrees
    ride the edge table (one map-side-combined shuffle on object)
    and join back ON the blocking key, so every shuffle is
    object-keyed and entity-cardinality; nothing broadcasts.
    """
    edges = triples.select("subject", "object").distinct()
    deg = edges.groupBy("object").agg(
        F.count("*").cast("long").alias("_d")
    ).filter(F.col("_d") <= max_obj_deg)
    scored = edges.join(deg, "object").withColumn(
        "_ppm", F.expr("CAST(1000000 div _d AS BIGINT)")
    )
    a = scored.select(F.col("subject").alias("s1"), "object", "_ppm")
    b = scored.select(F.col("subject").alias("s2"), "object")
    return (
        a.join(b, "object")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.sum("_ppm").cast("long").alias("ra_ppm"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def jaccard_neighbor_pairs(
    triples: DataFrame,
    max_obj_deg: int = 1000,
    min_shared: int = 1,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the subject→object
    graph: subject pairs scored |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the
    set-overlap companion to :func:`resource_alloc_pairs` (same
    object-key blocking, but a symmetric size-normalized score
    instead of a degree-weighted sum). Reference workflow parity:
    this is the ER-adjacent "how similar are two entities' object
    neighborhoods" signal the alias dictionary can't provide.

    The union size never materializes a union: |A ∪ B| =
    d(a) + d(b) - |A ∩ B| from the per-subject degrees, so the only
    joins are the object-blocked pair join and two subject-keyed
    degree joins on the (already pair-aggregated, far smaller) pair
    table. Degrees are computed over the SAME hub-capped edge
    universe the pairs come from — consistent set semantics (a
    dropped hub object is dropped from numerator and denominator
    alike). Score is integer ppm: n*10^6 div (d1+d2-n), pure BIGINT.

    Scale shape mirrors resource_alloc_pairs: per-object fan-out is
    C(d(o), 2) bounded by ``max_obj_deg``; every shuffle is keyed
    (object, then s1, then s2) and the degree table is
    entity-cardinality — broadcast when small, hash-join otherwise
    (left to AQE, since entity counts vary by corpus).
    """
    edges = triples.select("subject", "object").distinct()
    deg_o = (
        edges.groupBy("object")
        .agg(F.count("*").cast("long").alias("_do"))
        .filter(F.col("_do") <= max_obj_deg)
    )
    capped = edges.join(deg_o.select("object"), "object")
    deg_s = capped.groupBy("subject").agg(
        F.count("*").cast("long").alias("_ds")
    )
    a = capped.select(F.col("subject").alias("s1"), "object")
    b = capped.select(F.col("subject").alias("s2"), "object")
    pairs = (
        a.join(b, "object")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(deg_s.withColumnRenamed("subject", "s1"), "s1")
        .withColumnRenamed("_ds", "_d1")
        .join(deg_s.withColumnRenamed("subject", "s2"), "s2")
        .withColumnRenamed("_ds", "_d2")
        .select(
            "s1",
            "s2",
            "n_shared",
            exact_muldiv("n_shared", "_d1 + _d2 - n_shared", 1_000_000).alias(
                "jaccard_ppm"
            ),
        )
    )


def sorted_neighborhood_pairs(
    ents: DataFrame, window: int = 4, col: str = "e"
) -> DataFrame:
    """Sorted-neighborhood ER candidate pairs (Hernández & Stolfo,
    SIGMOD'95): entities sorted by a normalized key, pairs emitted
    within ``window - 1`` sort positions, scored with Levenshtein.

    Complements hash blocking (er_candidates): a typo in the blocking
    field moves a record to a different hash block but usually NOT
    away from its lexicographic neighbors. The global sort is
    functions/ranking.stable_rank's two-phase range shuffle (no
    single-partition window), and the w-window join is an EQUI-join
    on rank + d, d in 1..window-1 (probe side exploded) — the bucket
    trick, not a range-join nested loop.
    """
    from information_extraction_spark.functions.ranking import stable_rank

    # '#' sorts below [a-z0-9], so ordering by the single concat
    # column equals ordering by (normalized_key, entity); the concat
    # is unique because the entity is, which stable_rank requires.
    keyed = ents.select(F.col(col).alias("e")).distinct().withColumn(
        "sk",
        F.concat(
            F.regexp_replace(F.lower(F.col("e")), "[^a-z0-9]", ""),
            F.lit("#"),
            F.col("e"),
        ),
    )
    ranked = stable_rank(keyed, "sk", out_col="rnk").select("e", "rnk")
    a = ranked.withColumn(
        "probe",
        F.explode(F.array(*[F.col("rnk") + d for d in range(1, window)])),
    ).alias("a")
    b = ranked.alias("b")
    return a.join(b, F.col("a.probe") == F.col("b.rnk")).select(
        F.col("a.e").alias("ea"),
        F.col("b.e").alias("eb"),
        (F.col("b.rnk") - F.col("a.rnk")).cast("long").alias("gap"),
        F.levenshtein(F.col("a.e"), F.col("b.e")).cast("long").alias("lev"),
    )
