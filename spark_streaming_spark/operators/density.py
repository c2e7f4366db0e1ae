"""Density-based clustering (DBSCAN) over the exact-PCA projection
plane — grid-blocked, never all-pairs.

DBSCAN (Ester, Kriegel, Sander & Xu 1996; public method) needs every
eps-neighborhood EXACTLY — which is intractable to block in the raw
64-dim embedding space without losing completeness. The engine's move
(the standard one for density clustering at scale) is to run it on a
LOW-dimensional projection it can compute engine-exactly: the top-2 PCA
scores (operators/pca.py — hash-exact cross-engine), quantized to the
1e7-scaled integers the explained-variance tier already pins
(``ROUND(score·1e7)`` recovers the 7 dp decimal dots exactly). On an
integer plane, a side-eps grid makes the eps-neighborhood candidate set
COMPLETE by construction: any two points within eps lie in the same or
adjacent cells, so the 3×3 neighbor-cell equi-join (explode 9 offsets,
one shuffle) is a lossless blocking — the same guarantee argument as
SymSpell's deletion neighborhoods and the banded SimHash pairs.

Scale shape: |V|·9 offset rows through one equi-join; per-cell
population is bounded by density·eps² (a plan constant for fixed eps),
so no quadratic path exists. The core-core component step is the
bounded min-label iteration of dedup.dup_components (edge-touched
vertices only, localCheckpoint per round). Reference behavior parity:
the DuckDB oracle runs the NAIVE all-pairs neighborhood + a recursive
transitive closure — the entry's MATCH is the blocking-completeness
proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 10_000_000


def _quantized_plane(embeddings: DataFrame,
                     cache_key: str | None) -> DataFrame:
    """(vec_id, s1, s2): the exact-PCA top-2 scores as 1e7-scaled
    integers (the pca_explained_variance quantization pin)."""
    from spark_streaming_spark.operators.pca import pca_scores_multi

    sc = pca_scores_multi(embeddings, n_components=2,
                          cache_key=cache_key)
    return plane_from_scores(sc)


def plane_from_scores(scores: DataFrame) -> DataFrame:
    """(vec_id, s1, s2) integer plane from a (vec_id, score1, score2)
    projection — the shared quantization of the batch path and the
    streamed re-fit-at-read twin (axes derived from the folded moment
    state instead of the batch moment build)."""
    return scores.select(
        "vec_id",
        F.expr(f"CAST(ROUND(score1 * {_SCALE}) AS BIGINT)").alias("s1"),
        F.expr(f"CAST(ROUND(score2 * {_SCALE}) AS BIGINT)").alias("s2"),
    )


def _grid_cell(col: str, eps: int):
    """Exact floor-division grid coordinate for possibly-negative
    integers: (x − pmod(x, eps)) / eps with the C-style truncating %
    both engines share — never a negative truncating DIV (the quotient
    is exactly divisible, where floor == trunc on both engines)."""
    return F.expr(f"CAST(({col} - ((({col} % {eps}) + {eps}) % {eps}))"
                  f" div {eps} AS BIGINT)")


def eps_neighbor_pairs(pts: DataFrame, eps: int) -> DataFrame:
    """All ORDERED pairs (vec_a, vec_b), a ≠ b, within Euclidean eps on
    the integer plane, via the complete 3×3 neighbor-cell join.
    Columns: vec_a, vec_b."""
    g = pts.select(
        F.col("vec_id"), "s1", "s2",
        _grid_cell("s1", eps).alias("gx"),
        _grid_cell("s2", eps).alias("gy"))
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1),"
        " x -> transform(sequence(-1, 1),"
        " y -> struct(x AS ox, y AS oy)))))")
    a = g.select(
        F.col("vec_id").alias("vec_a"), F.col("s1").alias("a1"),
        F.col("s2").alias("a2"), "gx", "gy",
        offsets.alias("o")).select(
        "vec_a", "a1", "a2",
        (F.col("gx") + F.col("o.ox")).alias("jx"),
        (F.col("gy") + F.col("o.oy")).alias("jy"))
    b = g.select(
        F.col("vec_id").alias("vec_b"), F.col("s1").alias("b1"),
        F.col("s2").alias("b2"), F.col("gx").alias("jx"),
        F.col("gy").alias("jy"))
    d2 = (F.expr("CAST(a1 - b1 AS BIGINT) * (a1 - b1)")
          + F.expr("CAST(a2 - b2 AS BIGINT) * (a2 - b2)"))
    return (a.join(b, ["jx", "jy"])
            .filter((F.col("vec_a") != F.col("vec_b"))
                    & (d2 <= F.lit(int(eps) * int(eps)).cast("long")))
            .select("vec_a", "vec_b"))


def dbscan_pca_clusters(embeddings: DataFrame, eps: int = 400_000,
                        min_pts: int = 4, max_iters: int = 50,
                        cache_key: str | None = None) -> DataFrame:
    """DBSCAN cluster assignment over the quantized top-2 PCA plane.

    * core: |N_eps(p)| ≥ ``min_pts`` (neighborhood INCLUDES the point,
      per the original paper);
    * cluster label: the MIN core vec_id transitively reachable through
      core-core eps-edges (min-label propagation to convergence — the
      deterministic replacement for the paper's scan-order labels);
    * border: non-core with ≥ 1 core eps-neighbor, assigned the MIN
      label among its core neighbors (again the deterministic pin of an
      order-dependent choice);
    * noise: everything else, cluster NULL.

    Columns: vec_id, role ('core' | 'border' | 'noise'),
    cluster (nullable BIGINT).

    The finished (vec_id, role, cluster) table is memoized per
    (application, cache_key, eps, min_pts, max_iters) exactly like
    ``_KMEANS_CACHE`` — ``dbscan_label_ari`` rides the same run
    instead of rebuilding the eps-neighbor join + iterative
    components (r11 verdict item 3)."""
    ck = (("dbscan", embeddings.sparkSession.sparkContext.applicationId,
           cache_key, eps, min_pts, max_iters)
          if cache_key is not None else None)
    if ck is not None and ck in _DBSCAN_CACHE:
        return _DBSCAN_CACHE[ck]
    pts = _quantized_plane(embeddings, cache_key).localCheckpoint(
        eager=True)
    out = dbscan_on_plane(pts, eps, min_pts, max_iters)
    if ck is not None:
        out = out.localCheckpoint(eager=True)
        _DBSCAN_CACHE[ck] = out
    return out


def dbscan_on_plane(pts: DataFrame, eps: int = 400_000,
                    min_pts: int = 4,
                    max_iters: int = 50) -> DataFrame:
    """:func:`dbscan_pca_clusters`' clustering over an already-built
    integer plane (vec_id, s1, s2)."""
    nbrs = eps_neighbor_pairs(pts, eps).localCheckpoint(eager=True)
    counts = nbrs.groupBy("vec_a").agg(
        (F.count("*") + 1).cast("long").alias("n_in_eps"))
    core = (pts.join(counts, pts["vec_id"] == counts["vec_a"], "left")
            .select("vec_id",
                    (F.coalesce("n_in_eps", F.lit(1)) >= min_pts)
                    .alias("is_core")))
    core_ids = core.filter("is_core").select("vec_id")
    cc_edges = (
        nbrs
        .join(core_ids.withColumnRenamed("vec_id", "vec_a"), "vec_a")
        .join(core_ids.withColumnRenamed("vec_id", "vec_b"), "vec_b")
        .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    labels = (core_ids.select(F.col("vec_id"),
                              F.col("vec_id").alias("component"))
              .localCheckpoint(eager=True))
    prev_sum = None
    for _ in range(max_iters):
        prop = (cc_edges.join(labels,
                              cc_edges["src"] == labels["vec_id"])
                .groupBy(F.col("dst").alias("vec_id"))
                .agg(F.min("component").alias("nbr_min")))
        half = (labels.join(prop, "vec_id", "left_outer")
                .select("vec_id",
                        F.coalesce(F.least("component", "nbr_min"),
                                   F.col("component"))
                        .alias("component")))
        # pointer jump (path doubling): a label is itself a vertex id,
        # so chase one hop through the label table — component' =
        # label[component]. Labels only ever decrease toward the min
        # reachable id, so the fixpoint is unchanged while convergence
        # drops from O(diameter) to O(log diameter) rounds.
        hop = half.select(F.col("vec_id").alias("component"),
                          F.col("component").alias("c2"))
        nxt = (half.join(hop, "component", "left_outer")
               .select("vec_id",
                       F.coalesce(F.least("component", "c2"),
                                  F.col("component")).alias("component"))
               .localCheckpoint(eager=False))
        # convergence probe: labels only ever DECREASE, so the label
        # sum is strictly monotone while anything changes — one scalar
        # aggregate per round (it also materializes the lazy
        # checkpoint) instead of a join + filter + count.
        cur_sum = nxt.agg(F.sum(F.col("component").cast(
            "decimal(38,0)"))).first()[0]
        labels = nxt
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # border: min core-neighbor label; core: own component
    core_lbl = labels.withColumnsRenamed(
        {"vec_id": "vec_b", "component": "b_lbl"})
    border_lbl = (
        nbrs.join(core_lbl, "vec_b")
        .groupBy(F.col("vec_a").alias("vec_id"))
        .agg(F.min("b_lbl").alias("border_cluster")))
    return (
        core.join(labels, "vec_id", "left")
        .join(border_lbl, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("role"),
            F.when(F.col("is_core"), F.col("component"))
            .otherwise(F.col("border_cluster")).alias("cluster"))
    )


def dbscan_sql(eps: int = 400_000, min_pts: int = 4,
               scores_sql: str = "") -> str:
    """The NAIVE oracle: all-pairs eps-neighborhoods + recursive
    transitive closure over core-core edges. ``scores_sql`` is the
    engine-exact PCA scores query (vec_id, score1, score2)."""
    return f"""
        WITH RECURSIVE sc AS ({scores_sql}),
        pts AS (
          SELECT vec_id,
                 CAST(ROUND(score1 * {_SCALE}) AS BIGINT) AS s1,
                 CAST(ROUND(score2 * {_SCALE}) AS BIGINT) AS s2
          FROM sc
        ),
        nbrs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM pts a JOIN pts b ON a.vec_id <> b.vec_id
          WHERE (a.s1 - b.s1) * (a.s1 - b.s1)
                + (a.s2 - b.s2) * (a.s2 - b.s2)
                <= {eps}::BIGINT * {eps}
        ),
        cnt AS (
          SELECT vec_a AS vec_id, count(*) + 1 AS n_in_eps
          FROM nbrs GROUP BY 1
        ),
        core AS (
          SELECT p.vec_id,
                 COALESCE(c.n_in_eps, 1) >= {min_pts} AS is_core
          FROM pts p LEFT JOIN cnt c USING (vec_id)
        ),
        cc AS (
          SELECT n.vec_a AS s, n.vec_b AS d FROM nbrs n
          JOIN core x ON x.vec_id = n.vec_a AND x.is_core
          JOIN core y ON y.vec_id = n.vec_b AND y.is_core
        ),
        reach(vec_id, lbl) AS (
          SELECT vec_id, vec_id FROM core WHERE is_core
          UNION
          SELECT c.d, r.lbl FROM reach r JOIN cc c ON c.s = r.vec_id
        ),
        comp AS (
          SELECT vec_id, CAST(min(lbl) AS BIGINT) AS component
          FROM reach GROUP BY 1
        ),
        border AS (
          SELECT n.vec_a AS vec_id,
                 CAST(min(m.component) AS BIGINT) AS border_cluster
          FROM nbrs n JOIN comp m ON m.vec_id = n.vec_b
          GROUP BY 1
        )
        SELECT c.vec_id,
               CASE WHEN c.is_core THEN 'core'
                    WHEN b.border_cluster IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               CASE WHEN c.is_core THEN m.component
                    ELSE b.border_cluster END AS cluster
        FROM core c
        LEFT JOIN comp m ON m.vec_id = c.vec_id
        LEFT JOIN border b ON b.vec_id = c.vec_id
    """


# --- deterministic Lloyd k-means on the quantized plane ---------------------

_KMEANS_CACHE: dict = {}
_DBSCAN_CACHE: dict = {}


def kmeans_pca_fit(embeddings: DataFrame, k: int = 4,
                   n_rounds: int = 6,
                   cache_key: str | None = None):
    """Deterministic Lloyd k-means (Lloyd 1957/1982; public method) on
    the quantized top-2 PCA plane. Every random choice of the textbook
    algorithm is pinned: init = the k lowest-vec_id points (documented
    contract, the BPE/greedy-tie discipline), FIXED ``n_rounds``
    assignment/update rounds (SQL-unrollable, no convergence break),
    argmin ties broken by lowest cluster id, centroid update is the
    exact FLOOR-division integer mean (pmod trick — Spark's truncating
    ``div`` never sees a negative), and a cluster that loses all its
    points keeps its previous centroid.

    The k per-round centroids are DRIVER-SIZED plan constants (k rows
    collected per round — the sanctioned scalar-fetch class, the IVF
    codebook discipline): assignment is a pure map over broadcast
    literals, so each round is ONE map + ONE k-group aggregate over the
    plane — no iterative shuffle growth, lineage reset by the plane's
    localCheckpoint.

    Returns (pts, centroids) where pts is the cached quantized plane
    and centroids is the final [(cid, cx, cy), ...] list."""
    ck = ("kmeans", cache_key, k, n_rounds,
          embeddings.sparkSession.sparkContext.applicationId) \
        if cache_key is not None else None
    if ck is not None and ck in _KMEANS_CACHE:
        return _KMEANS_CACHE[ck]
    pts = _quantized_plane(embeddings, cache_key).localCheckpoint(
        eager=True)
    out = kmeans_fit_on_plane(pts, k, n_rounds)
    if ck is not None:
        _KMEANS_CACHE[ck] = out
    return out


def kmeans_fit_on_plane(pts: DataFrame, k: int = 4,
                        n_rounds: int = 6):
    """:func:`kmeans_pca_fit`'s Lloyd rounds over an already-built
    integer plane (vec_id, s1, s2). Returns (pts, centroids)."""
    init = (pts.orderBy("vec_id").limit(k)
            .select("vec_id", "s1", "s2").collect())
    cents = [(i, int(r.s1), int(r.s2)) for i, r in enumerate(init)]
    for _ in range(n_rounds):
        assigned = pts.select(
            "vec_id", "s1", "s2", _argmin_cid(cents).alias("cid"))
        agg = {int(r.cid): (int(r.sx), int(r.sy), int(r.n))
               for r in assigned.groupBy("cid").agg(
                   F.sum("s1").alias("sx"), F.sum("s2").alias("sy"),
                   F.count("*").alias("n")).collect()}
        nxt = []
        for cid, cx, cy in cents:
            if cid in agg and agg[cid][2] > 0:
                sx, sy, n = agg[cid]
                nxt.append((cid, sx // n, sy // n))  # python // floors
            else:
                nxt.append((cid, cx, cy))
        cents = nxt
    return (pts, cents)


def _argmin_cid(cents) -> "F.Column":
    """CASE-chain argmin over the k centroid literals: nearest squared
    distance, ties to the LOWEST cluster id (strict < while scanning in
    cid order)."""
    def d2(cx, cy):
        return (f"(CAST(s1 - ({cx}) AS BIGINT) * (s1 - ({cx}))"
                f" + CAST(s2 - ({cy}) AS BIGINT) * (s2 - ({cy})))")
    best_d = d2(cents[0][1], cents[0][2])
    best_c = str(cents[0][0])
    for cid, cx, cy in cents[1:]:
        cond = f"({d2(cx, cy)}) < ({best_d})"
        best_d = f"CASE WHEN {cond} THEN {d2(cx, cy)} ELSE {best_d} END"
        best_c = f"CASE WHEN {cond} THEN {cid} ELSE {best_c} END"
    return F.expr(f"CAST({best_c} AS INT)")


def kmeans_pca_assign(embeddings: DataFrame, k: int = 4,
                      n_rounds: int = 6,
                      cache_key: str | None = None) -> DataFrame:
    """Final-round cluster assignment against the FITTED centroids (one
    extra argmin pass, so every point provably sits with its nearest
    final centroid — what makes the silhouette's b ≥ a hold).
    Columns: vec_id, cluster, d2 (squared distance, integer units²)."""
    pts, cents = kmeans_pca_fit(embeddings, k, n_rounds, cache_key)
    return _assign_on_plane(pts, cents)


def kmeans_pca_centroids(embeddings: DataFrame, k: int = 4,
                         n_rounds: int = 6,
                         cache_key: str | None = None) -> DataFrame:
    """Per-cluster summary of the fitted model: final centroid, member
    count and exact integer inertia (Σ d2 of members to their final
    centroid — the elbow-curve number).
    Columns: cluster, cx, cy, n_points, inertia."""
    pts, cents = kmeans_pca_fit(embeddings, k, n_rounds, cache_key)
    assigned = kmeans_pca_assign(embeddings, k, n_rounds, cache_key)
    return _centroid_summary(assigned, cents)


def _centroid_summary(assigned: DataFrame, cents) -> DataFrame:
    """(cluster, cx, cy, n_points, inertia) from a final-round
    assignment table (vec_id, cluster, d2) + the k fitted centroid
    literals."""
    spark = assigned.sparkSession
    cdf = spark.createDataFrame(cents, "cluster INT, cx LONG, cy LONG")
    agg = assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("d2").cast("long").alias("inertia"))
    return (cdf.join(agg, "cluster", "left")
            .select("cluster", "cx", "cy",
                    F.coalesce("n_points", F.lit(0)).cast("long")
                    .alias("n_points"),
                    F.coalesce("inertia", F.lit(0)).cast("long")
                    .alias("inertia")))


def _assign_on_plane(pts: DataFrame, cents) -> DataFrame:
    """Final-round assignment (vec_id, cluster, d2) of an integer plane
    against fitted centroid literals — the shared tail of
    :func:`kmeans_pca_assign` and the streamed re-fit twin."""
    a = pts.select("vec_id", "s1", "s2",
                   _argmin_cid(cents).alias("cluster"))
    own = ("CASE cluster " + " ".join(
        [f"WHEN {cid} THEN"
         f" (CAST(s1 - ({cx}) AS BIGINT) * (s1 - ({cx}))"
         f" + CAST(s2 - ({cy}) AS BIGINT) * (s2 - ({cy})))"
         for cid, cx, cy in cents]) + " END")
    return a.select("vec_id", "cluster", F.expr(own).alias("d2"))


def kmeans_centroids_on_plane(pts: DataFrame, k: int = 4,
                              n_rounds: int = 6) -> DataFrame:
    """:func:`kmeans_pca_centroids` over an already-built integer plane
    (vec_id, s1, s2) — the re-fit-at-read tail the streamed twin runs
    off a state-derived plane. Identical fit → identical summary, so it
    shares the batch oracle verbatim."""
    pts, cents = kmeans_fit_on_plane(pts, k, n_rounds)
    return _centroid_summary(_assign_on_plane(pts, cents), cents)


def kmeans_silhouette(embeddings: DataFrame, k: int = 4,
                      n_rounds: int = 6,
                      cache_key: str | None = None) -> DataFrame:
    """Simplified silhouette (centroid-based — the standard large-scale
    variant of Rousseeuw 1987, distances to CENTROIDS instead of all
    members, on SQUARED distances — documented contract): per point
    s = (b − a)/b with a = d² to the assigned (nearest) final centroid
    and b = min d² over the other centroids; a ≤ b by the extra
    assignment pass, so the floor-ppm is nonnegative. Per-cluster mean
    via stepwise DIV. Columns: cluster, n_points, mean_sil_ppm."""
    pts, cents = kmeans_pca_fit(embeddings, k, n_rounds, cache_key)
    a = pts.select("vec_id", "s1", "s2",
                   _argmin_cid(cents).alias("cluster"))

    def d2(cx, cy):
        return (f"(CAST(s1 - ({cx}) AS BIGINT) * (s1 - ({cx}))"
                f" + CAST(s2 - ({cy}) AS BIGINT) * (s2 - ({cy})))")

    own = ("CASE cluster " + " ".join(
        [f"WHEN {cid} THEN {d2(cx, cy)}" for cid, cx, cy in cents])
        + " END")
    others = [f"CASE WHEN cluster = {cid} THEN NULL"
              f" ELSE {d2(cx, cy)} END" for cid, cx, cy in cents]
    b = "least(" + ", ".join(others) + ")"
    per = a.select(
        "cluster",
        F.expr(f"CASE WHEN ({b}) > 0 THEN"
               f" CAST((CAST(1000000 AS DECIMAL(38,0))"
               f" * (({b}) - ({own}))) div ({b}) AS BIGINT)"
               f" ELSE CAST(0 AS BIGINT) END").alias("sil_ppm"))
    return per.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_points"),
        F.expr("CAST(SUM(sil_ppm) div count(1) AS BIGINT)")
        .alias("mean_sil_ppm"))


def _kmeans_rounds_sql(k: int, n_rounds: int, scores_sql: str) -> str:
    """Shared CTE chain for the k-means oracles: quantized plane, init
    from the k lowest vec_ids, ``n_rounds`` unrolled assign/update
    rounds mirroring :func:`kmeans_pca_fit` exactly (argmin ties to the
    lowest cid, floor-division centroid means via the pmod trick,
    empty clusters carry the previous centroid). Every CTE is
    MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    round references its predecessor twice — materialization keeps the
    chain linear instead of 2^rounds."""
    def fd(expr, den):
        return (f"(({expr}) - ((({expr}) % ({den}) + ({den}))"
                f" % ({den}))) // ({den})")

    ctes = [f"sc AS MATERIALIZED ({scores_sql})", f"""
        pts AS MATERIALIZED (
          SELECT vec_id,
                 CAST(ROUND(score1 * {_SCALE}) AS BIGINT) AS s1,
                 CAST(ROUND(score2 * {_SCALE}) AS BIGINT) AS s2
          FROM sc)""", f"""
        c0 AS MATERIALIZED (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                   AS cid, s1 AS cx, s2 AS cy
          FROM (SELECT vec_id, s1, s2 FROM pts
                ORDER BY vec_id LIMIT {k}))"""]
    for r in range(1, n_rounds + 1):
        prev = f"c{r - 1}"
        ctes.append(f"""
        a{r} AS MATERIALIZED (
          SELECT vec_id, s1, s2, cid FROM (
            SELECT p.vec_id, p.s1, p.s2, c.cid,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY
                     (p.s1 - c.cx) * (p.s1 - c.cx)
                     + (p.s2 - c.cy) * (p.s2 - c.cy), c.cid) AS rn
            FROM pts p CROSS JOIN {prev} c) WHERE rn = 1)""")
        ctes.append(f"""
        g{r} AS MATERIALIZED (
          SELECT cid, CAST(SUM(s1) AS BIGINT) AS sx,
                 CAST(SUM(s2) AS BIGINT) AS sy,
                 CAST(count(*) AS BIGINT) AS n
          FROM a{r} GROUP BY 1)""")
        ctes.append(f"""
        c{r} AS MATERIALIZED (
          SELECT c.cid,
                 CAST(COALESCE({fd('g.sx', 'g.n')}, c.cx) AS BIGINT)
                   AS cx,
                 CAST(COALESCE({fd('g.sy', 'g.n')}, c.cy) AS BIGINT)
                   AS cy
          FROM {prev} c LEFT JOIN g{r} g USING (cid))""")
    # final assignment pass against the fitted centroids
    ctes.append(f"""
        fin AS MATERIALIZED (
          SELECT vec_id, s1, s2, cid AS cluster, d2 FROM (
            SELECT p.vec_id, p.s1, p.s2, c.cid,
                   (p.s1 - c.cx) * (p.s1 - c.cx)
                   + (p.s2 - c.cy) * (p.s2 - c.cy) AS d2,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY
                     (p.s1 - c.cx) * (p.s1 - c.cx)
                     + (p.s2 - c.cy) * (p.s2 - c.cy), c.cid) AS rn
            FROM pts p CROSS JOIN c{n_rounds} c) WHERE rn = 1)""")
    return "WITH " + ",".join(ctes)


def kmeans_assign_sql(k: int, n_rounds: int, scores_sql: str) -> str:
    return _kmeans_rounds_sql(k, n_rounds, scores_sql) + """
        SELECT vec_id, CAST(cluster AS INT) AS cluster,
               CAST(d2 AS BIGINT) AS d2
        FROM fin
    """


def kmeans_centroids_sql(k: int, n_rounds: int, scores_sql: str) -> str:
    return _kmeans_rounds_sql(k, n_rounds, scores_sql) + f"""
        SELECT c.cid AS cluster, c.cx, c.cy,
               CAST(COALESCE(m.n_points, 0) AS BIGINT) AS n_points,
               CAST(COALESCE(m.inertia, 0) AS BIGINT) AS inertia
        FROM c{n_rounds} c LEFT JOIN (
          SELECT cluster, count(*) AS n_points,
                 CAST(SUM(d2) AS BIGINT) AS inertia
          FROM fin GROUP BY 1) m ON m.cluster = c.cid
    """


def kmeans_silhouette_sql(k: int, n_rounds: int, scores_sql: str) -> str:
    inner = _kmeans_rounds_sql(k, n_rounds, scores_sql) + f"""
        , oth AS MATERIALIZED (
          SELECT f.vec_id, f.cluster, f.d2 AS a,
                 min((f.s1 - c.cx) * (f.s1 - c.cx)
                     + (f.s2 - c.cy) * (f.s2 - c.cy)) AS b
          FROM fin f JOIN c{n_rounds} c ON c.cid <> f.cluster
          GROUP BY 1, 2, 3)
        SELECT cluster,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(SUM(CASE WHEN b > 0
                             THEN (1000000::HUGEINT * (b - a)) // b
                             ELSE 0 END) // count(*) AS BIGINT)
                 AS mean_sil_ppm
        FROM oth GROUP BY 1
    """
    return inner


def kmeans_elbow(embeddings: DataFrame, ks=(2, 4, 8),
                 n_rounds: int = 6,
                 cache_key: str | None = None) -> DataFrame:
    """Model selection for the k-means tier: exact integer inertia at
    each candidate k — the elbow curve. Each k's fit is independently
    deterministic (same pinned init/rounds contract) and memoized per
    (application, k), so the k = 4 column is free when the serving
    entries already ran. Columns: k, n_points, inertia."""
    parts = []
    for k in ks:
        a = kmeans_pca_assign(embeddings, k=k, n_rounds=n_rounds,
                              cache_key=cache_key)
        parts.append(a.agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum("d2").cast("long").alias("inertia"))
            .select(F.lit(int(k)).cast("int").alias("k"),
                    "n_points", "inertia"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def kmeans_elbow_sql(ks, n_rounds: int, scores_sql: str) -> str:
    sels = []
    for k in ks:
        sels.append(
            "SELECT * FROM (" + _kmeans_rounds_sql(k, n_rounds,
                                                   scores_sql)
            + f"""
            SELECT CAST({k} AS INT) AS k,
                   CAST(count(*) AS BIGINT) AS n_points,
                   CAST(SUM(d2) AS BIGINT) AS inertia
            FROM fin)""")
    return " UNION ALL ".join(sels)


def _agreement_from_contingency(ct: DataFrame) -> DataFrame:
    """Purity + Adjusted Rand Index from a (cluster, label, n)
    contingency table (Hubert & Arabie 1985 pair-counting ARI; public
    method) — all sufficient statistics are EXACT integers:
    I = Σ_ij C(n_ij,2), A = Σ_i C(a_i,2), B = Σ_j C(b_j,2), N = C(n,2);
    ARI = (2NI − 2AB) / (N(A+B) − 2AB) after clearing denominators —
    numerator may be negative (worse-than-chance), so it is never
    integer-divided: the ratio is ONE double division of exactly-built
    DECIMAL terms (same expression both engines). Fowlkes-Mallows
    (1983) rides the same statistics: FM = I/√(A·B) = i2/(√a2·√b2)
    (the doubling cancels), spelled √·√ on both engines. Purity is
    the classic floor-ppm. Columns: n_points, purity_ppm, ari, fm."""
    cells = ct.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * (n - 1)"))
        .alias("i2"))  # 2·I
    rows_a = (ct.groupBy("cluster").agg(F.sum("n").alias("a"))
              .agg(F.sum(F.expr("CAST(a AS DECIMAL(38,0)) * (a - 1)"))
                   .alias("a2")))  # 2·A
    rows_b = (ct.groupBy("label").agg(F.sum("n").alias("b"))
              .agg(F.sum(F.expr("CAST(b AS DECIMAL(38,0)) * (b - 1)"))
                   .alias("b2")))  # 2·B
    pur = (ct.groupBy("cluster")
           .agg(F.max("n").alias("mx"))
           .agg(F.sum("mx").cast("long").alias("pure")))
    m = (cells.crossJoin(rows_a).crossJoin(rows_b).crossJoin(pur))
    # with doubled terms: N2 = 2N = n(n−1); ARI =
    # (N2·i2 − a2·b2) / (N2·(a2 + b2)/2 − a2·b2); doubling numerator
    # and denominator clears the /2: (2·N2·i2 − 2·a2·b2) /
    # (N2·(a2+b2) − 2·a2·b2)
    n2 = "CAST(n AS DECIMAL(38,0)) * (n - 1)"
    num = f"2 * ({n2}) * i2 - 2 * a2 * b2"
    den = f"({n2}) * (a2 + b2) - 2 * a2 * b2"
    return m.select(
        F.col("n").alias("n_points"),
        F.expr("CAST((1000000 * CAST(pure AS DECIMAL(38,0))) div n"
               " AS BIGINT)").alias("purity_ppm"),
        F.expr(f"CASE WHEN ({den}) <> 0 THEN"
               f" CAST(({num}) AS DOUBLE) / CAST(({den}) AS DOUBLE)"
               f" END").alias("ari"),
        F.expr("CASE WHEN a2 > 0 AND b2 > 0 THEN"
               " CAST(i2 AS DOUBLE)"
               " / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE)))"
               " END").alias("fm"),
    )


def kmeans_label_ari(embeddings: DataFrame, k: int = 4,
                     n_rounds: int = 6,
                     cache_key: str | None = None) -> DataFrame:
    """External validation of the fitted k-means model against the
    ground-truth ``label`` column: purity + pair-counting ARI. The
    contingency build is one tiny (cluster, label) groupBy over the
    assignment join — linear at any scale; the agreement math runs on
    a k×|labels| table. Columns: n_points, purity_ppm, ari."""
    a = kmeans_pca_assign(embeddings, k, n_rounds, cache_key)
    ct = (a.join(embeddings.select("vec_id", "label"), "vec_id")
          .groupBy("cluster", "label")
          .agg(F.count("*").cast("long").alias("n")))
    return _agreement_from_contingency(ct)


def kmeans_label_ari_sql(k: int, n_rounds: int, scores_sql: str) -> str:
    return _kmeans_rounds_sql(k, n_rounds, scores_sql) + """
        , ct AS MATERIALIZED (
          SELECT f.cluster, e.label, CAST(count(*) AS BIGINT) AS n
          FROM fin f JOIN embeddings e ON e.vec_id = f.vec_id
          GROUP BY 1, 2),
        cells AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                         SUM(n::HUGEINT * (n - 1)) AS i2 FROM ct),
        ra AS (SELECT SUM(a::HUGEINT * (a - 1)) AS a2 FROM
               (SELECT SUM(n) AS a FROM ct GROUP BY cluster)),
        rb AS (SELECT SUM(b::HUGEINT * (b - 1)) AS b2 FROM
               (SELECT SUM(n) AS b FROM ct GROUP BY label)),
        pur AS (SELECT CAST(SUM(mx) AS BIGINT) AS pure FROM
                (SELECT MAX(n) AS mx FROM ct GROUP BY cluster))
        SELECT n AS n_points,
               CAST((1000000 * pure::HUGEINT) // n AS BIGINT)
                 AS purity_ppm,
               CASE WHEN (n::HUGEINT * (n - 1)) * (a2 + b2)
                         - 2 * a2 * b2 <> 0 THEN
                 CAST(2 * (n::HUGEINT * (n - 1)) * i2 - 2 * a2 * b2
                      AS DOUBLE)
                 / CAST((n::HUGEINT * (n - 1)) * (a2 + b2)
                        - 2 * a2 * b2 AS DOUBLE)
               END AS ari,
               CASE WHEN a2 > 0 AND b2 > 0 THEN
                 CAST(i2 AS DOUBLE)
                 / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE)))
               END AS fm
        FROM cells, ra, rb, pur
    """


def dbscan_label_ari(embeddings: DataFrame, eps: int = 400_000,
                     min_pts: int = 4,
                     cache_key: str | None = None) -> DataFrame:
    """External validation of the DBSCAN clustering against the
    ground-truth ``label`` column — purity / ARI / FM over the
    CLUSTERED points only (noise excluded; the pinned convention —
    DBSCAN's noise has no cluster to agree with, and singleton-izing
    it would reward over-pruning). Columns: n_points, purity_ppm,
    ari, fm."""
    asg = dbscan_pca_clusters(embeddings, eps, min_pts,
                              cache_key=cache_key)
    ct = (asg.filter(F.col("cluster").isNotNull())
          .join(embeddings.select("vec_id", "label"), "vec_id")
          .groupBy("cluster", "label")
          .agg(F.count("*").cast("long").alias("n")))
    return _agreement_from_contingency(ct)


def dbscan_label_ari_sql(eps: int, min_pts: int,
                         scores_sql: str) -> str:
    return f"""
        WITH asg AS MATERIALIZED ({dbscan_sql(eps, min_pts,
                                              scores_sql)}),
        ct AS MATERIALIZED (
          SELECT a.cluster, e.label, CAST(count(*) AS BIGINT) AS n
          FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
          WHERE a.cluster IS NOT NULL
          GROUP BY 1, 2),
        cells AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                         SUM(n::HUGEINT * (n - 1)) AS i2 FROM ct),
        ra AS (SELECT SUM(a::HUGEINT * (a - 1)) AS a2 FROM
               (SELECT SUM(n) AS a FROM ct GROUP BY cluster)),
        rb AS (SELECT SUM(b::HUGEINT * (b - 1)) AS b2 FROM
               (SELECT SUM(n) AS b FROM ct GROUP BY label)),
        pur AS (SELECT CAST(SUM(mx) AS BIGINT) AS pure FROM
                (SELECT MAX(n) AS mx FROM ct GROUP BY cluster))
        SELECT n AS n_points,
               CAST((1000000 * pure::HUGEINT) // n AS BIGINT)
                 AS purity_ppm,
               CASE WHEN (n::HUGEINT * (n - 1)) * (a2 + b2)
                         - 2 * a2 * b2 <> 0 THEN
                 CAST(2 * (n::HUGEINT * (n - 1)) * i2 - 2 * a2 * b2
                      AS DOUBLE)
                 / CAST((n::HUGEINT * (n - 1)) * (a2 + b2)
                        - 2 * a2 * b2 AS DOUBLE)
               END AS ari,
               CASE WHEN a2 > 0 AND b2 > 0 THEN
                 CAST(i2 AS DOUBLE)
                 / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE)))
               END AS fm
        FROM cells, ra, rb, pur
    """
