"""Triangle counting over an undirected edge DataFrame (graph analytics
tier, alongside `operators/pagerank.py` and `operators/components.py`).

Triangles are the densest local structure a near-dup graph exhibits:
per-vertex triangle counts are the numerator of the local clustering
coefficient and separate tight duplicate cliques (every pair near-dup to
every other — safe to collapse aggressively) from star-shaped false-positive
hubs (one template document weakly similar to many unrelated ones), which
is exactly the judgment a dedup pipeline has to make before collapsing a
cluster.

Algorithm: degree-ordered edge orientation (the MapReduce triangle scheme
of Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
Reducer", WWW'11). Each undirected edge is oriented from its lower-ranked
endpoint to its higher-ranked endpoint under the total order
(degree, vertex id); wedges are built only out of each vertex's
HIGHER-ranked neighbors, so a vertex of degree d contributes at most
O(min(d, sqrt(m))^2) wedges — the orientation caps the classic
last-reducer skew where one celebrity vertex of degree 10^6 would
otherwise emit 10^12 wedges. Every stage is an equi-join or keyed
aggregate (edge-list-sized shuffles); each triangle is enumerated exactly
once, rooted at its lowest-ranked corner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.operators.materialize import materialize


def triangle_counts(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Per-vertex triangle counts over an undirected simple graph.

    `edges`: one row per undirected edge, endpoints in columns
    (a_col, b_col); rows with a == b (self-loops) are dropped and
    duplicate/mirrored rows are collapsed, so callers may pass raw pair
    lists. Returns (vertex, n_triangles) for every vertex on >= 1
    triangle — each triangle increments all three of its corners.
    """
    # Canonicalize: undirected simple edges with a < b, exactly once.
    # Materialized eagerly: the edge list is referenced four times below
    # (degree both sides + orientation), and without truncation every
    # reference re-plans — and at runtime re-executes — the whole upstream
    # pair-generation pipeline (e.g. a blocked-matmul similarity join).
    # Same pattern as connected_components: materialize the (small) edge
    # list once, then everything downstream joins in-memory data.
    e = materialize(
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "capped",
    )
    # Degree per vertex (over canonical edges); materialized because it
    # feeds BOTH sides of the orientation join below (without truncation
    # the union+aggregate would execute twice per action).
    deg = materialize(
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg")),
        "capped",
    )
    # Orient each edge from its lower (deg, id) endpoint to its higher one;
    # carry the destination's rank so the wedge join can order its two legs
    # without another degree lookup.
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    # Also materialized: referenced three times (two wedge legs + the
    # closing-edge probe); edge-list-sized.
    oriented = materialize(
        ranked.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
                "dst_deg"
            ),
        ),
        "capped",
    )
    # Wedges rooted at the lowest-ranked corner: pick two out-neighbors of
    # src, ordered by rank so the closing edge (v -> w) matches its own
    # orientation.
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    v_before_w = (F.col("e1.dst_deg") < F.col("e2.dst_deg")) | (
        (F.col("e1.dst_deg") == F.col("e2.dst_deg"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & v_before_w).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    triangles = wedges.join(closing, ["v", "w"])
    corners = (
        triangles.select(F.col("u").alias("vertex"))
        .unionByName(triangles.select(F.col("v").alias("vertex")))
        .unionByName(triangles.select(F.col("w").alias("vertex")))
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected simple graph.

    Runs `rounds` synchronous peel iterations: each round drops every
    vertex whose current degree is < k (and the edges touching it). The
    k-core — the maximal subgraph where every vertex keeps >= k
    neighbors — is the standard "dense enough to trust" filter over a
    near-dup graph: duplicate cliques survive, star-shaped
    false-positive hubs dissolve once their spokes are peeled.

    Fixed-round semantics (like `pagerank_fixed`): the result after
    exactly `rounds` peels is deterministic whether or not the peel has
    converged, which is what lets a SQL oracle unroll the identical
    iterations. Returns (vertex, degree) over the surviving edge set —
    vertices that lost every edge do not appear.

    Scale shape: each round is one keyed degree aggregate plus two
    semi-join-shaped equi-joins, all edge-list-sized; lineage is
    truncated per round with an eager localCheckpoint (the
    components/pagerank pattern), so plans stay constant-size across
    rounds.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = materialize(
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "capped",
    )

    def _degrees(ed: DataFrame) -> DataFrame:
        return (
            ed.select(F.col("a").alias("vertex"))
            .unionAll(ed.select(F.col("b").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    for _ in range(rounds):
        keep = _degrees(e).filter(F.col("degree") >= k).select("vertex")
        e = materialize(
            e.join(keep.withColumnRenamed("vertex", "a"), "a")
            .join(keep.withColumnRenamed("vertex", "b"), "b")
            .select("a", "b"),
            "capped",
        )
    return _degrees(e)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    a_col: str = "a",
    b_col: str = "b",
    seed_col: str = "vertex",
) -> DataFrame:
    """Fixed-round multi-source BFS over an undirected simple graph.

    Runs `rounds` synchronous label-relaxation iterations from the seed
    set: every vertex reachable within `rounds` edges of ANY seed gets
    its exact minimum hop count (0 for seeds themselves). Unreached
    vertices are absent from the result. This is the "blast radius"
    primitive over a near-dup graph — given a set of known-bad documents
    (seeds), how far does contamination spread through near-duplicate
    links, and in how many steps.

    Fixed-round semantics (the pagerank_fixed/kcore_peel contract): the
    result after exactly `rounds` relaxations is deterministic whether
    or not the frontier has emptied, so a SQL oracle can unroll the
    identical rounds. Hop counts are exact integers — no float anywhere.

    Scale shape: each round is one equi-join of the current distance
    table against the symmetrized edge list plus one keyed MIN
    aggregate (map-side combinable); lineage is truncated per round with
    an eager localCheckpoint so plans stay constant-size. Distance-table
    rows only ever carry (vertex, hops) — O(V) state, edge-sized
    shuffles, no frontier materialization on the driver.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # Symmetrize once — relaxation below walks src -> dst only.
    sym = materialize(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(e.select(F.col("b").alias("src"), F.col("a").alias("dst"))),
        "capped",
    )
    dist = materialize(
        seeds.select(F.col(seed_col).alias("vertex"))
        .distinct()
        .select("vertex", F.lit(0).cast("long").alias("hops")),
        "capped",
    )
    for _ in range(rounds):
        relaxed = (
            dist.join(sym, dist["vertex"] == sym["src"])
            .select(F.col("dst").alias("vertex"), (F.col("hops") + 1).alias("hops"))
        )
        dist = materialize(
            dist.unionByName(relaxed)
            .groupBy("vertex")
            .agg(F.min("hops").alias("hops")),
            "capped",
        )
    return dist


def hits_bipartite(
    edges: DataFrame,
    hub_col: str,
    auth_col: str,
    iters: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs-and-authorities over a bipartite edge list, INTEGER
    arithmetic throughout: scores start at `scale`, each half-iteration
    sums the opposite side's scores over the edges and re-normalizes by
    `score * scale DIV max(score)` — floor division, so every
    intermediate is an exact BIGINT and the result is bit-identical on
    any engine (no float accumulation order to pin).

    Returns (hub, hub_score) after `iters` full hub<-auth<-hub rounds.

    Scale shape: each half-iteration is one equi-join on the edge list +
    one keyed aggregate (both map-side combinable) + a 1-row global-max
    broadcast — the same per-round cost envelope as pagerank_fixed, with
    a fixed iteration count so lineage stays shallow (no checkpoint
    needed for small `iters`).
    """
    if iters < 1:
        raise ValueError("hits_bipartite: iters must be >= 1")
    # materialize the deduped edge list ONCE — every half-iteration joins
    # against it, and without this the plan re-scans + re-distincts the
    # input 2·iters times (pagerank_fixed's lineage-truncation pattern)
    e = materialize(
        edges.select(F.col(hub_col).alias("hub"), F.col(auth_col).alias("auth"))
        .distinct(),
        "checkpoint",
    )

    def _normalize(scores: DataFrame, key: str) -> DataFrame:
        mx = scores.agg(F.max("s").alias("mx"))
        return scores.crossJoin(F.broadcast(mx)).select(
            key, F.expr(f"CAST(s * {scale} DIV mx AS BIGINT)").alias("s")
        )

    # authorities start uniform at `scale`; first hub pass is then just
    # scale * degree(hub)
    hubs = e.groupBy("hub").agg(
        (F.count(F.lit(1)) * F.lit(scale)).cast("long").alias("s")
    )
    hubs = _normalize(hubs, "hub")
    for _ in range(iters - 1):
        auths = (
            e.join(hubs, "hub")
            .groupBy("auth")
            .agg(F.sum("s").cast("long").alias("s"))
        )
        auths = _normalize(auths, "auth")
        hubs = (
            e.join(auths, "auth")
            .groupBy("hub")
            .agg(F.sum("s").cast("long").alias("s"))
        )
        hubs = _normalize(hubs, "hub")
    return hubs.select("hub", F.col("s").alias("hub_score"))


def lpa_labels(
    edges: DataFrame,
    rounds: int,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Fixed-round synchronous label propagation (community detection).

    Every vertex starts labeled with its own id; each round, every vertex
    simultaneously adopts the MODE of its neighbors' labels with a
    deterministic tiebreak (highest count, then smallest label). Unlike
    the asynchronous LPA of Raghavan et al. 2007 — whose output depends
    on visit order — the synchronous update with a total-order tiebreak
    is a pure function of (edges, rounds), so a SQL oracle can unroll the
    identical rounds and value-hash the labels (the pagerank_fixed /
    kcore_peel contract).

    Scale shape: each round is one edge-sized equi-join (neighbor-label
    expansion), one (vertex, label) keyed count, and one
    vertex-PARTITIONED rank window (never global); lineage is truncated
    per round with an eager localCheckpoint. Vertices are derived from
    the edge list, so every vertex has >= 1 neighbor and the mode is
    total.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = materialize(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(e.select(F.col("b").alias("src"), F.col("a").alias("dst"))),
        "capped",
    )
    labels = materialize(
        sym.select(F.col("src").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("label")),
        "capped",
    )
    # Mode election is a max_by HASH AGGREGATE, not a rank window (round
    # 11, guide §2.4): per round this removes the per-vertex sort — the
    # (vertex, label) count and the mode argmax share one exchange, with
    # map-side partial aggregation on both. Ordering key
    # struct(n, -label) is unique per vertex (labels are distinct rows),
    # so its MAX equals the old (n DESC, label ASC) head exactly.
    for _ in range(rounds):
        nb = sym.join(
            labels.withColumnRenamed("vertex", "dst"), "dst"
        ).select(F.col("src").alias("vertex"), "label")
        cnt = nb.groupBy("vertex", "label").agg(F.count(F.lit(1)).alias("n"))
        labels = materialize(
            cnt.groupBy("vertex")
            .agg(
                F.max_by(
                    "label", F.struct("n", (-F.col("label")).alias("__neg"))
                ).alias("label")
            )
            .select("vertex", "label"),
            "capped",
        )
    return labels
