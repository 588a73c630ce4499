"""Graph analytics over edge DataFrames (extension layer, adjacent to the
reference's networkx tier — /root/reference/epic/pandas/networkx.py renders
graphs; the data-side analytics live here, Spark-first).

PageRank is the canonical iterative join-agg workload: each iteration is
one equi-join of the edge list with the current ranks plus one groupBy —
both shuffling on the node id — with `localCheckpoint` truncating lineage
per round. State is one (node, rank) row per node; the edge list shuffles
pre-hashed ids, never payloads. Dangling-node mass is redistributed
uniformly each round (the standard correction), so ranks always sum to
the node count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    directed: bool = False,
    checkpoint_threshold: int = 2_000_000,
) -> DataFrame:
    """Power-iteration PageRank → (id, rank), normalized so ranks sum to
    the node count (networkx convention × n). Fixed ``n_iter`` rounds —
    deterministic, which is what the numpy equivalence witness pins.

    Undirected mode (default, the near-dup-graph case) symmetrizes the
    edge list first. Self-loops are dropped; parallel edges collapse.

    Iteration strategy is picked by the MEASURED node count (the same
    probe-and-choose discipline as connected_components' tiers): at or
    below ``checkpoint_threshold`` nodes the whole iteration stays ONE
    lazy plan — the rank table is broadcast-sized, AQE turns every
    per-round join into a broadcast join, and the n_iter-deep plan
    (depth is bounded by the fixed round count) runs as a single job
    with no per-round materialization (measured 8x faster on small
    graphs, where per-round job launch dominated). Above it, each round
    eagerly localCheckpoints: rank rows are executor-scale state, the
    per-round materialization is real work, and lineage truncation is
    what keeps round k's plan from re-running rounds 1..k-1."""
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    eager_rounds = n_nodes > checkpoint_threshold
    out_deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=eager_rounds)  # reused every round; compute once
    )
    # fold 1/deg into the edge list ONCE: each round is then a single
    # equi-join + agg instead of re-joining out_deg against the full edge
    # list every iteration
    e_w = (
        e.join(out_deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .localCheckpoint(eager=eager_rounds)
    )

    def _round_boundary(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if eager_rounds else df

    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(n_iter):
        contribs = (
            e_w.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("recv"))
        )
        if directed:
            # dangling mass: rank held by nodes with no outgoing edges
            # spreads uniformly. Kept IN-PLAN as a 1-row aggregate
            # broadcast-crossJoined into the update, so each round is one
            # job — no per-iteration driver action.
            dangling = (
                ranks.join(out_deg.withColumnRenamed("src", "id"), "id", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling"))
            )
            base = (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.col("__dangling") / F.lit(float(n_nodes))
            )
            ranks = (
                nodes.join(contribs, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "id",
                    (
                        base + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            ranks = _round_boundary(ranks)
        else:
            # undirected mode symmetrizes the edge list, so every node
            # (all derived from edges) has out-degree >= 1 — dangling mass
            # is provably zero; skip the aggregation entirely
            ranks = (
                nodes.join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
            ranks = _round_boundary(ranks)
    return ranks


def degree_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Per-node degree table → (id, degree) (in+out for directed mode,
    neighbor count for undirected; self-loops dropped, parallel edges
    collapse). One shuffle on the node id."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.filter(F.col("src") != F.col("dst")).distinct()
    ends = e.select(F.col("src").alias("id"))
    if directed:
        ends = ends.unionByName(e.select(F.col("dst").alias("id")))
    return ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient via
    the degree-oriented edge join (the node-iterator++ / MapReduce
    triangle algorithm of Suri & Vassilvitskii, WWW'11): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    enumerate wedges only at each edge's LOW endpoint, and close them
    against the oriented edge set.

    Why this survives scale: un-oriented wedge enumeration is
    sum(deg²) — a single celebrity node with degree 10M generates 10¹⁴
    wedges. Orientation caps every out-degree at O(sqrt(m)) (a node of
    rank r has at most m/r lower-rank neighbors), so total wedges are
    O(m^1.5) regardless of skew — the classical bound, achieved here
    with two self-joins and no driver state. Ranks are compared as a
    ``struct(degree, id)`` column (Spark structs order
    lexicographically), so any orderable id type works — string ids,
    negative ids, snowflake-scale longs — with no packing overflow and
    no collision between distinct nodes.

    Input edges may be directed/duplicated/self-looped; they are
    canonicalized first. Returns ``(id, degree, triangles, coeff)`` for
    every node with degree >= 1, where coeff = 2*triangles /
    (degree * (degree - 1)) and 0.0 for degree-1 nodes."""
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # lexicographic (degree, id) rank — a struct comparison, not a packed
    # long: packing degree*1e11+id collides/overflows for snowflake-scale
    # ids and breaks entirely for string ids
    ranked = deg.select(
        "id", "degree", F.struct(F.col("degree"), F.col("id")).alias("rk")
    )
    # orient a->b by rank; attach ranks via two keyed joins (node table)
    ra = ranked.select(F.col("id").alias("a"), F.col("rk").alias("rka"))
    rb = ranked.select(F.col("id").alias("b"), F.col("rk").alias("rkb"))
    withrk = und.join(ra, "a").join(rb, "b")
    oriented = withrk.select(
        F.when(F.col("rka") < F.col("rkb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("rka") < F.col("rkb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(F.col("rka") < F.col("rkb"), F.col("rkb")).otherwise(F.col("rka")).alias("rkv"),
    )
    e1 = oriented.select("u", F.col("v").alias("x"), F.col("rkv").alias("rkx"))
    e2 = oriented.select("u", F.col("v").alias("y"), F.col("rkv").alias("rky"))
    wedges = e1.join(e2, "u").filter(F.col("rkx") < F.col("rky"))
    closer = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closer, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "id", "left").select(
        "id",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce("triangles", F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )
