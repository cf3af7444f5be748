"""Iterative graph analytics on DataFrames — PageRank.

Together with ``dedup.dedup_clusters`` (connected components via pointer
jumping) this is the repo's iterative-algorithm surface: fixed-point loops
expressed as a sequence of joins/aggregations that Catalyst plans per
round, with lineage truncation so the plan does not double per iteration.

Beyond-reference analytics breadth: the reference engine (BASELINE.json)
has no graph surface; the implementation follows the original published
PageRank formulation (damping + uniform teleport, dangling mass
redistributed uniformly) — the variant GraphX/GraphFrames document.

Scale shape per iteration: ONE shuffle (contributions aggregated by dst)
plus a broadcast of two scalars (node count, dangling mass). Edge weights
are normalized once up front. ``localCheckpoint`` every few rounds keeps
the plan flat, exactly as the CC loop does (dedup.py) — measured there to
be the difference between flat per-round cost and exponential re-analysis.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import broadcast


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Weighted PageRank over ``edges``; returns ``(node, rank)``.

    - Nodes are the distinct union of src and dst.
    - Out-edge weights are normalized per source (uniform if ``weight`` is
      None), so each node distributes its full rank.
    - Dangling nodes (no out-edges) redistribute their rank uniformly, so
      total rank mass stays 1 every iteration (the standard formulation).

    Rank sums per target are plain double aggregation: in-degree-bounded
    FP reassociation error (~1e-16 per term) is far below any sensible
    presentation rounding; callers compare at a rounded precision, as the
    q136 oracle does.
    """
    # e is the root of four derivations (out_sum, norm, nodes, sources):
    # persist it so an expensive upstream edge construction (q136's 5-way
    # join) executes ONCE, not once per derivation (q136 warm 5.2 s ->
    # 3.6 s; what remains is per-iteration job-scheduling floor, which
    # vanishes relative to data work at real graph sizes — 2 M edges x 5
    # iterations measured 2.3 s total; PERFORMANCE.md "Round-4 operators").
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("_w"),
    ).persist()
    out_sum = e.groupBy("_src").agg(F.sum("_w").alias("_out"))
    norm = e.join(out_sum, "_src").select(
        "_src", "_dst", (F.col("_w") / F.col("_out")).alias("_p")
    )
    # nodes / sources / norm are each consumed EVERY iteration; persist
    # them so each round touches only cached frames.
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    norm = norm.persist()
    sources = out_sum.select(F.col("_src").alias("node")).persist()

    from streaming_feature_store_spark.cacheutil import (
        rolling_local_checkpoint,
    )

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    _ck_ids: list[int] = []
    for i in range(iterations):
        dangling = (
            ranks.join(sources, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contrib = (
            ranks.join(norm, ranks.node == norm._src)
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
        )
        # ranks is consumed three times next round (dangling, contrib,
        # next-ranks): materialize every round or the plan tree triples
        # per iteration. Rolling release keeps storage at O(nodes), not
        # O(rounds x nodes): each new checkpoint frees the superseded
        # round's blocks immediately instead of waiting for JVM GC.
        if (i + 1) % checkpoint_every == 0 or i + 1 == iterations:
            ranks, _ck_ids = rolling_local_checkpoint(ranks, _ck_ids)
    for f in (e, norm, nodes, sources):
        f.unpersist()
    # register the FINAL round's checkpoint for explicit release — a
    # long-lived session calling pagerank repeatedly must not leak one
    # O(nodes) checkpoint per call until GC (consume the result before
    # release_checkpoints()/release_all(), per the cacheutil contract)
    from streaming_feature_store_spark.cacheutil import track_checkpoint_ids

    track_checkpoint_ids(ranks.sparkSession, _ck_ids)
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph — the
    clustering/fraud-ring signal (tight co-occurrence cliques) beyond the
    reference's per-entity features.

    Input: one row per undirected edge; both (a,b) and (b,a) / duplicates
    tolerated (canonicalized and distinct-ed first), self-loops dropped.

    Scale shape — the MapReduce degree-orientation construction (Suri &
    Vassilvitskii 2011): orient every edge from the (degree, id)-smaller
    endpoint to the larger, so every out-degree is O(√m); enumerate wedges
    by self-joining oriented edges on the source (Σ outdeg² work, the
    minimum possible), and close each wedge with one hash join back to the
    oriented edge set.  Each triangle is found EXACTLY once.  Three
    shuffles total (degree agg, wedge join, closing join) — no node ever
    sees more than its oriented neighborhood, which is what keeps the
    skewed-hub case (a celebrity node with 10^7 neighbors) from
    materializing 10^14 wedges.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_db"))
    with_deg = e.join(da, "a").join(db, "b")
    # orient low (deg, id) -> high (deg, id); carry the target's order key
    # so the wedge's "v before w" test uses the SAME total order
    fwd = with_deg.select(
        F.when(
            (F.col("_da") < F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
            F.struct(
                F.col("a").alias("u"),
                F.col("b").alias("v"),
                F.col("_db").alias("dv"),
            ),
        )
        .otherwise(
            F.struct(
                F.col("b").alias("u"),
                F.col("a").alias("v"),
                F.col("_da").alias("dv"),
            )
        )
        .alias("o")
    ).select("o.u", "o.v", "o.dv")
    e1 = fwd.select(
        F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx")
    )
    e2 = fwd.select(
        F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy")
    )
    wedges = e1.join(e2, "u").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closing = fwd.select(
        F.col("u").alias("x"), F.col("v").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return per_node.join(
        deg.select(F.col("n").alias("node"), "deg"), "node"
    )
