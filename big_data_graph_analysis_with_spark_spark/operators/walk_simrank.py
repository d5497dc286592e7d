"""Per-walk SimRank: the reference's inner loop, batched across all
walks of a round as one DataFrame plan (SURVEY.md §3.1 restatement).

Reference (`Main.scala:104-108`): for every walk subgraph it calls
``SimRankv_2(subgraph.nodes, generateParentMap(subgraph),
og.nodes, generateParentMap(og), accumulator)`` — i.e. the perturbed
side is the *walk-induced subgraph* (its own parent map), the original
side is the whole graph. Serially, one walk at a time.

Spark-first: every join/aggregate below carries ``walk_id`` in its key,
so ALL walks of a round are scored in one shot — the per-walk loop
becomes partitioning, not iteration. Group sizes are bounded by the
walk quota (coeff·|V| nodes), so keys are well distributed; the og side
(edges, in-degrees) is walk-independent and joins once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import NetGraph


def walk_induced_edges(pg: NetGraph, walk_nodes: DataFrame) -> DataFrame:
    """(walk_id, src, dst): pg edges with both endpoints visited by the
    walk (J3, `HelperFunction.scala:336,355`)."""
    wn_src = walk_nodes.select("walk_id", F.col("id").alias("src"))
    wn_dst = walk_nodes.select("walk_id", F.col("id").alias("dst"))
    return (
        pg.edges.select("src", "dst")
        .join(wn_src, on="src")
        .join(wn_dst, on=["walk_id", "dst"])
        .select("walk_id", "src", "dst")
    )


def walk_simrank_round(
    pg: NetGraph,
    og: NetGraph,
    walk_nodes: DataFrame,
    matches: DataFrame | None,
    identity: DataFrame,
    og_indeg: DataFrame,
) -> DataFrame:
    """One Jacobi sweep per walk subgraph, all walks at once.

    `walk_nodes`: (walk_id, id) — distinct visited nodes per walk.
    Returns (walk_id, pg_id, og_id, score).

    Parent maps: pg side from the walk-induced subgraph (in-degrees per
    walk), og side global — exactly the reference's argument pair.
    `matches` plays the accumulator: fallback scores for parent pairs
    (`HelperFunction.scala:246-247`) and G6 pruning of already-matched
    nodes, pushed into the edge tables before the propagation join.
    `identity` (pg_id, og_id, 1.0) and `og_indeg` (dst, dn) are the
    round-invariant seed and og in-degrees, materialized once by the
    caller.

    The identity seed takes precedence over a fallback score for the
    same pair, and over a computed score in the output. Both overlays
    are one max-aggregate per (walk_id, pg_id, og_id) over the union,
    which is exact because the seed is 1.0 and no other score exceeds
    1.0: a fallback score is a prior round's output, and a computed
    score is round(Σ/(dp·dn), 2) where Σ sums at most dp·dn parent-pair
    scores, each at most 1.0.
    """
    key = ["walk_id", "pg_id", "og_id"]
    # per-walk identity seed: restrict to nodes the walk visited
    walk_identity = walk_nodes.join(
        identity, on=walk_nodes.id == identity.pg_id
    ).select(*key, "score")

    def over_identity(df: DataFrame) -> DataFrame:
        return (
            df.unionByName(walk_identity)
            .groupBy(*key)
            .agg(F.max("score").alias("score"))
        )

    induced = walk_induced_edges(pg, walk_nodes)
    wedges = induced
    og_fwd = og.edges.select(
        F.col("src").alias("og_id"), F.col("dst").alias("og_child")
    )
    scores = walk_identity
    if matches is not None:
        # accumulator fallback for parent pairs; the seed wins a tie
        scores = over_identity(
            walk_nodes.join(matches, on=walk_nodes.id == matches.pg_id).select(
                *key, "score"
            )
        )
        # G6 prune pushed into the propagation (see simrank.simrank_round)
        wedges = wedges.join(
            matches.select(F.col("pg_id").alias("dst")), on="dst", how="left_anti"
        )
        og_fwd = og_fwd.join(
            matches.select(F.col("og_id").alias("og_child")),
            on="og_child",
            how="left_anti",
        )

    # per-walk in-degrees of the induced subgraph = |P(p)| in the
    # reference's reciprocal coefficient (F7) — from the UNPRUNED
    # induced edges so the coefficient matches true subgraph parent
    # counts (one shared subplan with the propagation input)
    walk_indeg = induced.groupBy("walk_id", "dst").agg(
        F.count("*").alias("dp")
    )

    contrib = (
        scores.join(
            wedges.select("walk_id", F.col("src").alias("pg_id"), F.col("dst").alias("pg_child")),
            on=["walk_id", "pg_id"],
        )
        .join(og_fwd, on="og_id")
        .groupBy("walk_id", F.col("pg_child").alias("c_pg"), F.col("og_child").alias("c_og"))
        .agg(F.sum(F.col("score").cast("decimal(28,6)")).alias("s"))
    )

    computed = (
        contrib.join(
            walk_indeg.select(
                "walk_id", F.col("dst").alias("c_pg"), "dp"
            ),
            on=["walk_id", "c_pg"],
        )
        .join(og_indeg.select(F.col("dst").alias("c_og"), "dn"), on="c_og")
        .select(
            "walk_id",
            F.col("c_pg").alias("pg_id"),
            F.col("c_og").alias("og_id"),
            F.round(F.col("s").cast("double") / (F.col("dp") * F.col("dn")), 2).alias("score"),
        )
        .filter(F.col("score") != 0)
    )
    return over_identity(computed)
