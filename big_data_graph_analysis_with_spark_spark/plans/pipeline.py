"""End-to-end MitM-statistics pipeline (SURVEY.md §3.1, restated
Spark-first).

Reference lifecycle (`Main.scala:52-214`): load both graphs → broadcast
→ one RDD element per parallel-walk slot → per partition, batches of
`itersBeforeAccum` walks + per-walk SimRank + best-match + valuable
filter → custom accumulator max-merge → driver statistics → YAML.

Restatement: a **driver round-loop** replaces the in-partition batching
and the accumulator (G9). Per round r:

1. walks with ``walk_id ∈ [r·B, (r+1)·B)`` (all generated up front in
   one seeded `applyInPandas` pass — walk generation never depends on
   match state, only on partition-local visited history);
2. per-walk SimRank against the whole original graph: one grouped-map
   kernel over all walks of the round (`walk_simrank.walk_simrank_round`),
   with the global `matches` table as accumulator fallback. Its sums are
   integer cents, exact because every input score is 1.0 or a prior
   ``round(·, 2)``; the og-side G6 prune is a post-filter, exact because
   an output pair sums only contributions to its own og node and ``dn``
   counts the unpruned in-edges;
3. merged candidates → G7 best-match → G8 valuable filter →
   global max-merge into `matches`.

Neither graph reaches the driver: both child maps are written once as
parquet sideloads (`walks.ensure_sideload`, keyed on the caller's graph
objects, which own the dirs), read by the walk kernel (pg) and the
SimRank kernel (pg and og) on the workers.

The DataFrame `matches` table gives the accumulator's *intended*
semantics (global max-merge, README.md:142) deterministically — the
reference's version is per-partition-visible with a last-write-wins
merge (`Main.scala:42`), and re-scores every previous batch's walks
each round (`Main.scala:104-108` loops over all accumulated subgraphs)
— pure redundant recompute whose results the max-merge absorbs; we
score each walk once (SURVEY.md §7.4.4 also notes the reference drops
single-map batches entirely; we accumulate from ≥1).

Scale notes: `matches` is localCheckpointed each round — iterative
lineage otherwise grows unboundedly and re-executes every prior round
at each action. The round-invariant inputs (walk steps, the per-walk
visited sets, the identity seed) are localCheckpointed once, not
cached: AQE sizes a checkpointed frame from its bytes, but it may not
coalesce a cached plan's output
(`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is false
in Spark 4.1), so a cached frame keeps the full shuffle width and
every round's scan of it schedules one task per partition.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, SimConfig
from ..model import NetGraph
from ..operators import matching, stats, topology, walk_simrank, walks
from ..sources.sinks import write_yaml_stats


@dataclass
class PipelineResult:
    stats: dict[str, str]
    matches: DataFrame
    walk_steps: DataFrame
    per_round_match_counts: list[int] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    og: NetGraph,
    pg: NetGraph,
    cfg: SimConfig = DEFAULT_CONFIG,
    yaml_path: str | None = None,
    collect_round_counts: bool = False,
) -> PipelineResult:
    # the caller's graph objects are the STABLE cache identity for the
    # adjacency sideloads; the persist() wrappers below are fresh
    # objects every call and would defeat the reuse registry
    pg_key, og_key = pg, og
    og = og.persist()
    pg = pg.persist()
    n_pg = pg.num_vertices()

    try:
        # distributed draw — start-node ids stay cluster-side; only the
        # count reaches the driver (round-3 collected every start id)
        assignments = walks.sample_start_assignments_dist(
            spark, topology.start_nodes(pg), cfg
        )
        pg_adj = walks.ensure_sideload(pg, num_vertices=n_pg, cache_key=pg_key)
        og_adj = walks.ensure_sideload(og, cache_key=og_key)
        walk_steps = walks.run_walks(
            spark, pg, assignments, cfg, num_vertices=n_pg, adj_path=pg_adj
        )
        walk_steps = walk_steps.localCheckpoint()  # run the kernel exactly once

        visited = walks.walk_visited_sets(walk_steps).localCheckpoint()

        # the identity seed (10-attribute fingerprint join) is
        # round-invariant: materialized ONCE, not per round
        from ..operators.simrank import init_scores

        identity = init_scores(pg, og).localCheckpoint()

        matches: DataFrame | None = None
        per_round_counts: list[int] = []
        for rnd in range(cfg.num_rounds):
            lo = rnd * cfg.iters_before_accum
            hi = min((rnd + 1) * cfg.iters_before_accum, cfg.num_iters_per_comp_node)
            # one global walk key per (partition, walk) pair for the round
            round_nodes = (
                visited.filter((F.col("walk_id") >= lo) & (F.col("walk_id") < hi))
                .select(
                    (F.col("partition_key") * cfg.num_iters_per_comp_node + F.col("walk_id")).alias("walk_id"),
                    F.explode("visited").alias("id"),
                )
            )
            scores = walk_simrank.walk_simrank_round(
                round_nodes, matches, identity, pg_adj, og_adj
            )
            candidates = scores.select("pg_id", "og_id", "score")
            best = matching.best_match(candidates, pg, og)
            valuable = matching.valuable_matches(best, og)  # G8 before accumulate
            matches = matching.merge_matches(matches, valuable).localCheckpoint()
            if collect_round_counts:
                per_round_counts.append(matches.count())

        assert matches is not None
        stat_block = stats.assemble_stats(og, matches, visited, cfg.node_match_threshold)
        if yaml_path:
            write_yaml_stats(spark, stat_block, yaml_path)
    finally:
        og.unpersist()
        pg.unpersist()
    return PipelineResult(
        stats=stat_block,
        matches=matches,
        walk_steps=walk_steps,
        per_round_match_counts=per_round_counts,
    )
