"""End-to-end MitM-statistics pipeline (SURVEY.md §3.1, restated
Spark-first).

Reference lifecycle (`Main.scala:52-214`): load both graphs → broadcast
→ one RDD element per parallel-walk slot → per partition, batches of
`itersBeforeAccum` walks + per-walk SimRank + best-match + valuable
filter → custom accumulator max-merge → driver statistics → YAML.

Restatement: no round loop on the driver. Walks of every round are
generated up front in one seeded `applyInPandas` pass (they never
depend on match state, only on partition-local visited history) and
their visited sets checkpointed once. One Python task
(`walk_simrank.match_walks`) then runs every round's per-walk SimRank,
G7 best match, G8 valuable filter and the max-merge that replaces the
accumulator (G9); its output, the final matches, is checkpointed once
and feeds the statistics block.

Neither graph reaches the driver: each is written once as a parquet
sideload (`walks.ensure_sideload`, keyed on the caller's graph objects,
which own the dirs), read by the walk kernel (pg) and the matcher (pg
and og). The matcher task holds both graphs and every walk's visited
set, so one Python worker's memory bounds the pipeline's scale.

The in-task `matches` dict gives the accumulator's *intended*
semantics (global max-merge, README.md:142) deterministically — the
reference's version is per-partition-visible with a last-write-wins
merge (`Main.scala:42`), and re-scores every previous batch's walks
each round (`Main.scala:104-108` loops over all accumulated subgraphs)
— pure redundant recompute whose results the max-merge absorbs; we
score each walk once (SURVEY.md §7.4.4 also notes the reference drops
single-map batches entirely; we accumulate from ≥1).

Scale notes: the walk steps and visited sets are localCheckpointed,
not cached: AQE sizes a checkpointed frame from its bytes, but it may
not coalesce a cached plan's output
(`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is false
in Spark 4.1), so a cached frame keeps the full shuffle width and every
scan of it schedules one task per partition.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..config import DEFAULT_CONFIG, SimConfig
from ..model import NetGraph
from ..operators import stats, topology, walk_simrank, walks
from ..sources.sinks import write_yaml_stats


@dataclass
class PipelineResult:
    stats: dict[str, str]
    matches: DataFrame
    walk_steps: DataFrame


def run_pipeline(
    spark: SparkSession,
    og: NetGraph,
    pg: NetGraph,
    cfg: SimConfig = DEFAULT_CONFIG,
    yaml_path: str | None = None,
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
        matches = walk_simrank.match_walks(visited, pg_adj, og_adj, cfg).localCheckpoint()
        stat_block = stats.assemble_stats(og, matches, visited, cfg.node_match_threshold)
        if yaml_path:
            write_yaml_stats(spark, stat_block, yaml_path)
    finally:
        og.unpersist()
        pg.unpersist()
    return PipelineResult(stats=stat_block, matches=matches, walk_steps=walk_steps)
