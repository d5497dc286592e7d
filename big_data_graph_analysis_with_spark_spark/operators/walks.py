"""Seeded random-walk kernel (SURVEY.md §2 rows G2-G4).

Reference (`HelperFunction.scala:305-372`): each Spark partition owns
one start node and runs `numItersPerCompNode` walks from it
sequentially; a walk repeatedly steps to a uniformly random child,
preferring children not yet visited by *earlier walks in the same
partition* (`:341-349` — the cross-walk exploration bias, G4), and
stops once the multiset of visited nodes reaches
``randomWalkCoeff × |V|`` (`:320`). Start nodes are sampled uniformly
with replacement (`createRDDForRW`, `:361-372` — its no-repeat memory
is dead code, SURVEY.md §7.4.5).

Documented deviations (SURVEY.md §7.4):
* **Seeded.** The reference uses unseeded `scala.util.Random`
  (`:347-349,366-368`) — its two recorded runs differ by 20 true
  positives. Every choice here draws from
  ``numpy.random.default_rng([seed, partition_key])``.
* **Sinks terminate.** The reference stalls at out-degree-0 nodes,
  padding the visited count until quota (`:333-339` builds a subgraph
  that is discarded). Termination yields the identical distinct-node
  set without the dead iterations.

Execution model: walks are inherently sequential (step t+1 depends on
t), so the kernel is an `applyInPandas` grouped map — one group per
partition key, Arrow-batched both ways. The adjacency reaches the
kernel **executor-side**: the graph is written once as a parquet
sideload (:func:`ensure_sideload`: one row per vertex, its own columns
plus its sorted children), and each Python worker builds its
pre-indexed dict from that columnar file on first use (cached per
worker process). The driver never materializes a single vertex —
unlike the reference, which collects and broadcasts the whole graph
through the driver (`Main.scala:72-73`) and then does a **linear scan
of the edge list per step** (`:316-318`). On a cluster the sideload
path lives on the shared FS (HDFS/S3) and executors fetch it exactly
like any input split. A walk can reach anywhere, so this kernel needs
the whole graph's adjacency in memory *per executor*, and the ceiling
is executor RAM — ≤ a few GB of adjacency per walk job. The MitM
matcher (walk_simrank) reads the sideloads of both graphs of a pair,
vertex rows included, in its one task. Stats are DataFrame algebra and
scale independently.

Above that per-executor memory ceiling a second tier takes over
(:func:`run_walks_frontier`, dispatched by vertex count in
:func:`run_walks`): walks step by JOINING the frontier against the
child-map table — no worker ever indexes the whole graph — with a
counter-based hash RNG (a pure function of (seed, partition, walk,
step)) replacing the sequential numpy stream, trading per-step join
latency for O(frontier) memory. Both tiers are deterministic and
seeded; trajectories differ between tiers (different RNG stream), so
the dispatch threshold defaults far above any graph the small tier
handles and the small path's trajectories never change.
"""

from __future__ import annotations

import atexit
import math
import os
import shutil
import tempfile
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import SimConfig
from ..model import NetGraph
from . import topology

WALK_SCHEMA = "partition_key LONG, walk_id LONG, step LONG, node_id LONG"

#: the sideload's child-list column; the vertex frame's own `children`
#: column is the NodeObject's attribute, not the adjacency
CHILD_IDS = "child_ids"

#: above this vertex count run_walks dispatches to the frontier-join
#: tier — the per-worker adjacency index (dict of |V| lists, roughly
#: 100 bytes/vertex + 16 bytes/edge) no longer fits a normally-sized
#: executor.
FRONTIER_TIER_THRESHOLD = 50_000_000

# Per-worker adjacency cache: Python workers are reused across tasks, so
# each executor pays the parquet→dict build once per sideload path, not
# once per task. Bounded — a long session walking many graphs must not
# accumulate dead adjacencies.
_ADJ_CACHE: dict[str, dict[int, list[int]]] = {}
_ADJ_CACHE_MAX = 4

# Driver-side sideload reuse: the same (immutable) NetGraph walked again
# — repeated pipeline runs, bench iterations — reuses its already-written
# sideload instead of re-materializing child_map. Weak keys: the path
# entry dies with the graph object (and the dir too, for an explicit
# cache_key; see ensure_sideload). Content can never go stale because a
# NetGraph's frames are immutable and each write gets a fresh dir.
_SIDELOAD_PATHS: "weakref.WeakKeyDictionary[NetGraph, str]" = (
    weakref.WeakKeyDictionary()
)


def _load_adjacency(path: str) -> dict[int, list[int]]:
    adj = _ADJ_CACHE.get(path)
    if adj is None:
        import pyarrow.dataset as ds

        tbl = ds.dataset(path, format="parquet").to_table(columns=["id", CHILD_IDS])
        adj = {
            i: ch
            for i, ch in zip(tbl.column("id").to_pylist(), tbl.column(CHILD_IDS).to_pylist())
            if ch
        }
        while len(_ADJ_CACHE) >= _ADJ_CACHE_MAX:
            _ADJ_CACHE.pop(next(iter(_ADJ_CACHE)))
        _ADJ_CACHE[path] = adj
    return adj


def _long_frame(spark: SparkSession, **columns: list) -> DataFrame:
    """A small driver-side frame of int64 columns, as a LocalRelation.

    An Arrow table reaches the JVM in one batch. A Python list would
    become a pickled RDD, and every read of it starts Python worker
    tasks only to unpickle a few rows."""
    return spark.createDataFrame(
        pa.table({k: pa.array(v, pa.int64()) for k, v in columns.items()})
    )


def sample_start_assignments(
    spark: SparkSession,
    start_ids: list[int],
    cfg: SimConfig,
) -> DataFrame:
    """(partition_key, start_id) — one seeded uniform-with-replacement
    draw per parallel walk slot (G2, `createRDDForRW`)."""
    # reference crashes on cyclic graphs (Random.nextInt(0),
    # SURVEY.md §7.4.8); no start ids degrade to an empty assignment
    keys = range(1, cfg.num_of_parallel_walks + 1) if start_ids else range(0)
    rng = np.random.default_rng([cfg.seed, 0])
    pool = sorted(start_ids)
    return _long_frame(
        spark,
        partition_key=list(keys),
        start_id=[pool[rng.integers(0, len(pool))] for _ in keys],
    )


def sample_start_assignments_dist(
    spark: SparkSession,
    start_nodes: DataFrame,
    cfg: SimConfig,
) -> DataFrame:
    """Distributed twin of :func:`sample_start_assignments` — bit-identical
    output, but the start-node *ids never reach the driver*: only their
    count does (one scalar). The seeded draws index into the id-sorted
    pool, so the driver materializes ``num_of_parallel_walks`` rank
    integers and a rank-equi-join resolves them to ids cluster-side.

    The rank window is unpartitioned, which sorts the start-node set on
    one task — acceptable because start nodes are a frontier (no
    in-edges), a small fraction of V; the full vertex table never flows
    through it.

    The ranked frame is localCheckpointed BEFORE the count so the
    start-node derivation (an anti-join over the full edge table) runs
    exactly once — counting and then re-deriving for the rank join
    would execute that anti-join twice, and on a stage-heavy pipeline
    the second execution is pure latency. The checkpoint is lazy: the
    count is the action that fills it, so derivation + materialization
    + count are ONE job instead of two.
    """
    ranked = (
        start_nodes.select("id")
        .withColumn("rank", F.row_number().over(Window.orderBy("id")) - 1)
        .localCheckpoint(eager=False)
    )
    n = ranked.count()
    keys = range(1, cfg.num_of_parallel_walks + 1) if n else range(0)
    rng = np.random.default_rng([cfg.seed, 0])
    draws = _long_frame(
        spark,
        partition_key=list(keys),
        rank=[rng.integers(0, n) for _ in keys],
    )
    return (
        ranked.join(F.broadcast(draws), on="rank")
        .select("partition_key", F.col("id").alias("start_id"))
    )


def ensure_sideload(
    pg: NetGraph,
    num_vertices: int | None = None,
    cache_key: NetGraph | None = None,
) -> str:
    """Materialize (or reuse) the executor-side sideload of a graph `pg`
    and return its path. The walk kernels read its child lists for the
    graph they walk; the MitM matcher (walk_simrank.match_walks) reads
    the sideloads of both graphs of a pair, vertex rows included.

    One row per vertex: the vertex frame's own columns plus
    ``child_ids``, its sorted children (empty for sinks; an edge source
    missing from the vertex frame gets null vertex columns), built
    cluster-side — NO driver materialization. A worker's dict costs
    about 100 B per vertex plus 16 B per child; the matcher's row
    tuples a few hundred bytes more per vertex. Locally the sideload is
    a temp dir; on a cluster, point SPARK_GRAFT_SCRATCH at a shared FS.

    Reuse is keyed on `cache_key` (default: `pg` itself) in a weak-key
    registry — callers that re-wrap the graph per run (e.g.
    run_pipeline's persist() wrapper returns a fresh NetGraph) pass
    their long-lived ORIGINAL object so repeated runs over the same
    graph write the child_map exactly once. Content can never go stale:
    a NetGraph's frames are immutable and each write gets a fresh dir.
    An explicit `cache_key` also owns the dir: it is deleted when the
    key is garbage-collected (or at interpreter exit), so a long-lived
    driver does not accumulate them. Such a caller must materialize
    whatever reads the sideload while it holds the key (run_pipeline
    checkpoints its walk steps and its matches). Without a
    `cache_key` the dir outlives the graph, since run_walks /
    node2vec_walks return lazy frames that may read it after their
    graph argument is gone; it is deleted at interpreter exit.
    """
    key = cache_key if cache_key is not None else pg
    adj_path = _SIDELOAD_PATHS.get(key)
    if adj_path is not None and os.path.isdir(adj_path):
        return adj_path
    n_v = num_vertices if num_vertices is not None else pg.num_vertices()
    # fresh dir per write — the per-worker cache is keyed by path,
    # so a path must never be rewritten with different contents
    scratch = tempfile.mkdtemp(
        prefix="bdga_walk_adj_", dir=os.environ.get("SPARK_GRAFT_SCRATCH")
    )
    adj_path = os.path.join(scratch, "child_map")
    n_files = max(1, math.ceil(n_v / 2_000_000))
    kids = topology.child_map(pg).withColumnRenamed("children", CHILD_IDS)
    rows = pg.vertices.join(kids, on="id", how="full").withColumn(
        CHILD_IDS, F.coalesce(CHILD_IDS, F.array().cast("array<long>"))
    )
    rows.coalesce(n_files).write.mode("overwrite").parquet(adj_path)
    _SIDELOAD_PATHS[key] = adj_path
    if cache_key is not None:
        weakref.finalize(cache_key, shutil.rmtree, scratch, True)
    else:
        atexit.register(shutil.rmtree, scratch, True)
    return adj_path


def run_walks(
    spark: SparkSession,
    pg: NetGraph,
    assignments: DataFrame,
    cfg: SimConfig,
    num_vertices: int | None = None,
    adj_path: str | None = None,
) -> DataFrame:
    """All walks for all partitions: (partition_key, walk_id, step, node_id).

    walk_id is globally ordered per partition (0-based across all
    rounds); the matcher (walk_simrank) groups rounds by
    ``walk_id // iters_before_accum``.

    Dispatch: up to FRONTIER_TIER_THRESHOLD vertices the sideload
    kernel runs — the small
    path, whose seeded trajectories are pinned by tests and never
    change. Above it, :func:`run_walks_frontier` takes over: same walk
    semantics (quota, sink termination, cross-walk exploration bias),
    O(frontier) executor memory, per-step frontier joins.
    """
    n_v = num_vertices if num_vertices is not None else pg.num_vertices()
    # an explicitly-passed adj_path pins the sideload tier (matching
    # node2vec_walks): the caller already paid the sideload write, and
    # the tiers' RNG streams differ — silently switching would both
    # waste that write and change trajectories
    if adj_path is None and n_v > FRONTIER_TIER_THRESHOLD:
        return run_walks_frontier(spark, pg, assignments, cfg, num_vertices=n_v)
    quota = cfg.random_walk_coeff * n_v
    n_iters = cfg.num_iters_per_comp_node
    seed = cfg.seed

    if adj_path is None:
        adj_path = ensure_sideload(pg, num_vertices=n_v)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        adj = _load_adjacency(adj_path)
        out_part: list[int] = []
        out_walk: list[int] = []
        out_step: list[int] = []
        out_node: list[int] = []
        for _, row in pdf.iterrows():
            pkey, start = int(row["partition_key"]), int(row["start_id"])
            rng = np.random.default_rng([seed, pkey])
            partition_visited: set[int] = set()
            for walk_id in range(n_iters):
                path: list[int] = []
                cur = start
                while len(path) < quota:
                    path.append(cur)
                    nbrs = adj.get(cur)
                    if not nbrs:
                        break  # sink: terminate (deviation §7.4.6)
                    unvisited = [c for c in nbrs if c not in partition_visited]
                    pool = unvisited if unvisited else nbrs
                    cur = pool[rng.integers(0, len(pool))]
                partition_visited.update(path)
                out_part.extend([pkey] * len(path))
                out_walk.extend([walk_id] * len(path))
                out_step.extend(range(len(path)))
                out_node.extend(path)
        return pd.DataFrame(
            {
                "partition_key": pd.Series(out_part, dtype="int64"),
                "walk_id": pd.Series(out_walk, dtype="int64"),
                "step": pd.Series(out_step, dtype="int64"),
                "node_id": pd.Series(out_node, dtype="int64"),
            }
        )

    return assignments.groupBy("partition_key").applyInPandas(kernel, WALK_SCHEMA)


def run_walks_frontier(
    spark: SparkSession,
    pg: NetGraph,
    assignments: DataFrame,
    cfg: SimConfig,
    num_vertices: int | None = None,
) -> DataFrame:
    """Extreme-scale walk tier: (partition_key, walk_id, step, node_id)
    with the SAME semantics as the sideload kernel — per partition,
    `num_iters_per_comp_node` sequential walks of at most
    ceil(random_walk_coeff·|V|) nodes, stepping to a random child with
    the cross-walk exploration bias (children unvisited by EARLIER
    walks of the same partition are preferred; the preference set
    updates when a walk completes, exactly like the kernel's
    ``partition_visited.update(path)``), terminating at sinks — but NO
    worker ever holds the adjacency: each step joins the one-row-per-
    active-partition frontier against the child-map table, flags the
    exploded children against the partition's visited table, and picks
    ``pool[h mod |pool|]`` where ``h`` is the 56-bit MD5 hash of
    ``seed:pkey:walk:step`` (functions/hashing.hash56) — a
    counter-based RNG that is a pure function of the walk coordinates,
    so trajectories are deterministic under any partitioning, re-run,
    or cluster size (the property the kernel gets from its seeded
    numpy stream; the two tiers' streams differ, which is why the
    dispatch threshold sits far above every small-tier graph).

    Cost model (the honest trade): memory per executor is O(frontier +
    visited partition) instead of O(|V| + |E|), paid for with one
    child-map join + one pkey-grouped aggregation PER STEP — walks are
    inherently sequential, so a graph too big to index per-worker
    costs a join round per hop. All partitions' current walks advance
    in the same round (the frontier has ≤ num_of_parallel_walks rows),
    so rounds = Σ max walk length, not Σ total steps. At 100 TB, store
    child_map as an id-bucketed catalog table (sources/parquet_graph)
    so the per-step join is a pruned bucketed probe rather than a full
    scan, and keep random_walk_coeff·|V| (the per-walk hop budget)
    bounded — the tier exists for huge graphs with bounded walks, not
    for walks that themselves traverse a meaningful fraction of 100 TB.
    """
    from functools import reduce

    from ..functions.hashing import hash56

    n_v = num_vertices if num_vertices is not None else pg.num_vertices()
    max_len = max_walk_len(cfg, n_v)
    n_iters = cfg.num_iters_per_comp_node
    seed = cfg.seed
    # materialize the child map ONCE — every per-step join probes it,
    # and without the checkpoint each probe would re-run the full
    # groupBy+collect_list over the edge set (one whole child-map
    # recomputation per hop on the tier meant for graphs too big to
    # index per-worker)
    cmap = (
        topology.child_map(pg)
        .localCheckpoint(eager=False)
        .select(F.col("id").alias("__cm_id"), "children")
    )

    starts = assignments.select("partition_key", "start_id").localCheckpoint(
        eager=False
    )
    # per-step frontiers are already materialized by their own
    # localCheckpoint; accumulate the frames driver-side and union once
    # at the end instead of re-checkpointing the growing walk prefix
    # every hop (which copied O(max_len^2) rows per walk). All loop
    # checkpoints are lazy — the first consuming job materializes each
    # one exactly once; no standalone checkpoint jobs.
    all_frames: list[DataFrame] = []
    visited = spark.createDataFrame(
        [], "partition_key LONG, node_id LONG"
    ).localCheckpoint(eager=False)

    for walk_id in range(n_iters):
        frontier = starts.select(
            "partition_key",
            F.lit(walk_id).cast("long").alias("walk_id"),
            F.lit(0).cast("long").alias("step"),
            F.col("start_id").alias("node_id"),
        ).localCheckpoint(eager=False)
        walk_frames = [frontier]
        for step in range(1, max_len):
            ch = frontier.join(
                cmap, frontier["node_id"] == cmap["__cm_id"], "inner"
            ).select("partition_key", "children")
            ex = ch.select(
                "partition_key", F.posexplode("children").alias("pos", "child")
            )
            flagged = ex.join(
                visited.select(
                    "partition_key",
                    F.col("node_id").alias("child"),
                    F.lit(True).alias("seen"),
                ),
                on=["partition_key", "child"],
                how="left",
            )
            # pools keep the child-map's sorted order via pos;
            # collect_list drops the nulls the `when` leaves on
            # already-visited children
            pools = flagged.groupBy("partition_key").agg(
                F.sort_array(
                    F.collect_list(F.struct("pos", "child"))
                ).alias("all_ch"),
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("seen").isNull(), F.struct("pos", "child"))
                    )
                ).alias("unv"),
            )
            pool = F.when(F.size("unv") > 0, F.col("unv")).otherwise(
                F.col("all_ch")
            )
            h = hash56(
                F.concat_ws(
                    ":",
                    F.lit(str(seed)),
                    F.col("partition_key").cast("string"),
                    F.lit(str(walk_id)),
                    F.lit(str(step)),
                )
            )
            # lazy checkpoint + full count: the emptiness probe IS the
            # materializing action, so each step costs one job, not an
            # eager-checkpoint job plus a limit(1) probe job
            frontier = pools.select(
                "partition_key",
                F.lit(walk_id).cast("long").alias("walk_id"),
                F.lit(step).cast("long").alias("step"),
                F.element_at(
                    pool, (F.pmod(h, F.size(pool)) + 1).cast("int")
                )["child"].alias("node_id"),
            ).localCheckpoint(eager=False)
            if frontier.count() == 0:
                break
            walk_frames.append(frontier)
        all_frames.extend(walk_frames)
        # the exploration-bias set updates per completed walk, exactly
        # like the kernel's partition_visited.update(path); this is the
        # one per-walk checkpoint the next walk's joins genuinely need
        walk_nodes = reduce(
            DataFrame.unionAll,
            [f.select("partition_key", "node_id") for f in walk_frames],
        )
        visited = (
            visited.unionAll(walk_nodes)
            .distinct()
            .localCheckpoint(eager=False)
        )
    if not all_frames:
        return spark.createDataFrame([], WALK_SCHEMA)
    return reduce(DataFrame.unionAll, all_frames)


def walk_visited_sets(walk_steps: DataFrame) -> DataFrame:
    """Distinct visited nodes per walk:
    (partition_key, walk_id, visited array<long> sorted)."""
    return walk_steps.groupBy("partition_key", "walk_id").agg(
        F.array_sort(F.collect_set("node_id")).alias("visited")
    )


def greedy_walks(
    graph: NetGraph, depth: int = 6, n_partitions: int = 4
) -> DataFrame:
    """Deterministic min-neighbor walks: from every start node (no
    in-edges), repeatedly step to the SMALLEST out-neighbor for up to
    `depth` steps — (partition_key, walk_id, visited array<long>).

    The seeded random kernel (`run_walks`, G3) can never hash-verify
    against a SQL oracle; this twin walks the same graph with the
    randomness replaced by argmin, so the downstream G10 classification
    (`stats.classify_walks` + `walk_counts`, `Main.scala:189-202`)
    becomes oracle-checkable end to end — the round-7 verdict's "last
    rows-only reference-path piece".

    Scale: the next-hop map is ONE edge aggregation; each step is a
    shuffle join keyed by the current position (the BFS frontier
    pattern, never a collect). A walk with no out-edge stalls in place
    and stops growing; cycles revisit nodes, which the downstream
    distinct-visited semantics absorb.
    """
    edges = graph.edges.select("src", "dst")
    nxt = edges.groupBy("src").agg(F.min("dst").alias("nxt"))
    starts = graph.vertices.select("id").join(
        edges.select(F.col("dst").alias("id")).distinct(),
        on="id",
        how="left_anti",
    )
    cur = starts.select(
        F.col("id").alias("walk_id"),
        (F.col("id") % n_partitions).cast("long").alias("partition_key"),
        F.col("id").alias("pos"),
        F.array(F.col("id")).alias("visited"),
    )
    for _ in range(depth):
        cur = cur.join(nxt, cur["pos"] == nxt["src"], "left").select(
            "walk_id",
            "partition_key",
            F.coalesce("nxt", "pos").alias("pos"),
            F.when(
                F.col("nxt").isNotNull(),
                F.concat("visited", F.array("nxt")),
            )
            .otherwise(F.col("visited"))
            .alias("visited"),
        )
    return cur.select("partition_key", "walk_id", "visited")


def max_walk_len(cfg: SimConfig, num_vertices: int) -> int:
    """Upper bound on path length (the reference's quota, `:320`)."""
    return math.ceil(cfg.random_walk_coeff * num_vertices)


NODE2VEC_SCHEMA = "start_id LONG, rep LONG, step LONG, node_id LONG"


def node2vec_walks(
    spark: SparkSession,
    pg: NetGraph,
    walks_per_vertex: int = 1,
    walk_length: int = 20,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 0,
    adj_path: str | None = None,
) -> DataFrame:
    """(start_id, rep, step, node_id): second-order biased random walks
    (Grover & Leskovec, KDD 2016) from every vertex — the walk-corpus
    generator for skip-gram graph embeddings, built on the same
    executor-side adjacency sideload as the MitM kernel.

    Transition weights from node v after arriving via t: 1/p back to
    t (return), 1 to common neighbors of t and v (BFS-ish), 1/q
    otherwise (DFS-ish); first step uniform. Each walk's RNG is seeded
    by (seed, start_id, rep) — the trajectory is a pure function of
    those, independent of grouping/partitioning, so re-runs and
    repartitions are bit-identical (tested). Directed: walks follow
    out-edges and stop at sinks.

    Scale shape: assignments are a narrow vertices×reps frame grouped
    into bounded hash buckets; the kernel streams Arrow batches and
    reads the shared adjacency sideload (see ensure_sideload — the one
    per-executor whole-graph residency this family needs). Walk output
    is (L+1)·reps·|V| narrow rows — the dominant cost is writing the
    corpus, as it should be.

    Above FRONTIER_TIER_THRESHOLD vertices (same dispatch as
    `run_walks`) the sideload never materializes: :func:`node2vec_walks_frontier` steps
    every walk by joining the walk-state frame against the child-map
    table — O(walk-state) memory per executor, no whole-graph
    residency anywhere. Trajectories between the tiers differ
    (numpy-stream vs counter-hash RNG), so the threshold sits far
    above every small-tier graph.
    """
    if adj_path is None and pg.num_vertices() > FRONTIER_TIER_THRESHOLD:
        return node2vec_walks_frontier(
            spark, pg, walks_per_vertex, walk_length, p, q, seed
        )
    adj_path = adj_path if adj_path is not None else ensure_sideload(pg)
    n_buckets = max(8, spark.sparkContext.defaultParallelism * 2)
    assignments = (
        pg.vertices.select(F.col("id").alias("start_id"))
        .select(
            "start_id",
            F.explode(
                F.sequence(F.lit(1), F.lit(int(walks_per_vertex)))
            ).alias("rep"),
        )
        .withColumn(
            "bucket",
            F.abs(F.xxhash64("start_id", "rep", F.lit(seed))) % n_buckets,
        )
    )

    L, P, Q, SEED = int(walk_length), float(p), float(q), int(seed)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        adj = _load_adjacency(adj_path)
        out_start: list[int] = []
        out_rep: list[int] = []
        out_step: list[int] = []
        out_node: list[int] = []
        for start, rep in zip(pdf["start_id"], pdf["rep"]):
            start, rep = int(start), int(rep)
            rng = np.random.default_rng([SEED, start, rep])
            path = [start]
            prev = None
            cur = start
            while len(path) <= L:
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                if prev is None:
                    nxt = nbrs[rng.integers(0, len(nbrs))]
                else:
                    prev_nbrs = adj.get(prev) or []
                    w = np.empty(len(nbrs), dtype=np.float64)
                    for i, x in enumerate(nbrs):
                        if x == prev:
                            w[i] = 1.0 / P
                        elif x in prev_nbrs:
                            w[i] = 1.0
                        else:
                            w[i] = 1.0 / Q
                    w /= w.sum()
                    nxt = nbrs[rng.choice(len(nbrs), p=w)]
                path.append(int(nxt))
                prev, cur = cur, int(nxt)
            out_start.extend([start] * len(path))
            out_rep.extend([rep] * len(path))
            out_step.extend(range(len(path)))
            out_node.extend(path)
        return pd.DataFrame(
            {
                "start_id": pd.Series(out_start, dtype="int64"),
                "rep": pd.Series(out_rep, dtype="int64"),
                "step": pd.Series(out_step, dtype="int64"),
                "node_id": pd.Series(out_node, dtype="int64"),
            }
        )

    return assignments.groupBy("bucket").applyInPandas(kernel, NODE2VEC_SCHEMA)


def node2vec_walks_frontier(
    spark: SparkSession,
    pg: NetGraph,
    walks_per_vertex: int = 1,
    walk_length: int = 20,
    p: float = 1.0,
    q: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Extreme-scale node2vec tier: same walk semantics as the kernel
    (second-order p/q bias, first step uniform, directed, sinks stop)
    with NO per-worker adjacency — each step joins the walk-state
    frame (start_id, rep, prev, cur) against the child-map table
    twice (cur's children for the candidate set, prev's children for
    the common-neighbor test) and picks the next node with a
    counter-based integer-weighted draw:

    * weights are MILLI-INTEGERS — w_back = round(1e6/p), w_common =
      1e6, w_else = round(1e6/q) — so the cumulative-sum draw is pure
      long arithmetic, deterministic under any partitioning (bias
      ratios match the kernel's float weights to 1e-6);
    * the uniform variate is ``hash56(seed:start:rep:step) mod Σw`` —
      a pure function of the walk coordinates, like
      `run_walks_frontier`'s choice (the two tiers' RNG streams
      differ from the kernel's numpy streams by design).

    Cost model: L rounds of two child-map joins over an O(|V|·reps)
    state frame — walks from every vertex advance in the same round,
    so the per-round join IS the corpus-scale scan, and executor
    memory stays O(state). Store child_map as an id-bucketed catalog
    table so both probes co-locate.
    """
    from functools import reduce

    from ..functions.hashing import hash56

    # materialized once — both per-step probes (cur + prev) reuse it
    cmap = (
        topology.child_map(pg)
        .localCheckpoint(eager=False)
        .select(F.col("id").alias("__cm_id"), "children")
    )
    w_back = max(1, round(1_000_000 / float(p)))
    w_common = 1_000_000
    w_else = max(1, round(1_000_000 / float(q)))
    L = int(walk_length)

    state = (
        pg.vertices.select(F.col("id").alias("start_id"))
        .select(
            "start_id",
            F.explode(
                F.sequence(F.lit(1), F.lit(int(walks_per_vertex)))
            ).alias("rep"),
        )
        .select(
            "start_id",
            F.col("rep").cast("long").alias("rep"),
            F.lit(None).cast("long").alias("prev"),
            F.col("start_id").alias("cur"),
        )
        .localCheckpoint(eager=False)
    )
    # each step's state frame is materialized by its own (lazy)
    # localCheckpoint — the emptiness count is the filling action, so a
    # step costs one job, not an eager-checkpoint job plus a probe job;
    # collect the per-step output frames driver-side and union once at
    # the end instead of re-checkpointing the growing corpus every hop
    out_frames = [
        state.select(
            "start_id", "rep", F.lit(0).cast("long").alias("step"),
            F.col("cur").alias("node_id"),
        )
    ]

    empty_arr = F.array().cast("array<long>")
    for step in range(1, L + 1):
        cur_nbrs = state.join(
            cmap, state["cur"] == cmap["__cm_id"], "inner"
        ).select(
            "start_id", "rep", "prev", "cur",
            F.col("children").alias("cur_ch"),
        )
        with_prev = cur_nbrs.join(
            cmap.select(
                F.col("__cm_id").alias("prev"),
                F.col("children").alias("prev_ch"),
            ),
            on="prev",
            how="left",
        )
        ws = F.transform(
            F.col("cur_ch"),
            lambda c: F.when(F.col("prev").isNull(), F.lit(1).cast("long"))
            .when(c == F.col("prev"), F.lit(w_back).cast("long"))
            .when(
                F.array_contains(F.coalesce(F.col("prev_ch"), empty_arr), c),
                F.lit(w_common).cast("long"),
            )
            .otherwise(F.lit(w_else).cast("long")),
        )
        h = hash56(
            F.concat_ws(
                ":",
                F.lit(str(int(seed))),
                F.col("start_id").cast("string"),
                F.col("rep").cast("string"),
                F.lit(str(step)),
            )
        )
        stepped = (
            with_prev.withColumn("ws", ws)
            .withColumn(
                "total",
                F.aggregate("ws", F.lit(0).cast("long"), lambda a, w: a + w),
            )
            .withColumn("r", F.pmod(h, F.col("total")))
        )
        # first index whose cumulative weight exceeds r (0-based)
        chosen = F.aggregate(
            "ws",
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(-1).alias("idx"),
                F.lit(0).alias("pos"),
            ),
            lambda acc, w: F.struct(
                (acc["s"] + w).alias("s"),
                F.when(acc["idx"] >= 0, acc["idx"])
                .otherwise(
                    F.when(acc["s"] + w > F.col("r"), acc["pos"]).otherwise(
                        F.lit(-1)
                    )
                )
                .alias("idx"),
                (acc["pos"] + F.lit(1)).alias("pos"),
            ),
        )["idx"]
        state = stepped.select(
            "start_id",
            "rep",
            F.col("cur").alias("prev"),
            F.element_at("cur_ch", chosen + F.lit(1)).alias("cur"),
        ).localCheckpoint(eager=False)
        if state.count() == 0:
            break
        out_frames.append(
            state.select(
                "start_id", "rep", F.lit(step).cast("long").alias("step"),
                F.col("cur").alias("node_id"),
            )
        )
    return reduce(DataFrame.unionAll, out_frames)
