"""Walk-kernel property tests + end-to-end pipeline on the reference's
own Graph200 dumps (SURVEY.md §5 strategy: walks get property checks —
path validity, quota bound, seeded determinism — since golden-testing
unseeded walks is impossible; the pipeline gets determinism + sanity
checks against the recorded reference outputs' shape)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_graph_analysis_with_spark_spark.config import SimConfig
from big_data_graph_analysis_with_spark_spark.operators import topology, walks
from big_data_graph_analysis_with_spark_spark.plans.pipeline import run_pipeline
from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph
from perfbench import gen
from tests.conftest import REF_INPUT

CFG = SimConfig(
    num_of_parallel_walks=4,
    num_iters_per_comp_node=4,
    iters_before_accum=2,
    seed=7,
)


@pytest.fixture(scope="module", params=["Graph20.0.txt", "gen60"])
def graph20(spark, request, tmp_path_factory):
    """A small walk graph: the reference's Graph20 dump, and a seeded
    60-vertex `perfbench/gen.py` dump that needs no reference input."""
    if request.param == "gen60":
        out = tmp_path_factory.mktemp("gen60")
        spec = gen.GraphSpec(
            vertices=60, out_degree=2.0, sink_fraction=0.1, perturbation=0.1,
            valuable_fraction=0.5,
        )
        gen.generate(spec, 7, str(out), formats=("text",))
        return load_graph(spark, str(out / "perturbed.txt"))
    return load_graph(spark, f"{REF_INPUT}/{request.param}")


@pytest.fixture(scope="module")
def walk_steps(spark, graph20):
    start_ids = [r["id"] for r in topology.start_nodes(graph20).select("id").collect()]
    assignments = walks.sample_start_assignments(spark, start_ids, CFG)
    return walks.run_walks(spark, graph20, assignments, CFG).cache()


def test_walk_paths_are_valid(spark, graph20, walk_steps):
    """Every consecutive (node, next) pair must be a pg edge."""
    steps = walk_steps
    nxt = steps.select(
        "partition_key",
        "walk_id",
        (F.col("step") + 1).alias("step"),
        F.col("node_id").alias("src"),
    )
    pairs = steps.select(
        "partition_key", "walk_id", "step", F.col("node_id").alias("dst")
    ).join(nxt, on=["partition_key", "walk_id", "step"])
    bad = pairs.join(
        graph20.edges.select("src", "dst").distinct(), on=["src", "dst"], how="left_anti"
    )
    assert bad.count() == 0


def test_walk_quota_and_start(spark, graph20, walk_steps):
    quota = math.ceil(CFG.random_walk_coeff * graph20.num_vertices())
    lens = walk_steps.groupBy("partition_key", "walk_id").agg(
        F.count("*").alias("n"), F.min("step").alias("s0")
    )
    assert lens.filter(F.col("n") > quota).count() == 0
    assert lens.filter(F.col("s0") != 0).count() == 0
    # every partition ran every walk
    assert lens.count() == CFG.num_of_parallel_walks * CFG.num_iters_per_comp_node


def test_walks_deterministic_under_seed(spark, graph20):
    start_ids = [r["id"] for r in topology.start_nodes(graph20).select("id").collect()]
    a = walks.sample_start_assignments(spark, start_ids, CFG)
    run1 = walks.run_walks(spark, graph20, a, CFG).collect()
    run2 = walks.run_walks(spark, graph20, a, CFG).collect()
    assert sorted(map(tuple, run1)) == sorted(map(tuple, run2))


def test_cyclic_graph_no_start_nodes_degrades(spark):
    from big_data_graph_analysis_with_spark_spark.model import EDGE_SCHEMA, VERTEX_SCHEMA, NetGraph

    vs = [(0, 1, 1, 1, 1, 1, 1, 1, 0.1, False), (1, 1, 1, 1, 1, 1, 1, 1, 0.2, False)]
    es = [(0, 1, 0, 0, 1, None, 0.1), (1, 0, 0, 1, 0, None, 0.1)]
    g = NetGraph(spark.createDataFrame(vs, VERTEX_SCHEMA),
                 spark.createDataFrame(es, EDGE_SCHEMA))
    start_ids = [r["id"] for r in topology.start_nodes(g).select("id").collect()]
    assert start_ids == []  # cycle: reference would crash (§7.4.8)
    a = walks.sample_start_assignments(spark, start_ids, CFG)
    assert walks.run_walks(spark, g, a, CFG).count() == 0


def test_dist_start_sampling_matches_driver_sampling(spark, graph20):
    """sample_start_assignments_dist must be bit-identical to the
    driver-list version (same seeded draws into the same sorted pool),
    with only the pool COUNT crossing to the driver."""
    sn = topology.start_nodes(graph20)
    start_ids = [r["id"] for r in sn.select("id").collect()]
    via_driver = sorted(
        map(tuple, walks.sample_start_assignments(spark, start_ids, CFG).collect())
    )
    via_dist = sorted(
        map(tuple, walks.sample_start_assignments_dist(spark, sn, CFG).collect())
    )
    assert via_dist == via_driver and len(via_dist) == CFG.num_of_parallel_walks


def test_run_walks_has_no_driver_collect():
    """The round-3 scale-killer (O(|V|) adjacency collect in run_walks)
    must not regress: the kernel reads its adjacency from the parquet
    sideload, never via DataFrame.collect()."""
    import inspect

    src = inspect.getsource(walks.run_walks)
    assert ".collect()" not in src
    assert "_load_adjacency" in src


def test_frontier_tier_forced_dispatch_properties(spark, graph20):
    """run_walks(frontier_threshold=0) must route to the frontier-join
    tier and deliver the kernel's contract: valid paths, quota bound,
    step-0 starts, every (partition, walk) present, determinism."""
    start_ids = [r["id"] for r in topology.start_nodes(graph20).select("id").collect()]
    a = walks.sample_start_assignments(spark, start_ids, CFG)
    # the two determinism runs are independent iterative kernels —
    # overlap them on two driver threads
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def one_run():
        return walks.run_walks(spark, graph20, a, CFG, frontier_threshold=0)

    def cached_run():
        df = one_run().cache()
        rows = df.collect()  # materializes the cache in-thread
        return df, rows

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(inheritable_thread_target(cached_run))
        f2 = pool.submit(
            inheritable_thread_target(lambda: sorted(map(tuple, one_run().collect())))
        )
        (fr, fr_rows), again_rows = f1.result(), f2.result()
    assert sorted(map(tuple, fr_rows)) == again_rows

    nxt = fr.select(
        "partition_key",
        "walk_id",
        (F.col("step") + 1).alias("step"),
        F.col("node_id").alias("src"),
    )
    pairs = fr.select(
        "partition_key", "walk_id", "step", F.col("node_id").alias("dst")
    ).join(nxt, on=["partition_key", "walk_id", "step"])
    bad = pairs.join(
        graph20.edges.select("src", "dst").distinct(),
        on=["src", "dst"],
        how="left_anti",
    )
    assert bad.count() == 0

    quota = math.ceil(CFG.random_walk_coeff * graph20.num_vertices())
    lens = fr.groupBy("partition_key", "walk_id").agg(
        F.count("*").alias("n"), F.min("step").alias("s0")
    )
    assert lens.filter(F.col("n") > quota).count() == 0
    assert lens.filter(F.col("s0") != 0).count() == 0
    assert lens.count() == CFG.num_of_parallel_walks * CFG.num_iters_per_comp_node
    # no step skipped inside a walk
    gaps = fr.groupBy("partition_key", "walk_id").agg(
        F.max("step").alias("mx"), F.count("*").alias("n")
    )
    assert gaps.filter(F.col("mx") != F.col("n") - 1).count() == 0
    fr.unpersist()


def test_frontier_tier_exploration_bias(spark):
    """Cross-walk bias: a later walk must prefer the child its
    predecessor did NOT visit (pool = unvisited when non-empty)."""
    from big_data_graph_analysis_with_spark_spark.model import (
        EDGE_SCHEMA,
        VERTEX_SCHEMA,
        NetGraph,
    )

    # S → A → {B, C}; B and C are sinks. Walk 0 takes one of B/C,
    # walk 1 MUST take the other.
    vs = [(i, 1, 1, 1, 1, 1, 1, 1, 0.1, False) for i in (0, 1, 2, 3)]
    es = [
        (0, 1, 0, 0, 1, None, 0.1),
        (1, 2, 0, 0, 1, None, 0.1),
        (1, 3, 0, 0, 1, None, 0.1),
    ]
    g = NetGraph(
        spark.createDataFrame(vs, VERTEX_SCHEMA),
        spark.createDataFrame(es, EDGE_SCHEMA),
    )
    cfg = SimConfig(
        num_of_parallel_walks=1,
        num_iters_per_comp_node=2,
        iters_before_accum=1,
        random_walk_coeff=1.0,
        seed=3,
    )
    a = walks.sample_start_assignments(spark, [0], cfg)
    fr = walks.run_walks_frontier(spark, g, a, cfg)
    leaves = {
        (r["walk_id"], r["node_id"])
        for r in fr.filter(F.col("step") == 2).collect()
    }
    assert {w for w, _ in leaves} == {0, 1}
    assert {n for _, n in leaves} == {2, 3}  # one walk each


def test_pipeline_graph200_deterministic_and_sane(spark):
    og = load_graph(spark, f"{REF_INPUT}/Graph200.txt")
    pg = load_graph(spark, f"{REF_INPUT}/Graph200.txt.perturbed")
    r1 = run_pipeline(spark, og, pg, CFG, collect_round_counts=True)
    r2 = run_pipeline(spark, og, pg, CFG, collect_round_counts=True)
    assert r1.stats == r2.stats  # determinism the reference lacks
    # shape sanity vs the recorded reference runs (output/MitM-statistics.yaml):
    # 103 valuable original nodes; TP >> FP
    n_valuable = len(r1.stats["valuableOriginalNodeIds"].strip("[]").split(", "))
    assert n_valuable == 103
    tp = int(r1.stats["numTruePositiveMatches"])
    fp = int(r1.stats["numFalsePositiveMatches"])
    assert tp > 0
    assert tp + fp <= 197  # at most one match per perturbed node
    assert int(r1.stats["totalSuccessfulWalks"]) >= 0
    assert r1.per_round_match_counts == sorted(r1.per_round_match_counts)


def test_node2vec_paths_are_valid_and_deterministic(spark):
    from big_data_graph_analysis_with_spark_spark.model import NetGraph
    from big_data_graph_analysis_with_spark_spark.operators import walks

    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id LONG")
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 6), (6, 7)]
    e = spark.createDataFrame(edges, "src LONG, dst LONG")
    g = NetGraph(v, e)
    out = walks.node2vec_walks(
        spark, g, walks_per_vertex=2, walk_length=10, seed=3
    )
    rows = sorted(
        (r["start_id"], r["rep"], r["step"], r["node_id"]) for r in out.collect()
    )
    eset = set(edges)
    by_walk: dict = {}
    for s, rep, step, node in rows:
        by_walk.setdefault((s, rep), []).append((step, node))
    for (s, rep), path in by_walk.items():
        path = [n for _, n in sorted(path)]
        assert path[0] == s
        for a, b in zip(path, path[1:]):
            assert (a, b) in eset, f"non-edge step {a}->{b}"
    # sink-terminated: walks reaching 7 stop there
    assert all(p[-1][1] == 7 or len(p) == 11 for p in (sorted(v) for v in by_walk.values()))
    # determinism under a different partitioning
    out2 = walks.node2vec_walks(
        spark, NetGraph(v.repartition(5), e.repartition(7)), 
        walks_per_vertex=2, walk_length=10, seed=3
    )
    assert rows == sorted(
        (r["start_id"], r["rep"], r["step"], r["node_id"]) for r in out2.collect()
    )


def test_node2vec_return_bias(spark):
    from big_data_graph_analysis_with_spark_spark.model import NetGraph
    from big_data_graph_analysis_with_spark_spark.operators import walks

    # from 2 (arrived via 1): neighbors {1, 3}; 3 is not a neighbor of
    # 1, so q→∞ kills the outward step and the walk oscillates 1↔2
    v = spark.createDataFrame([(1,), (2,), (3,)], "id LONG")
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src LONG, dst LONG"
    )
    g = NetGraph(v, e)
    out = walks.node2vec_walks(
        spark, g, walks_per_vertex=1, walk_length=12, p=1.0, q=1e12, seed=1
    )
    path1 = [
        r["node_id"]
        for r in out.filter("start_id = 1").orderBy("step").collect()
    ]
    assert set(path1) == {1, 2}
    assert len(path1) == 13


def test_node2vec_frontier_valid_deterministic_and_biased(spark):
    """The frontier tier must deliver the kernel's contract — valid
    directed paths, step-0 starts, sink termination, determinism under
    repartitioning — and honor the second-order q bias; dispatch via
    node2vec_walks(frontier_threshold=0) must route to it."""
    from big_data_graph_analysis_with_spark_spark.model import NetGraph
    from big_data_graph_analysis_with_spark_spark.operators import walks

    v = spark.createDataFrame([(i,) for i in range(1, 8)], "id LONG")
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 5), (5, 6), (6, 7)]
    e = spark.createDataFrame(edges, "src LONG, dst LONG")
    g = NetGraph(v, e)
    out = walks.node2vec_walks(
        spark, g, walks_per_vertex=2, walk_length=10, seed=3,
        frontier_threshold=0,
    )
    rows = sorted(
        (r["start_id"], r["rep"], r["step"], r["node_id"]) for r in out.collect()
    )
    eset = set(edges)
    by_walk: dict = {}
    for s, rep, step, node in rows:
        by_walk.setdefault((s, rep), []).append((step, node))
    assert len(by_walk) == 14  # 7 vertices × 2 reps, all present
    for (s, rep), path in by_walk.items():
        path = [n for _, n in sorted(path)]
        assert path[0] == s
        for a, b in zip(path, path[1:]):
            assert (a, b) in eset, f"non-edge step {a}->{b}"
        # sink-terminated or full length
        assert path[-1] == 7 or len(path) == 11
    # determinism under a different partitioning
    out2 = walks.node2vec_walks_frontier(
        spark, NetGraph(v.repartition(5), e.repartition(7)),
        walks_per_vertex=2, walk_length=10, seed=3,
    )
    assert rows == sorted(
        (r["start_id"], r["rep"], r["step"], r["node_id"]) for r in out2.collect()
    )

    # q→huge: outward weight collapses to 1 vs 1e6 — the walk from 1
    # oscillates 1↔2 instead of escaping to 3
    v3 = spark.createDataFrame([(1,), (2,), (3,)], "id LONG")
    e3 = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src LONG, dst LONG"
    )
    out3 = walks.node2vec_walks_frontier(
        spark, NetGraph(v3, e3), walks_per_vertex=1, walk_length=12,
        p=1.0, q=1e12, seed=1,
    )
    path1 = [
        r["node_id"]
        for r in out3.filter("start_id = 1").orderBy("step").collect()
    ]
    assert set(path1) == {1, 2}
    assert len(path1) == 13


def test_pipeline_graph200_golden_yaml(spark):
    """Round-7 verdict task 7: the engine is deterministic under a fixed
    seed (the reference's two recorded runs differ by 20 TPs —
    BASELINE.md), so (seed=42, Graph200, reference knobs) pins ONE
    byte-exact MitM-statistics.yaml. Locks G9-G11 semantics (match
    accumulation → classification → stats assembly → ordered YAML sink)
    against regression while the pipeline itself stays rows-only.
    Regenerate the golden ONLY for a deliberate semantic change:
    python -c "see tests/golden/README-graph200.txt"."""
    from big_data_graph_analysis_with_spark_spark.config import DEFAULT_CONFIG
    from big_data_graph_analysis_with_spark_spark.sources.sinks import stats_to_yaml
    from pathlib import Path

    og = load_graph(spark, f"{REF_INPUT}/Graph200.txt")
    pg = load_graph(spark, f"{REF_INPUT}/Graph200.txt.perturbed")
    res = run_pipeline(spark, og, pg, DEFAULT_CONFIG)
    got = stats_to_yaml(res.stats)
    golden = Path(__file__).parent / "golden" / "MitM-statistics-graph200-seed42.yaml"
    assert got == golden.read_text(), (
        "Graph200 seed=42 pipeline output drifted from the committed "
        "golden YAML — a G9-G11 semantic change; regenerate the golden "
        "only if the change is deliberate"
    )
