"""MitM pipeline checks on seeded generated pairs, runnable anywhere.

The pairs come from `perfbench/gen.py` and the expected statistics from
`perfbench/oracle.py`, a pure-Python re-derivation that shares no code
with the engine. The YAML the CLI writes must equal the oracle exactly.
The same pairs also pin resource properties of the pipeline: how wide
its Spark stages run, how many Spark jobs ingest, one SimRank round and
the statistics block take, and that its adjacency sideload dirs do not
outlive the graphs they belong to. One unit test pins the identity
precedence of `walk_simrank_round`, and one that the CLI rejects walk
settings that cannot run before it starts Spark.
"""

from __future__ import annotations

import gc
from dataclasses import replace

import pytest
import yaml
from pyspark.sql import functions as F

from big_data_graph_analysis_with_spark_spark import __main__ as cli
from big_data_graph_analysis_with_spark_spark.config import SimConfig
from big_data_graph_analysis_with_spark_spark.model import EDGE_SCHEMA, VERTEX_SCHEMA, NetGraph
from big_data_graph_analysis_with_spark_spark.operators import matching, stats, walks
from big_data_graph_analysis_with_spark_spark.operators.simrank import init_scores
from big_data_graph_analysis_with_spark_spark.operators.walk_simrank import walk_simrank_round
from big_data_graph_analysis_with_spark_spark.plans.pipeline import run_pipeline
from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph
from perfbench import gen, oracle

BASE_SPEC = gen.GraphSpec(
    vertices=60, out_degree=2.0, sink_fraction=0.1, perturbation=0.1,
    valuable_fraction=0.5,
)
# two SimRank rounds, so the prior-match fallback and the merge run too
BASE_CFG = {"walks": 3, "iters": 4, "accum": 2, "coeff": 0.5, "threshold": 0.1, "seed": 5}


def _pair(tmp_path, spec: gen.GraphSpec, seed: int) -> tuple[str, str]:
    gen.generate(spec, seed, str(tmp_path), formats=("text",))
    return str(tmp_path / "original.txt"), str(tmp_path / "perturbed.txt")


def _start_nodes(spec: gen.GraphSpec, seed: int) -> int:
    _, _, pg_n, pg_e = gen.build_pair(spec, seed)
    return len(set(pg_n["id"].tolist()) - set(pg_e["dst"].tolist()))


CASES = {
    "valuable_none": (replace(BASE_SPEC, valuable_fraction=0.0), {}),
    "valuable_all": (replace(BASE_SPEC, valuable_fraction=1.0), {}),
    "no_perturbation": (replace(BASE_SPEC, perturbation=0.0), {}),
    "no_sinks": (replace(BASE_SPEC, sink_fraction=0.0), {}),
    "accum_not_dividing_iters": (BASE_SPEC, {"iters": 5, "accum": 2}),
    "more_walks_than_start_nodes": (BASE_SPEC, {"walks": 20}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_cli_yaml_equals_oracle(spark, tmp_path, case):
    spec, overrides = CASES[case]
    cfg = {**BASE_CFG, **overrides}
    if case == "more_walks_than_start_nodes":
        assert cfg["walks"] > _start_nodes(spec, cfg["seed"])
    og_path, pg_path = _pair(tmp_path, spec, cfg["seed"])
    out = tmp_path / "stats.yaml"
    rc = cli.main([
        "--original", og_path, "--perturbed", pg_path, "--out", str(out),
        "--format", "text",
        "--walks", str(cfg["walks"]), "--iters", str(cfg["iters"]),
        "--accum", str(cfg["accum"]), "--coeff", str(cfg["coeff"]),
        "--threshold", str(cfg["threshold"]), "--seed", str(cfg["seed"]),
    ])
    assert rc == 0
    got = yaml.safe_load(out.read_text())
    want = oracle.mitm_stats(*gen.build_pair(spec, cfg["seed"]), cfg)
    assert got == want


@pytest.mark.parametrize("args", [
    ["--accum", "0"], ["--iters", "-1", "--accum", "-2"], ["--walks", "0"],
])
def test_cli_rejects_bad_walk_settings_before_spark(monkeypatch, args):
    def no_spark(*_, **__):
        raise AssertionError("get_spark was called")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    with pytest.raises(ValueError, match="must be >= 1"):
        cli.main(["--original", "og.txt", "--perturbed", "pg.txt", "--out", "out.yaml", *args])


def _sim_config(cfg: dict) -> SimConfig:
    return SimConfig(
        random_walk_coeff=cfg["coeff"], num_of_parallel_walks=cfg["walks"],
        num_iters_per_comp_node=cfg["iters"], iters_before_accum=cfg["accum"],
        node_match_threshold=cfg["threshold"], seed=cfg["seed"],
    )


def _jobs_in_group(spark, group: str, fn):
    """Run `fn` under its own Spark job group: (its result, the job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_round_loop_stages_run_narrower_than_shuffle_width(spark, tmp_path):
    """On a 60-vertex pair every stage of the pipeline holds a few KB, so
    AQE should size every stage below the session's shuffle width. A
    round input that keeps the static width (a cached frame does: Spark
    may not coalesce a cached plan's output) shows up here as stages of
    exactly `spark.sql.shuffle.partitions` tasks."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    og, pg = load_graph(spark, og_path), load_graph(spark, pg_path)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _, job_ids = _jobs_in_group(
        spark, "run_pipeline-stage-width",
        lambda: run_pipeline(spark, og, pg, _sim_config(BASE_CFG)),
    )
    assert job_ids, "no job ran under the test's job group"
    tracker = spark.sparkContext.statusTracker()
    ran = {}
    for jid in job_ids:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                ran[sid] = (info.name, info.numCompletedTasks)
    wide = {sid: v for sid, v in ran.items() if v[1] >= width}
    assert ran and not wide, f"stages at or above {width} tasks: {wide}"


def test_sideload_dirs_die_with_their_graphs(spark, tmp_path, monkeypatch):
    """Each run writes two child-map sideloads, pg's and og's, and each
    dir is deleted once the caller's graph object is collected."""
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(scratch))
    cfg = _sim_config(BASE_CFG)
    kept = []
    for seed in (1, 2, 3):
        og_path, pg_path = _pair(tmp_path / f"pair{seed}", BASE_SPEC, seed)
        og, pg = load_graph(spark, og_path), load_graph(spark, pg_path)
        run_pipeline(spark, og, pg, replace(cfg, seed=seed))
        kept.append((og, pg))
    assert len(list(scratch.glob("bdga_walk_adj_*"))) == 6
    del kept, og, pg
    gc.collect()
    assert list(scratch.glob("bdga_walk_adj_*")) == []


def _graph(spark, ids, edges) -> NetGraph:
    return NetGraph(
        spark.createDataFrame([(i, 1, 1, 1, 1, 1, 1, 1, 0.5, False) for i in ids], VERTEX_SCHEMA),
        spark.createDataFrame([(a, b, 0, 0, 0, None, 0.1) for a, b in edges], EDGE_SCHEMA),
    )


def test_walk_simrank_round_identity_wins(spark):
    """Pair (0, 0) is an identity seed (1.0) and a prior match (0.4);
    (2, 2) is a seed and computes to 0.5 (one pg parent, two og parents);
    (4, 5) is only a prior match. The seed must win on both sides of the
    sweep: as the parent score of (0, 0)'s children, which compute to
    1.0 (0.4 if the fallback won, 1.4 if both rows were kept), and in the
    output, where (2, 2) stays 1.0. A fallback-only pair is an input,
    never an output."""
    pg = _graph(spark, [0, 1, 2, 4, 8], [(0, 1), (1, 2), (0, 8)])
    og = _graph(spark, [0, 1, 2, 3, 5, 9], [(0, 1), (1, 2), (3, 2), (0, 9)])
    walk_nodes = spark.createDataFrame([(7, i) for i in (0, 1, 2, 4, 8)], "walk_id LONG, id LONG")
    matches = spark.createDataFrame([(0, 0, 0.4), (4, 5, 0.7)], "pg_id LONG, og_id LONG, score DOUBLE")
    adj = [walks.ensure_sideload(g, cache_key=g) for g in (pg, og)]
    out = walk_simrank_round(walk_nodes, matches, init_scores(pg, og), *adj).collect()
    got = {(r["pg_id"], r["og_id"]): r["score"] for r in out}
    assert len(out) == len(got) and {r["walk_id"] for r in out} == {7}
    assert got == {
        (0, 0): 1.0, (1, 1): 1.0, (2, 2): 1.0,
        (1, 9): 1.0, (8, 1): 1.0, (8, 9): 1.0,
    }


def test_ingest_and_stats_job_counts(spark, tmp_path):
    """Loading one dump validates it in one aggregate action, and the
    statistics block takes four actions (two id lists, the TP/FP counts,
    the per-partition walk counts). AQE runs each shuffle stage as its
    own job, so on this 60-vertex pair the load takes 2 jobs and the
    block 14-16, depending on which stage AQE sees finish first; the
    bound on the block leaves 2 jobs of slack for that. A loader that
    runs one action per check takes 6 jobs, and a block that caches the
    classified matches and counts TP and FP separately takes 24."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    og, load_jobs = _jobs_in_group(spark, "ngs_text-load", lambda: load_graph(spark, og_path))
    assert len(load_jobs) <= 2
    res = run_pipeline(spark, og, load_graph(spark, pg_path), _sim_config(BASE_CFG))
    visited = walks.walk_visited_sets(res.walk_steps).localCheckpoint()
    block, stats_jobs = _jobs_in_group(
        spark, "stats-assemble",
        lambda: stats.assemble_stats(og, res.matches, visited, BASE_CFG["threshold"]),
    )
    assert block == res.stats
    assert len(stats_jobs) <= 18


def test_simrank_round_job_count(spark, tmp_path):
    """One SimRank round with prior matches (the later-round plan):
    the grouped kernel, best match, the valuable filter and the merge
    checkpoint. AQE runs each shuffle stage as its own job; on this
    60-vertex pair the round takes 14, and the bound leaves 2 jobs of
    slack. The declarative 3-way join plan took 29-30."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    og, pg = load_graph(spark, og_path), load_graph(spark, pg_path)
    cfg = _sim_config(BASE_CFG)
    res = run_pipeline(spark, og, pg, cfg)
    nodes = walks.walk_visited_sets(res.walk_steps).select(
        (F.col("partition_key") * cfg.num_iters_per_comp_node + F.col("walk_id")).alias("walk_id"),
        F.explode("visited").alias("id"),
    ).localCheckpoint()
    identity = init_scores(pg, og).localCheckpoint()
    # the pipeline's own sideloads, keyed on the same graph objects
    adj = [walks.ensure_sideload(g, cache_key=g) for g in (pg, og)]

    def one_round():
        scores = walk_simrank_round(nodes, res.matches, identity, *adj)
        best = matching.best_match(scores.select("pg_id", "og_id", "score"), pg, og)
        valuable = matching.valuable_matches(best, og)
        return matching.merge_matches(res.matches, valuable).localCheckpoint()

    _, jobs = _jobs_in_group(spark, "walk_simrank-round", one_round)
    assert len(jobs) <= 16
