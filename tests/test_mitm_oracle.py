"""MitM pipeline checks on seeded generated pairs, runnable anywhere.

The pairs come from `perfbench/gen.py` and the expected statistics from
`perfbench/oracle.py`, a pure-Python re-derivation that shares no code
with the engine. The YAML the CLI writes must equal the oracle exactly.
The same pairs also pin resource properties of the pipeline: how wide
its Spark stages run, how many Spark jobs ingest, the match stage and
the statistics block take, and that its adjacency sideload dirs do not
outlive the graphs they belong to, or the interpreter when no graph
owns them. The generator's 2k-vertex ingest graph pins how wide
graphalg's PageRank and components loops run and PageRank's job count.
One test pins that the CLI rejects walk settings that cannot run before
it starts Spark, and one that it silences WindowExec's warnings.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys
from dataclasses import replace
from pathlib import Path

import pytest
import yaml

from big_data_graph_analysis_with_spark_spark import __main__ as cli
from big_data_graph_analysis_with_spark_spark.config import SimConfig
from big_data_graph_analysis_with_spark_spark.operators import graphalg, stats, walk_simrank, walks
from big_data_graph_analysis_with_spark_spark.plans.pipeline import run_pipeline
from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph
from perfbench import gen, oracle

BASE_SPEC = gen.GraphSpec(
    vertices=60, out_degree=2.0, sink_fraction=0.1, perturbation=0.1,
    valuable_fraction=0.5,
)
# two SimRank rounds, so the prior-match fallback and the merge run too
BASE_CFG = {"walks": 3, "iters": 4, "accum": 2, "coeff": 0.5, "threshold": 0.1, "seed": 5}
REPO = Path(__file__).resolve().parent.parent
#: jobs of `pagerank(iters=4).collect()` on the ingest graph: 26 measured,
#: one job of slack
PAGERANK_MAX_JOBS = 27
#: Janino compiles of the second of two back-to-back CLI runs on the
#: base pair: 0 measured, 10 of slack (150 with Spark's default cache)
WARM_MAX_COMPILES = 10


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
    # the CLI defaults' shape: five rounds, each over the matches of
    # the rounds before it
    "five_rounds_carry_over": (BASE_SPEC, {"walks": 20, "iters": 50, "accum": 10}),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_cli_yaml_equals_oracle(spark, tmp_path, case):
    spec, overrides = CASES[case]
    cfg = {**BASE_CFG, **overrides}
    if case == "more_walks_than_start_nodes":
        assert cfg["walks"] > _start_nodes(spec, cfg["seed"])
    og_path, pg_path = _pair(tmp_path, spec, cfg["seed"])
    out = tmp_path / "stats.yaml"
    assert cli.main(_cli_args(og_path, pg_path, out, cfg)) == 0
    got = yaml.safe_load(out.read_text())
    want = oracle.mitm_stats(*gen.build_pair(spec, cfg["seed"]), cfg)
    assert got == want


def _cli_args(og_path: str, pg_path: str, out: Path, cfg: dict) -> list[str]:
    return [
        "--original", og_path, "--perturbed", pg_path, "--out", str(out),
        "--format", "text",
        "--walks", str(cfg["walks"]), "--iters", str(cfg["iters"]),
        "--accum", str(cfg["accum"]), "--coeff", str(cfg["coeff"]),
        "--threshold", str(cfg["threshold"]), "--seed", str(cfg["seed"]),
    ]


def test_warm_run_recompiles_no_generated_class(spark, tmp_path):
    """A second run of the same execution finds every generated class in
    Spark's codegen cache. One execution generates about 160 classes;
    with the cache at Spark's default 100 entries the second run
    recompiled about 150 of them."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    args = _cli_args(og_path, pg_path, tmp_path / "stats.yaml", BASE_CFG)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    assert cli.main(args) == 0
    before = compiles.getCount()
    assert cli.main(args) == 0
    assert compiles.getCount() - before <= WARM_MAX_COMPILES


@pytest.mark.parametrize("args", [
    (["--accum", "0"], "must be >= 1"),
    (["--iters", "-1", "--accum", "-2"], "must be >= 1"),
    (["--walks", "0"], "must be >= 1"),
    (["--coeff", "0"], "random_walk_coeff must be finite and > 0"),
    (["--coeff", "-0.5"], "random_walk_coeff must be finite and > 0"),
    (["--coeff", "nan"], "random_walk_coeff must be finite and > 0"),
    (["--coeff", "inf"], "random_walk_coeff must be finite and > 0"),
    (["--threshold", "nan"], "node_match_threshold must be finite"),
    (["--threshold", "inf"], "node_match_threshold must be finite"),
])
def test_cli_rejects_bad_walk_settings_before_spark(monkeypatch, args):
    argv, match = args

    def no_spark(*_, **__):
        raise AssertionError("get_spark was called")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    with pytest.raises(ValueError, match=match):
        cli.main(["--original", "og.txt", "--perturbed", "pg.txt", "--out", "out.yaml", *argv])


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


def _wide_stages(spark, job_ids) -> dict:
    """The stages of `job_ids` that ran at least the session's shuffle
    width in tasks, as {stage id: (name, tasks)}."""
    assert job_ids, "no job ran under the test's job group"
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tracker = spark.sparkContext.statusTracker()
    ran = {}
    for jid in job_ids:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                ran[sid] = (info.name, info.numCompletedTasks)
    assert ran, "no stage of the group ran a task"
    return {sid: v for sid, v in ran.items() if v[1] >= width}


def test_round_loop_stages_run_narrower_than_shuffle_width(spark, tmp_path):
    """On a 60-vertex pair every stage of the pipeline holds a few KB, so
    AQE should size every stage below the session's shuffle width. A
    round input that keeps the static width (a cached frame does: Spark
    may not coalesce a cached plan's output) shows up here as stages of
    exactly `spark.sql.shuffle.partitions` tasks."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    og, pg = load_graph(spark, og_path), load_graph(spark, pg_path)
    _, job_ids = _jobs_in_group(
        spark, "run_pipeline-stage-width",
        lambda: run_pipeline(spark, og, pg, _sim_config(BASE_CFG)),
    )
    wide = _wide_stages(spark, job_ids)
    assert not wide, f"stages at or above the shuffle width: {wide}"


def test_graphalg_loops_left_to_aqe(spark, tmp_path):
    """PageRank and connected components on the 2k-vertex ingest graph
    of `perfbench` (`graph_ingest_analytics`): AQE alone sizes every
    loop iterate, so no stage runs at the shuffle width, and PageRank
    counts its vertices once. `pagerank(iters=4).collect()` took 26 jobs
    here in each of six runs; with a vertex-count pre-pass and a final
    eager checkpoint it took 29, which the bound rejects."""
    spec = gen.GraphSpec(
        vertices=2000, out_degree=3.9, sink_fraction=0.0, perturbation=0.05,
        valuable_fraction=0.5,
    )
    gen.generate(spec, 1, str(tmp_path), formats=("text",), graphs=("original",))
    g = load_graph(spark, str(tmp_path / "original.txt"))
    _, pr_jobs = _jobs_in_group(
        spark, "graphalg-pagerank", lambda: graphalg.pagerank(g, iters=4).collect()
    )
    _, cc_jobs = _jobs_in_group(
        spark, "graphalg-components", lambda: graphalg.connected_components(g).collect()
    )
    for name, jobs in (("pagerank", pr_jobs), ("connected_components", cc_jobs)):
        wide = _wide_stages(spark, jobs)
        assert not wide, f"{name}: stages at or above the shuffle width: {wide}"
    assert len(pr_jobs) <= PAGERANK_MAX_JOBS, f"pagerank took {len(pr_jobs)} jobs"


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


_WALK_THEN_EXIT = """
from big_data_graph_analysis_with_spark_spark import get_spark
from big_data_graph_analysis_with_spark_spark.config import SimConfig
from big_data_graph_analysis_with_spark_spark.model import NetGraph
from big_data_graph_analysis_with_spark_spark.operators import walks

spark = get_spark(app_name="sideload-exit")
g = NetGraph(spark.range(4), spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src LONG, dst LONG"))
cfg = SimConfig(num_of_parallel_walks=2, num_iters_per_comp_node=1, iters_before_accum=1)
a = walks.sample_start_assignments(spark, [0], cfg)
print("steps", walks.run_walks(spark, g, a, cfg).count())
"""


def test_uncached_sideload_dir_removed_at_exit(tmp_path):
    """A sideload written without a `cache_key` (plain `run_walks`) has no
    graph to die with, so it must go when the interpreter exits."""
    env = {
        **os.environ, "SPARK_GRAFT_SCRATCH": str(tmp_path),
        "SPARK_GRAFT_DRIVER_MEM": "1g", "SPARK_GRAFT_CPUS": "1",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _WALK_THEN_EXIT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "steps 4" in proc.stdout
    assert list(tmp_path.glob("bdga_walk_adj_*")) == []


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


def test_match_stage_job_count(spark, tmp_path):
    """The whole match stage of a two-round run, every round's sweeps,
    best match, valuable filter and merge, is one Python task: a
    checkpoint of one `mapInArrow` over the visited sets, 2 jobs here
    and 1 of slack. A driver loop with one plan per round (the identity
    checkpoint, then per round the grouped SimRank kernel, best match,
    valuable filter and a merge checkpoint) took 25 for the same stage
    on this pair. The stage's output equals the pipeline's matches."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    og, pg = load_graph(spark, og_path), load_graph(spark, pg_path)
    cfg = _sim_config(BASE_CFG)
    res = run_pipeline(spark, og, pg, cfg)
    visited = walks.walk_visited_sets(res.walk_steps).localCheckpoint()
    # the pipeline's own sideloads, keyed on the same graph objects
    adj = [walks.ensure_sideload(g, cache_key=g) for g in (pg, og)]
    matches, jobs = _jobs_in_group(
        spark, "walk_simrank-match",
        lambda: walk_simrank.match_walks(visited, *adj, cfg).localCheckpoint(),
    )
    assert sorted(matches.collect()) == sorted(res.matches.collect())
    assert len(jobs) <= 3, f"match stage took {len(jobs)} jobs"


WINDOW_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def test_cli_silences_window_warnings(spark, tmp_path):
    """The start-node rank window is unpartitioned by design, and Spark
    warns "No Partition Defined for Window operation" on every plan that
    holds it: 13 lines on stderr per CLI run. The CLI raises that one
    logger to ERROR."""
    jvm = spark.sparkContext._jvm
    level = jvm.org.apache.logging.log4j.Level
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(WINDOW_LOGGER, level.WARN)
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    assert cli.main(_cli_args(og_path, pg_path, tmp_path / "stats.yaml", BASE_CFG)) == 0
    got = jvm.org.apache.logging.log4j.LogManager.getLogger(WINDOW_LOGGER).getLevel()
    assert got.toString() == "ERROR"
