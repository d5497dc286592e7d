"""MitM pipeline checks on seeded generated pairs, runnable anywhere.

The pairs come from `perfbench/gen.py` and the expected statistics from
`perfbench/oracle.py`, a pure-Python re-derivation that shares no code
with the engine. The YAML the CLI writes must equal the oracle exactly.
The same pairs also pin two resource properties of `run_pipeline`: how
wide its Spark stages run, and that its walk sideload dirs do not
outlive the graphs they belong to.
"""

from __future__ import annotations

import gc
from dataclasses import replace

import pytest
import yaml

from big_data_graph_analysis_with_spark_spark import __main__ as cli
from big_data_graph_analysis_with_spark_spark.config import SimConfig
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


def _sim_config(cfg: dict) -> SimConfig:
    return SimConfig(
        random_walk_coeff=cfg["coeff"], num_of_parallel_walks=cfg["walks"],
        num_iters_per_comp_node=cfg["iters"], iters_before_accum=cfg["accum"],
        node_match_threshold=cfg["threshold"], seed=cfg["seed"],
    )


def test_round_loop_stages_run_narrower_than_shuffle_width(spark, tmp_path):
    """On a 60-vertex pair every stage of the pipeline holds a few KB, so
    AQE should size every stage below the session's shuffle width. A
    round input that keeps the static width (a cached frame does: Spark
    may not coalesce a cached plan's output) shows up here as stages of
    exactly `spark.sql.shuffle.partitions` tasks."""
    og_path, pg_path = _pair(tmp_path, BASE_SPEC, BASE_CFG["seed"])
    og, pg = load_graph(spark, og_path), load_graph(spark, pg_path)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sc = spark.sparkContext
    group = "run_pipeline-stage-width"
    sc.setJobGroup(group, "run_pipeline stage widths")
    try:
        run_pipeline(spark, og, pg, _sim_config(BASE_CFG))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    assert job_ids, "no job ran under the test's job group"
    ran = {}
    for jid in job_ids:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numCompletedTasks:
                ran[sid] = (info.name, info.numCompletedTasks)
    wide = {sid: v for sid, v in ran.items() if v[1] >= width}
    assert ran and not wide, f"stages at or above {width} tasks: {wide}"


def test_sideload_dirs_die_with_their_graphs(spark, tmp_path, monkeypatch):
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
    assert len(list(scratch.glob("bdga_walk_adj_*"))) == 3
    del kept, og, pg
    gc.collect()
    assert list(scratch.glob("bdga_walk_adj_*")) == []
