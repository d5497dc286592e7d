"""Self-tests of the benchmark's generator, oracle and tracer.

Run from the repository root (the program package must be importable):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SPEC = gen.GraphSpec(vertices=60, out_degree=2.0, sink_fraction=0.1, perturbation=0.1, valuable_fraction=0.5)


@pytest.fixture
def workdir():
    run.WORK.mkdir(parents=True, exist_ok=True)
    d = tempfile.mkdtemp(prefix="selftest-", dir=run.WORK)
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def spark():
    run.configure_env()
    s = run.start_spark(None)
    yield s
    run.stop_spark(s)


def test_benchmark_json_lists_every_metric_and_workload():
    doc = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.per_layer_units()
    assert sorted(w["name"] for w in doc["workloads"]) == sorted(run.WORKLOADS)


# -- generator ------------------------------------------------------------------
def test_generator_same_seed_same_digest(workdir):
    a = gen.generate(SPEC, 5, str(workdir / "a"))
    b = gen.generate(SPEC, 5, str(workdir / "b"))
    c = gen.generate(SPEC, 6, str(workdir / "c"))
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]
    assert a["graphs"] == c["graphs"]  # sizes depend on the spec alone


def test_generator_shape():
    og_n, og_e, pg_n, pg_e = gen.build_pair(SPEC, 3)
    assert len(og_n["id"]) == len(pg_n["id"]) == SPEC.vertices
    assert not (og_e["dst"] == 0).any() and not (pg_e["dst"] == 0).any()
    assert not (og_e["src"] == og_e["dst"]).any()
    has_out = np.isin(og_n["id"], og_e["src"])
    assert (~has_out).sum() == round(SPEC.sink_fraction * SPEC.vertices)
    # every perturbation kind happened
    assert set(og_n["id"].tolist()) - set(pg_n["id"].tolist())
    assert set(pg_n["id"].tolist()) - set(og_n["id"].tolist())
    assert (pg_e["resulting_value"] < 0).any()  # Option values: some None


def test_parquet_matches_model_schema(spark, workdir):
    from big_data_graph_analysis_with_spark_spark import model

    gen.generate(SPEC, 1, str(workdir), formats=("parquet",))
    for table, schema in (("vertices", model.VERTEX_SCHEMA), ("edges", model.EDGE_SCHEMA)):
        got = spark.read.parquet(str(workdir / "original" / table)).schema
        assert [(f.name, f.dataType) for f in got] == [(f.name, f.dataType) for f in schema]


# -- oracle -----------------------------------------------------------------------
def _cols(rows: list[tuple], names: list[str]) -> dict:
    return {n: np.array([r[i] for r in rows]) for i, n in enumerate(names)}


def _tiny_pair():
    """Eight original nodes; the perturbed copy drops node 7, modifies
    node 3, adds node 8 and rewires the edges around them. Walks from 0
    reach 8, whose only SimRank candidate is the dropped 7: one false
    positive beside the true ones."""
    def node(i, props=2, valuable=True):
        return (i, 2, props, 1, 10, 4, 3, 5, 0.25 * i, valuable)

    og_nodes = [node(i, valuable=i not in (1, 4)) for i in range(8)]
    pg_nodes = [node(i, props=5 if i == 3 else 2, valuable=i not in (1, 4)) for i in range(7)] + [node(8)]

    def edge(s, d):
        return (s, d, 1, 2, 3, -1 if (s + d) % 2 else s + d, 0.5)

    og_edges = [edge(*e) for e in [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (2, 7), (6, 7)]]
    pg_edges = [edge(*e) for e in [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (6, 8), (8, 4)]]
    return (
        _cols(og_nodes, gen.VERTEX_COLS), _cols(og_edges, gen.EDGE_COLS),
        _cols(pg_nodes, gen.VERTEX_COLS), _cols(pg_edges, gen.EDGE_COLS),
    )


@pytest.mark.parametrize("seed", [7, 11])
def test_oracle_equals_run_pipeline(spark, workdir, seed):
    from big_data_graph_analysis_with_spark_spark.config import SimConfig
    from big_data_graph_analysis_with_spark_spark.plans.pipeline import run_pipeline
    from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph

    og_n, og_e, pg_n, pg_e = _tiny_pair()
    paths = []
    for name, (n, e) in (("og", (og_n, og_e)), ("pg", (pg_n, pg_e))):
        p = workdir / f"{name}.txt"
        p.write_text(gen.to_text(n, e), encoding="utf-8")
        paths.append(str(p))
    cfg = SimConfig(
        random_walk_coeff=1.0, num_of_parallel_walks=3, num_iters_per_comp_node=3,
        iters_before_accum=2, node_match_threshold=0.1, seed=seed,
    )
    res = run_pipeline(spark, load_graph(spark, paths[0]), load_graph(spark, paths[1]), cfg)
    want = oracle.mitm_stats(
        og_n, og_e, pg_n, pg_e,
        {"walks": 3, "iters": 3, "accum": 2, "coeff": 1.0, "threshold": 0.1, "seed": seed},
    )
    assert want["numFalsePositiveMatches"] == "1"
    assert res.stats == want


def test_pagerank_oracle_conserves_mass_without_sinks():
    ids, src, dst = [0, 1, 2], [0, 1, 2], [1, 2, 0]
    pr = oracle.pagerank(ids, src, dst, iters=3)
    assert len(set(pr.values())) == 1
    assert abs(sum(pr.values()) - oracle.PR_SCALE) <= 3


# -- tracer -------------------------------------------------------------------------
def _span(sid, parent, layer, start, end, children=()):
    return spans.Span(sid, parent, layer, "f", start, end, list(children))


def test_self_time_of_nested_spans():
    s = [
        _span(0, None, "pipeline", 0.0, 10.0, [1, 2, 3]),
        _span(1, 0, "walks", 1.0, 4.0, [4]),
        _span(2, 0, "walks", 3.0, 6.0),  # overlaps span 1
        _span(3, 0, "stats", 8.0, 9.0),
        _span(4, 1, "walks", 2.0, 3.0),
    ]
    assert spans.self_time(s[0], s) == pytest.approx(10.0 - 5.0 - 1.0)
    assert spans.self_time(s[1], s) == pytest.approx(2.0)
    root = _span(5, None, "bench", -1.0, 11.0, [0])
    s.append(root)
    jobs = {0: spans.Job(0, "pb3", 8.5, 9.0, [0], tasks=4, task_s=1.0, shuffle_bytes=2_000_000)}
    m = spans.layer_metrics(s, root, jobs, cores=4)
    assert m["pipeline.wall_s"] == pytest.approx(10.0)
    assert m["pipeline.self_s"] == pytest.approx(4.0)
    assert m["walks.wall_s"] == pytest.approx(5.0)  # union of 1-4, 3-6 and 2-3
    assert m["walks.self_s"] == pytest.approx(2.0 + 3.0 + 1.0)
    assert m["stats.jobs"] == 1 and m["stats.tasks"] == 4
    assert m["stats.core_util"] == pytest.approx(1.0 / (4 * 0.5))
    assert m["stats.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["stats.driver_s"] == pytest.approx(0.5)
    assert m["walks.jobs"] == 0 and m["walks.driver_s"] == pytest.approx(5.0)


def test_action_on_tagged_frame_is_charged_to_tagging_layer(spark):
    from big_data_graph_analysis_with_spark_spark.model import NetGraph
    from big_data_graph_analysis_with_spark_spark.operators import topology

    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    v = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    tracer = spans.Tracer(spark)
    tracer.install()
    try:
        starts = topology.start_nodes(NetGraph(v, e, init_id=0))
        starts.count()  # called from this file, which is no layer
        spark.range(3).count()  # untagged and outside any layer
    finally:
        tracer.uninstall()
    actions = [s for s in tracer.spans if s.name == "action:count"]
    assert [s.layer for s in actions] == ["topology", "bench"]
    assert topology.start_nodes.__name__ == "start_nodes" and not hasattr(topology.start_nodes, "__wrapped__")


# -- runs ---------------------------------------------------------------------------
def test_stale_output_cannot_pass_the_check(workdir, monkeypatch):
    from big_data_graph_analysis_with_spark_spark import __main__ as cli

    manifest = {"graphs": {"original": {"edges": 1}, "perturbed": {"vertices": 2, "edges": 1}}}
    runner = run.Mitm("mitm_ref200", 1, workdir, manifest, {"stats": {"numTruePositiveMatches": "1"}})
    runner.out = workdir / "out.yaml"
    runner.out.write_text("numTruePositiveMatches: '1'\n")
    assert runner.check() == []  # the file alone would pass
    monkeypatch.setattr(cli, "main", lambda argv: 0)  # succeeds, writes nothing
    failures: list[str] = []
    assert run.timed(runner, failures) is None
    assert len(failures) == 1


def test_unmeasured_times_are_left_out():
    class Failing:
        edges = 1

        def execute(self):
            raise RuntimeError("boom")

    failures: list[str] = []
    out = run.plain_run(Failing(), 1, 0.0, failures, run.TreeRss())
    assert out["attempted"] == 2 + run.MIN_WARM == len(failures)
    assert not {"cold_cpu_s", "warm_cpu_s", "edges_per_cpu_s"} & set(out)
