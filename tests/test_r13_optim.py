"""Round-13 bench-harness measurement fix: cpus-aware prior baseline.

The r12 scaling bench at local[8] timed out (rc=124): every suite read
>1.25x its 32-core prior record, so the anti-noise regression-rerun
pass re-ran the entire bench and doubled the wall time. The fix threads
the prior record's core count through ``_prior_timings()`` so ``main``
can skip the rerun pass when the prior was recorded at a different
``local[N]`` — a cross-core comparison is a scaling measurement, not a
regression signal.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import bench


def _sf() -> str:
    # _prior_timings only accepts records whose sf matches the run's
    # $SPARK_GRAFT_SF_DIR (bound at bench import) — mirror that here.
    return bench.SF_DIR.rstrip("/").rsplit("sf", 1)[-1]


def test_effective_cpus_prefers_driver_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert bench._effective_cpus() == 8


def test_effective_cpus_falls_back_to_all_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench._effective_cpus() == (os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "not-a-number")
    assert bench._effective_cpus() == (os.cpu_count() or 1)


def test_prior_timings_carries_driver_wrapper_cpus(tmp_path, monkeypatch):
    # the external driver wraps the bench line and stamps the core
    # count it ran the bench at on the wrapper, not inside "parsed"
    rec = {"cpus": 8, "parsed": {"queries": {"a": 1.5}, "sf": _sf()}}
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps(rec))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(p))
    timings, cpus = bench._prior_timings()
    assert timings == {"a": 1.5}
    assert cpus == 8


def test_prior_timings_carries_own_record_load_cpus(tmp_path, monkeypatch):
    # our own full record (BENCH_LOCAL.json shape) carries it under load
    rec = {"queries": {"b": 2.0}, "sf": _sf(), "load": {"cpus": 32}}
    p = tmp_path / "BENCH_LOCAL.json"
    p.write_text(json.dumps(rec))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(p))
    timings, cpus = bench._prior_timings()
    assert timings == {"b": 2.0}
    assert cpus == 32


def test_prior_timings_without_cpus_reports_none(tmp_path, monkeypatch):
    # legacy records predate the core-count stamp: unknown, not assumed
    rec = {"queries": {"c": 3.0}, "sf": _sf()}
    p = tmp_path / "BENCH_r01.json"
    p.write_text(json.dumps(rec))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(p))
    timings, cpus = bench._prior_timings()
    assert timings == {"c": 3.0}
    assert cpus is None


def test_prior_timings_rejects_other_sf(tmp_path, monkeypatch):
    rec = {"cpus": 8, "parsed": {"queries": {"a": 1.5}, "sf": "sentinel"}}
    p = tmp_path / "BENCH_r99.json"
    p.write_text(json.dumps(rec))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PRIOR", str(p))
    timings, cpus = bench._prior_timings()
    assert timings == {}
    assert cpus is None


def test_rerun_plan_orders_by_absolute_slowdown():
    timings = {"a": 2.0, "b": 10.0, "c": 1.0, "d": 5.0}
    prior = {"a": 1.0, "b": 5.0, "c": 0.9, "d": 4.5}
    # a: +1.0 over a 1.25x trigger (2.0 > 1.25) -> candidate
    # b: +5.0 (10 > 6.25) -> candidate, largest first
    # c: 1.0 <= 0.9*1.25 -> not a candidate
    # d: 5.0 <= 4.5*1.25 -> not a candidate
    plan = bench._rerun_plan(timings, prior, changed=set())
    assert [name for _, name, _ in plan] == ["b", "a"]
    assert plan[0] == (5.0, "b", 5.0)


def test_rerun_plan_changed_modules_get_tighter_trigger():
    timings = {"a": 1.2}
    prior = {"a": 1.0}
    # 1.2 <= 1.25x prior -> quiet when unchanged...
    assert bench._rerun_plan(timings, prior, changed=set()) == []
    # ...but above the 1.10x trigger once its module changed
    assert bench._rerun_plan(timings, prior, changed={"a"}) == [
        (0.19999999999999996, "a", 1.0)
    ]


def test_rerun_plan_skips_suites_without_prior():
    assert bench._rerun_plan({"new": 9.9}, {}, changed={"new"}) == []


def test_import_leaves_driver_mem_unset():
    # importing the harness must not hand its 24 GB heap to the
    # importer's next get_spark (the test JVM launches after collection)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    env["PYTHONPATH"] = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c",
         "import os, bench; print(os.environ.get('SPARK_GRAFT_DRIVER_MEM'))"],
        env=env, capture_output=True, text=True, check=True, timeout=300,
    )
    assert out.stdout.strip() == "None"
