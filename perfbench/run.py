"""MitM-pipeline benchmark for big_data_graph_analysis_with_spark_spark.

One run = one fresh process: set up Spark (and once more in a child
process, for the set-up median), generate (or reuse) the seeded inputs,
execute the workload once cold and then repeatedly warm,
check every output against an independent oracle, and print each
metric by name with its unit. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

    python3 perfbench/run.py --workload mitm_ref200 --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with per-layer spans (see spans.py) and reports the
per-layer metrics instead. Everything a run writes stays under
``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

#: one execution longer than this counts as failed (timeout)
EXEC_TIMEOUT_S = 90.0
#: Spark task threads (local[N]). The executions are chains of short
#: jobs that keep under two cores busy on average (Spark task time ÷
#: (4 cores × job wall time) is 0.37 on mitm_ref200); on a 4-vCPU shared
#: host, two task threads leave the other vCPUs to the JIT compiler, GC
#: and the Python workers, and a warm execution took no longer than
#: with four.
SPARK_CORES = 2
#: driver heap (the program defaults to 8 GB); every workload runs in
#: well under 1 GB of live heap
DRIVER_MEM = "2g"
#: Driver JVM options that keep JVM warm-up and heap policy out of the
#: figures:
#: - C1 only. Under the default tiered JIT the warm executions are still
#:   compiling through the seventh (their CPU time falls from 38 to 17 s
#:   on mitm_ref200), further than a run's time budget reaches; with C1
#:   only, every execution from the second on costs alike. The price is
#:   a slower steady state.
#: - The whole heap committed and touched at launch. G1 grew the heap by
#:   its own heuristics, and peak RSS jumped by up to 40 % between runs
#:   of one seed as a run did or did not fill the heap; now the heap is
#:   a constant part of peak RSS, and what moves is outside it.
JVM_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
#: warm executions per untraced run at least, and traced ones per
#: traced run
MIN_WARM = 1
MIN_TRACED = 1
#: set-ups per untraced run: this process's own and fresh child processes';
#: a set-up launches a JVM (about 10 s with teardown), and a third did not
#: fit the time budget of 48 runs
SETUP_SAMPLES = 2

WORKLOADS: dict[str, dict] = {
    "mitm_ref200": {
        "kind": "mitm",
        "spec": {
            "vertices": 200, "out_degree": 1.9, "sink_fraction": 0.1,
            "perturbation": 0.05, "valuable_fraction": 0.5,
        },
        # two SimRank rounds, so the later-round plan (prior-match
        # fallback, pruning of matched nodes, max-merge) is timed too
        "cfg": {"walks": 4, "iters": 4, "accum": 2, "coeff": 0.5, "threshold": 0.1},
        # untimed warm executions before the measured ones: this
        # workload's CPU time is flat from the second execution on
        "warmup": 0,
    },
    "graph_ingest_analytics": {
        "kind": "ingest",
        "spec": {
            "vertices": 2000, "out_degree": 3.9, "sink_fraction": 0.0,
            "perturbation": 0.05, "valuable_fraction": 0.5,
        },
        "pagerank_iters": 4,
        # the second execution still costs about 1.2 CPU s more than
        # the later ones, which are flat
        "warmup": 1,
    },
}

END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "edges_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

#: per-layer counts beyond the eight span metrics of spans.LAYER_METRICS:
#: name → (unit, better)
EXTRA_LAYER_METRICS = {
    "walks.steps": ("count", "higher"),
    "walks.quota_fill": ("ratio", "higher"),
    "walk_simrank.rounds": ("count", "lower"),
    "walk_simrank.jobs_per_round": ("count", "lower"),
    "stats.true_positive": ("count", "higher"),
    "stats.false_positive": ("count", "lower"),
    "sinks.bytes_written": ("B", "lower"),
    "sinks.bytes_per_input_byte": ("ratio", "lower"),
    "ngs_text.parse_mb_per_s": ("MB/s", "higher"),
    "bench.cold_run_s": ("s", "lower"),
    "bench.warm_run_s": ("s", "lower"),
    "bench.traced_warm_run_s": ("s", "lower"),
    "bench.trace_overhead_s": ("s", "lower"),
}


def process_age() -> float:
    """Seconds since this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = T_IMPORT - process_age()


def tree_pids(root: int) -> list[int]:
    """`root` and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process exited while we listed /proc
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class TreeRss:
    """Peak summed RSS of this process tree, sampled from /proc in a
    background thread."""

    def __init__(self, period: float = 0.2) -> None:
        self.peak = 0
        self._period = period
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in tree_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def __enter__(self) -> "TreeRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- inputs and expected outputs ------------------------------------------------
def prepare_inputs(name: str, seed: int) -> tuple[Path, dict, dict]:
    """Generate the workload's inputs for `seed`, cached on disk together
    with the oracle's expected output. Returns (dir, manifest, expected)."""
    import gen
    import oracle

    w = WORKLOADS[name]
    # keyed by the workload's definition too, so an edited spec or config
    # never reuses inputs or expected outputs made for another one
    key = hashlib.sha256(json.dumps(w, sort_keys=True).encode()).hexdigest()[:12]
    d = WORK / "inputs" / f"{name}-seed{seed}-{key}"
    done = d / "expected.json"
    if done.exists():
        with open(d / "manifest.json") as f:
            manifest = json.load(f)
        with open(done) as f:
            return d, manifest, json.load(f)
    graphs = ("original", "perturbed") if w["kind"] == "mitm" else ("original",)
    spec = gen.GraphSpec(**w["spec"])
    manifest = gen.generate(spec, seed, str(d), formats=("text",), graphs=graphs)
    og_n, og_e, pg_n, pg_e = gen.build_pair(spec, seed)
    if w["kind"] == "mitm":
        expected = {"stats": oracle.mitm_stats(og_n, og_e, pg_n, pg_e, {**w["cfg"], "seed": seed})}
    else:
        a = oracle.analytics(og_n, og_e, w["pagerank_iters"])
        expected = {k: {str(i): v for i, v in m.items()} for k, m in a.items()}
    tmp = d / "expected.json.tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f, sort_keys=True)
    os.replace(tmp, done)
    return d, manifest, expected


def input_bytes(manifest: dict, suffix: str = "") -> int:
    return sum(v["bytes"] for k, v in manifest["files"].items() if k.endswith(suffix))


# -- executions ---------------------------------------------------------------------
class Mitm:
    """The CLI pipeline: `__main__.main([...])` on the generated pair."""

    def __init__(self, name: str, seed: int, d: Path, manifest: dict, expected: dict) -> None:
        w = WORKLOADS[name]
        self.cfg = {**w["cfg"], "seed": seed}
        self.inputs = [str(d / "original.txt"), str(d / "perturbed.txt")]
        self.out = WORK / "out" / f"{name}.yaml"
        self.expected = expected["stats"]
        self.edges = sum(g["edges"] for g in manifest["graphs"].values())
        self.pg_vertices = manifest["graphs"]["perturbed"]["vertices"]
        self.stats: dict | None = None

    def execute(self) -> None:
        from big_data_graph_analysis_with_spark_spark import __main__ as cli

        c = self.cfg
        self.stats = None
        self.out.unlink(missing_ok=True)  # a stale file must not pass the check
        rc = cli.main([
            "--original", self.inputs[0], "--perturbed", self.inputs[1],
            "--out", str(self.out), "--format", "text",
            "--walks", str(c["walks"]), "--iters", str(c["iters"]),
            "--accum", str(c["accum"]), "--coeff", str(c["coeff"]),
            "--threshold", str(c["threshold"]), "--seed", str(c["seed"]),
        ])
        if rc != 0:
            raise RuntimeError(f"main() returned {rc}")

    def check(self) -> list[str]:
        import yaml

        with open(self.out) as f:
            self.stats = yaml.safe_load(f)
        if self.stats == self.expected:
            return []
        return [
            f"{k}: got {self.stats.get(k)!r} want {v!r}"
            for k, v in self.expected.items() if self.stats.get(k) != v
        ] or ["stats keys differ"]

    def output_bytes(self) -> int:
        return self.out.stat().st_size


class Ingest:
    """Text parse → Parquet write → Parquet read → PageRank + components
    + triangles, through the public sources / graphalg functions."""

    def __init__(self, name: str, seed: int, d: Path, manifest: dict, expected: dict) -> None:
        self.iters = WORKLOADS[name]["pagerank_iters"]
        self.text = str(d / "original.txt")
        self.out = str(WORK / "out" / f"{name}-graph")
        self.expected = expected
        self.edges = manifest["graphs"]["original"]["edges"]
        self.result: dict | None = None

    def execute(self) -> None:
        from big_data_graph_analysis_with_spark_spark.operators import graphalg
        from big_data_graph_analysis_with_spark_spark.session import get_spark
        from big_data_graph_analysis_with_spark_spark.sources import ngs_text, parquet_graph

        self.result = None
        spark = get_spark()
        g = ngs_text.load_graph(spark, self.text)
        parquet_graph.write_graph_parquet(g, self.out)
        g2 = parquet_graph.read_graph_parquet(spark, self.out)
        self.result = {
            "pagerank": graphalg.pagerank(g2, iters=self.iters).collect(),
            "components": graphalg.connected_components(g2).collect(),
            "triangles": graphalg.triangle_counts(g2).collect(),
        }

    def check(self) -> list[str]:
        bad = []
        for key, want in self.expected.items():
            got = {str(r[0]): r[1] for r in self.result[key]}
            if got != want:
                diff = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
                bad.append(f"{key}: {diff} of {len(want)} vertices differ")
        return bad

    def output_bytes(self) -> int:
        return sum(p.stat().st_size for p in Path(self.out).rglob("*") if p.is_file())


# -- session ----------------------------------------------------------------------
def configure_env() -> int:
    """Point every scratch path of Spark, the walk sideload and Python
    at .perfbench/; return the Spark core count."""
    cores = min(SPARK_CORES, len(os.sched_getaffinity(0)))
    tmp = WORK / "tmp"
    for p in (tmp, WORK / "spark-local", WORK / "out"):
        p.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM: no perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    return cores


def start_spark(evlog: Path | None):
    from big_data_graph_analysis_with_spark_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData {JVM_OPTS} "
            f"-Djava.io.tmpdir={WORK / 'tmp'}"
        ),
    }
    if evlog is not None:
        evlog.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and its JVM; wait until the JVM and every process
    it started have exited."""
    from pyspark import SparkContext

    pids = tree_pids(os.getpid())[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


def own_setup(evlog: Path | None):
    """Set up this process: interpreter start + imports + JVM/session
    launch. Returns (spark, seconds); input generation is not included."""
    setup_s = (T_IMPORT - PROCESS_START) + import_program()
    t = time.time()
    spark = start_spark(evlog)
    return spark, setup_s + time.time() - t


def child_setup() -> float:
    """One set-up in a fresh process (this script with --setup-only)."""
    p = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--setup-only"],
        stdout=subprocess.PIPE, text=True, check=True, timeout=120,
    )
    return float(p.stdout.split()[-1])


def import_program() -> float:
    """Import PySpark and the program's entry modules; return seconds."""
    t = time.time()
    import pyspark.sql  # noqa: F401

    import big_data_graph_analysis_with_spark_spark.__main__  # noqa: F401
    import big_data_graph_analysis_with_spark_spark.operators.graphalg  # noqa: F401
    import big_data_graph_analysis_with_spark_spark.sources.parquet_graph  # noqa: F401
    return time.time() - t


# -- runs -----------------------------------------------------------------------------
def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process tree,
    exited and reaped children included."""
    ticks = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError, IndexError):
            pass  # the process exited; its parent's child times hold it
    return ticks / os.sysconf("SC_CLK_TCK")


def timed(runner, failures: list[str], rss: TreeRss | None = None) -> tuple[float, float] | None:
    """One execution plus its (unmeasured) check: (wall s, process-tree
    CPU s), or None if it failed."""
    t, c = time.perf_counter(), tree_cpu_s()
    try:
        runner.execute()
        dt, cpu = time.perf_counter() - t, tree_cpu_s() - c
        bad = runner.check()  # a missing output raises here
    except Exception:  # a failed execution is counted, not fatal
        failures.append(traceback.format_exc(limit=3))
        return None
    print(f"execution {dt:.3f}s cpu {cpu:.2f}s"
          + (f", peak rss {rss.peak / 1e6:.0f} MB" if rss else ""), flush=True)
    if dt > EXEC_TIMEOUT_S:
        failures.append(f"execution took {dt:.1f}s > {EXEC_TIMEOUT_S}s")
        return None
    if bad:
        failures.append("; ".join(bad))
        return None
    return dt, cpu


def plain_run(runner, warmup: int, seconds: float, failures: list[str], rss: TreeRss) -> dict:
    """Cold execution, `warmup` unmeasured (but checked) ones, then
    warm ones for `seconds` (at least MIN_WARM). The RSS peak covers the
    cold, the warm-up and the first MIN_WARM warm executions, a fixed
    amount of work, so a faster program that fits more executions into
    `seconds` is not charged for more heap growth. A time that was not
    measured (its executions failed) is left out; the failures already
    mark the run incorrect."""
    cold = timed(runner, failures, rss)
    for _ in range(warmup):
        timed(runner, failures, rss)
    warm: list[float] = []
    t0 = time.perf_counter()
    n = 0
    while n < MIN_WARM or time.perf_counter() - t0 < seconds:
        n += 1
        r = timed(runner, failures, rss)
        if n == MIN_WARM:
            peak = rss.peak
        if r is not None:
            warm.append(r[1])
    out = {"attempted": 1 + warmup + n, "peak_rss_mb": peak / 1e6}
    if cold is not None:
        out["cold_cpu_s"] = cold[1]
    if warm:
        out["warm_cpu_s"] = statistics.median(warm)
        out["edges_per_cpu_s"] = runner.edges / out["warm_cpu_s"]
    return out


def per_layer_units() -> dict[str, str]:
    import spans as tr

    units = {
        f"{layer}.{m}": unit
        for layer in tr.LAYER_NAMES
        for m, (unit, _) in tr.LAYER_METRICS.items()
    }
    units.update({k: unit for k, (unit, _) in EXTRA_LAYER_METRICS.items()})
    return units


def traced_run(spark, runner, seconds, failures, cores, setup_wall, evlog: Path, manifest) -> dict:
    """Cold execution untraced, then untraced and traced warm executions
    alternately, starting and ending untraced so that every traced one
    sits between two untraced ones (executions still speed up as the JVM
    warms). Per-layer metrics are medians over the traced ones."""
    import spans as tr

    tracer = tr.Tracer(spark)
    tracer.install()
    tracer.enabled = False
    attempted = 1
    cold = timed(runner, failures)  # untraced
    roots, extras, traced, untraced = [], [], [], []
    tries = {True: 0, False: 0}
    t0 = time.perf_counter()
    while (tries[True] < MIN_TRACED or tries[False] <= tries[True]
           or time.perf_counter() - t0 < seconds):
        trace_this = tries[False] > tries[True]
        tries[trace_this] += 1
        attempted += 1
        tracer.enabled = trace_this
        root = tracer.open("bench", "execution") if trace_this else None
        r = timed(runner, failures)
        if root is not None:
            tracer.close(root)
            tracer.enabled = False
        if r is None:
            continue
        dt = r[0]
        if trace_this:
            traced.append(dt)
            roots.append(root)
            extras.append(run_extras(runner, tracer, manifest))
        else:
            untraced.append(dt)
    tracer.uninstall()
    spark.stop()  # closes the event log before it is read
    jobs = tr.read_event_log(str(evlog))
    rows = [{**tr.layer_metrics(tracer.spans, r, jobs, cores), **e} for r, e in zip(roots, extras)]
    out: dict[str, float] = {k: 0.0 for k in per_layer_units()}
    for key in rows[0] if rows else []:
        out[key] = statistics.median(r[key] for r in rows)
    # the session layer is the set-up itself, not the per-execution lookup
    out["session.wall_s"] = out["session.self_s"] = out["session.driver_s"] = setup_wall
    wall = out["ngs_text.wall_s"]
    out["ngs_text.parse_mb_per_s"] = input_bytes(manifest, ".txt") / 1e6 / wall if wall else 0.0
    t_med = statistics.median(traced) if traced else 0.0
    u_med = statistics.median(untraced) if untraced else 0.0
    out["bench.cold_run_s"] = cold[0] if cold else 0.0
    out["bench.warm_run_s"] = u_med
    out["bench.traced_warm_run_s"] = t_med
    out["bench.trace_overhead_s"] = t_med - u_med
    out["attempted"] = attempted
    return out


def run_extras(runner, tracer, manifest: dict) -> dict[str, float]:
    """Counts read after a traced execution, outside its spans."""
    from pyspark.sql import functions as F

    written = runner.output_bytes()
    out = {
        "sinks.bytes_written": written,
        "sinks.bytes_per_input_byte": written / input_bytes(manifest),
    }
    res = tracer.returns.get("run_pipeline")
    if isinstance(runner, Mitm) and res is not None:
        row = res.walk_steps.agg(
            F.count("*").alias("steps"),
            F.countDistinct("partition_key", "walk_id").alias("walks"),
        ).first()
        quota = runner.cfg["coeff"] * runner.pg_vertices
        out["walks.steps"] = row["steps"]
        out["walks.quota_fill"] = row["steps"] / row["walks"] / quota if row["walks"] else 0.0
        out["stats.true_positive"] = int(runner.stats["numTruePositiveMatches"])
        out["stats.false_positive"] = int(runner.stats["numFalsePositiveMatches"])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="MitM-pipeline benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="set up once, shut down, print the seconds (one setup_s sample)")
    a = ap.parse_args(argv)
    if not a.setup_only and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not (ROOT / "big_data_graph_analysis_with_spark_spark" / "__init__.py").is_file():
        print("perfbench: program package not found; run from the repository root", file=sys.stderr)
        return 2
    cores = configure_env()
    if a.setup_only:
        spark, setup_s = own_setup(None)
        stop_spark(spark)
        print(setup_s)
        return 0

    # set-up samples: fresh child processes first, one at a time, then
    # this process's own; input generation comes after all of them and is
    # not timed. The traced run keeps its single own sample.
    samples = [] if a.trace else [child_setup() for _ in range(SETUP_SAMPLES - 1)]
    evlog = WORK / "evlog" / str(os.getpid()) if a.trace else None
    spark, setup_s = own_setup(evlog)
    samples.append(setup_s)
    print("setup samples " + " ".join(f"{x:.3f}s" for x in samples))
    failures: list[str] = []
    try:
        t = time.time()
        d, manifest, expected = prepare_inputs(a.workload, a.seed)
        print(f"inputs ready in {time.time() - t:.2f}s (generation and oracle, untimed)")
        runner_cls = Mitm if WORKLOADS[a.workload]["kind"] == "mitm" else Ingest
        runner = runner_cls(a.workload, a.seed, d, manifest, expected)
        print(f"inputs {d.relative_to(ROOT)} digest {manifest['digest']} "
              f"graphs {json.dumps(manifest['graphs'])}")
        with TreeRss() as rss:
            if a.trace:
                result = traced_run(spark, runner, a.seconds, failures, cores, setup_s, evlog, manifest)
            else:
                result = plain_run(runner, WORKLOADS[a.workload]["warmup"], a.seconds, failures, rss)
                result["setup_s"] = statistics.median(samples)
    finally:
        stop_spark(spark)
    attempted = result.pop("attempted")
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    units = per_layer_units() if a.trace else END_TO_END
    metrics = {k: {"value": result[k], "unit": u} for k, u in units.items() if k in result}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {len(failures) / attempted:.6g} (failed {len(failures)} of {attempted})")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
