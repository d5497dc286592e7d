"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each entry forces full materialization (count/collect) so the timing
covers scan → shuffle → result, not plan construction. Every query runs
$SPARK_GRAFT_BENCH_ITERS times (default 3) and reports the per-query
MINIMUM — single-shot numbers in a shared local JVM move ±30% (first
iterations pay JIT/codegen warmup), which is larger than most real
regressions; min-of-3 keeps two consecutive bench processes within
~10% per query.

Load robustness (round-5 verdict: ambient machine load fabricated 3
phantom regressions and hid a real win): 1-minute os.getloadavg() is
recorded at start/end and before every suite (the "load" key). After
the full pass, any suite whose best exceeds the previous round's
recorded time (latest BENCH_r*.json next to this file, override with
$SPARK_GRAFT_BENCH_PRIOR) by >25% is automatically RE-RUN for up to 2
extra iterations and the overall minimum kept; the "reruns" key records
prior/first/final/load per re-run suite, so a reported regression
always carries its A/B evidence and a load indicator. Suites whose
backing modules changed since the round-start commit get a tighter
1.10x trigger (round-6 verdict: 1.25x missed exactly the suites whose
code changed).

Output: the FULL record (per-suite loads, complete rerun evidence) is
written next to this file — to the committed idle-box record
BENCH_LOCAL.json only when SPARK_GRAFT_RECORD=1 (the end-of-round
record pass), otherwise to the gitignored bench_last_run_<sf>.json so
the driver's per-round bench leaves the tree clean; stdout gets one compact
final JSON line kept under 1900 chars, because the external driver
records only the last ~2000 chars of output — round 6's oversized line
lost its head there and the round's record became unparseable.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from big_data_graph_analysis_with_spark_spark import get_spark  # noqa: E402
from big_data_graph_analysis_with_spark_spark.config import SimConfig  # noqa: E402
from big_data_graph_analysis_with_spark_spark.operators import (  # noqa: E402
    matching,
    multimodal,
    simrank,
    textops,
    topology,
)
from big_data_graph_analysis_with_spark_spark.operators import dedup as dedup_ops  # noqa: E402
from big_data_graph_analysis_with_spark_spark.operators import similarity as similarity_ops  # noqa: E402
from big_data_graph_analysis_with_spark_spark.plans.pipeline import run_pipeline  # noqa: E402
from big_data_graph_analysis_with_spark_spark.sources import tpch_graph  # noqa: E402
from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REF_INPUT = "/root/reference/input"


def _effective_cpus() -> int:
    """Core count the timings actually run at: the driver's
    $SPARK_GRAFT_CPUS (master local[N]) when set, else every core."""
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return os.cpu_count() or 1


def _prior_timings() -> tuple[dict[str, float], int | None]:
    """(per-suite timings, core count) from the latest BENCH_r*.json
    next to this file (or $SPARK_GRAFT_BENCH_PRIOR) — the A/B baseline
    for the regression re-run pass. Falls back to the committed
    BENCH_LOCAL.json full record when no driver-wrapped record parses
    (the r6 failure mode: the driver keeps only the last 2000 output
    chars, and an oversized JSON line loses its head). Empty when none
    exists. The core count comes from the driver wrapper's top-level
    "cpus" or our own record's load.cpus — the caller must not treat a
    record made at a different local[N] as a regression baseline (an
    8-core run reads uniformly slower than a 32-core prior; r12's
    scaling bench re-ran every suite against the 32-core record and
    doubled its wall time)."""
    override = os.environ.get("SPARK_GRAFT_BENCH_PRIOR")
    here = Path(__file__).resolve().parent
    if override:
        candidates = [Path(override)]
    else:
        # preference (the loop scans reversed): newest driver record,
        # then the committed full local record, then older driver
        # records — BENCH_LOCAL is the same round as the newest driver
        # record, so it outranks everything but that record itself
        candidates = sorted(here.glob("BENCH_r*.json"))
        candidates = candidates[:-1] + [here / "BENCH_LOCAL.json"] + candidates[-1:]
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    for p in reversed(candidates):
        try:
            text = p.read_text().strip()
            try:
                rec = json.loads(text)
            except json.JSONDecodeError:
                rec = json.loads(text.splitlines()[-1])
            # the external driver wraps the bench line in a record with
            # the parsed JSON under "parsed"; its wrapper carries the
            # core count the run used
            rec_cpus = rec.get("cpus")
            if "parsed" in rec and isinstance(rec["parsed"], dict):
                rec = rec["parsed"]
            if rec_cpus is None:
                rec_cpus = rec.get("load", {}).get("cpus")
            qs = rec.get("queries", {})
            if str(rec.get("sf")) != sf:
                # prior record is for a different scale factor — its
                # timings are not an A/B baseline for this run
                continue
            if isinstance(qs, dict) and qs:
                print(f"[bench] prior baseline: {p.name}", file=sys.stderr)
                return (
                    {k: float(v) for k, v in qs.items()},
                    int(rec_cpus) if rec_cpus is not None else None,
                )
        except Exception:
            continue
    return {}, None


def _rerun_plan(
    timings: dict[str, float],
    prior: dict[str, float],
    changed: set[str],
) -> list[tuple[float, str, float]]:
    """(delta, name, prior_seconds) for every suite whose first-pass
    time exceeds its regression trigger (1.10x for suites whose source
    module changed since the prior record, 1.25x otherwise), ordered
    by absolute slowdown LARGEST FIRST so a budget-capped rerun pass
    spends its wall on the most-regressed (most informative) suites.
    Rerun order cannot affect state-warmness: the full in-definition-
    order first pass has already materialized every shared persisted
    frame before any rerun starts."""
    out = []
    for name, t in timings.items():
        p = prior.get(name)
        trigger = 1.10 if name in changed else 1.25
        if p is None or t <= p * trigger:
            continue
        out.append((t - p, name, p))
    out.sort(key=lambda c: (c[0], c[1]), reverse=True)
    return out


#: module stem -> suite-name substrings it feeds. Drives the tighter
#: A/B trigger: a suite whose backing module changed this round re-runs
#: at >1.10x its prior record instead of >1.25x (round-6 verdict: the
#: 1.25x trigger missed graph_centralities at 1.20x with changed
#: graphalg.py — exactly the suites where a recorded slowdown matters).
_MODULE_SUITES: dict[str, list[str]] = {
    "graphalg": ["graph_", "pagerank", "cc_", "link_prediction",
        "candidate_ops_r10b", "candidate_ops_r10c"],
    "topology": ["topology", "graph_ingest", "mitm"],
    "walks": ["walks_frontier", "mitm", "graph_walk_audit"],
    "walk_simrank": ["mitm"],
    "simrank": ["simrank", "mitm"],
    "matching": ["best_match", "mitm"],
    "stats": ["mitm", "topology", "graph_walk_audit"],
    "subgraph": ["mitm"],
    "pipeline": ["mitm"],
    "dedup": ["dedup_", "fuzzy_similarity", "candidate_ops_r11"],
    "similarity": [
        "similarity_", "dedup_embedding_cosine", "link_prediction",
        "activity_profiles", "series_repair", "fuzzy_similarity",
    ],
    "textops": ["text_analysis", "corpus_", "fuzzy_similarity"],
    "corpusstats": ["corpus_", "text_analysis"],
    "corpus": ["doc_shaping", "corpus_"],
    "corpus_io": ["corpus_", "doc_shaping"],
    "curation": ["corpus_audit", "corpus_triage", "corpus_quality",
        "candidate_ops_r10"],
    "chunking": ["doc_shaping"],
    "sessions": ["event_analytics", "streaming_sessions", "activity_rhythms"],
    "sampling": ["corpus_mixture", "candidate_ops_r10b"],
    "cohorts": ["event_analytics"],
    "olap": [
        "event_analytics", "data_management", "olap_",
        "activity_profiles", "series_repair", "skew_quantile_audit",
        "hypothesis_tests",
    ],
    "hypotests": ["hypothesis_tests", "candidate_ops", "candidate_ops_r10",
        "candidate_ops_r10b", "candidate_ops_r10c", "candidate_ops_r10d",
        "candidate_ops_r11"],
    "joins": ["olap_", "mitm_pipeline_tpch"],
    "skew": ["skew_quantile_audit", "topology"],
    "merge": ["data_management"],
    "asof": ["temporal_joins"],
    "ranges": ["temporal_joins"],
    "jsonops": ["json_analytics", "olap_census_stats"],
    "sketches": ["corpus_audit", "data_management", "graph_walk_audit",
        "skew_quantile_audit", "hypothesis_tests", "candidate_ops_r10d",
        "candidate_ops_r11"],
    "drift": ["drift_monitoring", "streaming_value_hist", "activity_rhythms",
        "series_repair", "streaming_locf_timed", "streaming_ks_gate"],
    "multimodal": ["multimodal_"],
    "doc_dedup": ["streaming_dedup"],
    "enrich": ["drift_monitoring"],
    "correlate": ["drift_monitoring"],
    "walk_rates": ["streaming_"],
    "ngs_text": ["graph_ingest", "mitm_pipeline_graph200"],
    "ngs_java": ["graph_ingest"],
    "parquet_graph": [
        "graph_bfs", "graph_paths", "pagerank_bucketed", "cc_bucketed",
        "simrank_round1_bucketed", "graph_ingest",
    ],
    "tpch_graph": ["graph_", "topology", "mitm_pipeline_tpch"],
}


def _changed_suites(all_names: list[str]) -> set[str]:
    """Suite names whose backing modules changed since the round-start
    commit (the driver's 'round N: verdict/...' commit) or in the
    working tree. Best-effort: any git failure returns the empty set
    and every suite keeps the default trigger."""
    try:
        here = Path(__file__).resolve().parent
        base = subprocess.run(
            ["git", "log", "--grep", "^round .*: verdict", "-1", "--format=%H"],
            cwd=here, capture_output=True, text=True, timeout=30,
        ).stdout.strip()
        files: set[str] = set()
        specs = [f"{base}..HEAD"] if base else []
        for spec in specs + ["HEAD"]:
            out = subprocess.run(
                ["git", "diff", "--name-only", spec],
                cwd=here, capture_output=True, text=True, timeout=30,
            )
            files.update(out.stdout.split())
    except Exception:
        return set()
    stems = {Path(f).stem for f in files if f.endswith(".py")}
    changed: set[str] = set()
    for stem, subs in _MODULE_SUITES.items():
        if stem in stems:
            changed.update(
                n for n in all_names if any(s in n for s in subs)
            )
    return changed


def main() -> None:
    # the 24 GB heap is this harness's own default, set only when it
    # runs: the test suite imports this module
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    loads: dict[str, float] = {}
    load_start = round(os.getloadavg()[0], 2)

    n_iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))

    # suites register here and run AFTER all definitions (definition
    # order preserved) so the regression pass below can re-run any
    # single suite; bodies may depend on earlier suites' side effects
    # (r1, persisted caches), which re-runs keep intact
    suites: list[tuple] = []

    def timed(name: str, reset=None, iters: int | None = None):
        # iters caps this entry below the global count — used on the
        # multi-operator suites (>8s each) so total bench wall stays
        # bounded as coverage grows; min-of-2 vs min-of-3 noise is
        # well under the regressions worth flagging at that size
        def deco(fn):
            suites.append((name, fn, reset, iters))

        return deco

    def run_suite(name, fn, reset, iters, extra: bool = False) -> float:
        count = 2 if extra else (min(n_iters, iters) if iters else n_iters)
        tag = "rerun" if extra else "iter"
        best = None
        for it in range(count):
            if reset is not None:
                reset()
            print(
                f"[bench] {name} {tag} {it + 1}/{count} ...",
                file=sys.stderr,
                flush=True,
            )
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 3)
            print(
                f"[bench] {name} {tag} done in {dt}s", file=sys.stderr, flush=True
            )
            best = dt if best is None else min(best, dt)
        return best

    og, pg = tpch_graph.derive_graphs(spark, SF_DIR)

    def _drop_graph_cache():
        for df in (og.vertices, og.edges, pg.vertices, pg.edges):
            df.unpersist()

    @timed("graph_ingest", reset=_drop_graph_cache)
    def _():
        og.vertices.persist().count()
        og.edges.persist().count()
        pg.vertices.persist().count()
        pg.edges.persist().count()

    @timed("topology")
    def _():
        topology.degrees(og).agg(
            F.sum("in_degree"), F.sum("out_degree")
        ).collect()
        topology.start_nodes(pg).count()

    r1 = None

    @timed("simrank_round1_bucketed")
    def _():
        # full (unbucketed) round-1 is inherently O(Σ outdeg²) dense on
        # this bipartite-ish graph (~350M pairs at sf0.1) — the
        # attribute-bucket candidate pruning is the scale path
        nonlocal r1
        if r1 is not None:
            r1.unpersist()
        r1 = simrank.simrank(pg, og, rounds=1, attr_bucket=True).persist()
        r1.count()

    @timed("best_match")
    def _():
        best = matching.best_match(r1, pg, og).persist()
        best.count()
        matching.match_class_counts(best, 0.1).collect()
        best.unpersist()

    @timed("mitm_pipeline_tpch")
    def _():
        cfg = SimConfig(
            num_of_parallel_walks=8, num_iters_per_comp_node=10, iters_before_accum=5
        )
        run_pipeline(spark, og, pg, cfg)

    @timed("graph_analytics")
    def _():
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.triangle_counts(og).agg(F.sum("n_triangles")).collect()
        graphalg.pagerank(og, iters=4).agg(F.sum("pr_scaled")).collect()

    @timed("mitm_pipeline_graph200")
    def _():
        # the reference's own workload at its full config (20×50 walks).
        # Runs EARLY: this is the headline reference-parity number, and
        # late in a long bench process the accumulated JVM state (JIT
        # deopt, checkpoint blocks, GC pressure) was measured to triple
        # the stage latency of these tiny 200-vertex rounds.
        og200 = load_graph(spark, f"{REF_INPUT}/Graph200.txt")
        pg200 = load_graph(spark, f"{REF_INPUT}/Graph200.txt.perturbed")
        run_pipeline(spark, og200, pg200, SimConfig())

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    @timed("doc_shaping")
    def _():
        from big_data_graph_analysis_with_spark_spark.operators import (
            chunking,
            sessions,
        )

        chunking.doc_chunks(docs, 64).count()
        chunking.pack_documents(docs, 512, 8).count()
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        sessions.sessionize_events(ev).count()

    @timed("dedup_exact")
    def _():
        dedup_ops.exact_dedup(docs).count()

    @timed("dedup_minhash_lsh")
    def _():
        dedup_ops.minhash_lsh_pairs(docs, 3, 0.2).count()

    @timed("dedup_ngram_capped")
    def _():
        # the mandatory-at-scale inverted-index cap: candidate pairs
        # only from shingles shared by ≤5 docs (Σ df² drops 58× on this
        # fixture), then exact verification over full shingle sets
        dedup_ops.ngram_jaccard_pairs(docs, 3, 0.2, max_shingle_df=5).count()

    @timed("dedup_simhash")
    def _():
        dedup_ops.simhash_pairs(docs, 8).count()

    @timed("dedup_embedding_cosine")
    def _():
        # SRP-LSH candidates + decimal in-bucket verify. r scales with
        # log2(N) (SCALING.md): 10 planes/table keeps buckets O(1) at
        # this corpus size; the oracle query stays at r=6 where recall
        # on the sf0.01 fixture is measured
        dedup_ops.embedding_cosine_pairs(
            embs, threshold=0.4, planes_per_table=10
        ).count()

    @timed("similarity_ann_lsh")
    def _():
        # multi_probe=1 is the configuration that clears the recall bar
        # (≥0.6 at sf0.1; see the recall block below) — benching the
        # plain config would time an answer quality nobody would ship
        q = embs.filter(F.col("vec_id") < 100)
        similarity_ops.ann_lsh_topk(embs, q, 5, multi_probe=1).count()

    @timed("text_analysis")
    def _():
        textops.token_stats(docs).count()
        textops.quality_scores(docs).count()
        textops.language_id(docs).count()

    @timed("temporal_joins")
    def _():
        import __spark_entry__ as entrymod

        entrymod.q_events_asof(spark, SF_DIR).count()
        entrymod.q_events_range_join(spark, SF_DIR).count()

    @timed("corpus_stats")
    def _():
        from big_data_graph_analysis_with_spark_spark.operators import corpusstats

        corpusstats.top_ngrams(docs, n=2, min_docs=2, k=50).count()
        corpusstats.token_quantiles(docs, group="lang").count()

    # -- bucketed graph storage: src-bucketed catalog tables + the
    # b-bucketed symmetric edge table, shared by the centrality suite
    # and the pagerank/cc bucketed-vs-plain pairs below (one-time
    # storage prep, excluded from every timing)
    import tempfile

    from big_data_graph_analysis_with_spark_spark.operators import graphalg
    from big_data_graph_analysis_with_spark_spark.sources.parquet_graph import (
        read_graph_parquet,
        read_sym_edges,
        write_graph_parquet,
        write_sym_edges,
    )

    bucket_path = tempfile.mkdtemp(prefix="bdga_bench_bucketed_")
    write_graph_parquet(og, bucket_path, bucket_by=8)
    write_sym_edges(og, bucket_path, bucket_by=8)
    og_bucketed = read_graph_parquet(spark, bucket_path)
    sym_bucketed = read_sym_edges(spark, bucket_path)

    @timed("graph_centralities", iters=2)
    def _():
        # round-4 whole-graph suite: LCC + 3-round LPA + 2-round HITS
        # (LPA rides the b-bucketed symmetric table — same lever as
        # cc_bucketed; results are identical either way)
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.clustering_coefficient(og).agg(F.sum("lcc_ppm")).collect()
        graphalg.label_propagation(og, rounds=3, sym_edges=sym_bucketed).agg(
            F.countDistinct("label")
        ).collect()
        graphalg.hits_scores(
            og_bucketed, rounds=2, edges_stable=True
        ).agg(F.sum("auth")).collect()

    @timed("graph_structure", iters=2)
    def _():
        # SCC (trim + coloring over og ∪ reversed dst%7 subset — the
        # cyclic augmentation the oracle uses) + Luby MIS
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        extra = og.edges.filter(
            (F.col("dst") % 7 == 0) & (F.col("src") != F.col("dst"))
        ).select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        graphalg.scc_components(og, extra_edges=extra).agg(
            F.countDistinct("scc_id")
        ).collect()
        graphalg.maximal_independent_set(og, rounds=6).count()

    @timed("graph_centrality_paths", iters=2)
    def _():
        # multi-source closeness/harmonic + σ path counting + sampled
        # Brandes betweenness — the frontier-BFS family, running over
        # the bucketed tables (sym_edges / edges_stable elide the
        # per-level edge-side Exchange, same lever as pagerank_bucketed)
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.closeness_sampled(
            og_bucketed, n_seeds=4, sym_edges=sym_bucketed
        ).agg(F.sum("harmonic_ppm")).collect()
        graphalg.path_counts(og_bucketed, levels=8, edges_stable=True).agg(
            F.sum("n_paths")
        ).collect()
        graphalg.betweenness_sampled(
            og_bucketed, n_seeds=4, edges_stable=True
        ).agg(F.sum("betweenness")).collect()

    @timed("link_prediction")
    def _():
        # wedge-join candidate generation — the Σdeg² shape under test
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.link_prediction(og, k=100).count()

    @timed("event_analytics")
    def _():
        # round-4 behavioral suite: retention + hourly top-k + anomaly
        # days + running LTV, all on the events table
        from big_data_graph_analysis_with_spark_spark.operators import (
            cohorts,
            olap,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        cohorts.retention_cohorts(ev).count()
        cohorts.topk_per_window(ev, k=3).count()
        cohorts.user_anomaly_days(ev).count()
        olap.user_running_value(ev).count()

    @timed("drift_monitoring")
    def _():
        # distribution-drift + skew + latest-N monitoring primitives
        from big_data_graph_analysis_with_spark_spark.operators import (
            cohorts,
            drift,
            olap,
            sessions,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        drift.value_drift(ev, n_buckets=20).count()
        drift.key_skew_profile(ev, "user_id", k=20).count()
        olap.recent_events_per_user(ev, n=3).count()
        cohorts.interarrival_quantiles(ev).count()
        sessions.session_quantiles(ev).count()

    @timed("corpus_audit")
    def _():
        # round-4 corpus-audit suite: vocabulary coverage + histogram
        # winsorization + language mix + bounded term co-occurrence
        from big_data_graph_analysis_with_spark_spark.operators import corpusstats

        corpusstats.vocab_coverage(docs, k=200).count()
        corpusstats.winsorize_lengths(docs).count()
        corpusstats.language_mix(docs).count()
        corpusstats.term_cooccurrence(docs, vocab_k=20, k=100).count()
        similarity_ops.label_centroids(embs).count()

    @timed("corpus_triage")
    def _():
        # round-4 triage suite: exact-dup rates, lexical diversity,
        # weighted priority samples, sorted-neighborhood dedup
        from big_data_graph_analysis_with_spark_spark.operators import (
            corpusstats,
            curation,
            dedup,
            sampling,
        )

        curation.dup_rate_by_source(docs).count()
        corpusstats.lexical_diversity(docs).count()
        sampling.priority_sample(docs, k=100, seed=7).count()
        sampling.stratified_priority_sample(docs, k_per_stratum=50, seed=7).count()
        dedup.sorted_neighborhood_pairs(docs).count()

    @timed("data_management", iters=2)
    def _():
        # round-4 table/governance suite: snapshot diff, bloom-pruned
        # join, k-anonymity audit, source overlap, type projection
        import __spark_entry__ as entrymod

        entrymod.q_snapshot_diff(spark, SF_DIR).count()
        entrymod.q_bloom_pruned_join(spark, SF_DIR).count()
        entrymod.q_k_anonymity(spark, SF_DIR).count()
        entrymod.q_source_overlap(spark, SF_DIR).count()
        entrymod.q_type_projection(spark, SF_DIR).count()

    @timed("olap_tpch_shapes", iters=2)
    def _():
        # round-7 TPC-H shape suite: Pareto cut + Q16/Q22/Q7/Q4/Q18/
        # Q17/Q19/Q2 — broadcast dims, one orderkey-co-located big
        # shuffle per query, decimal-exact aggregates
        import __spark_entry__ as entrymod

        entrymod.q_supplier_pareto(spark, SF_DIR).count()
        entrymod.q_part_supplier_variety(spark, SF_DIR).count()
        entrymod.q_idle_customers(spark, SF_DIR).count()
        entrymod.q_nation_trade_flow(spark, SF_DIR).count()
        entrymod.q_order_priority_funnel(spark, SF_DIR).count()
        entrymod.q_large_orders(spark, SF_DIR).count()
        entrymod.q_small_lot_revenue(spark, SF_DIR).count()
        entrymod.q_disjunctive_revenue(spark, SF_DIR).count()
        entrymod.q_cheapest_supplier(spark, SF_DIR).count()

    @timed("olap_market_cohorts", iters=2)
    def _():
        # round-7 second batch: Q8/Q9/Q15 shapes + month-over-month
        # revenue + cohort acquisition — broadcast dims, windows only
        # over pre-aggregated dimension/calendar-sized frames
        import __spark_entry__ as entrymod

        entrymod.q_market_share(spark, SF_DIR).count()
        entrymod.q_supplier_nation_margin(spark, SF_DIR).count()
        entrymod.q_top_supplier_quarter(spark, SF_DIR).count()
        entrymod.q_monthly_revenue_growth(spark, SF_DIR).count()
        entrymod.q_customer_acquisition(spark, SF_DIR).count()

    @timed("corpus_lexical_profiles")
    def _():
        # round-7 second batch: hapax-legomena richness + sentence
        # segmentation census over the documents table
        import __spark_entry__ as entrymod

        entrymod.q_hapax_by_source(spark, SF_DIR).count()
        entrymod.q_sentence_stats(spark, SF_DIR).count()

    @timed("graph_edge_support")
    def _():
        # per-edge triangle-support histogram on the cached graph —
        # one ordered-edge triangle enumeration + two small aggs
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.edge_support_histogram(og).count()

    @timed("graph_common_neighbors")
    def _():
        # round-7 third batch: wedge-join common-neighbor histogram on
        # the cached graph (hub-capped, edge-flagged)
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.common_neighbor_histogram(og).count()

    @timed("olap_segment_grids", iters=2)
    def _():
        # round-7 third batch: RFM grid + part-catalog ROLLUP +
        # nation quarter trend — per-key rollups then dimension-sized
        # windows/grids only
        import __spark_entry__ as entrymod

        entrymod.q_rfm_segments(spark, SF_DIR).count()
        entrymod.q_part_catalog_rollup(spark, SF_DIR).count()
        entrymod.q_nation_revenue_trend(spark, SF_DIR).count()

    @timed("corpus_vocab_overlap")
    def _():
        # round-7 third batch: source-pair vocabulary overlap (distinct
        # (source, token) before the token-keyed self-join)
        import __spark_entry__ as entrymod

        entrymod.q_vocab_overlap(spark, SF_DIR).count()

    @timed("similarity_dot_hist")
    def _():
        # round-7 third batch: exact-decimal pairwise dot histogram on
        # a hash-grouped sample (sample_mod thins the sf0.1 vector set
        # the way n_groups would scale at corpus size)
        from big_data_graph_analysis_with_spark_spark.operators import similarity

        similarity.embedding_dot_hist(
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
            sample_mod=4,
        ).count()

    @timed("graph_transitivity")
    def _():
        # round-7 fourth batch: 1-row global clustering summary
        # (counted triangle join + wedge sum) on the cached graph
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.global_transitivity(og).count()

    @timed("olap_market_structure", iters=2)
    def _():
        # round-7 fourth batch: Q21-shaped sole-returner, per-nation
        # HHI numerators, basket-size profile — orderkey/suppkey
        # rollups then bounded-key aggregations only
        import __spark_entry__ as entrymod

        entrymod.q_sole_returned_supplier(spark, SF_DIR).count()
        entrymod.q_supplier_hhi(spark, SF_DIR).count()
        entrymod.q_order_size_profile(spark, SF_DIR).count()

    @timed("activity_rhythms", iters=2)
    def _():
        # round-7 fourth batch: gaps-and-islands streak histogram +
        # lag-1/lag-7 daily autocovariance inputs
        import __spark_entry__ as entrymod

        entrymod.q_activity_streaks(spark, SF_DIR).count()
        entrymod.q_daily_autocovariance(spark, SF_DIR).count()

    @timed("graph_edge_quality")
    def _():
        # round-7 fifth batch: raw-edge ingest census on the cached
        # graph (distinct + direction-count rollups)
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.edge_quality_census(og).count()

    @timed("olap_market_profiles", iters=2)
    def _():
        # round-7 fifth batch: cohort retention triangle, bipartite
        # supply-degree histograms, pricing knob grid — each one
        # fact-scan + bounded-key rollups
        import __spark_entry__ as entrymod

        entrymod.q_order_cohort_retention(spark, SF_DIR).count()
        entrymod.q_supply_bipartite_profile(spark, SF_DIR).count()
        entrymod.q_pricing_knob_grid(spark, SF_DIR).count()

    @timed("behavior_profiles", iters=2)
    def _():
        # round-7 fifth batch: source correlation inputs + event-type
        # diversity histogram
        import __spark_entry__ as entrymod

        entrymod.q_source_corr_profile(spark, SF_DIR).count()
        entrymod.q_user_event_type_diversity(spark, SF_DIR).count()

    @timed("mix_profiles", iters=2)
    def _():
        # round-7 sixth batch: block census on the cached graph +
        # segment/priority mix + balance deciles + leading tokens +
        # value moments — all bounded-key rollups
        import __spark_entry__ as entrymod

        entrymod.q_edge_block_census(spark, SF_DIR).count()
        entrymod.q_segment_revenue_mix(spark, SF_DIR).count()
        entrymod.q_supplier_balance_deciles(spark, SF_DIR).count()
        entrymod.q_priority_mix_shift(spark, SF_DIR).count()
        entrymod.q_leading_tokens(spark, SF_DIR).count()
        entrymod.q_value_moments(spark, SF_DIR).count()

    @timed("integrity_audits", iters=2)
    def _():
        # round-7 seventh batch: FK integrity census, correlation
        # inputs, brand price moments, per-lang token moments, mutual
        # kNN curve (component density rides the graph suites' CC)
        import __spark_entry__ as entrymod

        entrymod.q_fk_integrity_census(spark, SF_DIR).count()
        entrymod.q_custbal_order_corr(spark, SF_DIR).count()
        entrymod.q_brand_price_moments(spark, SF_DIR).count()
        entrymod.q_lang_token_moments(spark, SF_DIR).count()
        entrymod.q_knn_mutuality(spark, SF_DIR).count()

    @timed("graph_component_density")
    def _():
        # round-7 seventh batch: CC + one-endpoint edge-label join +
        # bit-length density rollup on the cached graph
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.component_density_profile(og).count()

    @timed("graph_perturbation_census")
    def _():
        # round-7 eighth batch: og-vs-pg full-outer diffs on the cached
        # graph pair — the golden-YAML taxonomy totals
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.perturbation_census(og, pg).count()

    @timed("reconciliation_audits", iters=2)
    def _():
        # round-7 eighth batch: revenue reconciliation, linenumber
        # holes, entry→exit matrix, type co-occurrence, label norms
        import __spark_entry__ as entrymod

        entrymod.q_revenue_reconciliation(spark, SF_DIR).count()
        entrymod.q_linenumber_holes(spark, SF_DIR).count()
        entrymod.q_entry_exit_matrix(spark, SF_DIR).count()
        entrymod.q_type_cooccurrence(spark, SF_DIR).count()
        entrymod.q_label_norm_profile(spark, SF_DIR).count()

    @timed("window_api_coverage", iters=2)
    def _():
        # round-7 ninth batch: RANGE frame, NTILE, GROUPING SETS,
        # full-frame value functions — all over dimension-bounded
        # window inputs
        import __spark_entry__ as entrymod

        entrymod.q_trailing_revenue_range(spark, SF_DIR).count()
        entrymod.q_balance_quartile_mix(spark, SF_DIR).count()
        entrymod.q_sales_grouping_sets(spark, SF_DIR).count()
        entrymod.q_nation_quarter_extremes(spark, SF_DIR).count()

    @timed("shape_profiles", iters=2)
    def _():
        # round-7 tenth batch: stack/UNPIVOT metrics, set-signature
        # rollup, token-class census, span histogram
        import __spark_entry__ as entrymod

        entrymod.q_part_metrics_long(spark, SF_DIR).count()
        entrymod.q_nation_segment_signature(spark, SF_DIR).count()
        entrymod.q_token_class_mix(spark, SF_DIR).count()
        entrymod.q_activity_span_hist(spark, SF_DIR).count()

    @timed("graph_degree_profiles", iters=2)
    def _():
        # round-7 degree-profile suite on the cached graph: bucketed
        # clustering curve, rich-club, joint degree histogram
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.degree_clustering_profile(og).count()
        graphalg.rich_club_profile(og).count()
        graphalg.joint_degree_profile(og).count()

    @timed("corpus_profiles")
    def _():
        # round-7 corpus audit suite: charclass census, stopword
        # coverage, per-source quantiles, exact Gini statistics
        import __spark_entry__ as entrymod

        entrymod.q_charclass_profile(spark, SF_DIR).count()
        entrymod.q_stopword_coverage(spark, SF_DIR).count()
        entrymod.q_source_length_quantiles(spark, SF_DIR).count()
        entrymod.q_length_gini(spark, SF_DIR).count()

    @timed("activity_profiles")
    def _():
        # round-7 behavioral/embedding audit suite: lead-time
        # quantiles, inactivity gaps, WAU, power-user Pareto, grid
        # occupancy, centroid distances
        import __spark_entry__ as entrymod

        entrymod.q_supplier_leadtime_quantiles(spark, SF_DIR).count()
        entrymod.q_top_inactivity_gaps(spark, SF_DIR).count()
        entrymod.q_weekly_active_users(spark, SF_DIR).count()
        entrymod.q_user_activity_pareto(spark, SF_DIR).count()
        entrymod.q_embedding_grid_occupancy(spark, SF_DIR).count()
        entrymod.q_centroid_distances(spark, SF_DIR).count()

    @timed("corpus_quality")
    def _():
        # quality-percentile gate, length-matched resample, novelty,
        # JL projection + grid cells
        import __spark_entry__ as entrymod

        entrymod.q_quality_filter(spark, SF_DIR).count()
        entrymod.q_length_matched_resample(spark, SF_DIR).count()
        entrymod.q_ngram_novelty(spark, SF_DIR).count()
        entrymod.q_grid_clusters(spark, SF_DIR).count()

    @timed("json_analytics")
    def _():
        # JSON payload extraction + bipartite projection over events
        from big_data_graph_analysis_with_spark_spark.operators import (
            cohorts,
            jsonops,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        jsonops.props_stats(ev).count()
        jsonops.props_histogram(ev).count()
        cohorts.type_affinity(ev).count()

    @timed("graph_bfs")
    def _():
        # frontier BFS over the src-bucketed catalog table — every
        # level's edge-side Exchange elided (same lever as
        # pagerank_bucketed; results identical either way)
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.bfs_distances(og_bucketed, edges_stable=True).agg(
            F.sum("dist")
        ).collect()

    @timed("graph_paths")
    def _():
        # Bellman-Ford + k-core peel over the bucketed tables
        from big_data_graph_analysis_with_spark_spark.operators import graphalg

        graphalg.sssp_distances(og_bucketed, rounds=10, edges_stable=True).agg(
            F.sum("dist_scaled")
        ).collect()
        graphalg.kcore_vertices(og_bucketed, k=3, sym_edges=sym_bucketed).count()

    @timed("walks_frontier", iters=2)
    def _():
        # the extreme-scale walk tier, called directly on the sf graph
        # with a bounded hop budget — times the per-step child-map join
        # loop so a regression there becomes visible (round-5 verdict
        # task 4).
        # Narrowed shuffle: the frontier frames are tiny; full width
        # would time task scheduling, not the join loop.
        from big_data_graph_analysis_with_spark_spark.operators import walks as walks_ops

        n_v = og.vertices.count()
        cfg = SimConfig(
            num_of_parallel_walks=8,
            num_iters_per_comp_node=2,
            iters_before_accum=2,
            random_walk_coeff=16.0 / n_v,  # 16-hop budget per walk
            seed=7,
        )
        prev_w = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            a = walks_ops.sample_start_assignments_dist(
                spark, topology.start_nodes(og), cfg
            )
            walks_ops.run_walks_frontier(spark, og, a, cfg, num_vertices=n_v).count()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_w)

    @timed("corpus_mixture")
    def _():
        from big_data_graph_analysis_with_spark_spark.operators import sampling

        textops.tfidf_top_terms(docs, k=5).count()
        sampling.mixture_sample(
            docs, {"en": 0.5, "de": 1.0, "fr": 0.25}, default_rate=0.1, seed=11
        ).count()
        sampling.shard_assignments(docs, n_shards=8, seed=3).count()

    @timed("multimodal_features")
    def _():
        assets = multimodal.synthesize_assets(docs)
        multimodal.extract_features(assets).count()

    @timed("multimodal_real_codecs")
    def _():
        # genuine PPM/WAV payloads decoded by the real codecs (build +
        # decode both Arrow-batched)
        assets = multimodal.synthesize_media_assets(docs)
        multimodal.extract_features(assets).count()

    # -- bucketed graph analytics: same PageRank as graph_analytics but
    # over the src-bucketed catalog tables prepared above, so every
    # round's edge-side Exchange is elided (the at-scale win)
    @timed("pagerank_plain")
    def _():
        graphalg.pagerank(og, iters=4).agg(F.sum("pr_scaled")).collect()

    @timed("pagerank_bucketed")
    def _():
        graphalg.pagerank(og_bucketed, iters=4, edges_stable=True).agg(
            F.sum("pr_scaled")
        ).collect()

    @timed("cc_plain")
    def _():
        graphalg.connected_components(og).agg(
            F.countDistinct("component_id")
        ).collect()

    @timed("cc_bucketed")
    def _():
        graphalg.connected_components(og, sym_edges=sym_bucketed).agg(
            F.countDistinct("component_id")
        ).collect()

    # -- streaming micro-batch overhead (availableNow drain to a memory
    # sink; the batch twins are asserted equivalent in tests/)
    from big_data_graph_analysis_with_spark_spark.streaming import (
        doc_dedup,
        walk_rates,
    )
    from big_data_graph_analysis_with_spark_spark.streaming import (
        sessions as streaming_sessions,
    )

    # the file-stream source requires a DIRECTORY; the testdata tables
    # are single files, so stage symlinked dirs once (no data copy)
    stream_stage = tempfile.mkdtemp(prefix="bdga_bench_stream_")
    for table in ("documents", "events"):
        tdir = os.path.join(stream_stage, table)
        os.makedirs(tdir)
        os.symlink(
            f"{SF_DIR}/{table}.parquet",
            os.path.join(tdir, "part-00000.parquet"),
        )

    stream_run = [0]

    @timed("streaming_dedup")
    def _():
        stream_run[0] += 1
        docs_stream = spark.readStream.schema(docs.schema).parquet(
            f"{stream_stage}/documents"
        )
        walk_rates.run_to_memory_sink(
            doc_dedup.streaming_exact_dedup(docs_stream),
            f"bench_doc_dedup_{stream_run[0]}",
            "append",
            drop_table=True,
        )

    @timed("streaming_sessions")
    def _():
        stream_run[0] += 1
        ev_stream = walk_rates.read_events_stream(spark, f"{stream_stage}/events")
        walk_rates.run_to_memory_sink(
            streaming_sessions.session_window_counts(ev_stream),
            f"bench_sessions_{stream_run[0]}",
            "complete",
            drop_table=True,
        )

    @timed("streaming_value_hist")
    def _():
        from big_data_graph_analysis_with_spark_spark.streaming import (
            drift as streaming_drift,
        )

        stream_run[0] += 1
        ev_stream = walk_rates.read_events_stream(spark, f"{stream_stage}/events")
        walk_rates.run_to_memory_sink(
            streaming_drift.windowed_value_hist(ev_stream),
            f"bench_value_hist_{stream_run[0]}",
            "complete",
            drop_table=True,
        )

    @timed("olap_shape_completion", iters=2)
    def _():
        # round-8: the four shapes that completed the TPC-H suite —
        # Q11 value concentration (broadcast scalar threshold), Q12
        # late-line census, Q20 chained semi-join, full Q5 locality
        import __spark_entry__ as entrymod

        entrymod.q_part_value_concentration(spark, SF_DIR).count()
        entrymod.q_late_line_census(spark, SF_DIR).count()
        entrymod.q_bulk_part_suppliers(spark, SF_DIR).count()
        entrymod.q_regional_local_revenue(spark, SF_DIR).count()

    @timed("series_repair", iters=2)
    def _():
        # round-8: time-series repair + set algebra + narrow-map
        # audits — dyadic EWMA scatter, calendar gap fill, LOCF window,
        # INTERSECT/EXCEPT/UNION, bit_or bitmask, array HOF clipping
        import __spark_entry__ as entrymod

        entrymod.q_revenue_ewma(spark, SF_DIR).count()
        entrymod.q_daily_gap_fill(spark, SF_DIR).count()
        entrymod.q_value_locf(spark, SF_DIR).count()
        entrymod.q_user_set_ops(spark, SF_DIR).count()
        entrymod.q_segment_bitmask(spark, SF_DIR).count()
        entrymod.q_embedding_clip_census(spark, SF_DIR).count()
        entrymod.q_balance_outlier_census(spark, SF_DIR).count()

    @timed("graph_walk_audit", iters=2)
    def _():
        # round-8: deterministic greedy-walk classification (the
        # oracle-checkable G10 twin — simrank matches + min-neighbor
        # walks) and the HLL sketch audit over both edge tables
        import __spark_entry__ as entrymod

        entrymod.q_greedy_walk_classes(spark, SF_DIR).count()
        entrymod.q_graph_sketch_audit(spark, SF_DIR).count()

    @timed("skew_quantile_audit", iters=2)
    def _():
        # round-9: salted join exercised on the skewed event_type key,
        # the graph degree quantile-sketch audit, and the weighted
        # (quantity-unit) median — all histogram/audit narrow shapes
        import __spark_entry__ as entrymod

        entrymod.q_skew_salted_enrich(spark, SF_DIR).count()
        entrymod.q_graph_degree_quantile_audit(spark, SF_DIR).count()
        entrymod.q_weighted_price_median(spark, SF_DIR).count()

    @timed("streaming_locf_timed")
    def _():
        # round-9: timer-state LOCF (late-drop + event-time idle
        # expiry) over the staged events stream — one availableNow pass
        from big_data_graph_analysis_with_spark_spark.streaming import (
            drift as streaming_drift,
        )

        stream_run[0] += 1
        ev_stream = walk_rates.read_events_stream(
            spark, f"{stream_stage}/events"
        )
        walk_rates.run_to_memory_sink(
            streaming_drift.streaming_value_locf_timed(ev_stream),
            f"bench_locf_timed_{stream_run[0]}",
            "update",
            drop_table=True,
        )

    @timed("olap_census_stats", iters=2)
    def _():
        # round-10: exact-sufficient-statistics family — contingency χ²
        # numerators, group-wise OLS, Benford digit census, bit-length
        # order-gap histogram, deterministic mode, map-HOF type census
        import __spark_entry__ as entrymod

        entrymod.q_segment_priority_chisq(spark, SF_DIR).count()
        entrymod.q_discount_trend_stats(spark, SF_DIR).count()
        entrymod.q_event_value_benford(spark, SF_DIR).count()
        entrymod.q_order_gap_profile(spark, SF_DIR).count()
        entrymod.q_quantity_mode(spark, SF_DIR).count()
        entrymod.q_user_type_map_census(spark, SF_DIR).count()
        entrymod.q_value_band_census(spark, SF_DIR).count()
        entrymod.q_priority_transition_census(spark, SF_DIR).count()
        entrymod.q_type_trigram_census(spark, SF_DIR).count()
        entrymod.q_lang_collision_stats(spark, SF_DIR).count()
        entrymod.q_value_roundness_census(spark, SF_DIR).count()
        entrymod.q_ship_delay_histogram(spark, SF_DIR).count()
        entrymod.q_repeat_rate_by_segment(spark, SF_DIR).count()

    @timed("fuzzy_similarity", iters=2)
    def _():
        # round-10: blocked Levenshtein typo join, RLE word runs,
        # per-dim sign census, and the PQ ANN path (codes + ADC +
        # rerank) end to end
        import __spark_entry__ as entrymod

        entrymod.q_part_name_typo_pairs(spark, SF_DIR).count()
        entrymod.q_word_run_lengths(spark, SF_DIR).count()
        entrymod.q_embedding_sign_profile(spark, SF_DIR).count()
        entrymod.q_similarity_ann_pq(spark, SF_DIR).count()
        entrymod.q_similarity_ann_ivfpq(spark, SF_DIR).count()

    @timed("graph_pair_census", iters=2)
    def _():
        # round-10: local-bridge census (edge-restricted wedge probe)
        # and the dyad census on both derived graphs
        import __spark_entry__ as entrymod

        entrymod.q_local_bridges(spark, SF_DIR).count()
        entrymod.q_dyad_census(spark, SF_DIR).count()
        entrymod.q_wedge_closure_by_bucket(spark, SF_DIR).count()
        entrymod.q_directed_triangle_census(spark, SF_DIR).count()
        entrymod.q_attribute_mixing_matrix(spark, SF_DIR).count()

    @timed("graph_bowtie", iters=2)
    def _():
        # round-10: Broder bowtie decomposition — SCC labels + two
        # whole-core frontier BFS sweeps (iterative; SCC dominates)
        import __spark_entry__ as entrymod

        entrymod.q_bowtie_census(spark, SF_DIR).count()

    @timed("quantile_latency_census", iters=2)
    def _():
        # round-10 fifth batch in its OWN suite: the committed round-10
        # record predates these two queries, and extending an existing
        # suite after its record lands fabricates an A/B regression.
        # scc_size_profile is deliberately unbenched: its kernel
        # (scc_components) is already timed via graph_structure and
        # graph_bowtie; the profile adds two bounded aggregations.
        import __spark_entry__ as entrymod

        entrymod.q_interpolated_median_stats(spark, SF_DIR).count()
        entrymod.q_repeat_purchase_latency(spark, SF_DIR).count()

    @timed("hypothesis_tests", iters=2)
    def _():
        # batch 6 in its OWN suite (same record-comparability rule as
        # quantile_latency_census): distribution-shift sufficient
        # statistics — Mann-Whitney doubled rank sums, exact KS sup,
        # Spearman Σd² + tie terms, Mood's median split, Q-Q deciles,
        # percent-rank bands, tie census — plus the CUSUM changepoint,
        # acceleration/monotone-run censuses, co-supply degree
        # histogram, and the deterministic hash-sample estimator audit
        import __spark_entry__ as entrymod

        entrymod.q_mann_whitney_u(spark, SF_DIR).count()
        entrymod.q_ks_two_sample(spark, SF_DIR).count()
        entrymod.q_spearman_rank_corr(spark, SF_DIR).count()
        entrymod.q_spearman_tie_terms(spark, SF_DIR).count()
        entrymod.q_mood_median_inputs(spark, SF_DIR).count()
        entrymod.q_qq_decile_table(spark, SF_DIR).count()
        entrymod.q_size_tie_census(spark, SF_DIR).count()
        entrymod.q_percent_rank_band_census(spark, SF_DIR).count()
        entrymod.q_revenue_cusum(spark, SF_DIR).count()
        entrymod.q_revenue_acceleration_census(spark, SF_DIR).count()
        entrymod.q_revenue_monotone_runs(spark, SF_DIR).count()
        entrymod.q_supplier_cosupply_degree(spark, SF_DIR).count()
        entrymod.q_hash_sample_estimate_audit(spark, SF_DIR).count()
        # batch 7 extension (added BEFORE any record of this suite
        # landed, so no A/B fabrication): Kendall banded contingency,
        # Wilcoxon paired ranks, CvM, hash-split A/B, Mann-Kendall,
        # runs test, Lorenz points, Tukey fences
        entrymod.q_kendall_tau_band_inputs(spark, SF_DIR).count()
        entrymod.q_wilcoxon_signed_rank(spark, SF_DIR).count()
        entrymod.q_cvm_two_sample(spark, SF_DIR).count()
        entrymod.q_ab_proportion_inputs(spark, SF_DIR).count()
        entrymod.q_mann_kendall_trend(spark, SF_DIR).count()
        entrymod.q_runs_test_inputs(spark, SF_DIR).count()
        entrymod.q_lorenz_curve_points(spark, SF_DIR).count()
        entrymod.q_tukey_fence_census(spark, SF_DIR).count()

    @timed("candidate_ops", iters=2)
    def _():
        # next-round registry candidates (operators landed this round,
        # DuckDB twins pinned in tests/test_candidate_oracles.py):
        # both bootstraps, table profile, Pettitt, seasonal MK,
        # trimmed sum, cross-moments, l-diversity, Zipf points,
        # Variant census, and the three end-to-end IVM folds
        from pyspark.sql import functions as FF

        from big_data_graph_analysis_with_spark_spark.operators import (
            corpusstats as c_ops,
            curation as cur_ops,
            hypotests as h_ops,
            jsonops as j_ops,
            merge as m_ops,
            olap as o_ops,
            sampling as s_ops,
        )

        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        s_ops.poisson_bootstrap_sums(ev, n_resamples=32).count()
        s_ops.block_bootstrap_daily_sums(orders, n_resamples=32).count()
        o_ops.table_profile(
            li, ["l_orderkey", "l_returnflag", "l_linestatus", "l_quantity"]
        ).count()
        h_ops.pettitt_changepoint(orders).count()
        h_ops.seasonal_mann_kendall(orders).count()
        o_ops.trimmed_sum_census(li).count()
        o_ops.measure_crossproducts(li).count()
        cur_ops.l_diversity_census(
            cust.select(
                "c_nationkey", "c_mktsegment",
                (FF.round(FF.col("c_acctbal") / 1000).cast("long")).alias("bb"),
            ),
            ["c_nationkey", "c_mktsegment"],
            "bb",
        ).count()
        c_ops.zipf_rank_freq_points(docs).count()
        j_ops.props_variant_stats(ev).count()
        cents = FF.round(FF.col("o_totalprice") * 100).cast("long")
        old = orders.filter(FF.year("o_orderdate") < 1998)
        new = orders.filter(FF.year("o_orderdate") >= 1998)
        state = old.groupBy(FF.col("o_custkey").alias("key")).agg(
            FF.count("*").cast("long").alias("n"),
            FF.sum(cents).cast("long").alias("sum_cents"),
        )
        cdc = new.select(
            FF.lit("I").alias("op"),
            FF.col("o_custkey").alias("key"),
            FF.lit(None).cast("long").alias("old_cents"),
            cents.alias("new_cents"),
        )
        m_ops.maintain_group_aggregate(state, cdc).count()

    @timed("candidate_ops_r10", iters=2)
    def _():
        # round-10 candidate batch in its OWN suite (candidate_ops has
        # committed records; changing its contents would break
        # round-over-round comparability — the bench-record discipline)
        from big_data_graph_analysis_with_spark_spark.operators import (
            curation as cur_ops,
            hypotests as h_ops,
        )

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        h_ops.mcnemar_inputs(orders).count()
        h_ops.daily_count_autocorr(orders).count()
        h_ops.friedman_rank_inputs(orders, cust).count()
        cur_ops.filter_agreement_census(docs).count()
        h_ops.jonckheere_trend_inputs(orders).count()
        cur_ops.ngram_novelty_profile(docs).count()

    @timed("candidate_ops_r10b", iters=2)
    def _():
        # round-10 SECOND candidate wave, its own suite (the r10 suite
        # has a committed record — contents frozen, same discipline)
        from big_data_graph_analysis_with_spark_spark.operators import (
            graphalg as g_ops,
            hypotests as h_ops,
            sampling as s_ops,
        )

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        evs = spark.read.parquet(f"{SF_DIR}/events.parquet")
        h_ops.kruskal_wallis_inputs(orders).count()
        h_ops.mood_scale_inputs(orders, cust).count()
        h_ops.cochran_q_inputs(evs).count()
        s_ops.token_mix_allocation(docs).count()
        g_ops.kcore_census(og, k=3, rounds=8).count()

    @timed("candidate_ops_r10c", iters=2)
    def _():
        # round-10 THIRD candidate wave, its own suite (same freeze
        # discipline: earlier candidate suites have committed records)
        from big_data_graph_analysis_with_spark_spark.operators import (
            graphalg as g_ops,
            hypotests as h_ops,
        )

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        g_ops.degree_assortativity_inputs(og).count()
        g_ops.rich_club_census(og).count()
        h_ops.brunner_munzel_inputs(orders, cust).count()

    @timed("candidate_ops_r10d", iters=2)
    def _():
        # round-10 FOURTH candidate wave, its own suite
        from big_data_graph_analysis_with_spark_spark.operators import (
            hypotests as h_ops,
            sketches as sk_ops,
        )

        evs = spark.read.parquet(f"{SF_DIR}/events.parquet")
        sk_ops.count_min_audit(evs).count()
        h_ops.ks_one_sample_uniform(evs).count()

    @timed("candidate_ops_r11", iters=2)
    def _():
        # round-11 candidate wave, its own suite (frozen once recorded)
        from big_data_graph_analysis_with_spark_spark.operators import (
            dedup as dd_ops,
            hypotests as h_ops,
            olap as o_ops,
            sketches as sk_ops,
        )

        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        evs = spark.read.parquet(f"{SF_DIR}/events.parquet")
        docs_r11 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        h_ops.page_trend_inputs(orders).count()
        h_ops.dominance_census(orders, cust).count()
        sk_ops.bloom_filter_audit(evs).count()
        dd_ops.winnow_overlap_pairs(docs_r11).count()
        o_ops.revenue_cube(orders).count()
        dd_ops.source_copy_matrix(docs_r11).count()

    @timed("streaming_ks_gate")
    def _():
        # batch 7: the streaming KS drift gate end to end — stream the
        # staged events into per-window histograms, then run the exact
        # KS reduction against a whole-corpus reference histogram
        from big_data_graph_analysis_with_spark_spark.streaming import (
            drift as streaming_drift,
        )

        stream_run[0] += 1
        batch = spark.read.parquet(f"{stream_stage}/events")
        reference = (
            streaming_drift.windowed_value_hist(
                batch, window="3650 days", watermark=None
            )
            .groupBy("bucket")
            .agg(F.sum("n_events").alias("n_ref"))
        )
        ev_stream = streaming_drift.read_events_stream(
            spark, f"{stream_stage}/events"
        )
        sink = f"bench_ks_gate_{stream_run[0]}"
        walk_rates.run_to_memory_sink(
            streaming_drift.windowed_value_hist(ev_stream),
            sink,
            "complete",
        )
        streaming_drift.windowed_ks_vs_reference(
            spark.table(sink), reference
        ).count()
        spark.catalog.dropTempView(sink)

    # -- optional smoke filter: SPARK_GRAFT_BENCH_SUITES="a,b" runs only
    # the named suites (development loop; the driver never sets it).
    # NOTE: the simrank/best_match/mitm chain shares persisted state in
    # definition order — smoke those together, not individually
    only = os.environ.get("SPARK_GRAFT_BENCH_SUITES")
    if only:
        wanted = {s.strip() for s in only.split(",") if s.strip()}
        suites = [s for s in suites if s[0] in wanted]

    # -- run all registered suites in definition order, then A/B any
    # suite that looks slower than the prior round's record: ambient
    # load on this box swings single runs up to 2×, so a "regression"
    # without a re-run is noise until proven otherwise
    for name, fn, reset, iters in suites:
        loads[name] = round(os.getloadavg()[0], 2)
        timings[name] = run_suite(name, fn, reset, iters)

    reruns: dict[str, dict] = {}
    prior, prior_cpus = _prior_timings()
    if prior and prior_cpus is not None and prior_cpus != _effective_cpus():
        # a record made at a different local[N] is not a regression
        # baseline: at 8 cores every suite reads >1.25x its 32-core
        # prior, so the "anti-noise" pass would re-run the whole bench
        # (r12's scaling run did exactly that and timed out)
        print(
            f"[bench] prior record is at {prior_cpus} cores, this run at "
            f"{_effective_cpus()} — skipping the regression-rerun pass",
            file=sys.stderr,
            flush=True,
        )
        prior = {}
    changed = _changed_suites([s[0] for s in suites])
    if changed:
        print(
            f"[bench] changed-module suites (1.10x trigger): "
            f"{sorted(changed)}",
            file=sys.stderr,
            flush=True,
        )
    by_name = {s[0]: s for s in suites}
    candidates = _rerun_plan(
        {s[0]: timings[s[0]] for s in suites}, prior, changed
    )
    # wall-clock budget for the whole anti-noise pass: under uniform
    # ambient steal most suites cross their trigger at once (58/83 in
    # one measured window) and the unbounded pass added ~8 min — the
    # amplification that helped time out r12's record. Skipping a
    # rerun only keeps a SLOWER first-run number, never a faster one.
    rerun_budget = float(os.environ.get("SPARK_GRAFT_RERUN_BUDGET", "300"))
    rerun_t0 = time.time()
    budget_skipped: list[str] = []
    for delta, name, p in candidates:
        if time.time() - rerun_t0 > rerun_budget:
            budget_skipped.append(name)
            continue
        _, fn, reset, iters = by_name[name]
        load_now = round(os.getloadavg()[0], 2)
        trigger = 1.10 if name in changed else 1.25
        print(
            f"[bench] {name}: {timings[name]}s > {trigger}x prior {p}s"
            " — re-running",
            file=sys.stderr,
            flush=True,
        )
        again = run_suite(name, fn, reset, iters, extra=True)
        final = min(timings[name], again)
        reruns[name] = {
            "prior": p,
            "first": timings[name],
            "rerun": again,
            "final": final,
            "load": load_now,
        }
        timings[name] = final
    if budget_skipped:
        # no silent caps: name what kept its (slower) first-run time
        print(
            f"[bench] rerun budget ({rerun_budget:.0f}s) exhausted — "
            f"first-run times kept for {len(budget_skipped)} suites: "
            f"{sorted(budget_skipped)}",
            file=sys.stderr,
            flush=True,
        )

    # -- ANN answer quality at bench scale: recall@5 vs the exact top-k
    # on the same corpus/queries. Not a timing — recorded in the same
    # JSON so a speedup that silently trades recall away is visible.
    # SKIPPED on scale-probe replicas (non-numeric sf dirs): the probe
    # stripes near-identical copies of every query vector, so recall
    # reads a meaningless 1.0 there, while the exact brute-force
    # reference is O(|queries|·|corpus|·dims) — ~1.3e9 decimal ops at
    # 100×, minutes of untimed wall that polluted every probe run.
    _sf_tag = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        float(_sf_tag)
        _measure_recall = True
    except ValueError:
        _measure_recall = False
    recalls = {}
    if _measure_recall:
        print("[bench] measuring ANN recall ...", file=sys.stderr, flush=True)
        q100 = embs.filter(F.col("vec_id") < 100)
        exact_nn = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity_ops.cosine_topk(embs, q100, 5).collect()
        }

        def _recall(df):
            got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
            return round(len(exact_nn & got) / len(exact_nn), 4)

        recalls = {
            # "ann_lsh" stays the cheap exact-bucket config (multi_probe=0,
            # now an explicit opt-out); "ann_lsh_mp1" is the library default
            "ann_lsh": _recall(
                similarity_ops.ann_lsh_topk(embs, q100, 5, multi_probe=0)
            ),
            "ann_lsh_mp1": _recall(
                similarity_ops.ann_lsh_topk(embs, q100, 5, multi_probe=1)
            ),
            "ann_ivf": _recall(similarity_ops.ann_ivf_topk(embs, q100, 5)),
            "ann_pq": _recall(similarity_ops.ann_pq_topk(embs, q100, 5)),
        }

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "recall_at_5": recalls,
        "load": {
            "start": load_start,
            "end": round(os.getloadavg()[0], 2),
            "per_suite": loads,
            "cpus": _effective_cpus(),
        },
        "reruns": reruns,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full record to a file: the durable copy of per-suite loads +
    # rerun A/B evidence, and the _prior_timings fallback when the
    # driver-wrapped record doesn't parse. Ownership policy (round-8
    # verdict task 5): the COMMITTED BENCH_LOCAL.json is the round's
    # idle-box record and is immutable between record runs — only a
    # run launched with SPARK_GRAFT_RECORD=1 (the end-of-round
    # idle-box pass) may write it. Every other full run — including
    # the driver's per-round bench, which runs under arbitrary ambient
    # load — writes the gitignored bench_last_run_<sf>.json so a
    # driver pass leaves `git status` clean and the committed record
    # recoverable. Only the default-SF record run owns
    # BENCH_LOCAL.json — a dev run at another SF must not clobber the
    # committed sf0.1 record (it would also be rejected as a baseline
    # by the sf check and mask the real prior).
    base = Path(SF_DIR.rstrip("/")).name
    if os.environ.get("SPARK_GRAFT_RECORD") == "1":
        full_name = (
            "BENCH_LOCAL.json" if base == "sf0.1"
            else f"bench_local_{base}.json"
        )
    else:
        full_name = f"bench_last_run_{base}.json"
    # A SPARK_GRAFT_BENCH_SUITES smoke run covers a subset — it must
    # never clobber a full record either.
    if only:
        full_name = f"bench_smoke_{base}.json"
    (Path(__file__).resolve().parent / full_name).write_text(
        json.dumps(record, indent=1) + "\n"
    )
    # Stdout gets ONE compact final line. The external driver keeps only
    # the last ~2000 chars of combined output; round 6's full record
    # outgrew that and lost its head ("parsed": null). Keep the line
    # under 1900 chars by rounding timings and dropping optional keys
    # (load detail first, then rerun detail, then recall) if needed —
    # the full versions are always in BENCH_LOCAL.json.
    compact = dict(record)
    compact["queries"] = {k: round(v, 2) for k, v in timings.items()}
    compact["load"] = {
        "start": load_start,
        "end": round(os.getloadavg()[0], 2),
        "cpus": _effective_cpus(),
    }
    compact["reruns"] = {
        k: {"prior": v["prior"], "final": v["final"]}
        for k, v in reruns.items()
    }
    for drop in ("load", "reruns", "recall_at_5"):
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= 1900:
            break
        compact.pop(drop, None)
    # last resort as the suite count grows: 1-decimal timings, then the
    # slowest-N suites only (the full map is always in BENCH_LOCAL.json)
    if len(json.dumps(compact, separators=(",", ":"))) > 1900:
        compact["queries"] = {k: round(v, 1) for k, v in timings.items()}
    while (
        len(json.dumps(compact, separators=(",", ":"))) > 1900
        and len(compact["queries"]) > 10
    ):
        keep = sorted(timings, key=timings.get, reverse=True)[
            : len(compact["queries"]) - 5
        ]
        compact["queries"] = {k: round(timings[k], 1) for k in keep}
        compact["queries_truncated_see"] = "BENCH_LOCAL.json"
    print(json.dumps(compact, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
