"""CLI entry point — the reference's `mitm.Main` (SURVEY.md §3.1).

Reference: ``Main local|hdfs|aws`` with Typesafe-config paths per
environment (`Main.scala:52-60`). Here the URI scheme does the
dispatch (file:// / hdfs:// / s3a:// all go through Spark's readers),
and the five algorithm knobs + seed are flags with the reference's
defaults (`application.conf:39-43`).

    python -m big_data_graph_analysis_with_spark_spark \
        --original /root/reference/input/Graph200.txt \
        --perturbed /root/reference/input/Graph200.txt.perturbed \
        --out /tmp/MitM-statistics.yaml
"""

from __future__ import annotations

import argparse
import sys

from .config import SimConfig
from .plans.pipeline import run_pipeline
from .session import get_spark, quiet_window_warns
from .sources.ngs_text import load_graph
from .sources.parquet_graph import read_graph_parquet


def _load(spark, path: str, fmt: str = "auto"):
    """Load a graph as `fmt`; "auto" dispatches on the filename's exact
    extension tokens (Graph200.txt.perturbed → text,
    Graph200.ngs.perturbed → ngs, anything else → parquet dir) — token
    match, not substring, so "my.txtlike" never routes to the text
    parser."""
    if fmt == "auto":
        tokens = path.rstrip("/").rsplit("/", 1)[-1].lower().split(".")[1:]
        if "ngs" in tokens:
            fmt = "ngs"
        elif "txt" in tokens:
            fmt = "text"
        else:
            fmt = "parquet"
    if fmt == "ngs":
        from .sources.ngs_java import load_graph_from_ngs

        return load_graph_from_ngs(spark, path)
    if fmt == "text":
        return load_graph(spark, path)
    return read_graph_parquet(spark, path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="big_data_graph_analysis_with_spark_spark")
    ap.add_argument("--original", required=True, help="original graph (.txt dump or parquet dir)")
    ap.add_argument("--perturbed", required=True, help="perturbed graph (.txt dump or parquet dir)")
    ap.add_argument("--out", required=True, help="output YAML path (local/hdfs/s3a URI)")
    ap.add_argument(
        "--format",
        choices=["auto", "text", "ngs", "parquet"],
        default="auto",
        help="input graph format (default: dispatch on extension tokens)",
    )
    ap.add_argument("--master", default=None, help="spark master (default: local[*] unless externally managed)")
    ap.add_argument("--coeff", type=float, default=0.5, help="randomWalkCoeff")
    ap.add_argument("--walks", type=int, default=20, help="numOfParallelWalks")
    ap.add_argument("--iters", type=int, default=50, help="numItersPerCompNode")
    ap.add_argument("--accum", type=int, default=10, help="itersBeforeAccum")
    ap.add_argument("--threshold", type=float, default=0.1, help="nodeMatchThreshold")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)

    cfg = SimConfig(
        random_walk_coeff=args.coeff,
        num_of_parallel_walks=args.walks,
        num_iters_per_comp_node=args.iters,
        iters_before_accum=args.accum,
        node_match_threshold=args.threshold,
        seed=args.seed,
    )
    spark = get_spark(app_name="MitMStatSim", master=args.master)
    # the start-node rank window is unpartitioned by design
    # (walks.sample_start_assignments_dist)
    quiet_window_warns(spark)
    og = _load(spark, args.original, args.format)
    pg = _load(spark, args.perturbed, args.format)
    result = run_pipeline(spark, og, pg, cfg, yaml_path=args.out)
    print(f"wrote {args.out}")
    for k, v in result.stats.items():
        if not k.endswith("Ids"):
            print(f"  {k}: {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
