"""Walk classification and the final statistics block
(SURVEY.md §2 rows G10, G11, A6, J7, T2).

Reference (`Main.scala:161-212`): after all rounds, classify each
distinct walk per partition —

* successful: visits ≥1 correctly-matched node id and 0
  incorrectly-matched ids (`Main.scala:189-190`);
* unsuccessful: visits ≥1 incorrectly-matched id;

then assemble 8 named statistics into an ordered map (`:204-212`).

Spark-first: walks live as (partition_key, walk_id, visited array).
Classification explodes the visited arrays and joins against the
TP/FP id sets — distributed, no driver-side array intersection
(`w.intersect` in the reference). The per-walk any()-style flags come
from one groupBy; the id sets are tiny (bounded by |matches|) so both
joins broadcast.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import NetGraph
from .matching import classify_matches, match_class_counts, uncovered_valuable

#: id-list length above which the YAML lists a prefix and the total
MAX_LISTED_IDS = 100_000


def classify_walks(walks: DataFrame, classified_matches: DataFrame) -> DataFrame:
    """Per-walk success flags.

    `walks`: (partition_key, walk_id, visited array<long>).
    `classified_matches`: output of :func:`classify_matches` —
    (pg_id, og_id, score, is_true_positive).

    Duplicate walks (same visited set within a partition) count once,
    matching the reference's `.distinct` before counting
    (`Main.scala:143,192,198`).
    """
    distinct_walks = (
        walks.select(
            "partition_key",
            "walk_id",
            F.array_sort(F.array_distinct("visited")).alias("visited"),
        )
        .groupBy("partition_key", "visited")
        .agg(F.min("walk_id").alias("walk_id"))
    )
    exploded = distinct_walks.select(
        "partition_key", "walk_id", F.explode("visited").alias("pg_id")
    )
    flags = exploded.join(
        classified_matches.select("pg_id", "is_true_positive"), on="pg_id", how="left"
    ).groupBy("partition_key", "walk_id").agg(
        F.max(F.coalesce(F.col("is_true_positive"), F.lit(False))).alias("hit_tp"),
        F.max(
            F.coalesce(~F.col("is_true_positive"), F.lit(False))
        ).alias("hit_fp"),
    )
    return flags.select(
        "partition_key",
        "walk_id",
        (F.col("hit_tp") & ~F.col("hit_fp")).alias("successful"),
        F.col("hit_fp").alias("unsuccessful"),
    )


def walk_counts(walk_classes: DataFrame) -> DataFrame:
    """Per-partition successful/unsuccessful walk counts (A6,
    `Main.scala:192-202`)."""
    return walk_classes.groupBy("partition_key").agg(
        F.sum(F.col("successful").cast("long")).alias("n_successful"),
        F.sum(F.col("unsuccessful").cast("long")).alias("n_unsuccessful"),
    )


def _ids_str(df: DataFrame, col: str, cap: int) -> str:
    """Sorted id list for the YAML block, bounded: the collect is a
    distributed sort+limit of at most `cap` + 1 rows (valuable-node
    counts scale with the graph, so an uncapped collect would be the one
    data-sized driver materialization left in the pipeline). Beyond the
    cap the YAML records the prefix plus the exact total, which costs
    one more count."""
    ids = [r[0] for r in df.select(col).orderBy(col).limit(cap + 1).collect()]
    body = ", ".join(str(i) for i in ids[:cap])
    if len(ids) > cap:
        total = df.count()
        body += f", ... ({total} total)"
        logging.getLogger(__name__).warning(
            "stats id list %r truncated to %d of %d ids", col, cap, total
        )
    return "[" + body + "]"


def assemble_stats(
    og: NetGraph, matches: DataFrame, walks: DataFrame, threshold: float
) -> dict[str, str]:
    """The 8-metric statistics block (`Main.scala:204-212`), as an
    ordered dict ready for the YAML sink, in four Spark actions: one per
    id list, one for the TP/FP counts, one for the per-partition walk
    counts.

    `walks`: (partition_key, walk_id, visited array<long>). Driver-side
    collect is correct here: the id lists are capped at
    `MAX_LISTED_IDS` (reference-identical below the cap) and every
    other input is an aggregate bounded by |matches| / #partitions,
    not by data scale.
    """
    counts = match_class_counts(matches, threshold).first()
    per_part = (
        walk_counts(classify_walks(walks, classify_matches(matches, threshold)))
        .orderBy("partition_key")
        .collect()
    )
    valuable = og.vertices.filter(F.col("valuable_data")).select("id")
    return {
        "valuableOriginalNodeIds": _ids_str(valuable, "id", MAX_LISTED_IDS),
        "uncoveredValuableNodeIds": _ids_str(
            uncovered_valuable(matches, og), "id", MAX_LISTED_IDS
        ),
        "numTruePositiveMatches": str(counts["n_true_positive"]),
        "numFalsePositiveMatches": str(counts["n_false_positive"]),
        "successfulWalksPerPartition": str(
            {int(r["partition_key"]): int(r["n_successful"]) for r in per_part}
        ),
        "unsuccessfulWalksPerPartition": str(
            {int(r["partition_key"]): int(r["n_unsuccessful"]) for r in per_part}
        ),
        "totalSuccessfulWalks": str(sum(r["n_successful"] for r in per_part)),
        "totalUnsuccessfulWalks": str(sum(r["n_unsuccessful"] for r in per_part)),
    }
