"""Round-11 fixes: the shared spread-before-explode guard, the
shuffle-width parse fallback, and the kcore_census persist-leak
regression (round-10 advice items + verdict task 4)."""

from __future__ import annotations

import pathlib
import re

import pyspark.sql.functions as F

from tests.conftest import SF0001


def _read(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")


class TestShuffleWidth:
    def test_numeric_conf(self, spark):
        from big_data_graph_analysis_with_spark_spark.functions.joins import (
            shuffle_width,
        )

        df = spark.range(4)
        assert shuffle_width(df) == int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )

    def test_non_numeric_conf_falls_back(self, spark):
        """Managed deployments may surface a non-numeric token for the
        conf (e.g. "auto" under Databricks AQE); the width lookup must
        fall back to defaultParallelism instead of raising (round-10
        advice on cosine_topk). Open-source Spark rejects "auto" at
        set-time, so the managed behavior is emulated with a stub
        session object."""
        from types import SimpleNamespace

        from big_data_graph_analysis_with_spark_spark.functions.joins import (
            shuffle_width,
        )

        stub = SimpleNamespace(
            sparkSession=SimpleNamespace(
                conf=SimpleNamespace(get=lambda key: "auto"),
                sparkContext=SimpleNamespace(defaultParallelism=12),
            )
        )
        assert shuffle_width(stub) == 12

    def test_spread_before_explode_repartitions(self, spark):
        from big_data_graph_analysis_with_spark_spark.functions.joins import (
            shuffle_width,
            spread_before_explode,
        )

        df = spread_before_explode(spark.range(100).coalesce(1))
        assert df.rdd.getNumPartitions() == shuffle_width(df)


def test_no_raw_shuffle_width_parse_outside_joins():
    """Source lint for verdict task 4: the int-parse of
    spark.sql.shuffle.partitions lives in exactly one place
    (functions/joins.shuffle_width, which carries the non-numeric
    fallback). An operator that needs the width for a pre-explode /
    pre-broadcast-fan-out spread must route through
    spread_before_explode/shuffle_width — a raw int(conf.get(...))
    re-introduces both the ValueError-on-"auto" bug and the risk of
    skipping the spread rule. Plain get/set (the set/restore narrowing
    contexts) stays legal."""
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "big_data_graph_analysis_with_spark_spark"
    offenders = []
    for path in list(pkg.rglob("*.py")) + [root / "__spark_entry__.py"]:
        if path.name == "joins.py":
            continue
        flat = re.sub(r"\s+", " ", path.read_text())
        if re.search(r"int\( [^)]*shuffle\.partitions", flat) or re.search(
            r"int\([^)]*shuffle\.partitions", flat
        ):
            offenders.append(str(path.relative_to(root)))
    assert not offenders, (
        f"raw int-parse of spark.sql.shuffle.partitions: {offenders} — "
        "use functions/joins.shuffle_width or spread_before_explode"
    )


def test_no_session_global_shuffle_width_mutation():
    """Verdict task 7: no operator may set spark.sql.shuffle.partitions
    on a live session — the set/restore narrowing contexts (graphalg
    r5-r10, plans/pipeline) silently narrowed every CONCURRENT query
    that planned while they were open. Loop widths are left to AQE,
    which sizes each shuffle from its bytes. The session factory builds
    its conf dict before the session exists, and bench.py is the
    single-threaded harness — both exempt."""
    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "big_data_graph_analysis_with_spark_spark"
    offenders = []
    for path in list(pkg.rglob("*.py")) + [root / "__spark_entry__.py"]:
        flat = re.sub(r"\s+", " ", path.read_text())
        if re.search(r'conf\.set\( ?"spark\.sql\.shuffle\.partitions"', flat):
            offenders.append(str(path.relative_to(root)))
    assert not offenders, (
        f"session-global shuffle-width mutation in: {offenders} — let "
        "AQE size the shuffle, or repartition/coalesce the frame itself"
    )


class TestSpreadRuleInPlans:
    """The two round-10 fan-out traps must keep their pre-fan-out
    round-robin exchange: a RoundRobinPartitioning must appear in the
    physical plan (the explode/broadcast fan-out then runs at shuffle
    width, not input-split width)."""

    def test_ngram_novelty_profile_plan_has_spread(self, spark):
        from big_data_graph_analysis_with_spark_spark.operators import curation

        docs = _read(spark, SF0001, "documents")
        plan = curation.ngram_novelty_profile(docs)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "RoundRobinPartitioning" in plan

    def test_cosine_topk_plan_has_spread(self, spark):
        # cosine_topk localCheckpoints its corpus components, which
        # truncates the final plan to a Scan ExistingRDD — assert the
        # spread on the pre-checkpoint subtree it materializes
        # (similarity._corpus_components), and that cosine_topk really
        # consumes the checkpointed frame (ExistingRDD in its plan).
        from big_data_graph_analysis_with_spark_spark.operators import similarity

        emb = _read(spark, SF0001, "embeddings")
        pre = similarity._corpus_components(emb)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "RoundRobinPartitioning" in pre
        q = emb.filter(F.col("vec_id") % 100 == 0)
        plan = similarity.cosine_topk(emb, q, k=3)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "ExistingRDD" in plan


def _disk_only_rdd_ids(spark) -> set[int]:
    """Ids of currently-persisted DISK_ONLY RDDs (the kcore iterate
    level). localCheckpoint blocks (MEMORY_AND_DISK, owned by the
    operators' `_ckpt` materializations and freed by the
    ContextCleaner) are deliberately excluded — the leak contract is
    about the explicit persists."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    out = set()
    for key in jmap.keySet():
        lvl = jmap.get(key).rdd().getStorageLevel()
        if lvl.useDisk() and not lvl.useMemory():
            out.add(int(str(key)))
    return out


class TestKcoreCensusNoLeak:
    def test_no_cached_blocks_survive_the_call(self, spark):
        """kcore_census's DISK_ONLY iterates must ALL be released by
        the time it returns — the final round's persist (and the
        initial one when the loop body never runs) used to leak for
        the session lifetime (round-10 advice); bench runs the census
        twice per iteration, so the leak accumulated spill."""
        from big_data_graph_analysis_with_spark_spark.operators import graphalg
        from big_data_graph_analysis_with_spark_spark.sources import tpch_graph

        og, _pg = tpch_graph.derive_graphs(spark, SF0001)
        before = _disk_only_rdd_ids(spark)
        rows = graphalg.kcore_census(og, k=3, rounds=4).collect()
        after = _disk_only_rdd_ids(spark)
        assert rows and rows[0]["n_nodes"] >= 0
        leaked = after - before
        assert not leaked, f"kcore_census leaked DISK_ONLY RDDs: {leaked}"

    def test_rounds_zero_returns_full_graph_and_releases(self, spark):
        from big_data_graph_analysis_with_spark_spark.operators import graphalg
        from big_data_graph_analysis_with_spark_spark.sources import tpch_graph

        og, _pg = tpch_graph.derive_graphs(spark, SF0001)
        before = _disk_only_rdd_ids(spark)
        row = graphalg.kcore_census(og, k=3, rounds=0).collect()[0]
        after = _disk_only_rdd_ids(spark)
        full = graphalg.undirected_edges(og).count()
        assert row["n_edges"] == full
        assert not (after - before)


class TestKtrussPersistence:
    def test_no_disk_blocks_survive_and_result_unchanged(self, spark):
        """ktruss_edges now follows the kcore edge-sized-iterate rule
        (DISK_ONLY + explicit unpersist, never localCheckpoint): at the
        100× probe the checkpointed variant's leaked iterates made the
        SECOND call on the same session crawl >500s (SCALING.md round
        11). All disk blocks must be released by return, and repeat
        calls must agree."""
        from big_data_graph_analysis_with_spark_spark.operators import graphalg
        from big_data_graph_analysis_with_spark_spark.sources import tpch_graph

        og, _pg = tpch_graph.derive_graphs(spark, SF0001)
        before = _disk_only_rdd_ids(spark)
        first = {
            (r["a"], r["b"])
            for r in graphalg.ktruss_edges(og, k=3, rounds=5).collect()
        }
        mid = _disk_only_rdd_ids(spark)
        second = {
            (r["a"], r["b"])
            for r in graphalg.ktruss_edges(og, k=3, rounds=5).collect()
        }
        after = _disk_only_rdd_ids(spark)
        assert first == second and first
        assert not (mid - before) and not (after - before)
