"""Session factory behaviour on an already-running session."""

from __future__ import annotations

from big_data_graph_analysis_with_spark_spark import get_spark


def test_bare_get_spark_keeps_the_live_sessions_conf(spark):
    pinned = {"spark.sql.shuffle.partitions": "2", "spark.sql.adaptive.enabled": "false"}
    before = {k: spark.conf.get(k) for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        again = get_spark()
        assert again is spark
        assert {k: again.conf.get(k) for k in pinned} == pinned
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
