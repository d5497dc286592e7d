"""Session factory: the defaults it gives a session it creates, and its
behaviour on an already-running session."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from big_data_graph_analysis_with_spark_spark import get_spark

_NEW_SESSIONS = """
import json
from big_data_graph_analysis_with_spark_spark import get_spark
keys = ("spark.sql.codegen.cache.maxEntries", "spark.python.sql.dataFrameDebugging.enabled")
for extra in (None, {keys[0]: "50", keys[1]: "true"}):
    s = get_spark(master="local[1]", extra_conf=extra)
    print(json.dumps([s.conf.get(k) for k in keys]))
    s.stop()
"""


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


def test_new_session_defaults_and_their_override():
    # a fresh process: the suite's own session already exists, and both
    # keys only take effect when the session is created
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env["PYTHONPATH"] = str(Path(__file__).resolve().parents[1])
    out = subprocess.run(
        [sys.executable, "-c", _NEW_SESSIONS],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("[")]
    assert got == [["2000", "false"], ["50", "true"]]
