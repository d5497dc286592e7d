"""Round-12 regression tests: two r11 ADVICE items, each pinned with
the failure mode it closes.

1. `dedup.winnow_overlap_pairs` materializes the fingerprint frame
   once (localCheckpoint) before the df-cap aggregate and the pair
   self-join — previously the char-gram explode + per-doc window
   subtree re-ran up to three times per query.
2. `sketches.bloom_filter_audit` anchors the synthetic outsider probes
   at COALESCE(MAX(user_id), 0): on an empty events frame the k
   outsider ids previously all became NULL and collapsed into a single
   group row.
"""

from __future__ import annotations

from big_data_graph_analysis_with_spark_spark.operators import dedup, sketches


class TestWinnowMaterialization:
    def test_pair_join_reads_checkpointed_fingerprints(self, spark):
        docs = spark.createDataFrame(
            [(1, "abcdefghijklmnop"), (2, "abcdefghijklmnopqrs"),
             (3, "zzzzzzzzzzzzzzzzzz")],
            "doc_id long, text string",
        )
        pairs = dedup.winnow_overlap_pairs(docs)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # the gram-explode + window subtree must be materialized away:
        # the executed plan reads the checkpointed RDD (twice — once per
        # join side; the cap aggregate reads it too) and contains no
        # re-executed Window/Generate stages
        assert plan.count("Scan ExistingRDD") >= 2, plan
        assert "Window" not in plan, plan
        assert "Generate" not in plan, plan

    def test_pairs_unchanged_by_materialization(self, spark):
        shared = "qwertyuiopasdfghjkl"
        docs = spark.createDataFrame(
            [
                (1, "zzzz1111 " + shared + " 2222yyyy"),
                (2, "mmmm3333 " + shared + " 4444nnnn"),
                (3, "completely unrelated content here"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.winnow_overlap_pairs(docs, min_shared=1).collect()
        }
        assert (1, 2) in got
        assert not any(3 in p for p in got)


class TestBloomAuditEmptyInput:
    def test_empty_events_keeps_k_distinct_outsiders(self, spark):
        ev = spark.createDataFrame([], "user_id long, event_type string")
        rows = sketches.bloom_filter_audit(ev, k=8).collect()
        # no members exist; the 8 synthetic outsiders anchor at
        # COALESCE(max, 0) ⇒ ids 1..8, all non-member, all miss
        assert sorted(r["probe_id"] for r in rows) == list(range(1, 9))
        assert all(r["is_member"] == 0 for r in rows)
        assert all(r["bloom_hit"] == 0 for r in rows)

    def test_nonempty_output_shape_still_2k(self, spark):
        ev = spark.createDataFrame(
            [(i % 5, "view") for i in range(50)],
            "user_id long, event_type string",
        )
        rows = sketches.bloom_filter_audit(ev, k=4).collect()
        assert len(rows) == 8  # 4 heavy members (5 users, top-4) + 4 outsiders
        members = [r for r in rows if r["is_member"] == 1]
        assert len(members) == 4
        assert all(r["bloom_hit"] == 1 for r in members)
