"""The per-walk SimRank kernel against independent references.

* A `hypothesis` sweep compares `walk_simrank_round`, walk by walk, with
  `perfbench.oracle._walk_scores` (pure Python, Decimal sums) on random
  small graph pairs: multi-edges, matched pg and og children, walks
  without a seed, one-node walks.
* An exhaustive check compares the kernel's cents → score step with
  Spark's own decimal cast and `round` for every divisor k = dp·dn up to
  48 and every cent sum up to 100·k (a sum over at most dp·dn parent
  pairs, each scoring at most 1.0).
"""

from __future__ import annotations

from collections import defaultdict

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_graph_analysis_with_spark_spark.model import EDGE_SCHEMA, VERTEX_SCHEMA, NetGraph
from big_data_graph_analysis_with_spark_spark.operators import walks
from big_data_graph_analysis_with_spark_spark.operators.walk_simrank import _score, walk_simrank_round
from perfbench import oracle


def _graph(spark, n: int, edges: list[tuple[int, int]]) -> NetGraph:
    return NetGraph(
        spark.createDataFrame([(i, 1, 1, 1, 1, 1, 1, 1, 0.5, False) for i in range(n)], VERTEX_SCHEMA),
        spark.createDataFrame([(a, b, 0, 0, 0, None, 0.1) for a, b in edges], EDGE_SCHEMA),
    )


@st.composite
def sweeps(draw):
    n_pg, n_og = draw(st.integers(1, 7)), draw(st.integers(1, 7))
    pg_id, og_id = st.integers(0, n_pg - 1), st.integers(0, n_og - 1)
    # repeated (src, dst) tuples are multi-edges
    pg_edges = draw(st.lists(st.tuples(pg_id, pg_id), max_size=16))
    og_edges = draw(st.lists(st.tuples(og_id, og_id), max_size=16))
    identity = draw(st.dictionaries(pg_id, og_id))
    # prior matches carry round(·, 2) scores: 0.01 .. 1.00
    matches = draw(st.dictionaries(pg_id, st.tuples(og_id, st.integers(1, 100))))
    visited = draw(st.lists(st.sets(pg_id, min_size=1), min_size=1, max_size=4))
    return n_pg, n_og, pg_edges, og_edges, identity, matches, visited


@settings(max_examples=30, deadline=None)
@given(sweeps())
# pg 1 and 3 are matched (3 to its own seed pair), og 2 and 3 are
# matched, pg 1 → 2 is a double edge; walk {2} is one node without a
# seed, walk {1, 2} has only a fallback
@example((
    4, 5,
    [(0, 1), (0, 1), (1, 2), (1, 2), (0, 3), (3, 2)],
    [(0, 1), (0, 1), (1, 2), (0, 3), (3, 2), (2, 4), (3, 4), (2, 2)],
    {0: 0, 3: 3},
    {1: (2, 40), 3: (3, 50)},
    [{0, 1, 2, 3}, {2}, {1, 2}],
))
def test_walk_simrank_round_equals_oracle(spark, case):
    n_pg, n_og, pg_edges, og_edges, identity, matches, visited = case
    pg, og = _graph(spark, n_pg, pg_edges), _graph(spark, n_og, og_edges)
    adj = [walks.ensure_sideload(g, num_vertices=1, cache_key=g) for g in (pg, og)]
    walk_nodes = spark.createDataFrame(
        [(w, p) for w, nodes in enumerate(visited) for p in nodes], "walk_id LONG, id LONG"
    )
    ident = spark.createDataFrame(
        [(p, o, 1.0) for p, o in identity.items()], "pg_id LONG, og_id LONG, score DOUBLE"
    )
    prior = spark.createDataFrame(
        [(p, o, c / 100) for p, (o, c) in matches.items()], "pg_id LONG, og_id LONG, score DOUBLE"
    )
    got: dict[int, dict] = defaultdict(dict)
    for r in walk_simrank_round(walk_nodes, prior if matches else None, ident, *adj).collect():
        assert (r.pg_id, r.og_id) not in got[r.walk_id]
        got[r.walk_id][(r.pg_id, r.og_id)] = r.score

    pg_children: dict[int, list[int]] = defaultdict(list)
    og_children: dict[int, list[int]] = defaultdict(list)
    og_indeg: dict[int, int] = defaultdict(int)
    for s, d in pg_edges:
        pg_children[s].append(d)
    for s, d in og_edges:
        og_children[s].append(d)
        og_indeg[d] += 1
    prior_scores = {p: (o, c / 100) for p, (o, c) in matches.items()}
    for w, nodes in enumerate(visited):
        want = oracle._walk_scores(
            sorted(nodes), identity, prior_scores, pg_children, og_children, og_indeg
        )
        assert got.get(w, {}) == want, f"walk {w}"


def test_cents_to_score_matches_spark_round(spark):
    """Every divisor k = dp·dn in 1..48 and every cent sum in 1..100·k,
    so every HALF_UP boundary in range (0.125 → 0.13 at k = 2) is hit."""
    assert _score(25, 2) == 0.13
    rows = (
        spark.range(1, 49).withColumnRenamed("id", "k")
        .select("k", F.explode(F.sequence(F.lit(1), F.col("k") * 100)).alias("cents"))
        .select(
            "k", "cents",
            F.expr("round(CAST(CAST(cents / 100 AS DECIMAL(28,6)) AS DOUBLE) / k, 2)").alias("want"),
        )
        .collect()
    )
    assert len(rows) == 100 * 48 * 49 // 2
    bad = [(r.k, r.cents, r.want, _score(r.cents, r.k)) for r in rows if _score(r.cents, r.k) != r.want]
    assert not bad, bad[:10]
