"""The MitM matcher's pure functions against independent references,
with no Spark job per example.

* A `hypothesis` sweep compares `walk_scores`, walk by walk, with
  `perfbench.oracle._walk_scores` (pure Python, Decimal sums) on random
  small graph pairs: multi-edges, matched pg and og children, walks
  without a seed, one-node walks.
* A `hypothesis` sweep runs `match_rounds` on `perfbench/gen.py` pairs
  over the oracle's own walks and compares the statistics its matches
  give with `perfbench.oracle.mitm_stats`.
* Hand cases pin the identity seed's precedence in a sweep and the
  order of G7 (tie score) and G8 (valuable filter).
* An exhaustive check compares the cents → score step with Spark's own
  decimal cast and `round` for every divisor k = dp·dn up to 48 and
  every cent sum up to 100·k (a sum over at most dp·dn parent pairs,
  each scoring at most 1.0).
"""

from __future__ import annotations

from collections import Counter, defaultdict

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_graph_analysis_with_spark_spark.model import VERTEX_ATTRS
from big_data_graph_analysis_with_spark_spark.operators.walk_simrank import (
    _score,
    match_rounds,
    walk_scores,
)
from perfbench import gen, oracle


def _children(edges: list[tuple[int, int]]) -> dict[int, list[int]]:
    ch: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        ch[s].append(d)
    return ch


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
    return pg_edges, og_edges, identity, matches, visited


@settings(max_examples=300, deadline=None)
@given(sweeps())
# pg 1 and 3 are matched (3 to its own seed pair), og 2 and 3 are
# matched, pg 1 → 2 is a double edge; walk {2} is one node without a
# seed, walk {1, 2} has only a fallback
@example((
    [(0, 1), (0, 1), (1, 2), (1, 2), (0, 3), (3, 2)],
    [(0, 1), (0, 1), (1, 2), (0, 3), (3, 2), (2, 4), (3, 4), (2, 2)],
    {0: 0, 3: 3},
    {1: (2, 40), 3: (3, 50)},
    [{0, 1, 2, 3}, {2}, {1, 2}],
))
def test_walk_scores_equals_oracle(case):
    pg_edges, og_edges, identity, matches, visited = case
    pg_ch, og_ch = _children(pg_edges), _children(og_edges)
    dn = Counter(d for _, d in og_edges)
    prior = {p: (o, c / 100) for p, (o, c) in matches.items()}
    taken = {o for o, _ in prior.values()}
    for nodes in visited:
        got = walk_scores(nodes, identity, prior, taken, pg_ch, og_ch, dn)
        want = oracle._walk_scores(sorted(nodes), identity, prior, pg_ch, og_ch, dn)
        assert got == want, f"walk {sorted(nodes)}"


def test_walk_scores_identity_wins():
    """Pair (0, 0) is an identity seed (1.0) and a prior match (0.4);
    (2, 2) is a seed and computes to 0.5 (one pg parent, two og parents);
    (4, 5) is only a prior match. The seed must win on both sides of the
    sweep: as the parent score of (0, 0)'s children, which compute to
    1.0 (0.4 if the fallback won, 1.4 if both were summed), and in the
    output, where (2, 2) stays 1.0. A fallback-only pair is an input,
    never an output, and og 0 and 5 are taken: they receive nothing."""
    og_edges = [(0, 1), (1, 2), (3, 2), (0, 9)]
    prior = {0: (0, 0.4), 4: (5, 0.7)}
    got = walk_scores(
        [0, 1, 2, 4, 8], {0: 0, 1: 1, 2: 2}, prior, {0, 5},
        _children([(0, 1), (1, 2), (0, 8)]), _children(og_edges),
        Counter(d for _, d in og_edges),
    )
    assert got == {
        (0, 0): 1.0, (1, 1): 1.0, (2, 2): 1.0,
        (1, 9): 1.0, (8, 1): 1.0, (8, 9): 1.0,
    }


def test_match_rounds_best_match_before_valuable_filter():
    """pg 1 scores 1.0 against og 1, 2 and 3 (og 0's children). G7 takes
    og 2, which equals pg 1 on all four tie attributes (og 3 on two, og
    1 on none), and only then does G8 ask whether og 2 is valuable: if
    it is not, pg 1 stays unmatched. Filtering first would match og 3;
    ignoring the tie score would match og 1, the smallest id."""
    a = (1, 1, 1, 1, 1, 1, 1, 0.5, True)
    pg_rows = {0: a, 1: (2, 2, 2, 2, 2, 2, 2, 0.5, False)}
    og_rows = {
        0: a,
        1: (9, 9, 2, 2, 9, 2, 9, 0.5, True),
        2: (2, 2, 0, 0, 2, 0, 2, 0.1, False),
        3: (2, 2, 0, 0, 9, 0, 9, 0.1, True),
    }
    pg_ch, og_ch = {0: [1]}, {0: [1, 2, 3]}
    walks = [(0, [0, 1])]
    assert match_rounds(walks, pg_rows, pg_ch, og_rows, og_ch, 1) == {0: (0, 1.0)}
    og_rows[2] = og_rows[2][:-1] + (True,)
    assert match_rounds(walks, pg_rows, pg_ch, og_rows, og_ch, 1) == {0: (0, 1.0), 1: (2, 1.0)}


def _rows(nodes: dict) -> dict[int, tuple]:
    cols = [nodes[c].tolist() for c in ["id", *VERTEX_ATTRS]]
    return {r[0]: r[1:] for r in zip(*cols)}


def _sorted_children(edges: dict) -> dict[int, list[int]]:
    ch = _children(zip(edges["src"].tolist(), edges["dst"].tolist()))
    return {s: sorted(c) for s, c in ch.items()}


@st.composite
def pairs(draw):
    spec = gen.GraphSpec(
        vertices=draw(st.integers(8, 60)),
        out_degree=draw(st.sampled_from([1.0, 1.9, 3.0])),
        sink_fraction=draw(st.sampled_from([0.0, 0.1, 0.3])),
        perturbation=draw(st.sampled_from([0.0, 0.05, 0.2])),
        valuable_fraction=draw(st.sampled_from([0.0, 0.5, 1.0])),
    )
    iters = draw(st.integers(1, 8))
    cfg = {
        "walks": draw(st.integers(1, 6)), "iters": iters,
        "accum": draw(st.integers(1, iters)), "coeff": draw(st.sampled_from([0.2, 0.5, 1.0])),
        "threshold": draw(st.sampled_from([0.0, 0.1, 0.5])), "seed": draw(st.integers(0, 10_000)),
    }
    return spec, cfg


@settings(max_examples=60, deadline=None)
@given(pairs())
def test_match_rounds_equals_oracle(case):
    """The match-derived entries of the statistics block: TP and FP
    counts and the valuable og ids no match is keyed on."""
    spec, cfg = case
    og_n, og_e, pg_n, pg_e = gen.build_pair(spec, cfg["seed"])
    want = oracle.mitm_stats(og_n, og_e, pg_n, pg_e, cfg)
    paths = oracle.run_walks(pg_n, pg_e, cfg)
    walks = [(w, path) for ps in paths.values() for w, path in enumerate(ps)]
    og_rows = _rows(og_n)
    m = match_rounds(
        walks, _rows(pg_n), _sorted_children(pg_e), og_rows, _sorted_children(og_e), cfg["accum"]
    )
    hits = [p == o for p, (o, s) in m.items() if s > cfg["threshold"]]
    valuable = {o for o, r in og_rows.items() if r[-1]}
    assert str(sum(hits)) == want["numTruePositiveMatches"]
    assert str(len(hits) - sum(hits)) == want["numFalsePositiveMatches"]
    uncovered = "[" + ", ".join(str(i) for i in sorted(valuable - set(m))) + "]"
    assert uncovered == want["uncoveredValuableNodeIds"]


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
