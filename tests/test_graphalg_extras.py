"""Round-4 graph analytics: clustering coefficient, label propagation,
link prediction, degree histogram, HITS, reciprocity, assortativity —
each pinned on small graphs with hand- or numpy-computed expectations
(the SQL-oracle parity lives in test_oracle_parity.py; these check the
semantics themselves)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from big_data_graph_analysis_with_spark_spark.model import NetGraph
from big_data_graph_analysis_with_spark_spark.operators import graphalg


def _graph(spark, vertex_ids, edge_pairs):
    v = spark.createDataFrame([(int(i),) for i in vertex_ids], "id LONG")
    e = spark.createDataFrame(
        [(int(s), int(d)) for s, d in edge_pairs], "src LONG, dst LONG"
    )
    return NetGraph(v, e)


def test_clustering_coefficient_triangle_plus_pendant(spark):
    # K3 on {1,2,3}; 3-4 pendant. lcc(1)=lcc(2)=1.0; vertex 3 has
    # deg 3 and 1 triangle → 2·1/(3·2) = 1/3; 4 and isolated 5 → 0.
    g = _graph(spark, [1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 1), (3, 4)])
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["lcc_ppm"])
        for r in graphalg.clustering_coefficient(g).collect()
    }
    assert got[1] == (2, 1, 1_000_000)
    assert got[2] == (2, 1, 1_000_000)
    assert got[3] == (3, 1, 333_333)  # 2·1e6 div 6, truncating
    assert got[4] == (1, 0, 0)
    assert got[5] == (0, 0, 0)


def test_label_propagation_two_cliques(spark):
    # two triangles {1,2,3} and {10,11,12} bridged by 3-10: everyone
    # ends with their clique's min label (ties break to smaller label).
    g = _graph(
        spark,
        [1, 2, 3, 10, 11, 12],
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)],
    )
    got = {
        r["id"]: r["label"] for r in graphalg.label_propagation(g, rounds=4).collect()
    }
    assert got[1] == 1 and got[2] == 1
    # the bridge vertex 10's neighbors are {11,12,3} whose labels tie
    # 1-1-1 in later rounds; min-label tie-break keeps it deterministic
    assert got[11] == got[12]


def test_label_propagation_isolated_keeps_own(spark):
    g = _graph(spark, [1, 2, 7], [(1, 2)])
    got = {
        r["id"]: r["label"] for r in graphalg.label_propagation(g, rounds=2).collect()
    }
    assert got[7] == 7
    assert got[1] in (1, 2) and got[2] in (1, 2)


def test_link_prediction_star_and_no_existing_edges(spark):
    # star center 0 with leaves 1..4: every leaf pair shares exactly
    # one common neighbor (0) and no pair is an edge; 6 candidates.
    leaves = [1, 2, 3, 4]
    g = _graph(spark, [0] + leaves, [(0, i) for i in leaves])
    rows = graphalg.link_prediction(g, k=100).collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    assert pairs == {(a, b) for a in leaves for b in leaves if a < b}
    for r in rows:
        assert r["common_neighbors"] == 1
        assert r["deg_product"] == 1  # every leaf has degree 1
    # existing edges (0, leaf) must never appear
    assert all(r["a"] != 0 for r in rows)


def test_degree_histogram_star(spark):
    g = _graph(spark, [0, 1, 2, 3, 9], [(0, 1), (0, 2), (0, 3)])
    got = {
        r["degree"]: r["n_vertices"]
        for r in graphalg.degree_histogram(g).collect()
    }
    assert got == {3: 1, 1: 3, 0: 1}


def test_hits_matches_numpy_power_iteration(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 4)]
    ids = [1, 2, 3, 4]
    g = _graph(spark, ids, edges)
    got = {r["id"]: (r["hub"], r["auth"]) for r in graphalg.hits_scores(g, rounds=2).collect()}
    # unnormalized HITS in numpy: auth_k = Aᵀ·hub_{k-1}; hub_k = A·auth_k
    idx = {v: i for i, v in enumerate(ids)}
    A = np.zeros((4, 4), dtype=np.int64)
    for s, d in edges:
        A[idx[s], idx[d]] = 1
    hub = np.ones(4, dtype=np.int64)
    for _ in range(2):
        auth = A.T @ hub
        hub = A @ auth
    for v in ids:
        assert got[v] == (hub[idx[v]], auth[idx[v]])


def test_reciprocity_mixed(spark):
    # 4 distinct directed non-loop edges, of which 1↔2 is mutual (2
    # directed edges), plus a self-loop that must be ignored.
    g = _graph(spark, [1, 2, 3], [(1, 2), (2, 1), (1, 3), (2, 3), (3, 3)])
    row = graphalg.reciprocity(g).collect()[0]
    assert row["n_directed"] == 4
    assert row["n_mutual"] == 2
    assert row["reciprocity_ppm"] == 500_000


def test_assortativity_stats_match_numpy(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    g = _graph(spark, [1, 2, 3, 4], edges)
    row = graphalg.assortativity_stats(g).collect()[0]
    deg = {1: 3, 2: 2, 3: 3, 4: 2}
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    xs, ys = np.array(xs), np.array(ys)
    assert row["n_pairs"] == len(xs)
    assert row["sum_x"] == xs.sum()
    assert row["sum_xy"] == (xs * ys).sum()
    assert row["sum_x2"] == (xs * xs).sum()
    # and the scalar finish yields the same Pearson r as numpy
    n, sx, sxy, sx2 = (
        row["n_pairs"], row["sum_x"], row["sum_xy"], row["sum_x2"],
    )
    r_engine = (n * sxy - sx * sx) / (n * sx2 - sx * sx)
    r_numpy = np.corrcoef(xs, ys)[0, 1]
    assert abs(r_engine - r_numpy) < 1e-12

def test_ktruss_k4_complete_graph_survives_pendant_peeled(spark):
    # K4 on {1,2,3,4}: every edge sits in 2 triangles → 4-truss keeps
    # all 6 edges. A pendant triangle {4,5,6} (support 1 each) peels
    # away entirely, INCLUDING the cascade back onto its attachment.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(4, 5), (4, 6), (5, 6)]
    g = _graph(spark, [1, 2, 3, 4, 5, 6], k4 + pendant)
    got = sorted((r["a"], r["b"]) for r in graphalg.ktruss_edges(g, k=4).collect())
    assert got == sorted(k4)


def test_ktruss_single_triangle_fails_k4(spark):
    g = _graph(spark, [1, 2, 3], [(1, 2), (2, 3), (1, 3)])
    assert graphalg.ktruss_edges(g, k=4).count() == 0
    # ...but IS the 3-truss (support ≥ 1)
    got = sorted((r["a"], r["b"]) for r in graphalg.ktruss_edges(g, k=3).collect())
    assert got == [(1, 2), (1, 3), (2, 3)]



def test_diameter_double_sweep_path_graph(spark):
    # path 1-2-3-4-5: seed=1 (an endpoint), ecc=4, second sweep from 5
    # → diameter_lb = 4 = true diameter (double sweep is exact on trees)
    g = _graph(spark, [1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4), (4, 5)])
    row = graphalg.diameter_double_sweep(g).collect()[0]
    assert (row["seed"], row["peak_id"]) == (1, 5)
    assert (row["ecc_seed"], row["diameter_lb"]) == (4, 4)


def test_diameter_double_sweep_improves_on_first_ecc(spark):
    # star center 1, leaves 2..5: seed=1 has ecc 1, but the second
    # sweep from a leaf finds the true diameter 2
    g = _graph(spark, [1, 2, 3, 4, 5], [(1, i) for i in (2, 3, 4, 5)])
    row = graphalg.diameter_double_sweep(g).collect()[0]
    assert row["seed"] == 1
    assert row["peak_id"] == 2  # farthest tie → smallest id
    assert (row["ecc_seed"], row["diameter_lb"]) == (1, 2)


def test_diameter_double_sweep_direction_blind(spark):
    # edges all point INTO the seed-side: undirected sweep must still
    # traverse them (5→4→3→2→1 stored reversed)
    g = _graph(spark, [1, 2, 3, 4, 5], [(2, 1), (3, 2), (4, 3), (5, 4)])
    row = graphalg.diameter_double_sweep(g).collect()[0]
    assert (row["ecc_seed"], row["diameter_lb"]) == (4, 4)


def test_scc_cycle_dag_mix(spark):
    # cycle {1,2,3}, chain 3→4→5, cycle {5,6}, isolated 9:
    # SCCs = {1,2,3} (id 3), {4}, {5,6} (id 6), {9}.
    g = _graph(
        spark,
        [1, 2, 3, 4, 5, 6, 9],
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 5)],
    )
    got = {r["id"]: r["scc_id"] for r in graphalg.scc_components(g).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 4, 5: 6, 6: 6, 9: 9}


def test_scc_ascending_chain_all_singletons(spark):
    # the trim-phase worst case for bare coloring: ascending path;
    # trimming must resolve it without O(V) outer rounds.
    ids = list(range(1, 11))
    g = _graph(spark, ids, [(i, i + 1) for i in ids[:-1]])
    got = {r["id"]: r["scc_id"] for r in graphalg.scc_components(g).collect()}
    assert got == {i: i for i in ids}


def test_scc_nested_cycles_one_component(spark):
    # 1→2→3→4→1 with chord 2→4 and back-edge 3→1: single SCC labeled 4.
    g = _graph(
        spark, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4), (3, 1)]
    )
    got = {r["id"]: r["scc_id"] for r in graphalg.scc_components(g).collect()}
    assert got == {1: 4, 2: 4, 3: 4, 4: 4}


def test_scc_long_cycle_exceeding_max_iters(spark):
    # a directed cycle LONGER than max_iters: the coloring and backward
    # sweeps must keep iterating to fixpoint past the soft cap (warning
    # only), or the single SCC would be silently split into fragments.
    n = 12
    ids = list(range(1, n + 1))
    edges = [(i, i + 1) for i in ids[:-1]] + [(n, 1)]
    g = _graph(spark, ids, edges)
    got = {
        r["id"]: r["scc_id"]
        for r in graphalg.scc_components(g, max_iters=5).collect()
    }
    assert got == {i: n for i in ids}


def test_scc_extra_edges_create_cycle(spark):
    # DAG 1→2→3; extra edge 3→1 merges everything into one SCC.
    g = _graph(spark, [1, 2, 3], [(1, 2), (2, 3)])
    extra = spark.createDataFrame([(3, 1)], "src LONG, dst LONG")
    got = {
        r["id"]: r["scc_id"]
        for r in graphalg.scc_components(g, extra_edges=extra).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3}


def _assert_is_mis(edge_pairs, vertex_ids, mis_ids):
    """Independent (no internal edge) AND maximal (every non-member
    has a member neighbor)."""
    nbrs = {v: set() for v in vertex_ids}
    for s, d in edge_pairs:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    for v in mis_ids:
        assert not (nbrs[v] & mis_ids), f"edge inside MIS at {v}"
    for v in set(vertex_ids) - mis_ids:
        assert nbrs[v] & mis_ids, f"non-member {v} has no MIS neighbor"


def test_mis_path_and_isolated(spark):
    ids = [1, 2, 3, 4, 5, 42]
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    g = _graph(spark, ids, edges)
    rows = graphalg.maximal_independent_set(g, rounds=8).collect()
    _assert_is_mis(edges, ids, {r["id"] for r in rows})
    # isolated vertex always wins in round 1
    assert {r["id"]: r["mis_round"] for r in rows}[42] == 1


def test_mis_complete_graph_single_winner(spark):
    ids = [1, 2, 3, 4]
    edges = [(a, b) for a in ids for b in ids if a < b]
    g = _graph(spark, ids, edges)
    rows = graphalg.maximal_independent_set(g, rounds=4).collect()
    assert len(rows) == 1  # K4: exactly one vertex can win


def test_mis_deterministic_across_runs(spark):
    ids = list(range(20))
    edges = [(i, (i * 3 + 1) % 20) for i in ids] + [(i, (i + 7) % 20) for i in ids]
    g = _graph(spark, ids, edges)
    a = sorted(
        (r["id"], r["mis_round"])
        for r in graphalg.maximal_independent_set(g, rounds=8).collect()
    )
    b = sorted(
        (r["id"], r["mis_round"])
        for r in graphalg.maximal_independent_set(g, rounds=8).collect()
    )
    assert a == b
    _assert_is_mis(edges, ids, {i for i, _ in a})


def test_closeness_sampled_path_graph(spark):
    # path 1-2-3-4, seeds = all 4 ids (n_seeds=4). For vertex 1:
    # dists from seeds 2,3,4 are 1,2,3 → n=3, sum=6,
    # harmonic = 1e6 + 500000 + 333333.
    g = _graph(spark, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)])
    got = {
        r["id"]: (r["n_reached"], r["sum_dist"], r["harmonic_ppm"])
        for r in graphalg.closeness_sampled(g, n_seeds=4).collect()
    }
    assert got[1] == (3, 6, 1_833_333)
    assert got[2] == (3, 4, 2_500_000)  # dists 1,1,2
    assert got[4] == (3, 6, 1_833_333)


def test_closeness_sampled_disconnected(spark):
    # component {1,2} and isolated 3; seeds 1,2,3: vertex 3 unreached
    # by 1,2 and reaches nothing → absent from the output.
    g = _graph(spark, [1, 2, 3], [(1, 2)])
    got = {r["id"] for r in graphalg.closeness_sampled(g, n_seeds=3).collect()}
    assert got == {1, 2}


def test_path_counts_diamond(spark):
    # diamond 1→{2,3}→4→5: two shortest paths reach 4, both continue
    # to 5; direct edge 1→5 would shorten — so also test that a
    # shorter route resets nothing (5 first reached at dist 3).
    g = _graph(
        spark, [1, 2, 3, 4, 5], [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    )
    got = {
        r["id"]: (r["dist"], r["n_paths"])
        for r in graphalg.path_counts(g, source=1).collect()
    }
    assert got == {1: (0, 1), 2: (1, 1), 3: (1, 1), 4: (2, 2), 5: (3, 2)}


def test_path_counts_shortcut_wins(spark):
    # 1→2→3 plus direct 1→3: vertex 3 is at dist 1 with ONE path (the
    # longer route is not a shortest path and must not count).
    g = _graph(spark, [1, 2, 3], [(1, 2), (2, 3), (1, 3)])
    got = {
        r["id"]: (r["dist"], r["n_paths"])
        for r in graphalg.path_counts(g, source=1).collect()
    }
    assert got == {1: (0, 1), 2: (1, 1), 3: (1, 1)}


def test_path_counts_levels_cap(spark):
    ids = [1, 2, 3, 4]
    g = _graph(spark, ids, [(1, 2), (2, 3), (3, 4)])
    got = {r["id"] for r in graphalg.path_counts(g, source=1, levels=2).collect()}
    assert got == {1, 2, 3}  # 4 is beyond the 2-level cap


def test_betweenness_path_graph(spark):
    # directed path 1→2→3, all vertices as seeds: only the (1,3) pair
    # routes through 2 → betweenness(2)=1, endpoints 0.
    g = _graph(spark, [1, 2, 3], [(1, 2), (2, 3)])
    got = {
        r["id"]: r["betweenness"]
        for r in graphalg.betweenness_sampled(g, n_seeds=3).collect()
    }
    assert got[2] == 1.0
    assert got.get(3, 0.0) == 0.0


def test_betweenness_diamond_split(spark):
    # 1→{2,3}→4: two equal shortest paths 1⇒4 → each middle vertex
    # carries half a dependency.
    g = _graph(spark, [1, 2, 3, 4], [(1, 2), (1, 3), (2, 4), (3, 4)])
    got = {
        r["id"]: r["betweenness"]
        for r in graphalg.betweenness_sampled(g, n_seeds=4).collect()
    }
    assert abs(got[2] - 0.5) < 1e-12
    assert abs(got[3] - 0.5) < 1e-12
    assert got.get(4, 0.0) == 0.0


def test_betweenness_chain_accumulates(spark):
    # path 1→2→3→4 (all seeds): b(2) = pairs (1,3),(1,4) → 2;
    # b(3) = (1,4),(2,4) → 2. Matches Brandes by hand.
    g = _graph(spark, [1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)])
    got = {
        r["id"]: r["betweenness"]
        for r in graphalg.betweenness_sampled(g, n_seeds=4).collect()
    }
    assert got[2] == 2.0 and got[3] == 2.0


def _graph_costs(spark, vertex_ids, edge_triples):
    v = spark.createDataFrame([(int(i),) for i in vertex_ids], "id LONG")
    e = spark.createDataFrame(
        [(int(s), int(d), float(c)) for s, d, c in edge_triples],
        "src LONG, dst LONG, cost DOUBLE",
    )
    return NetGraph(v, e)


def test_pagerank_weighted_uniform_cost_equals_unweighted(spark):
    # equal weights cancel exactly in the integer arithmetic:
    # (pr·w) div (d·w) == pr div d for any positive w
    edges = [(1, 2, 0.5), (2, 3, 0.5), (3, 1, 0.5), (1, 3, 0.5)]
    g = _graph_costs(spark, [1, 2, 3], edges)
    wpr = {
        r["id"]: r["pr_scaled"]
        for r in graphalg.pagerank_weighted(g, iters=3).collect()
    }
    upr = {
        r["id"]: r["pr_scaled"] for r in graphalg.pagerank(g, iters=3).collect()
    }
    assert wpr == upr


def test_pagerank_weighted_prefers_heavy_edge(spark):
    # vertex 1 splits mass 1:999 between 2 and 3 — vertex 3 must end
    # far ahead of vertex 2 (sinks: both drop mass, symmetric).
    g = _graph_costs(spark, [1, 2, 3], [(1, 2, 0.0), (1, 3, 0.998)])
    got = {
        r["id"]: r["pr_scaled"]
        for r in graphalg.pagerank_weighted(g, iters=2).collect()
    }
    # compare ABOVE the teleport base (identical for every vertex):
    # w=1 vs w=999 must show up as ~999× the received mass
    base = (
        (graphalg.PR_DAMP_DEN - graphalg.PR_DAMP_NUM)
        * graphalg.PR_SCALE
        // (graphalg.PR_DAMP_DEN * 3)
    )
    assert (got[3] - base) > (got[2] - base) * 100


def test_motif_counts_known_patterns(spark):
    # FFL {1→2, 2→3, 1→3}; separate 3-cycle {4→5, 5→6, 6→4};
    # mutual pair {7↔8}. Every census cell hand-checkable.
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (6, 4), (7, 8), (8, 7)]
    g = _graph(spark, [1, 2, 3, 4, 5, 6, 7, 8], edges)
    row = graphalg.motif_counts(g).collect()[0]
    assert row["n_ffl"] == 1
    assert row["n_cycle3"] == 1
    assert row["n_mutual"] == 1
    assert row["n_directed"] == 8


def test_motif_counts_mutual_triangle(spark):
    # fully mutual triangle on {1,2,3}: 6 directed edges. FFLs: each
    # ordered (a,b,c) with all three edges present = 3! = 6; directed
    # 3-cycles: 2 (one per orientation); mutual pairs: 3.
    edges = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b]
    g = _graph(spark, [1, 2, 3], edges)
    row = graphalg.motif_counts(g).collect()[0]
    assert row["n_ffl"] == 6
    assert row["n_cycle3"] == 2
    assert row["n_mutual"] == 3
    assert row["n_directed"] == 6


def test_condensation_contracts_cycles_to_dag(spark):
    # cycle {1,2,3} → 4 → cycle {5,6}; condensation: 3 → 4 → 6
    g = _graph(
        spark,
        [1, 2, 3, 4, 5, 6],
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 5)],
    )
    got = sorted(
        (r["src_scc"], r["dst_scc"])
        for r in graphalg.condensation_edges(g).collect()
    )
    assert got == [(3, 4), (4, 6)]


def test_hub_attack_star_disconnects(spark):
    # star center 1 with 5 leaves: removing the single hub leaves 5
    # singletons
    g = _graph(spark, [1, 2, 3, 4, 5, 6], [(1, i) for i in (2, 3, 4, 5, 6)])
    row = graphalg.hub_attack_robustness(g, n_remove=1).collect()[0]
    assert row["n_removed"] == 1
    assert row["n_vertices_left"] == 5
    assert row["n_components"] == 5
    assert row["largest_component"] == 1


def test_hub_attack_resilient_cycle(spark):
    # a 6-cycle survives removing any single vertex as one path
    g = _graph(spark, list(range(6)), [(i, (i + 1) % 6) for i in range(6)])
    row = graphalg.hub_attack_robustness(g, n_remove=1).collect()[0]
    assert (row["n_components"], row["largest_component"]) == (1, 5)


def test_scc_partitions_reference_graph(spark):
    # the reference's own 200-vertex random digraph (cycles included):
    # SCC must assign every vertex exactly once, label components by a
    # member (scc_id ∈ component), and agree with undirected CC as a
    # refinement (every SCC sits inside one weak component)
    from tests.conftest import REF_INPUT

    from big_data_graph_analysis_with_spark_spark.sources.ngs_text import (
        load_graph,
    )

    g = load_graph(spark, f"{REF_INPUT}/Graph200.txt")
    # scc and the weak-CC refinement check are independent iterative
    # runs — overlap them on two driver threads
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_scc = pool.submit(
            inheritable_thread_target(lambda: graphalg.scc_components(g).collect())
        )
        f_cc = pool.submit(
            inheritable_thread_target(
                lambda: graphalg.connected_components(g).collect()
            )
        )
        rows, cc_rows = f_scc.result(), f_cc.result()
    assigned = [r["id"] for r in rows]
    assert sorted(assigned) == sorted(
        r["id"] for r in g.vertices.select("id").collect()
    )
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["scc_id"], set()).add(r["id"])
    for scc_id, members in groups.items():
        assert scc_id in members  # label is the max MEMBER id
        assert scc_id == max(members)
    cc = {r["id"]: r["component_id"] for r in cc_rows}
    for members in groups.values():
        assert len({cc[m] for m in members}) == 1  # SCC refines weak CC


def test_condensation_is_acyclic_on_augmented_graph(spark):
    # cycle-augmented 40-vertex graph: the condensation must peel to
    # empty by repeated source removal (i.e., be a DAG)
    import random

    rnd = random.Random(5)
    ids = list(range(40))
    edges = [(i, rnd.randrange(40)) for i in ids for _ in range(3)]
    edges = [(a, b) for a, b in edges if a != b]
    g = _graph(spark, ids, edges)
    dag = [
        (r["src_scc"], r["dst_scc"])
        for r in graphalg.condensation_edges(g).collect()
    ]
    nodes = {x for e in dag for x in e}
    remaining = set(dag)
    while remaining:
        dsts = {d for _, d in remaining}
        sources = {s for s, _ in remaining} - dsts
        assert sources, f"cycle left in condensation: {remaining}"
        remaining = {(s, d) for s, d in remaining if s not in sources}
    assert len(nodes) >= 1
