"""Independent single-process oracles for the benchmark's outputs.

* :func:`mitm_stats` re-derives the MitM statistics block from the
  generated column dicts with plain Python: start-node draw, walk
  kernel, per-walk SimRank, best match, global max-merge, valuable
  filter and walk classification. It shares no code with the engine.
* :func:`analytics` gives connected components and triangle counts via
  networkx and PageRank via the engine's documented integer recurrence.
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

ATTRS = [
    "children", "props", "current_depth", "prop_value_range", "max_depth",
    "max_branching_factor", "max_properties", "stored_value", "valuable_data",
]
TIE_ATTRS = ["children", "props", "max_depth", "max_properties"]
_CENT = Decimal("0.01")
_MICRO = Decimal("0.000001")


def _rows(nodes: dict) -> dict[int, tuple]:
    cols = [nodes["id"].tolist()] + [nodes[a].tolist() for a in ATTRS]
    return {r[0]: tuple(r[1:]) for r in zip(*cols)}


def _round2(x: float) -> float:
    """Spark's round(double, 2): HALF_UP on the decimal repr."""
    return float(Decimal(repr(x)).quantize(_CENT, rounding=ROUND_HALF_UP))


def _dec6(x: float) -> Decimal:
    """double → DECIMAL(28,6) cast."""
    return Decimal(repr(x)).quantize(_MICRO, rounding=ROUND_HALF_UP)


def run_walks(pg_nodes: dict, pg_edges: dict, cfg: dict) -> dict[int, list[list[int]]]:
    """partition_key → list of walk paths (node ids in step order)."""
    ids = pg_nodes["id"].tolist()
    src, dst = pg_edges["src"].tolist(), pg_edges["dst"].tolist()
    children: dict[int, list[int]] = defaultdict(list)
    for s, d in zip(src, dst):
        children[s].append(d)
    for s in children:
        children[s].sort()
    has_in = set(dst)
    pool = sorted(i for i in ids if i not in has_in)
    if not pool:
        return {}
    rng = np.random.default_rng([cfg["seed"], 0])
    starts = {k: pool[rng.integers(0, len(pool))] for k in range(1, cfg["walks"] + 1)}
    quota = cfg["coeff"] * len(ids)
    out: dict[int, list[list[int]]] = {}
    for pkey, start in starts.items():
        rng = np.random.default_rng([cfg["seed"], pkey])
        seen: set[int] = set()
        paths = []
        for _ in range(cfg["iters"]):
            path: list[int] = []
            cur = start
            while len(path) < quota:
                path.append(cur)
                nbrs = children.get(cur)
                if not nbrs:
                    break
                unvisited = [c for c in nbrs if c not in seen]
                cand = unvisited if unvisited else nbrs
                cur = cand[rng.integers(0, len(cand))]
            seen.update(path)
            paths.append(path)
        out[pkey] = paths
    return out


def _walk_scores(
    visited: list[int],
    identity: dict[int, int],
    matches: dict[int, tuple[int, float]],
    pg_children: dict[int, list[int]],
    og_children: dict[int, list[int]],
    og_indeg: dict[int, int],
) -> dict[tuple[int, int], float]:
    """One walk's SimRank sweep: {(pg_id, og_id): score}."""
    vset = set(visited)
    seed = {(p, identity[p]): 1.0 for p in visited if p in identity}
    scores = dict(seed)
    for p in visited:
        if p in matches:
            o, s = matches[p]
            scores.setdefault((p, o), s)
    matched_pg = set(matches)
    matched_og = {o for o, _ in matches.values()}
    dp: dict[int, int] = defaultdict(int)
    for p in visited:
        for c in pg_children.get(p, ()):
            if c in vset:
                dp[c] += 1
    contrib: dict[tuple[int, int], Decimal] = defaultdict(Decimal)
    for (p, o), s in scores.items():
        ds = _dec6(s)
        for c in pg_children.get(p, ()):
            if c not in vset or c in matched_pg:
                continue
            for oc in og_children.get(o, ()):
                if oc in matched_og:
                    continue
                contrib[(c, oc)] += ds
    out = {}
    for (c, oc), s in contrib.items():
        if (c, oc) in seed:
            continue
        v = _round2(float(s) / (dp[c] * og_indeg[oc]))
        if v != 0:
            out[(c, oc)] = v
    out.update(seed)
    return out


def mitm_stats(og_nodes: dict, og_edges: dict, pg_nodes: dict, pg_edges: dict, cfg: dict) -> dict[str, str]:
    """The pipeline's 8-entry statistics block, computed from scratch.

    `cfg` keys: walks, iters, accum, coeff, threshold, seed."""
    og = _rows(og_nodes)
    pg = _rows(pg_nodes)
    full_og = {(i,) + t: i for i, t in og.items()}
    identity = {p: full_og[(p,) + t] for p, t in pg.items() if (p,) + t in full_og}

    def adj(edges):
        ch: dict[int, list[int]] = defaultdict(list)
        indeg: dict[int, int] = defaultdict(int)
        for s, d in zip(edges["src"].tolist(), edges["dst"].tolist()):
            ch[s].append(d)
            indeg[d] += 1
        return ch, indeg

    pg_children, _ = adj(pg_edges)
    og_children, og_indeg = adj(og_edges)
    walks = run_walks(pg_nodes, pg_edges, cfg)
    tie_idx = [ATTRS.index(a) for a in TIE_ATTRS]
    valuable = {i for i, t in og.items() if t[-1]}

    matches: dict[int, tuple[int, float]] = {}
    n_rounds = math.ceil(cfg["iters"] / cfg["accum"])
    for rnd in range(n_rounds):
        lo, hi = rnd * cfg["accum"], min((rnd + 1) * cfg["accum"], cfg["iters"])
        best: dict[int, tuple] = {}
        for pkey in sorted(walks):
            for w in range(lo, hi):
                visited = sorted(set(walks[pkey][w]))
                sc = _walk_scores(visited, identity, matches, pg_children, og_children, og_indeg)
                for (p, o), s in sc.items():
                    pt, ot = pg[p], og[o]
                    key = (
                        int(identity.get(p) == o),
                        sum(pt[i] == ot[i] for i in tie_idx),
                        s,
                        -o,
                    )
                    if p not in best or key > best[p][0]:
                        best[p] = (key, o, s)
        new = {p: (o, s) for p, (_, o, s) in best.items() if o in valuable}
        for p, (o, s) in new.items():
            cur = matches.get(p)
            if cur is None or (s, -o) > (cur[1], -cur[0]):
                matches[p] = (o, s)

    th = cfg["threshold"]
    tp = {p for p, (o, s) in matches.items() if s > th and p == o}
    fp = {p for p, (o, s) in matches.items() if s > th and p != o}

    def ids(xs) -> str:
        return "[" + ", ".join(str(i) for i in sorted(xs)) + "]"

    succ: dict[int, int] = {}
    unsucc: dict[int, int] = {}
    for pkey in sorted(walks):
        distinct = {tuple(sorted(set(p))) for p in walks[pkey]}
        succ[pkey] = sum(1 for v in distinct if (set(v) & tp) and not (set(v) & fp))
        unsucc[pkey] = sum(1 for v in distinct if set(v) & fp)
    return {
        "valuableOriginalNodeIds": ids(valuable),
        "uncoveredValuableNodeIds": ids(valuable - set(matches)),
        "numTruePositiveMatches": str(len(tp)),
        "numFalsePositiveMatches": str(len(fp)),
        "successfulWalksPerPartition": str(succ),
        "unsuccessfulWalksPerPartition": str(unsucc),
        "totalSuccessfulWalks": str(sum(succ.values())),
        "totalUnsuccessfulWalks": str(sum(unsucc.values())),
    }


PR_SCALE = 1_000_000_000_000


def pagerank(ids: list[int], src: list[int], dst: list[int], iters: int) -> dict[int, int]:
    """Integer PageRank: pr'(u) = 15·S div (100·N) + (85·Σ pr(v) div outdeg(v)) div 100."""
    n = len(ids)
    base = 15 * PR_SCALE // (100 * n)
    outdeg: dict[int, int] = defaultdict(int)
    for s in src:
        outdeg[s] += 1
    pr = {i: PR_SCALE // n for i in ids}
    for _ in range(iters):
        acc: dict[int, int] = defaultdict(int)
        for s, d in zip(src, dst):
            acc[d] += pr[s] // outdeg[s]
        pr = {i: base + acc.get(i, 0) * 85 // 100 for i in ids}
    return pr


def analytics(nodes: dict, edges: dict, pr_iters: int) -> dict:
    """Digest-sized summaries of components, triangles and PageRank."""
    import networkx as nx

    ids = nodes["id"].tolist()
    src, dst = edges["src"].tolist(), edges["dst"].tolist()
    g = nx.Graph()
    g.add_nodes_from(ids)
    g.add_edges_from((s, d) for s, d in zip(src, dst) if s != d)
    comp = {}
    for cc in nx.connected_components(g):
        m = min(cc)
        for v in cc:
            comp[v] = m
    tri = nx.triangles(g)
    return {
        "components": comp,
        "triangles": tri,
        "pagerank": pagerank(ids, src, dst, pr_iters),
    }
