"""Seeded NetGameSim-shaped graph-pair generator (single process).

Builds an original graph and a perturbed copy, then writes both as
NetGameSim text dumps (``List(NodeObject(...)):List(Action(...))``, one
line) and as Parquet ``vertices``/``edges`` tables with the engine's
``model.VERTEX_SCHEMA`` / ``EDGE_SCHEMA`` column layout. A manifest
records every file's sha256 and size, so two runs (or both sides of an
A/B) can confirm they consumed byte-identical inputs.

Usage (standalone)::

    python3 perfbench/gen.py --out /tmp/g --seed 7 --vertices 200 \
        --out-degree 1.9 --sink-fraction 0.1 --perturbation 0.05 \
        --valuable-fraction 0.5
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np


@dataclass(frozen=True)
class GraphSpec:
    vertices: int
    out_degree: float  # mean out-degree of non-sink vertices
    sink_fraction: float  # share of vertices with no out-edge (original)
    perturbation: float  # per-element probability of each perturbation kind
    valuable_fraction: float


# Column order of model.VERTEX_SCHEMA / EDGE_SCHEMA.
VERTEX_COLS = [
    "id", "children", "props", "current_depth", "prop_value_range",
    "max_depth", "max_branching_factor", "max_properties", "stored_value",
    "valuable_data",
]
EDGE_COLS = [
    "src", "dst", "action_type", "from_field", "to_field",
    "resulting_value", "cost",
]


def _node_attrs(rng: np.random.Generator, ids: np.ndarray, valuable_fraction: float) -> dict:
    n = len(ids)
    return {
        "id": ids.astype(np.int64),
        "children": rng.integers(0, 6, n),
        "props": rng.integers(0, 8, n),
        "current_depth": rng.integers(1, 6, n),
        "prop_value_range": rng.integers(1, 100, n),
        "max_depth": rng.integers(3, 6, n),
        "max_branching_factor": rng.integers(2, 8, n),
        "max_properties": rng.integers(4, 10, n),
        "stored_value": np.round(rng.random(n), 6),
        "valuable_data": rng.random(n) < valuable_fraction,
    }


def _edge_attrs(rng: np.random.Generator, src: np.ndarray, dst: np.ndarray) -> dict:
    n = len(src)
    rv = rng.integers(0, 100, n)
    return {
        "src": src.astype(np.int64),
        "dst": dst.astype(np.int64),
        "action_type": rng.integers(0, 20, n),
        "from_field": rng.integers(0, 200, n),
        "to_field": rng.integers(0, 200, n),
        # Option[Int]: about a third of the actions carry None
        "resulting_value": np.where(rng.random(n) < 0.33, -1, rv),
        "cost": np.round(rng.random(n), 6),
    }


def _pairs(rng: np.random.Generator, src: np.ndarray, targets: np.ndarray) -> np.ndarray:
    """One random target per source; self-loops dropped."""
    dst = targets[rng.integers(0, len(targets), len(src))]
    keep = src != dst
    return np.stack([src[keep], dst[keep]], axis=1)


def _edge_set(
    rng: np.random.Generator, existing: np.ndarray, required: np.ndarray,
    total: int, sources: np.ndarray, targets: np.ndarray,
) -> np.ndarray:
    """Distinct (src, dst) pairs: `existing`, plus at least one out-edge
    for every vertex of `required`, topped up with random edges from
    `sources` until there are `total` pairs (or more, if `existing` and
    `required` alone exceed it). No self-loops; `targets` decides which
    vertices may receive edges."""
    pairs = existing.reshape(-1, 2)
    missing = required
    while len(missing):
        pairs = np.unique(np.concatenate([pairs, _pairs(rng, missing, targets)]), axis=0)
        missing = np.setdiff1d(required, pairs[:, 0])
    while len(pairs) < total:
        src = sources[rng.integers(0, len(sources), total - len(pairs))]
        pairs = np.unique(np.concatenate([pairs, _pairs(rng, src, targets)]), axis=0)
    return pairs


def _pick(rng: np.random.Generator, n: int, k: int, keep_first: bool = False) -> np.ndarray:
    """Mask of exactly `k` of `n` positions (position 0 excluded if asked)."""
    lo = 1 if keep_first else 0
    mask = np.zeros(n, dtype=bool)
    mask[lo + rng.choice(n - lo, k, replace=False)] = True
    return mask


def _take(d: dict, mask: np.ndarray) -> dict:
    return {k: v[mask] for k, v in d.items()}


def _cat(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def build_pair(spec: GraphSpec, seed: int) -> tuple[dict, dict, dict, dict]:
    """(og_nodes, og_edges, pg_nodes, pg_edges) as column dicts.

    Vertex, sink, edge and perturbation counts are fixed by `spec`
    alone, so every seed yields graphs of identical size; the seed moves
    only structure and attribute values."""
    rng = np.random.default_rng([seed, spec.vertices])
    n = spec.vertices
    p = spec.perturbation
    ids = np.arange(n, dtype=np.int64)
    nodes = _node_attrs(rng, ids, spec.valuable_fraction)
    sink = _pick(rng, n, round(spec.sink_fraction * n), keep_first=True)
    live_src = ids[~sink]
    n_edges = round(len(live_src) * spec.out_degree)
    pairs = _edge_set(rng, np.empty((0, 2), np.int64), live_src, n_edges, live_src, ids[1:])
    edges = _edge_attrs(rng, pairs[:, 0], pairs[:, 1])

    # perturbation: remove / modify / add nodes, then remove / modify / add edges
    removed = _pick(rng, n, round(p * n), keep_first=True)
    pn = _take(nodes, ~removed)
    modified = _pick(rng, len(pn["id"]), round(p * len(pn["id"])))
    k = int(modified.sum())
    for col, hi in (("children", 6), ("props", 8), ("max_properties", 10)):
        pn[col] = pn[col].copy()
        pn[col][modified] = rng.integers(0, hi, k)
    pn["stored_value"] = pn["stored_value"].copy()
    pn["stored_value"][modified] = np.round(rng.random(k), 6)
    n_add = round(p * n)
    added = _node_attrs(rng, np.arange(n, n + n_add, dtype=np.int64), spec.valuable_fraction)
    pn = _cat(pn, added)

    alive = np.ones(n + n_add, dtype=bool)
    alive[:n] = ~removed
    pe = _take(edges, alive[edges["src"]] & alive[edges["dst"]])
    pe = _take(pe, ~_pick(rng, len(pe["src"]), round(p * n_edges)))
    mod_e = _pick(rng, len(pe["src"]), round(p * len(pe["src"])))
    pe["action_type"] = pe["action_type"].copy()
    pe["action_type"][mod_e] = rng.integers(0, 20, int(mod_e.sum()))
    pe["cost"] = pe["cost"].copy()
    pe["cost"][mod_e] = np.round(rng.random(int(mod_e.sum())), 6)
    # new edges: one out-edge per added node, then random live sources
    live_ids = pn["id"]
    old = np.stack([pe["src"], pe["dst"]], axis=1)
    pairs = _edge_set(
        rng, old, added["id"], round((1 - p) * n_edges), live_ids, live_ids[live_ids != 0]
    )
    span = n + n_add
    new = pairs[~np.isin(pairs[:, 0] * span + pairs[:, 1], old[:, 0] * span + old[:, 1])]
    pe = _cat(pe, _edge_attrs(rng, new[:, 0], new[:, 1]))
    order = np.lexsort((pe["dst"], pe["src"]))
    pe = {k: v[order] for k, v in pe.items()}
    return nodes, edges, pn, pe


def _node_strs(nodes: dict) -> dict[int, str]:
    cols = [nodes[c].tolist() for c in VERTEX_COLS]
    out = {}
    for i, ch, pr, cd, pvr, md, mbf, mp, sv, val in zip(*cols):
        out[i] = (
            f"NodeObject({i},{ch},{pr},{cd},{pvr},{md},{mbf},{mp},{sv!r},"
            f"{'true' if val else 'false'})"
        )
    return out


def to_text(nodes: dict, edges: dict) -> str:
    ns = _node_strs(nodes)
    node_part = ", ".join(ns[i] for i in nodes["id"].tolist())
    acts = []
    for s, d, at, ff, tf, rv, c in zip(*[edges[c].tolist() for c in EDGE_COLS]):
        opt = "None" if rv < 0 else f"Some({rv})"
        acts.append(f"Action({at},{ns[s]},{ns[d]},{ff},{tf},{opt},{c!r})")
    return f"List({node_part}):List({', '.join(acts)})"


def _write_parquet(nodes: dict, edges: dict, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    v = pa.table({c: nodes[c] for c in VERTEX_COLS})
    rv = edges["resulting_value"]
    e = pa.table(
        {
            **{c: edges[c] for c in EDGE_COLS if c != "resulting_value"},
            "resulting_value": pa.array(rv, mask=rv < 0, type=pa.int64()),
        }
    ).select(EDGE_COLS)
    for name, tbl in (("vertices", v), ("edges", e)):
        os.makedirs(os.path.join(path, name), exist_ok=True)
        pq.write_table(tbl, os.path.join(path, name, "part-00000.parquet"))


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generate(
    spec: GraphSpec, seed: int, out_dir: str,
    formats=("text", "parquet"), graphs=("original", "perturbed"),
) -> dict:
    """Write the chosen graphs of the pair under `out_dir` and return the
    manifest: seed, spec, per-graph sizes, and sha256 + bytes per file."""
    og_n, og_e, pg_n, pg_e = build_pair(spec, seed)
    os.makedirs(out_dir, exist_ok=True)
    files: list[str] = []
    pair = {"original": (og_n, og_e), "perturbed": (pg_n, pg_e)}
    for name in graphs:
        nodes, edges = pair[name]
        if "text" in formats:
            rel = f"{name}.txt"
            with open(os.path.join(out_dir, rel), "w", encoding="utf-8") as f:
                f.write(to_text(nodes, edges))
            files.append(rel)
        if "parquet" in formats:
            _write_parquet(nodes, edges, os.path.join(out_dir, name))
            files += [f"{name}/vertices/part-00000.parquet", f"{name}/edges/part-00000.parquet"]
    manifest = {
        "seed": seed,
        "spec": asdict(spec),
        "graphs": {
            name: {"vertices": len(pair[name][0]["id"]), "edges": len(pair[name][1]["src"])}
            for name in graphs
        },
        "files": {
            rel: {
                "sha256": _sha256(os.path.join(out_dir, rel)),
                "bytes": os.path.getsize(os.path.join(out_dir, rel)),
            }
            for rel in files
        },
    }
    manifest["digest"] = hashlib.sha256(
        json.dumps(manifest["files"], sort_keys=True).encode()
    ).hexdigest()
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--vertices", type=int, default=200)
    ap.add_argument("--out-degree", type=float, default=1.9)
    ap.add_argument("--sink-fraction", type=float, default=0.1)
    ap.add_argument("--perturbation", type=float, default=0.05)
    ap.add_argument("--valuable-fraction", type=float, default=0.5)
    ap.add_argument("--formats", default="text,parquet")
    a = ap.parse_args(argv)
    spec = GraphSpec(
        a.vertices, a.out_degree, a.sink_fraction, a.perturbation,
        a.valuable_fraction,
    )
    m = generate(spec, a.seed, a.out, tuple(a.formats.split(",")))
    print(json.dumps({"digest": m["digest"], "graphs": m["graphs"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
