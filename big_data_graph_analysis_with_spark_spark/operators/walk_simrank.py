"""Per-walk SimRank: the reference's inner loop, all walks of a round
scored by one grouped-map kernel.

Reference (`Main.scala:104-108`, `HelperFunction.scala:202-271`): for
every walk subgraph it calls ``SimRankv_2(subgraph.nodes,
generateParentMap(subgraph), og.nodes, generateParentMap(og),
accumulator)`` — the perturbed side is the *walk-induced subgraph* (its
own parent map), the original side is the whole graph. Serially, one
walk at a time.

Restatement: Spark left-joins every visited (walk_id, id) row to its
identity og id and its prior match, and one
``groupBy("walk_id").applyInPandas`` runs each walk's sweep. The kernel
reads both child maps from the parquet sideloads the pipeline writes
(`walks.ensure_sideload`), cached per Python worker like the walk
kernel's, so a round is one small plan instead of a 3-way join
``scores ⋈ wedges ⋈ og_fwd`` per walk. It is exact:

* Sums are integer cents. Every input score is the 1.0 seed or a prior
  round's ``round(·, 2)`` output, so each DECIMAL(28,6) term the
  declarative sum took is a whole number of cents, and ``cents / 100``
  is the double that decimal sum casts to.
* The score is ``round(cents / 100 / (dp·dn), 2)``, HALF_UP on the
  double's repr: Spark's ``round`` on a double.
* The og-side G6 prune (matched og nodes receive nothing) is a
  post-filter on the kernel's output: an output row (c, oc) sums only
  contributions *to* oc, and ``dn`` counts oc's unpruned in-edges, so
  dropping the non-seed rows whose og id is matched equals skipping
  those children in the sweep.
"""

from __future__ import annotations

import functools
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .walks import _load_adjacency

_SCHEMA = "walk_id LONG, pg_id LONG, og_id LONG, score DOUBLE, seed BOOLEAN"
_CENT = Decimal("0.01")


@functools.lru_cache(maxsize=4)
def _in_degrees(adj_path: str) -> Counter:
    """og in-degrees (dn), derived once per sideload path per worker."""
    return Counter(c for ch in _load_adjacency(adj_path).values() for c in ch)


def _score(cents: int, k: int) -> float:
    """Spark's ``round(CAST(s AS DOUBLE) / k, 2)`` for a sum of `cents`."""
    return float(Decimal(repr(cents / 100 / k)).quantize(_CENT, ROUND_HALF_UP))


def walk_simrank_round(
    walk_nodes: DataFrame,
    matches: DataFrame | None,
    identity: DataFrame,
    pg_adj: str,
    og_adj: str,
) -> DataFrame:
    """One Jacobi sweep per walk subgraph, all walks at once.

    `walk_nodes`: (walk_id, id), the distinct visited nodes per walk.
    `identity`: (pg_id, og_id, score), the round-invariant 1.0 seeds.
    `pg_adj` / `og_adj`: child-map sideloads of the two graphs.
    Returns (walk_id, pg_id, og_id, score).

    Per walk: seeds are the visited identity pairs at 1.0, with the
    prior match as fallback for other parent pairs
    (`HelperFunction.scala:246-247`); ``dp`` is the in-degree inside
    the walk-induced subgraph, ``dn`` the og in-degree; children of pg
    nodes that are already matched get no contributions (G6). Zero
    scores are dropped and a seed wins over a computed score.
    """
    ident = identity.select(
        F.col("pg_id").alias("id"), F.col("og_id").alias("seed_og"),
        F.lit(True).alias("is_seed"),
    )
    rows = walk_nodes.join(ident, on="id", how="left")
    if matches is None:
        rows = rows.select("*", F.lit(0).cast("long").alias("m_og"), F.lit(0.0).alias("m_score"))
    else:
        rows = rows.join(
            matches.select(F.col("pg_id").alias("id"), F.col("og_id").alias("m_og"), F.col("score").alias("m_score")),
            on="id", how="left",
        )
    # a match score is never 0 (zero scores are dropped), so 0 means none
    rows = rows.fillna({"seed_og": 0, "is_seed": False, "m_og": 0, "m_score": 0.0})

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pg_ch, og_ch, dn = _load_adjacency(pg_adj), _load_adjacency(og_adj), _in_degrees(og_adj)
        ids = pdf["id"].tolist()
        visited = set(ids)
        seed = {(p, o) for p, o, s in zip(ids, pdf["seed_og"].tolist(), pdf["is_seed"].tolist()) if s}
        cents = dict.fromkeys(seed, 100)
        matched = set()
        for p, o, s in zip(ids, pdf["m_og"].tolist(), pdf["m_score"].tolist()):
            if s:
                cents.setdefault((p, o), round(s * 100))
                matched.add(p)
        # child lists keep multi-edges: each copy is one more parent
        dp = Counter(c for p in visited for c in pg_ch.get(p, ()) if c in visited)
        acc: dict[tuple[int, int], int] = defaultdict(int)
        for (p, o), s in cents.items():
            kids = [c for c in pg_ch.get(p, ()) if c in visited and c not in matched]
            if not kids:
                continue
            for oc in og_ch.get(o, ()):
                for c in kids:
                    acc[(c, oc)] += s
        out = [(c, oc, _score(s, dp[c] * dn[oc]), False) for (c, oc), s in acc.items() if (c, oc) not in seed]
        out = [r for r in out if r[2] != 0] + [(p, o, 1.0, True) for p, o in seed]
        res = pd.DataFrame(out, columns=["pg_id", "og_id", "score", "seed"])
        res.insert(0, "walk_id", pdf["walk_id"].iat[0])
        return res.astype({"walk_id": "int64", "pg_id": "int64", "og_id": "int64", "score": "float64", "seed": "bool"})

    scored = rows.groupBy("walk_id").applyInPandas(kernel, _SCHEMA)
    if matches is not None:
        taken = matches.select(F.col("og_id").alias("taken"))
        scored = scored.join(taken, (scored.og_id == taken.taken) & ~scored.seed, "left_anti")
    return scored.drop("seed")
