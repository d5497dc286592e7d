"""The MitM match loop in one Python task: every round's per-walk
SimRank, best match, valuable filter and max-merge.

Reference (`Main.scala:83-126`, `HelperFunction.scala:202-301`): per
batch of `itersBeforeAccum` walks, ``SimRankv_2`` scores each walk's
*induced subgraph* against the whole original graph,
`findBestNodeMatch` resolves each perturbed node's candidates, and the
valuable matches are max-merged into an accumulator.

:func:`match_rounds` is that loop as a pure function; round r holds the
walks with ``walk_id // iters_before_accum == r``, and per round:

* one Jacobi sweep per walk (:func:`walk_scores`): identity pairs seed
  at 1.0, the earlier rounds' match is the fallback for other parent
  pairs (`HelperFunction.scala:246-247`), ``dp`` is the in-degree
  inside the walk, ``dn`` the og in-degree; matched pg and og nodes
  receive nothing (G6), zero scores are dropped, a seed wins;
* G7: per pg node, the argmax over the round's candidates by (exact,
  tie score over `TIE_SCORE_ATTRS`, score, smallest og id);
* G8: the chosen og node must be valuable; G9: max-merge by (score,
  smallest og id).

Exactness: sums are integer cents (every input score is 1.0 or a prior
``round(·, 2)``, so ``cents / 100`` is the double a DECIMAL(28,6) sum
casts to), and :func:`_score` is Spark's HALF_UP ``round`` on that
double. "Exact" compares the full 10-field vertex tuples, the
reference's case-class equality (`HelperFunction.scala:221`), not
`model.vertex_fingerprint`: the sideload rows carry the fields anyway,
and tuple equality cannot collide as a 64-bit hash can.

:func:`match_walks` runs it as one `mapInArrow` task over the coalesced
visited sets, reading both graphs from their sideloads
(`walks.ensure_sideload`). That task holds both graphs' vertex rows
and child lists plus every walk's visited set. The per-round grouped
kernel it replaces already ran as one task on every benchmarked pair:
AQE coalesced its walk-keyed shuffle below 64 MB into one partition.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Iterable, Iterator
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
from pyspark.sql import DataFrame

from ..config import SimConfig
from ..model import TIE_SCORE_ATTRS, VERTEX_ATTRS
from .walks import _load_adjacency

_SCHEMA = "pg_id LONG, og_id LONG, score DOUBLE"
_ARROW = pa.schema([("pg_id", pa.int64()), ("og_id", pa.int64()), ("score", pa.float64())])
_CENT = Decimal("0.01")
_TIE = [VERTEX_ATTRS.index(a) for a in TIE_SCORE_ATTRS]
_VALUABLE = VERTEX_ATTRS.index("valuable_data")

Rows = dict[int, tuple]
Children = dict[int, list[int]]


def _score(cents: int, k: int) -> float:
    """Spark's ``round(CAST(s AS DOUBLE) / k, 2)`` for a sum of `cents`."""
    return float(Decimal(repr(cents / 100 / k)).quantize(_CENT, ROUND_HALF_UP))


def walk_scores(
    visited: Iterable[int],
    identity: dict[int, int],
    matches: dict[int, tuple[int, float]],
    taken: set[int],
    pg_ch: Children,
    og_ch: Children,
    dn: Counter,
) -> dict[tuple[int, int], float]:
    """One walk's sweep: {(pg_id, og_id): score}, seeds included.

    `identity`: pg id → its identical og id. `matches`: pg id → (og id,
    score) of earlier rounds, and `taken` their og ids. `dn`: og
    in-degrees. Child lists keep multi-edges: each copy is one more
    parent.
    """
    vset = set(visited)
    seed = {(p, identity[p]) for p in vset if p in identity}
    cents = dict.fromkeys(seed, 100)
    for p in vset:
        if p in matches:
            o, s = matches[p]
            cents.setdefault((p, o), round(s * 100))
    dp = Counter(c for p in vset for c in pg_ch.get(p, ()) if c in vset)
    acc: dict[tuple[int, int], int] = defaultdict(int)
    for (p, o), s in cents.items():
        kids = [c for c in pg_ch.get(p, ()) if c in vset and c not in matches]
        if not kids:
            continue
        for oc in og_ch.get(o, ()):
            if oc not in taken:
                for c in kids:
                    acc[(c, oc)] += s
    out = {k: _score(s, dp[k[0]] * dn[k[1]]) for k, s in acc.items() if k not in seed}
    return {k: v for k, v in out.items() if v != 0} | dict.fromkeys(seed, 1.0)


def match_rounds(
    walks: Iterable[tuple[int, Iterable[int]]],
    pg_rows: Rows,
    pg_ch: Children,
    og_rows: Rows,
    og_ch: Children,
    iters_before_accum: int,
) -> dict[int, tuple[int, float]]:
    """The final matches, pg id → (og id, score), of every round.

    `walks`: (walk_id, visited ids) per walk of every partition; round
    r holds the walks with ``walk_id // iters_before_accum == r``.
    `*_rows`: id → the vertex's `VERTEX_ATTRS` values; a candidate
    whose pg or og node has no row is dropped.
    """
    identity = {p: p for p, r in pg_rows.items() if og_rows.get(p) == r}
    valuable = {o for o, r in og_rows.items() if r[_VALUABLE]}
    dn = Counter(c for ch in og_ch.values() for c in ch)
    rounds: dict[int, list] = defaultdict(list)
    for walk_id, ids in walks:
        rounds[walk_id // iters_before_accum].append(ids)
    matches: dict[int, tuple[int, float]] = {}
    for r in sorted(rounds):
        taken = {o for o, _ in matches.values()}
        best: dict[int, tuple] = {}
        for ids in rounds[r]:
            for (p, o), s in walk_scores(ids, identity, matches, taken, pg_ch, og_ch, dn).items():
                pr, orow = pg_rows.get(p), og_rows.get(o)
                if pr is None or orow is None:
                    continue
                key = (identity.get(p) == o, sum(pr[i] == orow[i] for i in _TIE), s, -o)
                if p not in best or key > best[p]:
                    best[p] = key
        for p, (_, _, s, neg_o) in best.items():
            cur = matches.get(p)
            if -neg_o in valuable and (cur is None or (s, neg_o) > (cur[1], -cur[0])):
                matches[p] = (-neg_o, s)
    return matches


def _load_graph(path: str) -> tuple[Rows, Children]:
    """A sideload's vertex rows (ids with a vertex row only) and child
    lists."""
    import pyarrow.dataset as ds

    cols = ["id", *VERTEX_ATTRS]
    tbl = ds.dataset(path, format="parquet").to_table(columns=cols)
    rows = zip(*(tbl.column(c).to_pylist() for c in cols))
    return {r[0]: r[1:] for r in rows if r[1 + _VALUABLE] is not None}, _load_adjacency(path)


def match_walks(visited: DataFrame, pg_adj: str, og_adj: str, cfg: SimConfig) -> DataFrame:
    """(pg_id, og_id, score): :func:`match_rounds` over `visited`
    (partition_key, walk_id, visited array<long>), in one Python task
    that reads both graphs from their sideloads `pg_adj` / `og_adj`."""
    accum = cfg.iters_before_accum

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        walks = [
            w for b in batches
            for w in zip(b.column("walk_id").to_pylist(), b.column("visited").to_pylist())
        ]
        m = match_rounds(walks, *_load_graph(pg_adj), *_load_graph(og_adj), accum)
        cols = {"pg_id": list(m), "og_id": [o for o, _ in m.values()], "score": [s for _, s in m.values()]}
        yield pa.RecordBatch.from_pydict(cols, schema=_ARROW)

    return visited.coalesce(1).mapInArrow(kernel, _SCHEMA)
