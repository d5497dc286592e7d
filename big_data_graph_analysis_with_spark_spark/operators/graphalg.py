"""Whole-graph analytics: triangles, connected components, PageRank.

The reference's graph surface stops at walks/SimRank (Main.scala:52-214);
these are the GraphX-equivalent global analyses (SURVEY.md §2 row G12
territory) a graph-analysis engine is expected to ship. Each is pure
DataFrame algebra with integer-exact arithmetic so the DuckDB oracle
reproduces results bit-for-bit:

* **Triangles**: canonical undirected edges (a<b), two self-joins with
  the a<b<c ordering so each triangle is generated exactly once; counts
  are exact integers. The join-on-ordered-edges shape is the standard
  distributed formulation (each join key is a vertex id, AQE handles
  the high-degree skew; at 100 TB pre-partition edges by the join key).
* **Connected components**: min-label propagation to fixpoint — one
  join+groupBy per round, O(component diameter) rounds, every iterate
  localCheckpointed to keep lineage flat. Deterministic (min is
  order-independent). Shares its convergence skeleton with
  dedup.dup_groups; the graph variant adds isolated vertices as
  singleton components.
* **PageRank**: fixed-point integer arithmetic — scores are longs
  scaled by 1e12, every division is integer `div` (truncating; all
  operands non-negative, so identical in Spark and DuckDB's `//`).
  Floats would make the result partition-order-dependent and
  engine-divergent; the scaled-integer formulation is exact, so even a
  k-round unrolled SQL oracle hash-matches. Dangling-node mass is
  dropped (the simplified variant; documented, deterministic). Each
  round is one edge join + one aggregation — the canonical Pregel-free
  PageRank; at scale, co-partition pr and edges on src to make the
  join shuffle-free.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..model import NetGraph

#: PageRank fixed-point scale: scores are longs = pr · 1e12
PR_SCALE = 1_000_000_000_000
#: damping factor as an exact fraction (85/100)
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100

#: below this vertex count an iterative operator narrows the session's
#: shuffle width for the duration of its driver loop
_NARROW_THRESHOLD = 100_000
_NARROW_WIDTH = 8


#: thread-local narrowing state — scoped to THIS operator call on THIS
#: thread, never the session (round-10 verdict task 7: the previous
#: conf set/restore narrowed every concurrent query that planned while
#: an iterative operator's context was open)
_NARROW_LOCAL = threading.local()


@contextmanager
def _narrow_shuffle(graph: NetGraph, n_vertices: int | None = None):
    """Narrow the CHECKPOINT width of a driver round loop over a small
    graph (a stage-heavy fixpoint on a sub-100k-vertex frame pays more
    in task scheduling at full width than it gains in parallelism; AQE
    coalesces shuffle reads, but its `parallelismFirst` floor keeps them
    at ~defaultParallelism pieces, so checkpointed loop iterates would
    stay 32-wide and every subsequent round schedules 32 tasks per
    stage on frames of a few thousand rows).

    Scoping: this no longer touches `spark.sql.shuffle.partitions` —
    it arms a THREAD-LOCAL width that `_ckpt` (the loop-materialization
    helper every operator here routes through) applies as a
    `coalesce()` under each localCheckpoint. A concurrent query on the
    same session is untouched; results are unaffected, all operators
    here are partitioning-deterministic."""
    n = n_vertices if n_vertices is not None else graph.vertices.count()
    prev = getattr(_NARROW_LOCAL, "width", None)
    # Arm OR DISARM explicitly: a nested call on a ≥-threshold graph
    # inside an outer small-graph context must not inherit the outer
    # narrow width, or _ckpt would coalesce edge-sized iterates of the
    # big graph to _NARROW_WIDTH partitions (r11 advice). `prev` is
    # still restored in `finally`, so the outer context is unaffected.
    _NARROW_LOCAL.width = _NARROW_WIDTH if n < _NARROW_THRESHOLD else None
    try:
        yield n
    finally:
        _NARROW_LOCAL.width = prev


def _ckpt(df: DataFrame) -> DataFrame:
    """Materialize a shared frame EAGERLY: localCheckpoint, coalesced
    to the armed narrow width when a `_narrow_shuffle` context is open
    on this thread. The coalesce folds into the frame's final stage (no
    extra shuffle) and fixes the checkpointed RDD's partition count, so
    every later round reads/schedules `_NARROW_WIDTH` tasks instead of
    the session's full width. Use via ``.transform(_ckpt)`` to keep
    method chains.

    Eager is the right shape for frames consumed MORE THAN ONCE inside
    a single downstream job (self-joins, multi-branch summaries like
    `reciprocity`): a lazily-marked RDD first touched by two branches
    of one job can be computed per branch before the block lands. Loop
    iterates whose very next action is their own probe use
    `_ckpt_lazy` instead."""
    w = getattr(_NARROW_LOCAL, "width", None)
    return (df.coalesce(w) if w else df).localCheckpoint()


def _ckpt_lazy(df: DataFrame) -> DataFrame:
    """`_ckpt` for LOOP ITERATES: the checkpoint is lazy, so the
    round's own probe action (`_empty`, the convergence sum) — or, in
    probe-less fixed-iteration loops, the next round's single consumer
    — is the job that fills it. Each round then costs one driver
    action instead of an eager-checkpoint job plus the probe job; the
    logical plan is truncated to a LogicalRDD exactly as with `_ckpt`.
    Only safe where the first job that touches the frame references it
    once (loop iterates do; shared self-join frames do not — use
    `_ckpt`). (The temporary R12_CKPT_EAGER A/B knob is gone — r13:
    the paired measurement is done, lazy won, and an env knob read at
    import time silently ignored in-process toggling anyway.)"""
    w = getattr(_NARROW_LOCAL, "width", None)
    return (df.coalesce(w) if w else df).localCheckpoint(eager=False)


def _empty(df: DataFrame) -> bool:
    """Loop emptiness probe, paired with `_ckpt_lazy`: a FULL count
    materializes every partition of the lazily-checkpointed frame
    inside the probe job (a limit(1) take would compute a partition
    subset and leave the checkpoint fill to a follow-up job, recreating
    the two-job round). Frontier/iterate frames here are
    vertex-bounded, so the full count of a frame the round must
    materialize anyway is not extra work."""
    return df.count() == 0


def _narrowed(fn):
    """Decorator: run an iterative operator inside _narrow_shuffle —
    every driver-loop action in the body executes at the narrow width,
    and the returned frame is localCheckpoint-materialized INSIDE the
    context (several operators end on a lazy aggregation — closeness,
    path counts, betweenness; without the checkpoint that last stage
    would execute after the width is restored)."""
    import functools

    def _already_materialized(df: DataFrame) -> bool:
        # an EAGERLY localCheckpointed frame's logical plan is a
        # LogicalRDD scan over a checkpointed RDD, possibly under
        # Project/alias wrappers (an operator returning
        # checkpointed.select(...)) — re-checkpointing that shape would
        # just copy the materialized partitions again. A LAZILY-marked
        # frame (`_ckpt_lazy`) is ALSO a LogicalRDD but its RDD is not
        # yet checkpointed — `rdd.isCheckpointed()` distinguishes the
        # two (r12 advice: treating any LogicalRDD as materialized let
        # pagerank-family operators return unmaterialized lazy chains,
        # which a two-branch caller would recompute per branch).
        try:
            node = df._jdf.queryExecution().logical()
            while True:
                name = node.getClass().getSimpleName()
                if name == "LogicalRDD":
                    return bool(node.rdd().isCheckpointed())
                if name in ("Project", "SubqueryAlias") and (
                    node.children().size() == 1
                ):
                    node = node.children().head()
                    continue
                return False
        except Exception:
            return False

    @functools.wraps(fn)
    def wrapper(graph, *args, **kwargs):
        with _narrow_shuffle(graph):
            out = fn(graph, *args, **kwargs)
            if isinstance(out, DataFrame) and not _already_materialized(out):
                out = out.transform(_ckpt)
            return out

    return wrapper



def _sym_edges(und):
    """Both orientations of each canonical undirected edge as ONE
    exploded pass. The two-branch union this replaces re-executed the
    canonical distinct's final stage per branch (exchange reuse shares
    only the shuffle files) — measured 1.26s->1.09s warm / 2.2s->1.6s
    cold for a degree aggregation over the symmetrized set at sf0.1,
    identical multiset (r13, guide §7.2)."""
    e = F.explode(
        F.array(
            F.struct(F.col("a").alias("ea"), F.col("b").alias("eb")),
            F.struct(F.col("b").alias("ea"), F.col("a").alias("eb")),
        )
    ).alias("e")
    return und.select(e).select(
        F.col("e.ea").alias("a"), F.col("e.eb").alias("b")
    )


def _tri_edges(tri):
    """The three edge orientations of each ordered triangle (a<b<c) as
    one exploded pass: (a,b), (b,c), (a,c). The 3-way-union shape this
    replaces re-executed the triangle join's post-shuffle stage once
    per branch (exchange reuse shares only the shuffle files, not the
    join compute) — measured 2.1s->1.7s warm / 4.2s->2.8s cold for the
    support aggregation at sf0.1, identical rows (r13, guide §7.2).
    """
    e = F.explode(
        F.array(
            F.struct(F.col("a").alias("ea"), F.col("b").alias("eb")),
            F.struct(F.col("b").alias("ea"), F.col("c").alias("eb")),
            F.struct(F.col("a").alias("ea"), F.col("c").alias("eb")),
        )
    ).alias("e")
    return tri.select(e).select(
        F.col("e.ea").alias("a"), F.col("e.eb").alias("b")
    )


def undirected_edges(graph: NetGraph) -> DataFrame:
    """Canonical undirected edge set: (a, b) with a < b, self-loops
    dropped, duplicates (parallel / reciprocal edges) collapsed."""
    e = graph.edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    )
    return e.filter(F.col("a") != F.col("b")).distinct()


def triangle_counts(graph: NetGraph) -> DataFrame:
    """Per-vertex triangle participation: (id, n_triangles) over ALL
    vertices (0 for triangle-free ones).

    Triangles are enumerated once each via the ordered-edge join:
    e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c — the orientation makes
    every triangle appear exactly once, no /6 correction, no
    CartesianProduct. Each vertex of a triangle gets +1.
    """
    e = undirected_edges(graph)
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a"), F.col("b").alias("c"))
    tri = e1.join(e2, on="b").join(e3, on=["a", "c"])
    # one explode pass instead of a 3-way union of tri projections: the
    # union shape re-executes the triangle join's post-shuffle stage
    # once per branch (exchange reuse shares only the shuffle files) —
    # measured 2.1→1.7s warm at sf0.1, identical rows (r13, guide §7.2
    # duplicated subtrees)
    members = tri.select(
        F.explode(F.array("a", "b", "c")).alias("id")
    )
    counts = members.groupBy("id").agg(F.count("*").alias("n_triangles"))
    return (
        graph.vertices.select("id")
        .join(counts, on="id", how="left")
        .select(
            "id", F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles")
        )
    )


@_narrowed
def connected_components(
    graph: NetGraph,
    max_iters: int = 50,
    sym_edges: DataFrame | None = None,
) -> DataFrame:
    """(id, component_id): undirected connected components, labeled by
    the minimum vertex id of each component. Isolated vertices are their
    own singleton component.

    Min-label propagation: each round every vertex takes the min of its
    own label and its neighbors' labels; converges in O(diameter)
    rounds. One shuffle per round (join + groupBy on id); iterates are
    localCheckpointed so lineage stays flat over long chains.

    ``sym_edges`` optionally supplies the symmetric canonical edge list
    as a STABLE table scan — e.g. the b-bucketed catalog table written
    by `sources.parquet_graph.write_sym_edges` — used as-is instead of
    derived-and-checkpointed. Like `pagerank(edges_stable=True)`, a
    bucketed scan keeps its distribution metadata, so every round's
    b-keyed label join plans with NO Exchange on the (big) edge side;
    at scale the per-round edge shuffle is the iteration's whole cost.
    The caller owns the contract that `sym_edges` equals
    undirected ∪ flipped of `graph` (the writer guarantees it).
    """
    if sym_edges is not None:
        sym = sym_edges.select("a", "b")
    else:
        und = undirected_edges(graph)
        sym = _sym_edges(und).transform(_ckpt_lazy)
    labels = graph.vertices.select(
        "id", F.col("id").alias("component_id")
    ).transform(_ckpt_lazy)
    # convergence via the MONOTONE label sum: min-labels only ever
    # decrease, so an unchanged Σ ⇔ fixpoint — one scan aggregate per
    # round instead of an anti-join job (decimal accumulation so the
    # sum cannot overflow at any graph size)
    prev_sum = labels.agg(
        F.sum(F.col("component_id").cast("decimal(38,0)"))
    ).first()[0]
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels, on=sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component_id").alias("nbr"))
        )
        new_labels = (
            labels.join(nbr_min, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("component_id"), F.coalesce("nbr", F.col("component_id"))
                ).alias("component_id"),
            )
            .transform(_ckpt_lazy)
        )
        new_sum = new_labels.agg(
            F.sum(F.col("component_id").cast("decimal(38,0)"))
        ).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


@_narrowed
def pagerank(
    graph: NetGraph, iters: int = 4, edges_stable: bool = False
) -> DataFrame:
    """(id, pr_scaled): fixed-point PageRank after `iters` rounds.

    pr_scaled is the score × 1e12 as a long. Per round, each vertex v
    sends ``pr(v) div out_deg(v)`` along each out-edge; then
    ``pr'(u) = (15·SCALE div (100·N)) + (85·Σ_in contribs) div 100``.
    All integer ops (div = truncating integer division, operands
    non-negative) → bit-identical across engines and partitionings.
    Dangling mass is dropped, as in the classic simplified formulation;
    scores therefore sum to ≤ SCALE, which is fine for ranking use.

    ``edges_stable=True`` declares that ``graph.edges`` is already a
    materialized table scan (e.g. the src-bucketed catalog tables from
    sources/parquet_graph) — the edge list is then used as-is instead of
    localCheckpointed, which PRESERVES the scan's bucket distribution
    metadata so Catalyst elides the edge-side Exchange in every round's
    src-keyed join. At 100 TB that per-round edge shuffle is the
    dominant cost; bucketing the stored graph on src removes it
    entirely. (localCheckpoint would erase the metadata — an RDD scan
    has no outputPartitioning Catalyst can trust.) Leave False for
    derived edge frames, where re-executing lineage each round would
    outweigh the shuffle saving.
    """
    n = graph.vertices.count()
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    # loop-invariant: materialized once so the per-iteration join does
    # not re-run the edge aggregation (r12; pagerank_weighted already
    # checkpointed its weighted equivalent)
    outdeg = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    ).transform(_ckpt)
    pr = graph.vertices.select(
        "id", F.lit(PR_SCALE // n).cast("long").alias("pr_scaled")
    ).transform(_ckpt_lazy)
    edges = graph.edges.select("src", "dst")
    if not edges_stable:
        edges = edges.transform(_ckpt)
    for _it in range(iters):
        if _it and _it % 8 == 0:
            # flush the lazy-checkpoint chain every 8 rounds: one cheap
            # count materializes (and truncates) every marked iterate,
            # bounding physical-RDD lineage depth for large `iters`
            # (r12 advice); the default iters=4 stays action-free.
            pr.count()
        contribs = (
            pr.join(outdeg, on="id")
            .withColumn("c", F.expr("pr_scaled div out_deg"))
            .join(edges, on=F.col("id") == F.col("src"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            graph.vertices.select("id")
            .join(contribs, on="id", how="left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"(coalesce(s, 0L) * {PR_DAMP_NUM}) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("pr_scaled"),
            )
            .transform(_ckpt_lazy)
        )
    return pr


#: local-clustering-coefficient fixed-point scale (parts per million)
LCC_SCALE = 1_000_000


def clustering_coefficient(graph: NetGraph) -> DataFrame:
    """(id, degree, n_triangles, lcc_ppm): per-vertex local clustering
    coefficient over the canonical undirected graph, as an exact
    fixed-point integer — ``lcc_ppm = 2·tri·1e6 div (deg·(deg−1))``
    (0 for degree < 2).

    Builds on :func:`triangle_counts` (ordered-edge join, each triangle
    once) plus one degree aggregation; the integer ``div`` keeps the
    ratio bit-identical across engines, where a float division would be
    ulp-divergent. One extra shuffle over the triangle plan (degree
    groupBy on the same vertex key — co-partitioning the two aggregates
    on id makes the final join exchange-free at scale)."""
    und = undirected_edges(graph)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(graph)
    return (
        tri.join(deg, on="id", how="left")
        .select(
            "id",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            "n_triangles",
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                F.expr(f"(2 * n_triangles * {LCC_SCALE}) div (degree * (degree - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_ppm"),
        )
    )


@_narrowed
def label_propagation(
    graph: NetGraph, rounds: int = 3, sym_edges: DataFrame | None = None
) -> DataFrame:
    """(id, label): synchronous label propagation (community detection)
    after `rounds` rounds over the canonical undirected graph.

    Every vertex starts labeled with its own id; each round it adopts
    the most frequent label among its neighbors, ties broken by the
    smaller label (count DESC, label ASC — deterministic and
    order-independent, so a round-unrolled SQL oracle hash-matches).
    Isolated vertices keep their own label.

    Per round: one edge⋈label join + one (id,label) count + one
    row_number window partitioned by id — all shuffles on the vertex
    key, so co-partitioning edges on `a` (parquet_graph bucketing)
    leaves the count as the only Exchange. The synchronous variant is
    chosen over GraphX's semi-async exactly because it is
    deterministic.

    ``sym_edges`` optionally supplies the symmetric canonical edge
    list as a STABLE table scan (the b-bucketed catalog table from
    `sources.parquet_graph.write_sym_edges`) — exactly as in
    :func:`connected_components`: a bucketed scan keeps its
    distribution metadata, so every round's b-keyed label join plans
    with NO Exchange on the edge side."""
    from pyspark.sql import Window

    if sym_edges is not None:
        sym = sym_edges.select("a", "b")
    else:
        und = undirected_edges(graph)
        sym = _sym_edges(und).transform(_ckpt)
    labels = graph.vertices.select("id", F.col("id").alias("label")).transform(_ckpt)
    w = Window.partitionBy("a").orderBy(F.col("c").desc(), F.col("label").asc())
    for _ in range(rounds):
        counts = (
            sym.join(labels, on=sym.b == labels.id)
            .groupBy("a", "label")
            .agg(F.count("*").alias("c"))
        )
        mode = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("a").alias("id"), F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(mode, on="id", how="left")
            .select(
                "id", F.coalesce("new_label", F.col("label")).alias("label")
            )
            .transform(_ckpt)
        )
    return labels.select("id", F.col("label").cast("long").alias("label"))


def link_prediction(
    graph: NetGraph, k: int = 100, max_center_degree: int | None = 64
) -> DataFrame:
    """(a, b, common_neighbors, deg_product): top-`k` non-adjacent
    vertex pairs ranked by shared-neighbor count (the classic
    common-neighbors link-prediction score), with the
    preferential-attachment score (degree product) carried alongside.
    Both scores are exact integers; ranking ties break on (a, b) so the
    top-k cut is deterministic.

    Candidate pairs are generated only through shared neighbors (one
    self-join of the symmetric edge list on the middle vertex, a < b) —
    never all-pairs — so candidate volume is Σ_v deg(v)², the WEDGE
    count, not |V|². That sum is hub-dominated (measured on the sf0.1
    fixture: 383M wedges, 94% through vertices of degree > 64), so
    `max_center_degree` drops super-hubs from serving as the wedge
    CENTER before the join — the `dedup.max_shingle_df` lever; a
    common neighbor shared with half the graph carries no signal, which
    is why production link predictors (and Adamic-Adar's 1/log weight)
    discount hubs anyway. The cap changes which pairs are counted, so
    it is mirrored verbatim in the SQL oracle; pass None for the exact
    uncapped sum. Existing edges are removed with one anti-join."""
    und = undirected_edges(graph)
    sym = _sym_edges(und)
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("deg"))
    wedge_sym = sym
    if max_center_degree is not None:
        ok_center = deg.filter(F.col("deg") <= max_center_degree).select(
            F.col("id").alias("b")
        )
        wedge_sym = sym.join(ok_center, on="b", how="left_semi")
    left = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("u"))
    right = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("w"))
    cand = (
        left.join(right, on="v")
        .filter(F.col("u") < F.col("w"))
        .groupBy(F.col("u").alias("a"), F.col("w").alias("b"))
        .agg(F.count("*").alias("common_neighbors"))
        .join(und, on=["a", "b"], how="left_anti")
    )
    return (
        cand.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
        .select(
            "a",
            "b",
            F.col("common_neighbors").cast("long").alias("common_neighbors"),
            (F.col("da") * F.col("db")).cast("long").alias("deg_product"),
        )
        .orderBy(F.col("common_neighbors").desc(), "a", "b")
        .limit(k)
    )


@_narrowed
def ktruss_edges(graph: NetGraph, k: int = 4, rounds: int = 5) -> DataFrame:
    """(a, b): edges of the k-truss — the maximal subgraph where every
    edge is supported by ≥ k−2 triangles — after `rounds` peels. The
    denser, more selective sibling of the k-core (which only constrains
    degrees): trusses are the standard community-core primitive.

    Per round: enumerate triangles once via the ordered-edge join
    (a<b<c, as `triangle_counts`), fan each triangle out to its three
    edges, count per-edge support, drop edges under k−2, repeat on the
    shrunk edge set — cost contracts every round with the surviving
    edges. Early-exits at the fixpoint, so the round-unrolled SQL
    oracle (extra rounds are no-ops) names the same subgraph. All
    joins are vertex-keyed (AQE handles hub skew; bucketed storage
    co-partitions them).

    Iterates are EDGE-sized, so they follow the `kcore_census`
    persistence rule: persist(DISK_ONLY) + explicit unpersist of the
    consumed round, never localCheckpoint — measured at the 100×
    probe (60.3M undirected edges), the checkpointed variant finished
    its first call in 62s but left ~6 edge-sized iterates pinned in
    the storage region until the ASYNC ContextCleaner sweep, and the
    NEXT call on the same session crawled past 500s under GC-locker
    thrash; with disk persistence + deterministic release both calls
    run ≈60s (SCALING.md round-11 section).

    Triangle enumeration stays the ID-ordered join (a<b<c), NOT the
    textbook degree-ordered orientation: measured on the sf0.1 derived
    graph, ID order does 0.59M wedge lookups where lo-deg→hi-deg
    orientation would do 13.1M (22× more) — the entity-typed id layout
    makes hubs one-sided in ID order (a hub with an extremal id serves
    as wedge CENTER for ~0 ordered pairs), which beats the generic
    O(Σ outdeg²) bound this graph family never stresses.
    """
    from pyspark.storagelevel import StorageLevel

    edges = undirected_edges(graph).persist(StorageLevel.DISK_ONLY)
    prev_n = edges.count()
    for _ in range(rounds):
        e1 = edges.select("a", "b")
        e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
        e3 = edges.select("a", F.col("b").alias("c"))
        tri = e1.join(e2, on="b").join(e3, on=["a", "c"])
        support = _tri_edges(tri).groupBy("a", "b").agg(
            F.count("*").alias("s")
        )
        new_edges = (
            support.filter(F.col("s") >= k - 2)
            .select("a", "b")
            .persist(StorageLevel.DISK_ONLY)
        )
        n = new_edges.count()
        edges.unpersist()
        edges = new_edges
        if n == prev_n:
            break
        prev_n = n
    out = edges.select(
        F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
    ).transform(_ckpt)
    edges.unpersist()
    return out


@_narrowed
def hits_scores(
    graph: NetGraph, rounds: int = 2, edges_stable: bool = False
) -> DataFrame:
    """(id, hub, auth): HITS hub/authority scores after `rounds`
    UNNORMALIZED power-iteration rounds, as exact integers.

    Per round k: ``auth_k(v) = Σ_{(u,v)∈E} hub_{k-1}(u)`` then
    ``hub_k(v) = Σ_{(v,w)∈E} auth_k(w)`` — two edge joins + two
    aggregations, the mirror image of one PageRank round. The classic
    formulation L2-normalizes each round, which would force floats;
    dropping the normalization preserves the *ranking* exactly (it is
    a positive scalar per round) and keeps every value an exact
    integer, so the round-unrolled SQL oracle hash-matches. Magnitudes
    grow like (max degree)^{2·rounds} — at the default 2 rounds that
    is ≲ 10^12 on any graph whose max degree is ≲ 1000; rescale rounds
    or switch to decimal for extreme hubs.

    ``edges_stable=True`` (same contract as `pagerank`/`path_counts`)
    uses the edge frame as-is, preserving a src-bucketed scan's
    distribution metadata for the auth half of every round; the hub
    half joins on dst, where the per-round score side is vertex-sized
    and shuffles regardless."""
    edges = graph.edges.select("src", "dst")
    if not edges_stable:
        edges = edges.transform(_ckpt)
    hub = graph.vertices.select("id", F.lit(1).cast("long").alias("hub"))
    auth = None
    for _ in range(rounds):
        auth = (
            edges.join(hub, on=F.col("src") == F.col("id"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = (
            graph.vertices.select("id")
            .join(auth, on="id", how="left")
            .select("id", F.coalesce("auth", F.lit(0)).cast("long").alias("auth"))
            .transform(_ckpt)
        )
        hub = (
            edges.join(auth, on=F.col("dst") == F.col("id"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = (
            graph.vertices.select("id")
            .join(hub, on="id", how="left")
            .select("id", F.coalesce("hub", F.lit(0)).cast("long").alias("hub"))
            .transform(_ckpt)
        )
    return hub.join(auth, on="id").select("id", "hub", "auth")


def reciprocity(graph: NetGraph) -> DataFrame:
    """One summary row (n_directed, n_mutual, reciprocity_ppm): how
    much of the directed edge set is reciprocated. `n_directed` counts
    distinct non-loop directed edges, `n_mutual` counts the directed
    edges whose reverse also exists (so it is 2× the mutual pair
    count), and ``reciprocity_ppm = n_mutual·1e6 div n_directed`` —
    the standard reciprocity ratio in exact fixed point.

    One distinct + one self-semi-join on the flipped key + two tiny
    aggregations; the join key is (src, dst) so AQE handles hub skew."""
    e = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    mutual = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        on=["src", "dst"],
        how="left_semi",
    )
    return (
        e.agg(F.count("*").cast("long").alias("n_directed"))
        .crossJoin(mutual.agg(F.count("*").cast("long").alias("n_mutual")))
        .select(
            "n_directed",
            "n_mutual",
            F.expr(f"(n_mutual * {LCC_SCALE}) div n_directed")
            .cast("long")
            .alias("reciprocity_ppm"),
        )
    )


def assortativity_stats(graph: NetGraph) -> DataFrame:
    """One row of EXACT sufficient statistics for degree assortativity
    over the canonical undirected graph: (n_pairs, sum_x, sum_xy,
    sum_x2) where each undirected edge contributes both orientations
    (x = deg(endpoint), y = deg(other endpoint)) — the symmetric
    convention, under which Σx = Σy and Σx² = Σy². The Pearson r is
    computed by the CALLER in one scalar float step:
    r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²). Keeping the
    engine side integer-only makes the result bit-checkable; the one
    float division happens on four scalars, not on data.

    Cost: one degree aggregation + two broadcast-size joins keyed on
    the endpoints + one global fold."""
    und = undirected_edges(graph)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    sym = _sym_edges(und)
    pairs = (
        sym.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("x")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("y")), on="b")
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
    )


def degree_histogram(graph: NetGraph) -> DataFrame:
    """(degree, n_vertices): undirected degree distribution including
    the zero-degree bucket — the first summary a graph engine prints.
    Two aggregations (per-vertex degree, then per-degree count); the
    second groups on a tiny key space so its shuffle is negligible."""
    und = undirected_edges(graph)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        graph.vertices.select("id")
        .join(deg, on="id", how="left")
        .select(F.coalesce("degree", F.lit(0)).cast("long").alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_vertices"))
    )


@_narrowed
def bfs_distances(
    graph: NetGraph,
    source: int | None = None,
    max_iters: int = 64,
    edges_stable: bool = False,
) -> DataFrame:
    """(id, dist): directed single-source shortest hop counts from
    `source` (default: the minimum vertex id — deterministic and
    SQL-expressible). Unreached vertices are absent.

    Frontier BFS: each round joins the current frontier to the edge
    list and anti-joins the visited set — one shuffle per round,
    O(diameter) rounds, frontier-bounded traffic (never the whole
    graph). Iterates are lazily localCheckpointed so lineage stays
    flat; the per-round emptiness probe (`_empty`) is the job that
    materializes each frontier.

    ``edges_stable=True`` declares `graph.edges` is already a
    materialized table scan (e.g. the src-bucketed catalog tables from
    sources/parquet_graph) — used as-is, no distinct/localCheckpoint,
    preserving the scan's bucket metadata so every level's src-keyed
    frontier join plans with NO edge-side Exchange (duplicate edges
    are harmless: the frontier distincts after the join). Same contract
    as `pagerank(edges_stable=True)`.
    """
    if source is None:
        source = graph.vertices.agg(F.min("id")).first()[0]
    edges = graph.edges.select("src", "dst")
    if not edges_stable:
        edges = edges.distinct().transform(_ckpt_lazy)
    frontier = (
        graph.vertices.filter(F.col("id") == source)
        .select("id", F.lit(0).cast("long").alias("dist"))
        .transform(_ckpt)
    )
    visited = frontier
    for d in range(1, max_iters + 1):
        nxt = (
            edges.join(frontier, on=edges.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, on="id", how="left_anti")
            .select("id", F.lit(d).cast("long").alias("dist"))
            .transform(_ckpt_lazy)
        )
        if _empty(nxt):
            break
        # nxt is checkpointed; the cumulative set is a flat union of
        # checkpointed parts (re-checkpointing it copied O(reached)
        # rows per round — r12)
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


@_narrowed
def kcore_vertices(
    graph: NetGraph,
    k: int = 3,
    rounds: int = 16,
    sym_edges: DataFrame | None = None,
) -> DataFrame:
    """(id,): vertices of the (undirected) k-core after `rounds` peels —
    drop vertices with degree < k, restrict edges to survivors, repeat.
    The true k-core is the fixpoint; peeling converges in O(rounds of
    cascading deletions), and extra rounds are no-ops, so a fixed
    `rounds` matched by the round-unrolled SQL oracle checks the exact
    same object on both engines. One degree aggregation + one
    semi-join restriction per round, localCheckpointed; per-round
    traffic shrinks with the surviving edge set.

    ``sym_edges`` optionally supplies the symmetric canonical edge set
    as a stable table scan (`sources.parquet_graph.write_sym_edges`),
    used as-is instead of derived-and-checkpointed — the first (and
    heaviest) peel round's degree aggregation and semi-joins then run
    off the bucketed scan without re-deriving und ∪ flipped. Same
    contract as `connected_components(sym_edges=...)`."""
    if sym_edges is not None:
        active = sym_edges.select("a", "b")
    else:
        und = undirected_edges(graph)
        active = _sym_edges(und).transform(_ckpt_lazy)
    keep = None
    prev_edges = active.count()
    for _ in range(rounds):
        deg = active.groupBy("a").agg(F.count("*").alias("c"))
        keep = deg.filter(F.col("c") >= k).select(F.col("a").alias("id"))
        active = (
            active.join(keep.withColumnRenamed("id", "a"), on="a", how="left_semi")
            .join(keep.withColumnRenamed("id", "b"), on="b", how="left_semi")
            .select("a", "b")
            .transform(_ckpt_lazy)
        )
        n_edges = active.count()
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    if keep is None:  # rounds == 0: degree filter never applied
        keep = active.select(F.col("a").alias("id")).distinct()
    return keep.select(F.col("id").cast("long").alias("id"))


@_narrowed
def sssp_distances(
    graph: NetGraph,
    weight: "F.Column | None" = None,
    source: int | None = None,
    rounds: int = 10,
    edges_stable: bool = False,
) -> DataFrame:
    """(id, dist_scaled): weighted single-source shortest paths after
    `rounds` Bellman-Ford relaxations from `source` (default: minimum
    vertex id). `weight` is an integer Column over the edge table
    (default: the edge cost in exact milli-units, recomputed from its
    (src·7+dst) mod 1000 definition rather than the stored double —
    integer min/+ are bit-identical across engines, float addition
    chains are not). Unreached vertices are absent.

    One equi-join + one min-aggregation per round, localCheckpointed,
    early-exiting at the fixpoint (extra rounds are no-ops, so the
    round-unrolled oracle checks the same object). Per-round traffic is
    the current distance frontier joined to edges — Pregel's SSSP in
    DataFrame algebra.

    ``edges_stable=True`` declares `graph.edges` is already a
    materialized table scan (src-bucketed catalog tables) — the
    weighted projection stays a narrow map over the scan, preserving
    its bucket metadata so every relaxation round's src-keyed join
    plans with NO edge-side Exchange. Same contract as
    `pagerank(edges_stable=True)`.
    """
    if source is None:
        source = graph.vertices.agg(F.min("id")).first()[0]
    if weight is None:
        weight = (F.col("src") * 7 + F.col("dst")) % 1000
    wedges = graph.edges.select("src", "dst", weight.cast("long").alias("w"))
    if not edges_stable:
        wedges = wedges.transform(_ckpt_lazy)
    dist = (
        graph.vertices.filter(F.col("id") == source)
        .select("id", F.lit(0).cast("long").alias("d"))
        .transform(_ckpt_lazy)
    )
    # convergence via the monotone (reached-count, Σdist) pair:
    # distances only ever decrease pointwise and the reached set only
    # grows, so the pair is unchanged ⇔ fixpoint — one scan aggregate
    # per round instead of an anti-join job
    def _state(df):
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.col("d").cast("decimal(38,0)")).alias("s"),
        ).first()
        return (row["n"], row["s"])

    prev = _state(dist)
    for _ in range(rounds):
        relaxed = wedges.join(dist, on=wedges.src == dist.id).select(
            F.col("dst").alias("id"), (F.col("d") + F.col("w")).alias("d")
        )
        new_dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
            .transform(_ckpt_lazy)
        )
        cur = _state(new_dist)
        dist = new_dist
        if cur == prev:
            break
        prev = cur
    return dist.select("id", F.col("d").cast("long").alias("dist_scaled"))


@_narrowed
def personalized_pagerank(
    graph: NetGraph,
    source: int | None = None,
    iters: int = 4,
    edges_stable: bool = False,
) -> DataFrame:
    """(id, pr_scaled): personalized PageRank — the teleport mass
    returns to `source` (default: minimum vertex id) instead of
    spreading uniformly, so scores measure proximity to the source.
    Same fixed-point integer arithmetic, per-round cost and
    ``edges_stable`` contract as :func:`pagerank`; only the base
    vector changes."""
    if source is None:
        source = graph.vertices.agg(F.min("id")).first()[0]
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN
    base_col = (
        F.when(F.col("id") == source, F.lit(base)).otherwise(F.lit(0))
    ).cast("long")
    # loop-invariant: materialized once so the per-iteration join does
    # not re-run the edge aggregation (r12; pagerank_weighted already
    # checkpointed its weighted equivalent)
    outdeg = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg")
    ).transform(_ckpt)
    pr = graph.vertices.select(
        "id",
        F.when(F.col("id") == source, F.lit(PR_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pr_scaled"),
    ).transform(_ckpt_lazy)
    edges = graph.edges.select("src", "dst")
    if not edges_stable:
        edges = edges.transform(_ckpt)
    for _it in range(iters):
        if _it and _it % 8 == 0:
            # flush the lazy-checkpoint chain every 8 rounds: one cheap
            # count materializes (and truncates) every marked iterate,
            # bounding physical-RDD lineage depth for large `iters`
            # (r12 advice); the default iters=4 stays action-free.
            pr.count()
        contribs = (
            pr.join(outdeg, on="id")
            .withColumn("c", F.expr("pr_scaled div out_deg"))
            .join(edges, on=F.col("id") == F.col("src"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            graph.vertices.select("id")
            .join(contribs, on="id", how="left")
            .select(
                "id",
                (
                    base_col
                    + F.expr(
                        f"(coalesce(s, 0L) * {PR_DAMP_NUM}) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("pr_scaled"),
            )
            .transform(_ckpt_lazy)
        )
    return pr


def _bfs_sym(edges_sym: DataFrame, source: int, max_iters: int) -> DataFrame:
    """(id, dist) hop counts from `source` over a symmetric (a, b)
    edge DataFrame — the frontier loop of bfs_distances, factored so
    the double-sweep can run it twice without re-deriving edges."""
    spark = edges_sym.sparkSession
    frontier = spark.createDataFrame(
        [(source, 0)], "id long, dist long"
    ).transform(_ckpt_lazy)
    visited = frontier
    for d in range(1, max_iters + 1):
        nxt = (
            edges_sym.join(frontier, on=edges_sym.a == frontier.id)
            .select(F.col("b").alias("id"))
            .distinct()
            .join(visited, on="id", how="left_anti")
            .select("id", F.lit(d).cast("long").alias("dist"))
            .transform(_ckpt_lazy)
        )
        if _empty(nxt):
            break
        # nxt is checkpointed; the cumulative set is a flat union of
        # checkpointed parts (re-checkpointing it copied O(reached)
        # rows per round — r12)
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


@_narrowed
def diameter_double_sweep(
    graph: NetGraph,
    max_iters: int = 64,
    sym_edges: DataFrame | None = None,
) -> DataFrame:
    """One-row (seed, peak_id, ecc_seed, diameter_lb): the classic
    double-sweep diameter bound (Magnien, Latapy & Habib, JEA 2009)
    over the undirected graph — BFS from the minimum vertex id, hop to
    the farthest vertex found (ties → smallest id, so both engines
    pick the same peak), BFS again; the second eccentricity is a lower
    bound on the true diameter that is exact on trees and empirically
    tight on real graphs, at the cost of TWO BFS sweeps instead of the
    O(V) sweeps an exact diameter needs.

    Scale: inherits the frontier-BFS profile (one shuffle per round,
    frontier-bounded traffic); the only driver-side values are two
    scalar rows (the seed and the peak). ``sym_edges`` optionally
    supplies the symmetric edge set as a stable bucketed scan (same
    contract as `connected_components`), serving both sweeps without
    the derive-and-checkpoint."""
    if sym_edges is not None:
        sym = sym_edges.select("a", "b")
    else:
        und = undirected_edges(graph)
        sym = _sym_edges(und).transform(_ckpt_lazy)
    seed = graph.vertices.agg(F.min("id")).first()[0]
    d1 = _bfs_sym(sym, seed, max_iters)
    peak = d1.orderBy(F.col("dist").desc(), F.col("id").asc()).first()
    d2 = _bfs_sym(sym, peak["id"], max_iters)
    ecc2 = d2.agg(F.max("dist")).first()[0]
    spark = sym.sparkSession
    return spark.createDataFrame(
        [(seed, peak["id"], peak["dist"], ecc2)],
        "seed long, peak_id long, ecc_seed long, diameter_lb long",
    )


@_narrowed
def scc_components(
    graph: NetGraph,
    extra_edges: DataFrame | None = None,
    max_outer: int = 20,
    max_iters: int = 50,
) -> DataFrame:
    """(id, scc_id): strongly connected components of the DIRECTED
    graph, labeled by the MAXIMUM vertex id of each component.

    Trim + coloring, the standard distributed SCC decomposition (Orzan
    2004; FB-Trim of Slota, Rajamanickam & Madduri, IPDPS 2014) — the
    reference has no SCC (its graph surface stops at walks/SimRank,
    Main.scala:52-214); this is whole-graph analytics the engine is
    expected to ship alongside the undirected CC. Per outer round:

    1. **Trim**: peel vertices with zero in- or out-degree within the
       remaining subgraph — each is a singleton SCC (no cycle can pass
       through it). Iterated, this resolves the entire DAG part in
       O(longest path) rounds, which is what makes the pivot phase
       affordable (a bare coloring pass would need O(V) rounds on an
       ascending chain).
    2. **Color**: propagate the max vertex id forward to fixpoint —
       color(v) = max id that reaches v within the remainder.
    3. **Extract**: vertices where color == id are roots; a backward
       frontier sweep from all roots simultaneously, restricted to
       same-color edges, collects every v with v →* root(color(v)),
       i.e. exactly SCC(root) for every root at once. Assign, remove,
       repeat — each outer round removes every SCC whose root is not
       dominated by a not-yet-removed higher SCC.

    Everything is joins + aggregations, one shuffle per inner round,
    frontier-bounded backward sweeps, iterates localCheckpointed to
    keep lineage flat. Deterministic: max/min are order-independent,
    no floats. `extra_edges` (src, dst) lets callers augment the edge
    set (the oracle query adds a reversed-edge subset so the TPC-H
    derived DAG actually has nontrivial cycles to find).

    At scale: trim rounds touch only degree aggregations on the live
    subgraph; the coloring fixpoint is the same shape as
    connected_components and inherits its bucketed-edge story. If
    max_outer is exhausted (pathological SCC-chain graphs), leftovers
    are labeled by their own id and a count is logged — callers see a
    conservative over-decomposition, never a wrong merge.

    The three INNER loops (trim / coloring / backward sweep) always
    run to fixpoint: each is guaranteed to terminate (trim strictly
    shrinks the remainder, colors strictly increase on a finite
    lattice, the sweep's member set strictly grows), in O(longest
    internal path) rounds. `max_iters` is a soft visibility threshold,
    not a cap — exceeding it logs a warning (a >max_iters-hop SCC is
    worth knowing about) but iteration continues, so a directed cycle
    of length ≫ max_iters still resolves to ONE component instead of
    being silently split by a premature coloring stop.
    """
    import logging

    log = logging.getLogger(__name__)

    def _soft_cap(phase: str, n_rounds: int) -> None:
        if n_rounds == max_iters:
            log.warning(
                "scc_components: %s phase passed max_iters=%d rounds "
                "without converging; continuing to fixpoint "
                "(termination is guaranteed in O(longest path) rounds)",
                phase,
                max_iters,
            )

    edges = graph.edges.select("src", "dst")
    if extra_edges is not None:
        edges = edges.unionAll(extra_edges.select("src", "dst"))
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    rem = graph.vertices.select("id").transform(_ckpt_lazy)
    spark = graph.vertices.sparkSession
    # assignment accumulator: write-only until the final union — keep
    # the parts in a driver-side LIST of (checkpointed) frames instead
    # of union-and-checkpointing a growing table every trim round
    assigned_parts: list[DataFrame] = []

    def _restrict(e_df, rem_df):
        return (
            e_df.join(rem_df.select(F.col("id").alias("src")), on="src", how="semi")
            .join(rem_df.select(F.col("id").alias("dst")), on="dst", how="semi")
            .select("src", "dst")
            .transform(_ckpt)
        )

    for _ in range(max_outer):
        if _empty(rem):
            break
        # -- 1. trim singleton SCCs (in-deg 0 or out-deg 0 in the core).
        # One endpoint-role aggregation replaces the previous
        # two-distinct + two-semi-join shape (r12 guide §2.3/§2.4: one
        # map-side-combinable shuffle instead of two distinct
        # exchanges), and rem∖core / rem∩core come out of ONE
        # checkpointed flag frame instead of two anti-join
        # materializations — 2 jobs per trim round, down from 3.
        trim_round = 0
        while True:
            _soft_cap("trim", trim_round)
            trim_round += 1
            roles = (
                e.select(F.col("dst").alias("id"), F.lit(1).alias("i"), F.lit(0).alias("o"))
                .unionAll(
                    e.select(F.col("src").alias("id"), F.lit(0).alias("i"), F.lit(1).alias("o"))
                )
                .groupBy("id")
                .agg(F.max("i").alias("has_in"), F.max("o").alias("has_out"))
                .filter((F.col("has_in") == 1) & (F.col("has_out") == 1))
                .select("id", F.lit(True).alias("_core"))
            )
            flagged = rem.join(roles, on="id", how="left").transform(_ckpt_lazy)
            trivial = flagged.filter(F.col("_core").isNull()).select("id")
            if _empty(trivial):
                break
            assigned_parts.append(
                trivial.select("id", F.col("id").alias("scc_id"))
            )
            rem = flagged.filter(F.col("_core").isNotNull()).select("id")
            e = _restrict(e, rem)
        if _empty(rem):
            break
        # -- 2. forward max-color fixpoint. Convergence is detected by
        # the MONOTONE color sum: colors only ever increase, so an
        # unchanged Σcolor ⇔ no vertex changed ⇔ fixpoint — one scan
        # aggregate per round instead of an anti-join job.
        color = rem.select("id", F.col("id").alias("color")).transform(_ckpt_lazy)
        prev_sum = color.agg(F.sum(F.col("color").cast("decimal(38,0)"))).first()[0]
        color_round = 0
        while True:
            _soft_cap("coloring", color_round)
            color_round += 1
            prop = (
                e.join(
                    color.select(F.col("id").alias("src"), "color"), on="src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max("color").alias("nbr"))
            )
            newc = (
                color.join(prop, on="id", how="left")
                .select(
                    "id",
                    F.greatest(
                        F.col("color"), F.coalesce("nbr", F.col("color"))
                    ).alias("color"),
                )
                .transform(_ckpt_lazy)
            )
            new_sum = newc.agg(F.sum(F.col("color").cast("decimal(38,0)"))).first()[0]
            color = newc
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        # -- 3. backward sweep from roots over same-color edges
        ce = (
            e.join(
                color.select(F.col("id").alias("src"), F.col("color").alias("c")),
                on="src",
            )
            .join(
                color.select(
                    F.col("id").alias("dst"), F.col("color").alias("c_dst")
                ),
                on="dst",
            )
            .filter(F.col("c") == F.col("c_dst"))
            .select("src", "dst", "c")
            .transform(_ckpt_lazy)
        )
        # members accumulates as a UNION OF CHECKPOINTED PARTS — every
        # part (roots, then each round's preds) is already
        # materialized, so re-checkpointing the growing union each
        # round would copy O(|SCC|) rows per round for nothing (r12:
        # the anti-join probe reads the flat union just as well;
        # lineage depth is the union fan-in, bounded by sweep rounds).
        # roots is referenced TWICE by the first sweep job (as members
        # in the anti-join and as the frontier) — eager `_ckpt`, per
        # `_ckpt_lazy`'s own referenced-once rule (r12 advice)
        roots = (
            color.filter(F.col("id") == F.col("color"))
            .select("id", F.col("color").alias("scc_id"))
            .transform(_ckpt)
        )
        member_parts = [roots]
        members = roots
        frontier = roots
        sweep_round = 0
        while True:
            _soft_cap("backward sweep", sweep_round)
            sweep_round += 1
            preds = (
                ce.join(
                    frontier.select(F.col("id").alias("dst"), "scc_id"),
                    on="dst",
                )
                .filter(F.col("c") == F.col("scc_id"))
                .select(F.col("src").alias("id"), "scc_id")
                .distinct()
                .join(members, on="id", how="left_anti")
                .transform(_ckpt_lazy)
            )
            if _empty(preds):
                break
            member_parts.append(preds)
            members = members.unionAll(preds)
            frontier = preds
        assigned_parts.extend(member_parts)
        rem = rem.join(members, on="id", how="left_anti").transform(_ckpt)
        e = _restrict(e, rem)
    leftover = rem.count()
    if leftover:
        logging.getLogger(__name__).warning(
            "scc_components: max_outer=%d exhausted with %d vertices "
            "unresolved; labeling them as singletons (conservative "
            "over-decomposition)",
            max_outer,
            leftover,
        )
        assigned_parts.append(rem.select("id", F.col("id").alias("scc_id")))
    assigned = spark.createDataFrame([], "id long, scc_id long")
    for part in assigned_parts:
        assigned = assigned.unionAll(part)
    return assigned.select(
        F.col("id").cast("long").alias("id"),
        F.col("scc_id").cast("long").alias("scc_id"),
    )


@_narrowed
def maximal_independent_set(graph: NetGraph, rounds: int = 6) -> DataFrame:
    """(id, mis_round): a maximal independent set of the canonical
    undirected graph via Luby's algorithm (Luby, SICOMP 1986) with
    DETERMINISTIC seeded priorities — `mis_round` is the round (1-based)
    in which the vertex entered the set.

    Per round, over the still-undecided subgraph: a vertex joins the
    MIS iff its priority tuple (hash56(id), id) is strictly smaller
    than every undecided neighbor's (the id tiebreak makes the order
    total, so ties cannot stall a round); winners' neighbors are
    knocked out. Isolated undecided vertices always win. Expected
    O(log V) rounds; a FIXED round count keeps the result a pure
    function of the edge set, so the DuckDB oracle unrolls the same
    rounds and hash-matches — on the oracle fixture the set is fully
    maximal well before the default 6 rounds (asserted in tests).

    Each round is one edge-pair join + one anti-join + one neighbor
    semi-join — all on vertex-id keys, no collect, priorities computed
    in-plan from the cross-engine MD5 hash (functions/hashing.py).
    At scale this is the textbook distributed MIS; bucketing edges by
    src co-locates every round's joins.
    """
    from ..functions.hashing import hash56

    und = undirected_edges(graph)
    sym = _sym_edges(und).transform(_ckpt)
    rem = graph.vertices.select(
        "id", hash56(F.col("id").cast("string")).alias("pri")
    ).transform(_ckpt_lazy)
    spark = graph.vertices.sparkSession
    # winners are checkpointed per round; the cumulative MIS is a flat
    # union of those parts (re-checkpointing the union each round
    # copied the whole set per round for nothing — r12)
    mis_parts: list[DataFrame] = []
    for r in range(1, rounds + 1):
        if _empty(rem):
            break
        pairs = (
            sym.join(
                rem.select(F.col("id").alias("a"), F.col("pri").alias("pri_a")),
                on="a",
            )
            .join(
                rem.select(F.col("id").alias("b"), F.col("pri").alias("pri_b")),
                on="b",
            )
        )
        blocked = (
            pairs.filter(
                (F.col("pri_b") < F.col("pri_a"))
                | ((F.col("pri_b") == F.col("pri_a")) & (F.col("b") < F.col("a")))
            )
            .select(F.col("a").alias("id"))
            .distinct()
        )
        winners = rem.join(blocked, on="id", how="left_anti").transform(_ckpt)
        mis_parts.append(
            winners.select("id", F.lit(r).cast("long").alias("mis_round"))
        )
        knocked = (
            sym.join(winners.select(F.col("id").alias("a")), on="a", how="semi")
            .select(F.col("b").alias("id"))
            .distinct()
        )
        rem = (
            rem.join(winners, on="id", how="left_anti")
            .join(knocked, on="id", how="left_anti")
            .transform(_ckpt_lazy)
        )
    mis = spark.createDataFrame([], "id long, mis_round long")
    for part in mis_parts:
        mis = mis.unionAll(part)
    return mis.select(
        F.col("id").cast("long").alias("id"),
        F.col("mis_round").cast("long").alias("mis_round"),
    )


@_narrowed
def closeness_sampled(
    graph: NetGraph,
    n_seeds: int = 4,
    max_iters: int = 64,
    sym_edges: DataFrame | None = None,
) -> DataFrame:
    """(id, n_reached, sum_dist, harmonic_ppm): sampled closeness /
    harmonic centrality over the undirected graph — exact BFS from the
    `n_seeds` SMALLEST vertex ids (deterministic, SQL-expressible seed
    set), aggregated per vertex: how many seeds reach it, the total
    hop distance, and Σ 1e6 div dist (the harmonic form, robust to
    disconnected pairs). Eppstein & Wang (SODA 2001) show O(log n / ε²)
    seeds estimate closeness within ε·diameter — the standard scale
    substitute for all-pairs BFS.

    Seeds-by-min-id keeps the oracle a fixed union of recursive CTEs;
    swap in `hash_sample` seeding for production estimates. All seeds
    advance as ONE multi-source frontier BFS keyed by (seed, id) —
    n_seeds× frontier traffic but a single O(diameter) round loop and
    one edge scan per round, instead of n_seeds sequential sweeps.
    Division appears only as the integer `1e6 div dist`, so results
    hash-match across engines.

    ``sym_edges`` optionally supplies the symmetric canonical edge
    list as a STABLE table scan (same contract as
    `connected_components(sym_edges=...)`: the b-bucketed catalog
    table from `sources.parquet_graph.write_sym_edges`) — used as-is
    instead of derived-and-checkpointed, so the per-level frontier
    join plans with NO Exchange on the (big) edge side: the frontier
    probes on `b` (the bucket key; the table is symmetric, so
    neighbors-of-id via the b side ≡ via the a side) and only the
    small frontier shuffles into the bucket distribution. At 100 TB
    the per-level edge shuffle is the sweep's whole cost.
    """
    if sym_edges is not None:
        sym = sym_edges.select("a", "b")
    else:
        und = undirected_edges(graph)
        sym = _sym_edges(und).transform(_ckpt_lazy)
    spark = graph.vertices.sparkSession
    seeds = [
        int(r["id"])
        for r in graph.vertices.select("id").orderBy("id").limit(n_seeds).collect()
    ]
    frontier = spark.createDataFrame(
        [(s, s, 0) for s in seeds], "seed long, id long, dist long"
    ).transform(_ckpt_lazy)
    visited = frontier

    for d in range(1, max_iters + 1):
        nxt = (
            sym.join(frontier, on=sym.b == frontier.id)
            .select("seed", F.col("a").alias("id"))
            .distinct()
            .join(visited, on=["seed", "id"], how="left_anti")
            .select("seed", "id", F.lit(d).cast("long").alias("dist"))
            .transform(_ckpt_lazy)
        )
        if _empty(nxt):
            break
        # nxt is checkpointed; the cumulative set is a flat union of
        # checkpointed parts (re-checkpointing it copied O(reached)
        # rows per round — r12). Two-levels-per-checkpoint was
        # prototyped here and measured SLOWER (6.1→8.5s warm at
        # sf0.1): the chained level re-executes the first level's
        # subtree (exchange reuse does not cover the anti-join) and
        # the two levels serialize anyway — r12, do not re-try.
        visited = visited.unionAll(nxt)
        frontier = nxt
    return (
        visited.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.sum(F.expr("1000000 div dist")).cast("long").alias("harmonic_ppm"),
        )
    )


@_narrowed
def path_counts(
    graph: NetGraph,
    source: int | None = None,
    levels: int = 16,
    edges_stable: bool = False,
) -> DataFrame:
    """(id, dist, n_paths): number of DISTINCT shortest paths from
    `source` (default: minimum vertex id) to every reached vertex of
    the directed graph — the σ (sigma) forward phase of Brandes'
    betweenness algorithm (J. Math. Sociol. 2001), useful on its own
    for path-redundancy / bottleneck analysis: a cut vertex has
    n_paths=1 flowing through it, a well-connected pair has many.

    Level-synchronous: the BFS frontier at depth d carries each
    vertex's path count; σ(v, d+1) = Σ σ(u, d) over frontier
    predecessors u — one join + one aggregation per level, all exact
    integers (no floats, no recursion tricks), so a level-unrolled SQL
    twin reproduces it bit-for-bit. `levels` bounds the sweep
    (vertices farther than `levels` hops are absent, same convention
    as bfs_distances' max_iters).

    Scale: identical shuffle profile to frontier BFS — traffic ∝
    frontier × in-degree, rounds ∝ diameter; counts can reach C(n, k)
    magnitudes on dense DAG-like graphs, so σ stays a long and callers
    working on adversarial graphs should cap levels accordingly.

    ``edges_stable=True`` declares `graph.edges` is already a
    materialized table scan (e.g. the src-bucketed catalog tables from
    sources/parquet_graph) — the edge frame is then used without
    localCheckpoint, preserving the scan's bucket metadata so every
    level's src-keyed join plans with no edge-side Exchange (the
    `distinct` is kept: HashPartitioning(src) satisfies the
    (src, dst) clustering, so it adds no shuffle on a bucketed scan).
    Same contract as `pagerank(edges_stable=True)`.
    """
    if source is None:
        source = graph.vertices.agg(F.min("id")).first()[0]
    edges = graph.edges.select("src", "dst").distinct()
    if not edges_stable:
        edges = edges.transform(_ckpt_lazy)
    frontier = (
        graph.vertices.filter(F.col("id") == source)
        .select(
            "id",
            F.lit(0).cast("long").alias("dist"),
            F.lit(1).cast("long").alias("n_paths"),
        )
        .transform(_ckpt)
    )
    visited = frontier
    for d in range(1, levels + 1):
        nxt = (
            edges.join(
                frontier.select(F.col("id").alias("src"), "n_paths"), on="src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("n_paths").alias("n_paths"))
            .join(visited.select("id"), on="id", how="left_anti")
            .select("id", F.lit(d).cast("long").alias("dist"), "n_paths")
            .transform(_ckpt_lazy)
        )
        if _empty(nxt):
            break
        # nxt is checkpointed; the cumulative set is a flat union of
        # checkpointed parts (re-checkpointing it copied O(reached)
        # rows per round — r12)
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited


@_narrowed
def betweenness_sampled(
    graph: NetGraph,
    n_seeds: int = 4,
    levels: int = 16,
    edges_stable: bool = False,
) -> DataFrame:
    """(id, betweenness): approximate betweenness centrality over the
    DIRECTED graph — full Brandes (2001) pair-dependency accumulation
    from the `n_seeds` smallest vertex ids (the Brandes–Pich 2007
    sampled estimator, deterministic seed set as in closeness_sampled).

    Two level-synchronous phases, both multi-source keyed by
    (seed, id): the forward σ sweep (see `path_counts`), then the
    backward dependency recurrence
    ``δ(v) = Σ_{w : succ} σ(v)/σ(w) · (1 + δ(w))`` descending one BFS
    level per round — each round is one edge join + one aggregation;
    total rounds ≈ 2·eccentricity, traffic ∝ frontier. Betweenness of
    v is Σ_seeds δ(v) over non-seed rows. δ is a float ratio sum
    (inherent to the recurrence), so this operator is property-tested
    (hand-computed Brandes on known graphs, determinism) rather than
    hash-oracled — the σ phase that feeds it IS oracle-checked via
    `path_counts`.

    At scale: seeds share every edge scan; the level tables are the
    same frontier partitions the BFS produced, so co-partitioning
    edges by src serves both phases. ``edges_stable=True`` (same
    contract as `path_counts`) keeps the src-bucketed scan's
    distribution metadata, eliding the edge-side Exchange in every
    forward level; the backward phase joins edges on `dst` with a
    one-level frontier, which AQE broadcast-converts, so the bucketed
    scan stays unshuffled there too.
    """
    edges = graph.edges.select("src", "dst").distinct()
    if not edges_stable:
        edges = edges.transform(_ckpt_lazy)
    spark = graph.vertices.sparkSession
    seeds = [
        int(r["id"])
        for r in graph.vertices.select("id").orderBy("id").limit(n_seeds).collect()
    ]
    frontier = spark.createDataFrame(
        [(s, s, 0, 1) for s in seeds],
        "seed long, id long, dist long, n_paths long",
    ).transform(_ckpt_lazy)
    visited = frontier
    level_of = {0: frontier}
    max_d = 0
    for d in range(1, levels + 1):
        nxt = (
            edges.join(
                frontier.select("seed", F.col("id").alias("src"), "n_paths"),
                on="src",
            )
            .groupBy("seed", F.col("dst").alias("id"))
            .agg(F.sum("n_paths").alias("n_paths"))
            .join(visited.select("seed", "id"), on=["seed", "id"], how="left_anti")
            .select("seed", "id", F.lit(d).cast("long").alias("dist"), "n_paths")
            .transform(_ckpt_lazy)
        )
        if _empty(nxt):
            break
        max_d = d
        level_of[d] = nxt
        # nxt is checkpointed; the cumulative set is a flat union of
        # checkpointed parts (re-checkpointing it copied O(reached)
        # rows per round — r12)
        visited = visited.unionAll(nxt)
        frontier = nxt
    # backward accumulation, one level at a time. Each round touches
    # ONLY the two adjacent level slices (the frames the forward sweep
    # already materialized), never the whole visited table — rewriting
    # the full (seed, id, dist, delta) frame per round, as a naive
    # formulation does, costs O(|visited|) per level instead of
    # O(|level|) and dominates the suite's wall time.
    # delta at the deepest level is 0 (no successors)
    delta_levels = [
        level_of[max_d].select("seed", "id", F.lit(0.0).alias("delta"))
    ]
    for d in range(max_d - 1, -1, -1):
        succ = delta_levels[-1].select(
            "seed",
            F.col("id").alias("dst"),
            F.col("delta").alias("delta_w"),
        )
        sig_w = level_of[d + 1].select(
            "seed", F.col("id").alias("dst"), F.col("n_paths").alias("sig_w")
        )
        contrib = (
            edges.join(succ, on="dst")
            .join(sig_w, on=["seed", "dst"])
            .join(
                level_of[d].select(
                    "seed", F.col("id").alias("src"), F.col("n_paths").alias("sig_v")
                ),
                on=["seed", "src"],
            )
            .groupBy("seed", F.col("src").alias("id"))
            .agg(
                F.sum(
                    F.col("sig_v").cast("double")
                    / F.col("sig_w").cast("double")
                    * (F.lit(1.0) + F.col("delta_w"))
                ).alias("dsum")
            )
        )
        delta_levels.append(
            level_of[d]
            .select("seed", "id")
            .join(contrib, on=["seed", "id"], how="left")
            .select("seed", "id", F.coalesce("dsum", F.lit(0.0)).alias("delta"))
            .transform(_ckpt)
        )
    # delta_levels[-1] is level 0 (the seeds themselves) — excluded,
    # matching the dist > 0 convention of Brandes' accumulation
    non_seed = delta_levels[:-1]
    if not non_seed:
        return spark.createDataFrame([], "id long, betweenness double")
    out = non_seed[0]
    for lv in non_seed[1:]:
        out = out.unionAll(lv)
    return out.groupBy("id").agg(F.sum("delta").alias("betweenness"))


@_narrowed
def pagerank_weighted(graph: NetGraph, iters: int = 4) -> DataFrame:
    """(id, pr_scaled): cost-weighted fixed-point PageRank — the
    random surfer follows each out-edge with probability proportional
    to its integer milli-cost weight (the reference's `Action.cost`
    payload, NetGraphComponent.scala:11, finally participating in an
    analysis instead of riding along).

    w(e) = round(cost·1000) + 1 — costs are exact multiples of 1/1000
    in the derived graph, so the round is exact in both engines, and
    the +1 keeps zero-cost edges reachable. Per round each vertex
    sends ``pr·w div W(v)`` along each edge (W(v) = Σ out-weights);
    the damping update is the same all-integer arithmetic as
    `pagerank`, so the k-round-unrolled SQL oracle hash-matches.
    pr·w ≤ 1e12·1000 stays far inside long range.

    Same shuffle profile as unweighted PageRank (one edge join + one
    aggregation per round) — the weight column rides the existing
    shuffle; parallel edges each carry their own weight.
    """
    n = graph.vertices.count()
    base = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    edges = graph.edges.select(
        "src",
        "dst",
        (F.round(F.col("cost") * 1000).cast("long") + 1).alias("w"),
    ).transform(_ckpt)
    # loop-invariant like pagerank's outdeg: materialized once so the
    # per-iteration join does not re-aggregate the weight sums (r12)
    wsum = edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("wtot")
    ).transform(_ckpt)
    pr = graph.vertices.select(
        "id", F.lit(PR_SCALE // n).cast("long").alias("pr_scaled")
    ).transform(_ckpt_lazy)
    for _it in range(iters):
        if _it and _it % 8 == 0:
            # lineage flush every 8 rounds — see pagerank (r12 advice)
            pr.count()
        contribs = (
            pr.join(wsum, on="id")
            .join(edges, on=F.col("id") == F.col("src"))
            .withColumn("c", F.expr("(pr_scaled * w) div wtot"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            graph.vertices.select("id")
            .join(contribs, on="id", how="left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"(coalesce(s, 0L) * {PR_DAMP_NUM}) div {PR_DAMP_DEN}"
                    )
                ).cast("long").alias("pr_scaled"),
            )
            .transform(_ckpt_lazy)
        )
    return pr


def motif_counts(graph: NetGraph) -> DataFrame:
    """One row (n_ffl, n_cycle3, n_mutual, n_directed): the directed
    3-node / 2-node motif census — feed-forward loops (a→b→c with
    shortcut a→c), directed 3-cycles (a→b→c→a), mutual pairs, and the
    distinct directed edge count. The FFL/cycle ratio is the classic
    network-type signature (Milo et al., Science 2002) that the
    undirected triangle count cannot see.

    Enumeration is exactly-once by canonical anchoring: FFLs are
    anchored on their unique (source a, sink c) role assignment, so no
    symmetry correction is needed; 3-cycles are rotation-invariant, so
    the join requires a = min(a,b,c) — each cycle counted once. Two
    self-joins on vertex-id keys over the deduplicated edge list, the
    same Σdeg² wedge shape as triangle counting (AQE absorbs hub skew;
    at scale pre-bucket edges by src).
    """
    e = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = ab.join(bc, on="b").filter(F.col("a") != F.col("c"))
    ac = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    ffl = wedges.join(ac, on=["a", "c"]).count()
    ca = e.select(F.col("src").alias("c"), F.col("dst").alias("a"))
    cyc = (
        wedges.join(ca, on=["c", "a"])
        .filter((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
        .count()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = e.join(rev, on=["src", "dst"]).filter(F.col("src") < F.col("dst")).count()
    spark = graph.vertices.sparkSession
    return spark.createDataFrame(
        [(ffl, cyc, mutual, e.count())],
        "n_ffl long, n_cycle3 long, n_mutual long, n_directed long",
    )


def condensation_edges(
    graph: NetGraph, extra_edges: DataFrame | None = None, **scc_kwargs
) -> DataFrame:
    """(src_scc, dst_scc): the condensation DAG — every strongly
    connected component contracted to one vertex (labeled by its max
    member id, as in scc_components), keeping each inter-component
    edge once and dropping intra-component ones. The result is always
    acyclic; it is the graph coarsening that makes dependency-order
    processing (topological batches, reachability caching) tractable
    on a cyclic input.

    Cost on top of SCC: two label joins on the edge endpoints + one
    distinct — all keyed on vertex/component ids.
    """
    labels = scc_components(graph, extra_edges=extra_edges, **scc_kwargs)
    edges = graph.edges.select("src", "dst")
    if extra_edges is not None:
        edges = edges.unionAll(extra_edges.select("src", "dst"))
    return (
        edges.join(
            labels.select(F.col("id").alias("src"), F.col("scc_id").alias("src_scc")),
            on="src",
        )
        .join(
            labels.select(F.col("id").alias("dst"), F.col("scc_id").alias("dst_scc")),
            on="dst",
        )
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )


def neighborhood_features(graph: NetGraph) -> DataFrame:
    """(id, out_deg, n_valuable_nbrs, sum_nbr_value, n_2hop): the
    message-passing feature layer — per vertex, aggregates over its
    out-neighborhood (degree, how many neighbors hold valuable data,
    exact decimal sum of their stored_value) plus the DISTINCT 2-hop
    out-reach count. These are the handcrafted structural features a
    tabular model (or a GNN baseline) trains on before anyone reaches
    for learned embeddings.

    One edge⋈vertex join + groupBy for the 1-hop aggregates; the 2-hop
    count is one more self-join with a distinct on (id, hop2) —
    the Σdeg² wedge shape, bucketable on src at scale. Decimal sums
    keep the float feature engine-reproducible. Vertices with no
    out-edges appear with zeros (left join at the end).
    """
    e = graph.edges.select("src", "dst").distinct().transform(_ckpt)
    nbr_attrs = e.join(
        graph.vertices.select(
            F.col("id").alias("dst"),
            F.col("valuable_data"),
            F.col("stored_value").cast("decimal(18,6)").alias("sv"),
        ),
        on="dst",
    )
    one_hop = nbr_attrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("out_deg"),
        F.sum(F.col("valuable_data").cast("long")).cast("long").alias(
            "n_valuable_nbrs"
        ),
        F.sum("sv").cast("double").alias("sum_nbr_value"),
    )
    two_hop = (
        e.join(
            e.select(F.col("src").alias("dst"), F.col("dst").alias("hop2")),
            on="dst",
        )
        .select("src", "hop2")
        .distinct()
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("n_2hop"))
    )
    return (
        graph.vertices.select("id")
        .join(one_hop, on="id", how="left")
        .join(two_hop, on="id", how="left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("n_valuable_nbrs", F.lit(0))
            .cast("long")
            .alias("n_valuable_nbrs"),
            F.coalesce("sum_nbr_value", F.lit(0.0)).alias("sum_nbr_value"),
            F.coalesce("n_2hop", F.lit(0)).cast("long").alias("n_2hop"),
        )
    )


def hub_attack_robustness(graph: NetGraph, n_remove: int = 10) -> DataFrame:
    """One row (n_removed, n_vertices_left, n_components,
    largest_component): connectivity of the undirected graph after
    deleting the `n_remove` highest-degree vertices (ties → smaller
    id, so the removed set is deterministic) — the targeted-attack
    robustness probe (Albert, Jeong & Barabási, Nature 2000). For a
    MitM surface: how much of the network stays mutually reachable
    when the best-connected nodes are compromised and quarantined.

    Degree top-k is a TakeOrderedAndProject (per-partition heaps);
    removal is two anti joins; the remainder reuses the
    connected_components fixpoint. Only the 4-field summary ever
    reaches the driver.
    """
    und = undirected_edges(graph)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    hubs = (
        deg.orderBy(F.desc("d"), F.asc("id"))
        .limit(n_remove)
        .select("id")
        .transform(_ckpt)
    )
    vleft = graph.vertices.select("id").join(hubs, on="id", how="left_anti")
    eleft = graph.edges.join(
        hubs.select(F.col("id").alias("src")), on="src", how="left_anti"
    ).join(hubs.select(F.col("id").alias("dst")), on="dst", how="left_anti")
    cc = connected_components(NetGraph(vleft, eleft.select("src", "dst")))
    sizes = cc.groupBy("component_id").agg(F.count("*").alias("n"))
    summary = sizes.agg(
        F.count("*").cast("long").alias("n_components"),
        F.max("n").cast("long").alias("largest_component"),
        F.sum("n").cast("long").alias("n_vertices_left"),
    )
    return summary.select(
        F.lit(int(n_remove)).cast("long").alias("n_removed"),
        "n_vertices_left",
        "n_components",
        "largest_component",
    )


def neighbor_jaccard(
    graph: NetGraph, max_center_degree: int | None = 64
) -> DataFrame:
    """(a, b, n_common, jaccard_ppm): per-EDGE neighborhood overlap —
    for every canonical undirected edge (a < b), the Jaccard similarity
    of the two endpoints' neighbor sets as an exact ppm integer
    (``common·1e6 div (deg(a)+deg(b)−common)``, inclusion–exclusion on
    the union). The classic tie-strength / community-edge signal:
    bridge edges score near 0, intra-community edges high — the edge
    filter Jaccard-graph clustering (e.g. Rosvall-style sparsification)
    runs on.

    Candidates come only from the wedge join (common neighbor as the
    middle vertex), restricted to actual edges by an inner join with
    the edge list — never all-pairs. `max_center_degree` applies the
    same hub-center cap as :func:`link_prediction` (Σ deg² is
    hub-dominated; the cap changes counts and is mirrored verbatim in
    the SQL oracle; None = exact). Edges whose endpoints share no
    (counted) neighbor get n_common = 0 via the left join — every edge
    appears exactly once.
    """
    und = undirected_edges(graph)
    sym = _sym_edges(und)
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("deg"))
    wedge_sym = sym
    if max_center_degree is not None:
        ok_center = deg.filter(F.col("deg") <= max_center_degree).select(
            F.col("id").alias("b")
        )
        wedge_sym = sym.join(ok_center, on="b", how="left_semi")
    left = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("u"))
    right = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("w"))
    common = (
        left.join(right, on="v")
        .filter(F.col("u") < F.col("w"))
        .groupBy(F.col("u").alias("a"), F.col("w").alias("b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        und.join(common, on=["a", "b"], how="left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("n_common * 1000000 div (da + db - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


#: resource-allocation fixed-point scale (1/deg in parts per billion)
RA_SCALE = 1_000_000_000


def resource_allocation_scores(
    graph: NetGraph, k: int = 100, max_center_degree: int | None = 64
) -> DataFrame:
    """(a, b, ra_ppb, common_neighbors): top-`k` non-adjacent pairs by
    the resource-allocation link-prediction index (Zhou, Lü &
    Zhang 2009) — ``Σ_z 1/deg(z)`` over common neighbors z — in exact
    parts-per-billion integers (``Σ 1e9 div deg(z)``), so ranking is
    bit-identical across engines where the float formulation would be
    sum-order-dependent. RA is the hub-discounting refinement of
    common-neighbors (a shared hub contributes ~nothing, a shared
    degree-2 node half a unit); Adamic-Adar's 1/log(deg) needs floats,
    RA's 1/deg doesn't — which is why RA is the fixed-point choice.

    Same wedge-join candidate generation, `max_center_degree` hub cap
    (mirrored in the oracle), existing-edge anti-join, and
    deterministic (score DESC, a, b) top-k cut as
    :func:`link_prediction`; the only change is the per-wedge payload:
    the center's ``1e9 div deg`` rides the wedge row and sums per pair.
    """
    und = undirected_edges(graph)
    sym = _sym_edges(und)
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("deg"))
    wedge_sym = sym.join(
        deg.select(F.col("id").alias("b"), "deg"), on="b"
    )
    if max_center_degree is not None:
        wedge_sym = wedge_sym.filter(F.col("deg") <= max_center_degree)
    wedge_sym = wedge_sym.withColumn("w_ppb", F.expr(f"{RA_SCALE} div deg"))
    left = wedge_sym.select(
        F.col("b").alias("v"), F.col("a").alias("u"), "w_ppb"
    )
    right = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("w"))
    cand = (
        left.join(right, on="v")
        .filter(F.col("u") < F.col("w"))
        .groupBy(F.col("u").alias("a"), F.col("w").alias("b"))
        .agg(
            F.sum("w_ppb").cast("long").alias("ra_ppb"),
            F.count("*").cast("long").alias("common_neighbors"),
        )
        .join(und, on=["a", "b"], how="left_anti")
    )
    return cand.orderBy(F.col("ra_ppb").desc(), "a", "b").limit(k)


def two_hop_reach(graph: NetGraph) -> DataFrame:
    """(id, n_reach_2): per vertex, the number of DISTINCT vertices
    reachable in one or two directed hops, excluding the vertex itself
    — the 2-hop neighborhood size that drives sampling fan-out budgets
    (GraphSAGE-style) and influence/coverage estimates. Vertices with
    no out-edges report 0.

    One self-join of the (distinct) edge list on the middle vertex +
    one distinct-count per source — candidate volume is the 2-path
    count Σ_v in(v)·out(v), never |V|². At 100 TB run it over the
    src-bucketed edge table so the e1.dst = e2.src join co-locates.
    """
    e = graph.edges.select("src", "dst").distinct()
    two = e.alias("e1").join(
        e.alias("e2"), on=F.col("e1.dst") == F.col("e2.src")
    ).select(F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst"))
    reach = (
        e.unionAll(two)
        .filter(F.col("src") != F.col("dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.countDistinct("dst").cast("long").alias("n_reach_2"))
    )
    return (
        graph.vertices.select("id")
        .join(reach, on="id", how="left")
        .select("id", F.coalesce("n_reach_2", F.lit(0)).cast("long").alias("n_reach_2"))
    )


def component_size_histogram(
    graph: NetGraph, max_iters: int = 50, sym_edges: DataFrame | None = None
) -> DataFrame:
    """(component_size, n_components): the connectivity fingerprint —
    how many connected components exist at each size, built on
    :func:`connected_components` (same `sym_edges` stable-scan option)
    with two more tiny aggregations (labels → sizes → histogram).
    The giant-component check ("is 99% of the graph one blob?") and the
    singleton count fall straight out of this one relation.
    """
    cc = connected_components(graph, max_iters=max_iters, sym_edges=sym_edges)
    sizes = cc.groupBy("component_id").agg(F.count("*").alias("n"))
    return sizes.groupBy(F.col("n").cast("long").alias("component_size")).agg(
        F.count("*").cast("long").alias("n_components")
    )


def degree_clustering_profile(graph: NetGraph) -> DataFrame:
    """(degree_bits, n_vertices, sum_triangles, sum_lcc_ppm,
    mean_lcc_ppm): the local-clustering-coefficient profile by
    power-of-two degree bucket — the classic "does clustering decay
    with degree" curve (hierarchical networks show C(k) ~ 1/k) that
    summarizes :func:`clustering_coefficient` into a dimension-sized
    frame a dashboard can plot.

    The bucket key is the degree's BIT LENGTH (characters in its
    binary representation: 0→1, 1→1 … wait 0 and 1 share '0'/'1' at
    length 1; 2-3→2, 4-7→3, …) computed with base conversion —
    `length(conv(degree, 10, 2))` here, `length(bin(degree))` in the
    oracle — pure integer/string ops that agree cross-engine where a
    float log2 would be ulp-hazardous. The mean is Σ lcc_ppm div n
    (integer division of exact ppm integers), not a float average.

    Cost on top of the per-vertex LCC plan: one aggregation whose
    grouping key has ≤ 64 values — the shuffle carries a handful of
    rows per upstream partition (partial aggregation collapses each
    partition to its ≤64 bucket rows map-side).
    """
    lcc = clustering_coefficient(graph)
    bucket = F.length(F.conv(F.col("degree").cast("string"), 10, 2)).cast(
        "long"
    )
    return (
        lcc.groupBy(bucket.alias("degree_bits"))
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.sum("n_triangles").cast("long").alias("sum_triangles"),
            F.sum("lcc_ppm").cast("long").alias("sum_lcc_ppm"),
        )
        .select(
            "degree_bits",
            "n_vertices",
            "sum_triangles",
            "sum_lcc_ppm",
            F.expr("sum_lcc_ppm div n_vertices").cast("long").alias(
                "mean_lcc_ppm"
            ),
        )
    )


def rich_club_profile(
    graph: NetGraph, thresholds: tuple[int, ...] = (1, 2, 4, 8, 16, 32)
) -> DataFrame:
    """(k, n_nodes, n_edges, density_ppm): the rich-club curve — for
    each degree threshold `k`, the subgraph induced by vertices of
    degree > k: how many such vertices, how many (canonical
    undirected) edges connect them, and the edge density as exact ppm
    `2·E·1e6 div (n·(n−1))` (0 when n < 2). A rising curve exposes a
    densely interlinked hub elite ("rich club"), a classic resilience /
    influence diagnostic.

    One degree aggregation + one edge×degree join tag each edge with
    min(deg_a, deg_b); the per-threshold rollup then explodes a
    ≤|thresholds| literal array — the fact-sized work happens once,
    never per threshold. All counts and the density are integers, so
    the DuckDB oracle hash-matches exactly.
    """
    und = undirected_edges(graph)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    ks = F.array(*[F.lit(int(k)) for k in thresholds])
    node_counts = (
        deg.select(F.explode(ks).alias("k"), "degree")
        .filter(F.col("degree") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    tagged = (
        und.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("db")), on="b")
        .select(F.least("da", "db").alias("min_deg"))
    )
    edge_counts = (
        tagged.select(F.explode(ks).alias("k"), "min_deg")
        .filter(F.col("min_deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    return (
        node_counts.join(edge_counts, on="k", how="left")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_nodes",
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.when(
                F.col("n_nodes") >= 2,
                F.expr(
                    "(2 * coalesce(n_edges, 0) * 1000000)"
                    " div (n_nodes * (n_nodes - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("density_ppm"),
        )
    )


def joint_degree_profile(graph: NetGraph) -> DataFrame:
    """(bits_lo, bits_hi, n_edges): the joint degree histogram — every
    canonical undirected edge bucketed by the BIT LENGTHS of its two
    endpoint degrees (lo ≤ hi) — the assortativity heatmap behind the
    single-number assortativity coefficient: hub–hub vs hub–leaf
    wiring is visible per cell.

    Same bit-length bucket convention as degree_clustering_profile
    (`length(conv(deg, 10, 2))` ≡ DuckDB `length(bin(deg))`). One
    degree aggregation, two dimension-broadcast joins to tag edges,
    and a ≤64² rollup with map-side combine.
    """
    und = undirected_edges(graph)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )

    def _bits(col):
        return F.length(F.conv(col.cast("string"), 10, 2)).cast("long")

    tagged = (
        und.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("da")), on="a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("db")), on="b")
        .select(
            F.least(_bits(F.col("da")), _bits(F.col("db"))).alias("bits_lo"),
            F.greatest(_bits(F.col("da")), _bits(F.col("db"))).alias("bits_hi"),
        )
    )
    return tagged.groupBy("bits_lo", "bits_hi").agg(
        F.count("*").cast("long").alias("n_edges")
    )


def edge_support_histogram(graph: NetGraph) -> DataFrame:
    """(support, n_edges): distribution of per-edge triangle support —
    how many undirected edges participate in exactly `support`
    triangles (support 0 included) — the embeddedness profile that
    tells a truss/community pass what k is worth asking for before
    paying for the peel (the census `ktruss_edges` implicitly takes
    every round, exposed once as its own frame).

    One ordered-edge triangle enumeration (a<b<c, the same join shape
    as `triangle_counts`/`ktruss_edges`), each triangle fanned out to
    its three edges, one count per edge, then a left join back to the
    canonical edge set so triangle-free edges land in the support-0
    bucket, and a final histogram over the |distinct supports|-sized
    frame. All joins are vertex-keyed (AQE splits hub skew; bucketed
    edge storage co-partitions them) and every aggregate is map-side
    combined — no step ever holds more than the edge set.
    """
    und = undirected_edges(graph)
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select("a", F.col("b").alias("c"))
    tri = und.join(e2, on="b").join(e3, on=["a", "c"])
    support = _tri_edges(tri).groupBy("a", "b").agg(
        F.count("*").alias("s")
    )
    per_edge = und.join(support, on=["a", "b"], how="left").select(
        F.coalesce(F.col("s"), F.lit(0)).cast("long").alias("support")
    )
    return per_edge.groupBy("support").agg(
        F.count("*").cast("long").alias("n_edges")
    )


def common_neighbor_histogram(
    graph: NetGraph, max_center_degree: int | None = 64
) -> DataFrame:
    """(is_edge, n_common, n_pairs): joint distribution of common-
    neighbor counts over all vertex pairs with at least one shared
    neighbor, split by whether the pair is itself an edge — the
    link-prediction calibration table (how separable are edges from
    non-edges on the common-neighbor score?) and, via
    ``Σ C(n_common, 2) / 2`` over both strata, the graph's 4-cycle
    census (each 4-cycle has exactly two diagonal pairs).

    Candidates come from the same wedge join as
    :func:`neighbor_jaccard` — every pair (u, w) sharing a counted
    center v — with the identical `max_center_degree` hub cap
    (Σ deg² over wedge centers is hub-dominated at scale; the cap is
    mirrored verbatim in the SQL oracle; None = exact). The edge flag
    is a left join against the canonical edge set on the already-
    aggregated pair frame; the final histogram is two integer columns
    over a |distinct counts|·2-sized frame. The heavy shuffle moves
    (center, endpoint) longs only — never adjacency lists.
    """
    und = undirected_edges(graph)
    sym = _sym_edges(und)
    wedge_sym = sym
    if max_center_degree is not None:
        deg = sym.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("deg"))
        ok_center = deg.filter(F.col("deg") <= max_center_degree).select(
            F.col("id").alias("b")
        )
        wedge_sym = sym.join(ok_center, on="b", how="left_semi")
    left = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("u"))
    right = wedge_sym.select(F.col("b").alias("v"), F.col("a").alias("w"))
    pairs = (
        left.join(right, on="v")
        .filter(F.col("u") < F.col("w"))
        .groupBy(F.col("u").alias("a"), F.col("w").alias("b"))
        .agg(F.count("*").alias("n_common"))
    )
    flagged = pairs.join(
        und.withColumn("e", F.lit(1)), on=["a", "b"], how="left"
    ).select(
        F.col("e").isNotNull().alias("is_edge"),
        F.col("n_common").cast("long").alias("n_common"),
    )
    return flagged.groupBy("is_edge", "n_common").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def global_transitivity(graph: NetGraph) -> DataFrame:
    """1-row (n_vertices, n_edges, wedges, closed_wedges): the global
    clustering summary — transitivity is ``closed_wedges / wedges``
    (consumers divide; both counts stay exact BIGINTs so the frame is
    hash-stable cross-engine). ``closed_wedges`` is 3 × the triangle
    total (every triangle closes its three wedges); ``wedges`` is
    Σ C(deg, 2) over undirected degrees. The one-number health check a
    clustering / community pass reads before paying for per-vertex
    `triangle_counts` (reference census scope: Main.scala graph stats;
    this aggregate is the standard Newman global coefficient).

    Cost: the ordered-edge triangle join (same shape as
    `triangle_counts`, counted not materialized), one degree
    aggregation, and three 1-row aggregates combined with broadcast
    cross joins (benign 1-row nested loops — the plan-audit
    convention). No step holds more than the edge list; at 100 TB the
    triangle join rides the same bucketed edge scan as the census ops.
    """
    und = undirected_edges(graph)
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select("a", F.col("b").alias("c"))
    n_tri = und.join(e2, on="b").join(e3, on=["a", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    sym = _sym_edges(und)
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) DIV 2")).alias("wedges")
    )
    sizes = graph.vertices.select("id").agg(F.count("*").alias("n_vertices"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    return (
        sizes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            F.col("n_vertices").cast("long").alias("n_vertices"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.coalesce(F.col("wedges"), F.lit(0)).cast("long").alias("wedges"),
            (F.col("n_triangles") * 3).cast("long").alias("closed_wedges"),
        )
    )


def edge_quality_census(graph: NetGraph) -> DataFrame:
    """1-row (n_raw, n_self_loops, n_dup_directed, n_reciprocal_pairs,
    n_undirected): the ingest data-quality audit of a raw edge list —
    how many rows the scan delivered, how many are self-loops, how many
    are exact directed duplicates beyond the first, how many distinct
    undirected pairs carry BOTH directions, and the canonical
    undirected edge count every census operator downstream will see.
    Run this before trusting any graph metric: a doubled loader or a
    symmetrized dump shows up here, not in pagerank.

    One distinct over directed pairs and one (a, b)-keyed direction
    count — both map-side combined; the five totals are 1-row
    aggregates stitched with broadcast cross joins (the plan-audit
    benign nested-loop convention). Nothing ever holds more than the
    edge list, and the only shuffled payload is two longs per row.
    """
    e = graph.edges.select("src", "dst")
    n_raw = e.agg(F.count("*").alias("n_raw"))
    loops = e.agg(
        F.sum((F.col("src") == F.col("dst")).cast("long")).alias("n_self_loops")
    )
    dd = e.distinct()
    n_dup = dd.agg(F.count("*").alias("n_distinct_directed"))
    # direction count per canonical non-loop pair: 2 = reciprocal
    dirs = (
        dd.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(F.count("*").alias("n_dir"))
    )
    und = dirs.agg(
        F.count("*").alias("n_undirected"),
        F.sum((F.col("n_dir") == 2).cast("long")).alias("n_reciprocal_pairs"),
    )
    return (
        n_raw.crossJoin(F.broadcast(loops))
        .crossJoin(F.broadcast(n_dup))
        .crossJoin(F.broadcast(und))
        .select(
            F.col("n_raw").cast("long").alias("n_raw"),
            F.coalesce(F.col("n_self_loops"), F.lit(0))
            .cast("long")
            .alias("n_self_loops"),
            (F.col("n_raw") - F.col("n_distinct_directed"))
            .cast("long")
            .alias("n_dup_directed"),
            F.coalesce(F.col("n_reciprocal_pairs"), F.lit(0))
            .cast("long")
            .alias("n_reciprocal_pairs"),
            F.coalesce(F.col("n_undirected"), F.lit(0))
            .cast("long")
            .alias("n_undirected"),
        )
    )


def edge_block_census(
    graph: NetGraph, boundaries: list[tuple[str, int]], default: str = "other"
) -> DataFrame:
    """(src_class, dst_class, n_edges): the block structure of a graph
    whose vertex classes live in disjoint id ranges — edges counted by
    (source class, destination class) cell, the stochastic-block-model
    census that says which layers actually talk to each other (and the
    FK-sanity check for derived graphs: a customer→nation edge here
    means the loader wired a foreign key backwards).

    ``boundaries`` is [(label, upper_bound), ...] ascending: a vertex
    with id < upper_bound gets the first matching label, else
    ``default``. Classification is a chained CASE — pure codegen'd
    expression on the edge scan, no vertex join — and the single
    aggregation is map-side combined on a ≤|classes|² key.
    """

    def cls(col: str):
        expr = F.lit(default)
        for label, ub in reversed(boundaries):
            expr = F.when(F.col(col) < ub, F.lit(label)).otherwise(expr)
        return expr

    return (
        graph.edges.select(
            cls("src").alias("src_class"), cls("dst").alias("dst_class")
        )
        .groupBy("src_class", "dst_class")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )


def component_density_profile(
    graph: NetGraph, max_iters: int = 50, sym_edges: DataFrame | None = None
) -> DataFrame:
    """(size_bits, n_components, n_vertices, n_internal_edges): the
    density view of the connectivity fingerprint — components bucketed
    by the BIT LENGTH of their vertex count (the shared conv/bin
    convention), with total vertices and total internal undirected
    edges per bucket. Read against ``C(size, 2)`` it says whether the
    small components are cliques (near-complete: merged entities) or
    threads (near-tree: chains) — the census
    :func:`component_size_histogram` can't distinguish.

    One :func:`connected_components` run (same `sym_edges` stable-scan
    option), then the canonical edge set binds each edge to its
    component through ONE endpoint label join (a's component = b's by
    definition of a component), and two bounded aggregations roll
    labels and edges into the ≤64-bucket frame.
    """
    cc = connected_components(graph, max_iters=max_iters, sym_edges=sym_edges)
    sizes = cc.groupBy("component_id").agg(F.count("*").alias("size"))
    e_lab = undirected_edges(graph).join(
        cc.select(F.col("id").alias("a"), "component_id"), on="a"
    )
    e_cnt = e_lab.groupBy("component_id").agg(F.count("*").alias("n_e"))
    per_comp = sizes.join(e_cnt, on="component_id", how="left").select(
        "size", F.coalesce("n_e", F.lit(0)).alias("n_e")
    )
    return per_comp.groupBy(
        F.length(F.conv(F.col("size"), 10, 2)).cast("long").alias("size_bits")
    ).agg(
        F.count("*").cast("long").alias("n_components"),
        F.sum("size").cast("long").alias("n_vertices"),
        F.sum("n_e").cast("long").alias("n_internal_edges"),
    )


def perturbation_census(og: NetGraph, pg: NetGraph) -> DataFrame:
    """1-row (n_vertices_og, n_vertices_pg, n_removed, n_added,
    n_modified, n_edges_og, n_edges_pg, n_edges_removed,
    n_edges_added): the original-vs-perturbed diff totals — exactly
    the golden-YAML taxonomy the reference's pipeline consumes
    (NetGameSim nodes modified/removed/added; reference scope:
    Main.scala's graph-pair ingest), exposed as one auditable frame.
    The ground-truth sanity check a matching run reads FIRST: if the
    census disagrees with the perturbation config, the match-quality
    stats downstream are meaningless.

    Vertex and edge diffs are two full outer joins on id / (src, dst)
    — co-located when both graphs share id-bucketed storage — each
    collapsing directly into 1-row aggregates; `n_modified` compares
    the one attribute the perturbation taxonomy rewrites (props),
    NULL-safe. Broadcast cross joins stitch the two rows (plan-audit
    benign 1-row nested loop).
    """
    ov = og.vertices.select("id", F.col("props").alias("p_og"))
    pv = pg.vertices.select("id", F.col("props").alias("p_pg"))
    vdiff = ov.join(pv, on="id", how="full_outer").agg(
        F.sum(F.col("p_og").isNotNull().cast("long")).alias("n_vertices_og"),
        F.sum(F.col("p_pg").isNotNull().cast("long")).alias("n_vertices_pg"),
        F.sum(
            (F.col("p_og").isNotNull() & F.col("p_pg").isNull()).cast("long")
        ).alias("n_removed"),
        F.sum(
            (F.col("p_og").isNull() & F.col("p_pg").isNotNull()).cast("long")
        ).alias("n_added"),
        F.sum(
            (
                F.col("p_og").isNotNull()
                & F.col("p_pg").isNotNull()
                & (F.col("p_og") != F.col("p_pg"))
            ).cast("long")
        ).alias("n_modified"),
    )
    oe = og.edges.select("src", "dst").distinct().withColumn("in_og", F.lit(1))
    pe = pg.edges.select("src", "dst").distinct().withColumn("in_pg", F.lit(1))
    ediff = oe.join(pe, on=["src", "dst"], how="full_outer").agg(
        F.sum(F.coalesce("in_og", F.lit(0))).alias("n_edges_og"),
        F.sum(F.coalesce("in_pg", F.lit(0))).alias("n_edges_pg"),
        F.sum(
            (F.col("in_og").isNotNull() & F.col("in_pg").isNull()).cast("long")
        ).alias("n_edges_removed"),
        F.sum(
            (F.col("in_og").isNull() & F.col("in_pg").isNotNull()).cast("long")
        ).alias("n_edges_added"),
    )
    return vdiff.crossJoin(F.broadcast(ediff)).select(
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in [
                "n_vertices_og", "n_vertices_pg", "n_removed", "n_added",
                "n_modified", "n_edges_og", "n_edges_pg",
                "n_edges_removed", "n_edges_added",
            ]
        ]
    )


def local_bridge_census(og: NetGraph, pg: NetGraph) -> DataFrame:
    """(graph, n_edges, n_local_bridges): per derived graph, how many
    undirected edges are LOCAL BRIDGES — edges whose endpoints share no
    common neighbor (span > 2, Easley–Kleinberg), so deleting one
    stretches its endpoints apart instead of being absorbed by a
    triangle. The structural-weakness census that complements
    `edge_support_hist` (support counts triangles PER edge; this counts
    the zero-support stratum across graphs, the k-truss frontier).

    Cost shape: an edge has a common neighbor iff it sits in ≥ 1
    triangle, so closure comes from the ORDERED triangle join
    (e1=(a,b), e2=(b,c), e3=(a,c), a<b<c — the `triangle_counts`
    shape), never from a per-edge wedge probe: the first cut of this
    operator joined each edge to its endpoint's full adjacency, a
    Σ deg² hub term that measured 52s at sf0.1 against 7.6s at sf0.01
    (≈ quadratic in the nation-hub degree — exactly the blowup the
    100× probe exists to catch). The ordered join's heavy side is the
    standard edge-iterator bound instead, and each found triangle
    emits its three edge orientations; a distinct + anti-join yields
    the zero-triangle stratum. Two 1-row aggregates per graph close it
    out; the 1-row crossJoin is the audited benign scalar shape.

    r13: the zero-triangle stratum is ARITHMETIC, not an anti-join —
    `closed` is built exclusively from `und` rows (the ordered join's
    three orientations are each an und element) and both sides are
    distinct, so |und ∖ closed| = |und| − |closed|; the former
    edge-set-sized left_anti (one more exchange + join over ~600k rows
    per side at sf0.1) is replaced by subtracting two 1-row counts.
    The two sides' eager base checkpoints are independent jobs and run
    overlapped from two driver threads (guide §2.6), like the bowtie
    reach sweeps.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        und_og, und_pg = pool.map(
            inheritable_thread_target(
                lambda g: undirected_edges(g).transform(_ckpt)
            ),
            (og, pg),
        )

    def side(und: DataFrame, tag: str) -> DataFrame:
        e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
        e3 = und.select("a", F.col("b").alias("c"))
        tri = und.join(e2, on="b").join(e3, on=["a", "c"])
        closed = _tri_edges(tri).distinct()
        return (
            und.agg(F.count("*").cast("long").alias("n_edges"))
            .crossJoin(
                closed.agg(F.count("*").cast("long").alias("n_closed"))
            )
            .select(
                F.lit(tag).alias("graph"),
                "n_edges",
                (F.col("n_edges") - F.col("n_closed"))
                .cast("long")
                .alias("n_local_bridges"),
            )
        )

    return side(und_og, "og").unionAll(side(und_pg, "pg"))


def dyad_census(og: NetGraph, pg: NetGraph) -> DataFrame:
    """(graph, n_mutual, n_asym, n_null): the Holland–Leinhardt dyad
    census of each derived DIRECTED graph — unordered vertex pairs
    split into mutual (both directions present), asymmetric (exactly
    one), and null (no edge, derived as C(V,2) − mutual − asym, never
    enumerated). The reciprocity summary (`reciprocity`) is the ratio
    view of the same structure; the census keeps the three absolute
    counts the triad-level and null-model comparisons need.

    Cost shape: distinct non-loop directed edges fold to canonical
    pairs carrying a direction count (1 or 2) — one map-side-combinable
    shuffle on the pair key — then a 1-row conditional aggregate; the
    vertex count joins in as a broadcast scalar. Nothing quadratic
    anywhere: null dyads come from arithmetic on two scalars.
    """

    def side(graph: NetGraph, tag: str) -> DataFrame:
        # ONE pair-keyed shuffle (r12, guide §2.3/§2.4): per canonical
        # pair, n_dir = max(forward seen) + max(backward seen) ∈ {1,2}
        # — plain MAX aggregates get map-side partials and absorb
        # parallel duplicate edges, so this equals the former
        # distinct-edges-then-count formulation (2 data-sized
        # Exchanges) with a single Exchange on the pair key.
        e = graph.edges.select("src", "dst").filter(
            F.col("src") != F.col("dst")
        )
        pair_counts = (
            e.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                (F.col("src") < F.col("dst")).cast("int").alias("fwd"),
            )
            .groupBy("a", "b")
            .agg(
                (F.max("fwd") + F.max(1 - F.col("fwd"))).alias("n_dir")
            )
            .agg(
                F.sum((F.col("n_dir") == 2).cast("long"))
                .cast("long")
                .alias("n_mutual"),
                F.sum((F.col("n_dir") == 1).cast("long"))
                .cast("long")
                .alias("n_asym"),
            )
        )
        nv = graph.vertices.agg(F.count("*").cast("long").alias("n_v"))
        return (
            pair_counts.crossJoin(nv)
            .select(
                F.lit(tag).alias("graph"),
                F.coalesce("n_mutual", F.lit(0)).alias("n_mutual"),
                F.coalesce("n_asym", F.lit(0)).alias("n_asym"),
                (
                    F.expr("n_v * (n_v - 1) div 2")
                    - F.coalesce("n_mutual", F.lit(0))
                    - F.coalesce("n_asym", F.lit(0))
                )
                .cast("long")
                .alias("n_null"),
            )
        )

    return side(og, "og").unionAll(side(pg, "pg"))


def wedge_closure_by_bucket(graph: NetGraph) -> DataFrame:
    """(degree_bits, n_vertices, n_wedges, n_closed): the transitivity
    CURVE — global_transitivity's two counts stratified by the wedge
    center's degree (bit-length buckets, the shared conv/bin
    convention). Real graphs close low-degree wedges far more often
    than hub wedges; this census quantifies that falloff, the input to
    any degree-corrected clustering model.

    Cost shape: NO wedge enumeration anywhere — per vertex,
    ``wedges(v) = C(deg(v), 2)`` comes from the degree table and
    ``closed(v) = triangles(v)`` from the ordered-edge triangle census
    (`triangle_counts`, edge-iterator bound — each triangle closes
    exactly the one wedge at v spanning its other two vertices, so
    Σ closed = 3·n_triangles = global_transitivity's closed_wedges); the curve is one
    join of two per-vertex frames plus a ≤64-bucket roll-up. The naive
    center-join formulation is the Σ deg² hub term this module
    deliberately avoids (see local_bridge_census).
    """
    # ONE eagerly-checkpointed edge set feeds the degree table and all
    # three legs of the ordered triangle join — composing
    # `triangle_counts(graph)` re-derived undirected_edges from the
    # fact tables a second time (exchange reuse shares only shuffle
    # files, not the post-shuffle distinct), and its vertices 0-fill
    # join is redundant under this function's own left-join+coalesce
    # (r13, guide §7.2 duplicated subtrees).
    und = undirected_edges(graph).transform(_ckpt)
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select("a", F.col("b").alias("c"))
    tri = (
        und.join(e2, on="b")
        .join(e3, on=["a", "c"])
        .select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )
    return (
        deg.join(tri, on="id", how="left")
        .select(
            F.length(F.conv(F.col("deg"), 10, 2)).cast("long").alias(
                "degree_bits"
            ),
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
        )
        .groupBy("degree_bits")
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias(
                "n_wedges"
            ),
            F.sum("tri").cast("long").alias("n_closed"),
        )
    )


def directed_triangle_census(og: NetGraph, pg: NetGraph) -> DataFrame:
    """(graph, n_cyclic_paths, n_transitive_paths, n_cyclic): the
    directed complement of the undirected triangle census — every
    2-path u→v→w (u≠w) over distinct non-loop directed edges is closed
    either cyclically (edge w→u) or transitively (edge u→w), and the
    two closure counts split feed-forward structure (DAG-like: all
    transitive) from feedback loops (cyclic mass). `n_cyclic` derives
    as ``n_cyclic_paths div 3`` — a cyclic triangle is hit once per
    rotation; a transitive triangle yields exactly one closing path.
    (With mutual dyads a triangle contributes once per qualifying
    path-closure configuration — the counts stay well-defined census
    quantities; the derived triangle count is exact on oriented
    graphs.)

    Cost shape: the 2-path join and both closure joins key on vertex
    ids over the distinct edge set — the directed edge-iterator bound,
    three shuffles, no enumeration beyond paths that actually close.
    The two sides' eager edge checkpoints are independent jobs and run
    overlapped from two driver threads (r13, guide §2.6).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=2) as pool:
        e_og, e_pg = pool.map(
            inheritable_thread_target(
                lambda g: g.edges.select("src", "dst")
                .filter(F.col("src") != F.col("dst"))
                .distinct()
                .transform(_ckpt)
            ),
            (og, pg),
        )

    def side(e: DataFrame, tag: str) -> DataFrame:
        paths = (
            e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .join(
                e.select(F.col("src").alias("v"), F.col("dst").alias("w")),
                on="v",
            )
            .filter(F.col("u") != F.col("w"))
        )
        # ONE pass over the 2-path join: the former two semi-joins each
        # re-executed `paths` (exchange reuse shares only the edge
        # shuffles). `e` is distinct, so a left join has multiplicity
        # exactly 0/1 per path — flag-and-sum counts are identical to
        # the semi-join counts (r13, guide §7.2 duplicated subtrees).
        both = (
            paths.join(
                e.select(
                    F.col("dst").alias("u"),
                    F.col("src").alias("w"),
                    F.lit(1).alias("has_cyc"),
                ),
                on=["u", "w"],
                how="left",
            )
            .join(
                e.select(
                    F.col("src").alias("u"),
                    F.col("dst").alias("w"),
                    F.lit(1).alias("has_tra"),
                ),
                on=["u", "w"],
                how="left",
            )
            .agg(
                F.coalesce(F.sum("has_cyc"), F.lit(0))
                .cast("long")
                .alias("n_cyclic_paths"),
                F.coalesce(F.sum("has_tra"), F.lit(0))
                .cast("long")
                .alias("n_transitive_paths"),
            )
        )
        return both.select(
            F.lit(tag).alias("graph"),
            "n_cyclic_paths",
            "n_transitive_paths",
            F.expr("n_cyclic_paths div 3").cast("long").alias("n_cyclic"),
        )

    return side(e_og, "og").unionAll(side(e_pg, "pg"))


def attribute_mixing_matrix(graph: NetGraph, attr: str = "children") -> DataFrame:
    """(attr_a, attr_b, n_edges): the categorical MIXING MATRIX of the
    undirected graph over a vertex attribute — how often each
    (class, class) pair is joined by an edge, the Newman assortative-
    mixing census (`assortativity_stats` is the scalar DEGREE variant;
    this is the full matrix over a categorical label, canonical
    attr_a ≤ attr_b so each undirected edge lands in one cell). The
    trace-vs-off-diagonal split is the homophily read a label-
    propagation or community pass starts from.

    Cost shape: two vertex-label joins on the endpoint ids (size-gated
    — the label frame is a 2-column projection) and one
    map-side-combinable count into a |classes|²-bounded frame.
    """
    und = undirected_edges(graph)
    lab = graph.vertices.select("id", F.col(attr).alias("_lab"))
    return (
        und.join(lab.select(F.col("id").alias("a"), F.col("_lab").alias("la")), on="a")
        .join(lab.select(F.col("id").alias("b"), F.col("_lab").alias("lb")), on="b")
        .select(
            F.least("la", "lb").alias("attr_a"),
            F.greatest("la", "lb").alias("attr_b"),
        )
        .groupBy("attr_a", "attr_b")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )


def bowtie_census(
    graph: NetGraph, extra_edges: DataFrame | None = None
) -> DataFrame:
    """(region, n_vertices): the Broder et al. (WWW 2000) BOWTIE
    decomposition of a directed graph around its largest strongly
    connected component — CORE (the SCC itself, ties to the smallest
    scc_id at equal size), IN (reaches the core), OUT (reachable from
    the core), OTHER (tendrils/tubes/disconnected, merged). The
    one-look shape summary of any directed corpus: a crawl frontier
    reads IN/OUT balance, a dependency graph reads OTHER mass as dead
    code.

    Built closure-free from parts this module already ships:
    `scc_components` labels (trim + coloring, fixpoint-checked against
    the oracle's closure), then TWO frontier BFS sweeps from the whole
    core at once — forward over (src→dst), backward over the flipped
    edges — each O(diameter) rounds of frontier-sized shuffles,
    localCheckpointed. IN and OUT are provably disjoint (a vertex in
    both is mutually reachable with the core, hence in it), so the
    classification is a pair of semi-join flags, no precedence order.
    `extra_edges` augments the edge set exactly as in `q_scc` (the
    TPC-H-derived DAG needs back-edges to have a nontrivial core).
    """
    edges = graph.edges.select("src", "dst")
    if extra_edges is not None:
        edges = edges.unionAll(extra_edges.select("src", "dst"))
    edges = (
        edges.filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )

    scc = scc_components(graph, extra_edges=extra_edges).transform(_ckpt_lazy)
    sizes = scc.groupBy("scc_id").agg(F.count("*").alias("n"))
    core_id = sizes.orderBy(F.col("n").desc(), F.col("scc_id").asc()).limit(1)
    # core and edges are consumed by BOTH sweeps (and core is
    # referenced twice by each sweep's first job) — materialize each
    # exactly once, eagerly, BEFORE the sweeps run so the two
    # concurrent driver threads below read stored partitions instead
    # of racing to compute the shared subtrees (r13, guide §2.6)
    core = (
        scc.join(
            F.broadcast(core_id.select("scc_id")), on="scc_id", how="left_semi"
        )
        .select("id")
        .transform(_ckpt)
    )

    def reach(e: DataFrame) -> DataFrame:
        reached = core
        frontier = reached
        while True:
            nxt = (
                frontier.join(e, frontier["id"] == e["src"])
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(reached, on="id", how="left_anti")
                .transform(_ckpt_lazy)
            )
            if _empty(nxt):
                return reached
            reached = reached.unionAll(nxt)  # parts checkpointed (r12)
            frontier = nxt

    # The forward and backward sweeps are INDEPENDENT job sequences
    # over already-materialized inputs; each is a chain of small
    # frontier jobs that leaves most executor slots idle. Running them
    # from two driver threads lets the scheduler back-fill one sweep's
    # idle slots with the other's tasks — wall-clock of the sweep
    # phase drops toward max(fwd, bwd) instead of fwd + bwd (guide
    # §2.6 "overlap independent jobs"; results are unchanged: each
    # sweep's result is a deterministic fixpoint of its own edge set).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    flipped = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fwd = pool.submit(inheritable_thread_target(lambda: reach(edges)))
        f_bwd = pool.submit(inheritable_thread_target(lambda: reach(flipped)))
        fwd, bwd = f_fwd.result(), f_bwd.result()

    flags = (
        graph.vertices.select("id")
        .join(core.withColumn("_c", F.lit(1)), on="id", how="left")
        .join(fwd.withColumn("_f", F.lit(1)).distinct(), on="id", how="left")
        .join(bwd.withColumn("_b", F.lit(1)).distinct(), on="id", how="left")
    )
    region = (
        F.when(F.col("_c").isNotNull(), F.lit("CORE"))
        .when(F.col("_f").isNotNull(), F.lit("OUT"))
        .when(F.col("_b").isNotNull(), F.lit("IN"))
        .otherwise(F.lit("OTHER"))
    )
    return flags.groupBy(region.alias("region")).agg(
        F.count("*").cast("long").alias("n_vertices")
    )


def scc_size_profile(
    graph: NetGraph, extra_edges: DataFrame | None = None
) -> DataFrame:
    """(size_bits, n_sccs, n_vertices): the strongly-connected-
    component size distribution, bucketed by bit length of the
    component size — the DIRECTED counterpart of
    `component_density_profile`'s bucket view (singleton mass = the
    DAG part trim resolves; the top bucket is the bowtie core).
    Composes `scc_components` with two bounded aggregations; the
    shared conv/bin bucket convention keeps the frame ≤64 rows.
    """
    scc = scc_components(graph, extra_edges=extra_edges)
    sizes = scc.groupBy("scc_id").agg(F.count("*").alias("size"))
    return (
        sizes.groupBy(
            F.length(F.conv(F.col("size"), 10, 2)).cast("long").alias(
                "size_bits"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_sccs"),
            F.sum("size").cast("long").alias("n_vertices"),
        )
    )


@_narrowed
def kcore_census(graph: NetGraph, k: int = 3, rounds: int = 8) -> DataFrame:
    """(n_nodes, n_edges): size of the k-core — the maximal subgraph
    of the undirected simple graph in which every vertex keeps degree
    ≥ k — after `rounds` peels (early-exits at the fixpoint, so extra
    rounds are no-ops and the round-unrolled SQL oracle names the same
    subgraph). The degree-constrained sibling of `ktruss_edges`
    (which constrains triangle support): cores are the standard
    "dense-enough to matter" prefilter before a truss/community pass,
    at one aggregation per round instead of a triangle join.

    Per round: degree-count the surviving undirected edge set (one
    map-side-combined aggregation over both endpoint projections),
    keep vertices with deg ≥ k, semi-join the edge set to kept
    endpoints on BOTH sides, repeat on the shrunk frame; all joins
    vertex-keyed, peel cost contracts with the surviving edges.

    Iterate persistence is DISK_ONLY with an EXPLICIT unpersist of the
    consumed round, not localCheckpoint: the iterates here are
    EDGE-sized (60M rows at the 100× probe, where vertex-frame loops
    like `pagerank`'s are fine with memory checkpoints), and
    localCheckpointed rounds pile up in the storage region until the
    ContextCleaner's ASYNC sweep gets to them — measured at 100×: the
    peel dies with UNABLE_TO_ACQUIRE_MEMORY in an 8g local[32] JVM
    because accumulated round blocks squeeze execution memory.
    persist() is CacheManager-managed, so the unpersist after the next
    round materializes is deterministic; DISK_ONLY keeps the whole
    peel's footprint out of the memory region (each round reads the
    previous round's spill — sequential, compressed, and at cluster
    scale the normal home for edge-sized iterates).
    """
    from pyspark.storagelevel import StorageLevel

    edges = undirected_edges(graph).persist(StorageLevel.DISK_ONLY)
    prev_n = edges.count()
    for _ in range(rounds):
        deg = (
            edges.select(F.col("a").alias("id"))
            .unionAll(edges.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("deg"))
        )
        # peel by ANTI-joining the DROPPED set (deg < k), not
        # semi-joining the kept set: dropped is the small side (it
        # shrinks toward the fixpoint), so AQE broadcasts it and the
        # edge frame streams map-side with NO edge-sized exchange —
        # the semi-join form shuffled the edges by a and again by b
        # every round (r13, guide §3.1/§2.4). Same surviving set:
        # every edge endpoint appears in deg, so deg≥k ≡ NOT deg<k.
        # Counting `dropped` FIRST detects the fixpoint one full round
        # earlier than the former edge-count comparison (every dropped
        # vertex carries ≥1 edge, so dropped empty ⇔ edges unchanged):
        # the terminal round costs one degree aggregation instead of a
        # full anti-join + DISK_ONLY rewrite of the unchanged edge set.
        # The short persist feeds both anti-join builds from storage.
        dropped = deg.filter(F.col("deg") < k).select("id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if dropped.count() == 0:
            dropped.unpersist()
            break
        new_edges = (
            edges.join(dropped, edges.a == dropped.id, "left_anti")
            .join(dropped, edges.b == dropped.id, "left_anti")
            .select("a", "b")
            .persist(StorageLevel.DISK_ONLY)
        )
        prev_n = new_edges.count()
        # the consumed round's blocks are dead the moment the new round
        # is materialized; free them NOW (blocking=False: the drop can
        # overlap the next round's compute)
        dropped.unpersist()
        edges.unpersist()
        edges = new_edges
    # Both outputs are scalars and the edge count is already in hand
    # (prev_n tracks the surviving frame on every exit path), so count
    # the nodes eagerly and RELEASE the final round's DISK_ONLY blocks
    # before returning — a lazy return over the persisted frame leaked
    # the last persist (and the initial one when rounds=0) for the
    # session lifetime; bench runs this twice per iteration,
    # accumulating spill (round-10 advice).
    n_nodes = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .distinct()
        .count()
    )
    spark = edges.sparkSession
    edges.unpersist()
    return spark.range(1).select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(prev_n).cast("long").alias("n_edges"),
    )


@_narrowed
def degree_assortativity_inputs(graph: NetGraph) -> DataFrame:
    """(n_edges, s_sum, s_prod, s_sq): Newman degree-assortativity
    sufficient statistics over the undirected simple graph — for every
    edge with endpoint degrees (da, db): Σ(da+db), Σ(da·db), and
    Σ(da²+db²), all exact integers. The caller computes the Pearson
    degree correlation r = [Sp/M − (Ss/2M)²] / [Sq/2M − (Ss/2M)²] on
    four scalars (positive r: hubs attach to hubs — assortative social
    shape; negative: hub-to-leaf, the disassortative
    technological/biological shape). The scalar complement to
    `attribute_mixing_matrix` (categorical) on the DEGREE attribute.

    Scale shape: one degree aggregation over both endpoint projections,
    two vertex-keyed hash joins to annotate edges, one scalar
    aggregate — all linear in E, no windows. Products commit to
    DECIMAL(38,0): Σ da·db reaches E·(max deg)² — past BIGINT for hub
    degrees ≳ 3e4 at probe-scale edge counts; test-SF values fit the
    oracle's BIGINT cast.
    """
    edges = undirected_edges(graph)
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    annotated = edges.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    DEC = "decimal(38,0)"
    return annotated.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.coalesce(F.sum((F.col("da") + F.col("db")).cast(DEC)), F.lit(0))
        .cast(DEC)
        .alias("s_sum"),
        F.coalesce(
            F.sum(F.col("da").cast(DEC) * F.col("db").cast(DEC)), F.lit(0)
        )
        .cast(DEC)
        .alias("s_prod"),
        F.coalesce(
            F.sum(
                F.col("da").cast(DEC) * F.col("da").cast(DEC)
                + F.col("db").cast(DEC) * F.col("db").cast(DEC)
            ),
            F.lit(0),
        )
        .cast(DEC)
        .alias("s_sq"),
    )


@_narrowed
def rich_club_census(graph: NetGraph) -> DataFrame:
    """(degree_bits, n_nodes_ge, n_edges_ge): rich-club sufficient
    statistics at bit-length degree thresholds — for each occupied
    bucket b, the number of vertices whose undirected degree has bit
    length ≥ b and the number of edges whose BOTH endpoints do
    (min(da, db) bit length ≥ b). The caller derives the rich-club
    coefficient φ(b) = 2·E_b / (N_b·(N_b−1)) per threshold ("do the
    top-degree vertices wire to each other more than chance?" — the
    hub-solidarity summary `degree_assortativity_inputs` gives one
    global scalar for). Thresholds follow the engine-wide
    `length(bin(·))` bucket convention (`degree_distribution`,
    `order_gap_profile`).

    Scale shape: degree aggregation + two vertex-keyed joins (linear
    in E, shared with the assortativity plan), then two bounded
    bit-length histograms (≤64 rows) with suffix-sum windows over that
    tiny frame — never a per-threshold rescan of the graph.
    """
    from pyspark.sql import Window

    edges = undirected_edges(graph)
    deg = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    node_hist = deg.groupBy(
        F.length(F.bin("deg")).alias("degree_bits")
    ).agg(F.count("*").alias("n_nodes"))
    edge_min = edges.join(
        deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), on="a"
    ).join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), on="b")
    edge_hist = edge_min.groupBy(
        F.length(F.bin(F.least("da", "db"))).alias("degree_bits")
    ).agg(F.count("*").alias("n_edges"))
    # suffix sums over the ≤64-row bucket frames: count at-or-above
    # each occupied threshold
    merged = (
        node_hist.join(edge_hist, on="degree_bits", how="outer")
        .select(
            "degree_bits",
            F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
        )
    )
    w_ge = Window.orderBy(F.col("degree_bits").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return merged.select(
        F.col("degree_bits").cast("long").alias("degree_bits"),
        F.sum("n_nodes").over(w_ge).cast("long").alias("n_nodes_ge"),
        F.sum("n_edges").over(w_ge).cast("long").alias("n_edges_ge"),
    )
