"""NetGameSim text-graph source (SURVEY.md §2 rows S1-S3, F1-F5).

Format (writer: reference `NetGraph/src/main/scala/NGStoText.scala:81-89`):
one line —

    List(NodeObject(id,children,props,currentDepth,propValueRange,maxDepth,
                    maxBranchingFactor,maxProperties,storedValue,valuableData), ...)
    :List(Action(actionType,NodeObject(...),NodeObject(...),fromId,toId,
                 None|Some(v),cost), ...)

The reference reads the whole file into a string and regex-extracts
objects on the driver (`HelperFunction.scala:76-124`). Spark-first
restatement: `spark.read.text` (so local/HDFS/S3 URIs all work — the
reference's S2 branch, `HelperFunction.scala:78-93`, is free here), one
dump per row, split into node and Action strings by regexp_extract_all.
One aggregate action validates every dump on arrays of parsed objects;
vertices and edges explode the strings and parse them per row
(from_csv / regexp_extract), as DataFrame algebra throughout. Dumps are
independent rows, so a many-GB concatenation of dumps parses
distributed.

Numeric fields support negatives and scientific notation
(`MitMStatSimTest.scala:25-28`): `from_csv` double-casting covers both.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import EDGE_SCHEMA, VERTEX_SCHEMA, NetGraph

#: interior of NodeObject(...) — 10 comma-separated scalars, no nesting
_NODE_RE = r"NodeObject\(([^)]*)\)"
#: a full Action(...) string, embedded nodes included (nesting depth 1)
_ACTION_RE = (
    r"Action\(-?\d+,NodeObject\([^)]*\),NodeObject\([^)]*\),"
    r"-?\d+,-?\d+,(?:None|Some\(-?\d+\)),[^,)]+\)"
)
_NODE_CSV_SCHEMA = (
    "id LONG, children LONG, props LONG, current_depth LONG, "
    "prop_value_range LONG, max_depth LONG, max_branching_factor LONG, "
    "max_properties LONG, stored_value DOUBLE, valuable_data BOOLEAN"
)


class GraphParseError(ValueError):
    """Raised on malformed graph text (mirrors the reference's
    IllegalArgumentException paths, README.md:151-171)."""


def _edge(a: Column | str) -> Column:
    # Endpoint identity = the embedded nodes' first field (ids) — the
    # reference re-canonicalizes embedded objects against the node list
    # by id on load (HelperFunction.scala:145-149), so ids are
    # sufficient; the node attributes live once in `vertices`.
    return F.struct(
        F.regexp_extract(a, r"NodeObject\((-?\d+),", 1).cast("long").alias("src"),
        F.regexp_extract(
            a, r"NodeObject\([^)]*\),NodeObject\((-?\d+),", 1
        ).cast("long").alias("dst"),
        F.regexp_extract(a, r"Action\((-?\d+),", 1).cast("long").alias("action_type"),
        F.regexp_extract(a, r"\),(-?\d+),-?\d+,(?:None|Some)", 1)
        .cast("long").alias("from_field"),
        F.regexp_extract(a, r"\),-?\d+,(-?\d+),(?:None|Some)", 1)
        .cast("long").alias("to_field"),
        # Option parsing (F3, HelperFunction.scala:65-69): None → null
        F.nullif(F.regexp_extract(a, r"Some\((-?\d+)\)", 1), F.lit(""))
        .cast("long").alias("resulting_value"),
        F.regexp_extract(a, r",([^,)]+)\)$", 1).cast("double").alias("cost"),
    )


def _node(c: Column | str) -> Column:
    return F.from_csv(c, _NODE_CSV_SCHEMA)


def _parse(raw: DataFrame, source: str) -> NetGraph:
    """Parse one dump per row of `raw`. One aggregate action checks every
    dump; the first failed check raises :class:`GraphParseError`."""
    # Split node-list from action-list at the `):List(` seam — the
    # reference splits on the bare ':' between the two lists
    # (HelperFunction.scala:110-113); anchoring on the full seam is
    # equivalent and robust to ':' never appearing inside either list.
    parts = raw.select(
        F.expr("instr(value, '):List(')").alias("seam"),
        F.expr("substring(value, 1, instr(value, '):List(') )").alias("nodes_part"),
        F.expr("substring(value, instr(value, '):List(') + 2)").alias("edges_part"),
    )
    node_csv = F.regexp_extract_all("nodes_part", F.lit(_NODE_RE), 1)
    actions = F.regexp_extract_all("edges_part", F.lit(_ACTION_RE), 0)
    dumps = parts.select(
        "seam",
        F.transform(node_csv, _node).alias("nodes"),
        F.transform(actions, _edge).alias("edges"),
        # what is left of the first Action( no full match consumed
        F.regexp_extract(
            F.regexp_replace("edges_part", _ACTION_RE, ""), r"Action\([^ ]*", 0
        ).alias("bad_action"),
    )
    # sorted, so a duplicate id equals its predecessor
    checked = dumps.select("*", F.sort_array("nodes.id").alias("ids"))
    ends = F.array_union("edges.src", "edges.dst")
    v = checked.agg(
        F.count("*").alias("dumps"),
        F.min("seam").alias("seam"),
        # A tuple with missing/extra fields leaves trailing nulls after
        # from_csv — reject like the reference's 10-field assertion
        # (`HelperFunction.scala:28-33`, README.md:155-156).
        F.sum(F.size(F.filter(
            "nodes", lambda n: reduce(or_, [n[c].isNull() for c in VERTEX_SCHEMA.names])
        ))).alias("bad_nodes"),
        # Init-node existence check (HelperFunction.scala:121): NetGameSim
        # graphs start at id 0; absence means a corrupt dump.
        F.max(F.array_contains("ids", 0)).alias("has_init"),
        F.min(F.array_min(
            F.filter("ids", lambda x, i: x == F.get("ids", i - 1))
        )).alias("dup_id"),
        F.max(F.nullif("bad_action", F.lit(""))).alias("bad_action"),
        F.min(F.array_min(F.array_except(ends, "ids"))).alias("missing_id"),
    ).first()
    if not v["dumps"]:
        raise GraphParseError(f"empty or missing {source}")
    if v["seam"] <= 0:
        raise GraphParseError("malformed graph text: missing ':List(' separator")
    if v["bad_nodes"]:
        raise GraphParseError(f"{v['bad_nodes']} node tuple(s) failed to parse (need 10 fields)")
    if not v["has_init"]:
        raise GraphParseError("graph has no init node (id=0)")
    if v["dup_id"] is not None:
        raise GraphParseError(f"vertex id {v['dup_id']} appears twice in one dump")
    if v["bad_action"] is not None:
        raise GraphParseError(f"malformed Action object: {v['bad_action']}")
    if v["missing_id"] is not None:
        raise GraphParseError(f"action endpoint id {v['missing_id']} is not a vertex of its dump")
    # The outputs explode the object strings and parse them per row:
    # exploding a parsed array column instead would let Spark infer a
    # non-empty filter from the explode and push it below the array's
    # projection, which evaluates the whole array parse three times.
    return NetGraph(
        parts.select(F.explode(node_csv).alias("c")).select(_node("c").alias("n")).select("n.*"),
        parts.select(F.explode(actions).alias("a")).select(_edge("a").alias("e")).select("e.*"),
    )


def parse_graph_text(spark: SparkSession, text: str) -> NetGraph:
    """Parse an in-memory graph dump string (test/fixture path)."""
    return _parse(spark.createDataFrame([(text,)], "value STRING"), "graph text")


def load_graph(spark: SparkSession, path: str) -> NetGraph:
    """Load a `.txt` / `.txt.perturbed` NetGameSim dump (S1/S2).

    `path` may be file://, hdfs:// or s3a:// — Spark's readers dispatch
    on the URI scheme, replacing the reference's manual
    `FileSystem.get(URI)` branch (`HelperFunction.scala:78-93`).
    """
    return _parse(spark.read.text(path, wholetext=True), f"graph file: {path}")


def load_graph_dumps(spark: SparkSession, path: str) -> NetGraph:
    """Concatenated multi-dump ingest (S1 at scale): a file, glob, or
    directory holding ONE dump per line — e.g. many NetGameSim exports
    appended together — loaded as a single union graph.

    Unlike :func:`load_graph` (wholetext: one dump per file), lines are
    the record boundary, so Spark splits the input across partitions
    and `_parse` runs distributed — this is the many-GB path promised in
    the module docstring. Each line is validated as its own dump.
    Vertices and edges are deduplicated on their full tuples across
    dumps (re-ingesting the same dump twice is a no-op; a node perturbed
    between dumps keeps both variants, exactly like full-tuple
    case-class equality in the reference).
    """
    raw = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    g = _parse(raw, f"graph file(s): {path}")
    return NetGraph(g.vertices.distinct(), g.edges.distinct(), init_id=g.init_id)


def serialize_graph(g: NetGraph) -> str:
    """Serialize a NetGraph back to the NetGameSim text format (S8,
    `NGStoText.scala:81-89` — the generator-side writer, kept as a
    fixture-generation utility).

    Edge endpoints are re-embedded as full NodeObject tuples (the
    format nests them), reconstructed from the vertices table —
    exactly the inverse of the endpoint re-canonicalization the
    reference does on load (`HelperFunction.scala:145-149`).
    """

    def fmt_store(v: float) -> str:
        return repr(v)

    def node_str(r) -> str:
        return (
            f"NodeObject({r['id']},{r['children']},{r['props']},"
            f"{r['current_depth']},{r['prop_value_range']},{r['max_depth']},"
            f"{r['max_branching_factor']},{r['max_properties']},"
            f"{fmt_store(r['stored_value'])},{str(r['valuable_data']).lower()})"
        )

    nodes = g.vertices.collect()
    by_id = {r["id"]: r for r in nodes}
    edges = g.edges.collect()

    node_part = ", ".join(node_str(r) for r in nodes)
    act_parts = []
    for e in edges:
        rv = "None" if e["resulting_value"] is None else f"Some({e['resulting_value']})"
        act_parts.append(
            f"Action({e['action_type']},{node_str(by_id[e['src']])},"
            f"{node_str(by_id[e['dst']])},{e['from_field']},{e['to_field']},"
            f"{rv},{repr(e['cost'])})"
        )
    return f"List({node_part}):List({', '.join(act_parts)})"


__all__ = [
    "GraphParseError",
    "load_graph",
    "load_graph_dumps",
    "parse_graph_text",
    "serialize_graph",
    "EDGE_SCHEMA",
    "VERTEX_SCHEMA",
]
