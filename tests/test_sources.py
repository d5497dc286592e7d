"""NGS-text parser tests mirroring the reference suite
(`src/test/scala/MitMStatSimTest.scala:12-34`) plus size checks against
the reference's own graph dumps (BASELINE.md counts)."""

from __future__ import annotations

from pathlib import Path

import pytest

from big_data_graph_analysis_with_spark_spark.sources.ngs_text import (
    GraphParseError,
    load_graph,
    parse_graph_text,
)
from tests.conftest import REF_INPUT


@pytest.mark.parametrize(
    "fname,nv,ne",
    [
        ("Graph20.0.txt", 21, 20),
        ("Graph20.0.perturbed.txt", 21, 19),
        ("Graph50.txt", 51, 54),
        ("Graph50.perturbed.txt", 47, 44),
        ("Graph200.txt", 201, 345),
        ("Graph200.txt.perturbed", 197, 319),
    ],
)
def test_load_reference_graphs(spark, fname, nv, ne):
    g = load_graph(spark, f"{REF_INPUT}/{fname}")
    assert g.num_vertices() == nv
    assert g.num_edges() == ne


def test_parse_fields_roundtrip(spark):
    # negative + scientific-notation storedValue (MitMStatSimTest.scala:25-28)
    text = (
        "List(NodeObject(0,1,2,1,3,4,5,6,-9.144269410237845E-4,true), "
        "NodeObject(7,0,0,1,0,0,0,0,0.5,false))"
        ":List(Action(4,NodeObject(0,1,2,1,3,4,5,6,-9.144269410237845E-4,true),"
        "NodeObject(7,0,0,1,0,0,0,0,0.5,false),7,111,Some(86),0.029098701))"
    )
    g = parse_graph_text(spark, text)
    # the text reaches Spark as a LocalRelation, not a pickled Python RDD
    assert "LogicalRDD" not in g.vertices._jdf.queryExecution().analyzed().toString()
    nodes = {r["id"]: r.asDict() for r in g.vertices.collect()}
    assert nodes[0]["stored_value"] == pytest.approx(-9.144269410237845e-4)
    assert nodes[0]["valuable_data"] is True
    assert nodes[7]["valuable_data"] is False
    e = g.edges.collect()[0].asDict()
    assert e == {
        "src": 0, "dst": 7, "action_type": 4, "from_field": 7,
        "to_field": 111, "resulting_value": 86, "cost": pytest.approx(0.029098701),
    }


def test_parse_none_resulting_value(spark):
    text = (
        "List(NodeObject(0,0,0,1,0,0,0,0,0.1,false), NodeObject(1,0,0,1,0,0,0,0,0.2,true))"
        ":List(Action(1,NodeObject(0,0,0,1,0,0,0,0,0.1,false),"
        "NodeObject(1,0,0,1,0,0,0,0,0.2,true),0,1,None,0.5))"
    )
    g = parse_graph_text(spark, text)
    assert g.edges.collect()[0]["resulting_value"] is None


def test_missing_file_raises(spark):
    with pytest.raises(Exception):
        load_graph(spark, "/root/repo/does_not_exist.txt")


def test_nine_field_node_raises(spark):
    # 9-field node must throw (MitMStatSimTest.scala:20-23)
    text = "List(NodeObject(0,1,2,1,3,4,5,6,0.5)):List()"
    with pytest.raises(GraphParseError):
        parse_graph_text(spark, text)


def test_missing_separator_raises(spark):
    with pytest.raises(GraphParseError):
        parse_graph_text(spark, "List(NodeObject(0,0,0,1,0,0,0,0,0.1,false))")


def test_missing_init_node_raises(spark):
    text = (
        "List(NodeObject(5,0,0,1,0,0,0,0,0.1,false))"
        ":List()"
    )
    with pytest.raises(GraphParseError):
        parse_graph_text(spark, text)


def _node(i: int) -> str:
    return f"NodeObject({i},0,0,1,0,0,0,0,0.1,false)"


def _action(src: int, dst: int) -> str:
    return f"Action(1,{_node(src)},{_node(dst)},0,1,None,0.5)"


@pytest.mark.parametrize(
    "text,match",
    [
        # an endpoint that is not a vertex would parse into a dangling edge
        (f"List({_node(0)}, {_node(1)}):List({_action(0, 9)})", "endpoint id 9 "),
        # a duplicate id would parse into two vertices with one id
        (f"List({_node(0)}, {_node(1)}, {_node(1)}):List({_action(0, 1)})", "vertex id 1 "),
        # a truncated trailing Action( would be silently dropped
        (
            f"List({_node(0)}, {_node(1)}):List({_action(0, 1)}, Action(1,{_node(0)}",
            r"malformed Action object: Action\(1,NodeObject\(0,",
        ),
        # a truncated NodeObject( leaves null fields
        (f"List({_node(0)}, NodeObject(1,0,0):List({_action(0, 1)})", "1 node tuple"),
    ],
    ids=["missing_endpoint", "duplicate_id", "truncated_action", "truncated_node"],
)
def test_malformed_dump_raises(spark, text, match):
    with pytest.raises(GraphParseError, match=match):
        parse_graph_text(spark, text)


def test_multi_dump_ids_are_checked_per_dump(spark, tmp_path):
    """In a multi-dump file an id may recur across dumps (a node
    perturbed between dumps keeps both variants), but not within one."""
    from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph_dumps

    dump = f"List({_node(0)}, {_node(1)}):List({_action(0, 1)})"
    variant = dump.replace(_node(1), "NodeObject(1,0,0,1,0,0,0,0,0.7,false)")
    ok = tmp_path / "ok.txt"
    ok.write_text(f"{dump}\n{variant}\n")
    assert sorted(r["id"] for r in load_graph_dumps(spark, str(ok)).vertices.collect()) == [0, 1, 1]
    bad = tmp_path / "bad.txt"
    bad.write_text(f"{dump}\n{dump.replace('List(', f'List({_node(1)}, ', 1)}\n")
    with pytest.raises(GraphParseError, match="vertex id 1 "):
        load_graph_dumps(spark, str(bad))


def test_parsed_frames_parse_each_object_once(spark, tmp_path):
    """Reading vertices or edges parses each object once: no filter
    inferred from the explode re-runs the parse below it."""
    f = tmp_path / "g.txt"
    f.write_text(f"List({_node(0)}, {_node(1)}):List({_action(0, 1)})")
    g = load_graph(spark, str(f))
    for df in (g.vertices, g.edges):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Filter" not in plan, plan


def test_concatenated_multi_dump_ingest(spark, tmp_path):
    """N dumps concatenated line-per-dump parse distributively to the
    union graph: vertices/edges equal the distinct union of the graphs
    loaded individually (ngs_text.py module docstring's many-GB path)."""
    from big_data_graph_analysis_with_spark_spark.sources.ngs_text import load_graph_dumps

    names = ["Graph20.0.txt", "Graph50.txt", "Graph20.0.txt"]  # repeat = no-op
    singles = [load_graph(spark, f"{REF_INPUT}/{n}") for n in names]
    cat = tmp_path / "dumps.txt"
    cat.write_text(
        "\n".join((Path(REF_INPUT) / n).read_text().strip() for n in names) + "\n"
    )

    g = load_graph_dumps(spark, str(cat))
    want_v = {tuple(r) for s in singles for r in s.vertices.collect()}
    want_e = {tuple(r) for s in singles for r in s.edges.collect()}
    assert {tuple(r) for r in g.vertices.collect()} == want_v
    assert {tuple(r) for r in g.edges.collect()} == want_e
    # line-per-dump input must actually split into >1 partition record
    assert g.vertices.count() == len(want_v)


def test_load_graph_uri_scheme_dispatch(spark):
    """S2: the loader takes URIs, not just bare paths — the Hadoop FS
    layer dispatches on scheme (file:// here; hdfs:///s3a:// on a
    cluster are the same call). Result must be identical to the bare
    path."""
    bare = load_graph(spark, f"{REF_INPUT}/Graph20.0.txt")
    uri = load_graph(spark, f"file://{REF_INPUT}/Graph20.0.txt")
    assert sorted(map(tuple, uri.vertices.collect())) == sorted(
        map(tuple, bare.vertices.collect())
    )
    assert sorted(map(tuple, uri.edges.collect())) == sorted(
        map(tuple, bare.edges.collect())
    )
