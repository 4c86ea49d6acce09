"""Console side of the proto interchange: :export-proto writes the wire-format
zip from an open warehouse and load_proto_zip reopens it with identical label
counts — the console half of ProtoCpgLoader.scala:23's save/load loop."""

from __future__ import annotations

import pytest

from codepropertygraph_spark.operators import proto_io, traversal
from codepropertygraph_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def warehouse(spark, transcripts, alias_dict, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh_proto_console"))
    P.run_pipeline(spark, transcripts, alias_dict, wh)
    return wh


def test_kgql_export_proto_roundtrip(spark, warehouse, tmp_path):
    from tools import kgql

    g = kgql.build_view_from_warehouse(spark, warehouse)
    path = str(tmp_path / "graph.cpg.bin.zip")
    msg = kgql.evaluate(g, f":export-proto {path}")
    assert msg.startswith("proto zip written to")
    nodes, edges, _ = proto_io.load_proto_zip(spark, path)
    g2 = traversal.GraphView(nodes, edges)
    counts = lambda gv: {
        (r.label, r.n) for r in gv.all().group_count("label").collect()
    }
    assert counts(g2) == counts(g)
    # the console's --proto-zip open path (reference loadCpg analog)
    g3 = kgql.build_view_from_proto_zip(spark, path)
    assert counts(g3) == counts(g)
