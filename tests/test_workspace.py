"""Workspace/project management (plans/workspace.py) — the console
``workspacehandling`` analog (WorkspaceManager.scala:30-410) — and the
script runner (ScriptManager.scala:125 / AmmoniteExecutor.scala:37)."""

from __future__ import annotations

import os

import pytest

from codepropertygraph_spark import testdata as td
from codepropertygraph_spark.plans import workspace as W


@pytest.fixture(scope="module")
def corpus_dir():
    return td.ensure_generated("sf0.001")


def test_create_list_open_close_cycle(spark, tmp_path, corpus_dir):
    ws = W.WorkspaceManager(spark, str(tmp_path / "ws"))
    assert ws.number_of_projects == 0

    p = ws.create_project(corpus_dir, "alpha")
    assert p.is_open and ws.number_of_projects == 1
    # importCode built the full graph: all pipeline overlays committed
    assert len(p.applied_overlays()) >= 5
    assert p.available_overlays() == sorted(p.available_overlays())
    assert ws.graph_exists("alpha")
    # active project's graph is queryable via the cpg root
    assert ws.cpg.nodes().count() > 0

    # close releases the handle; disk overlays remain visible
    ws.close_project("alpha")
    p = ws.project("alpha")
    assert not p.is_open
    assert p.applied_overlays() == []  # loaded-graph view is empty when closed
    assert len(p.available_overlays()) >= 5  # on-disk view persists
    with pytest.raises(RuntimeError):
        _ = ws.cpg

    # reopen binds the committed warehouse without re-running the pipeline
    p = ws.open_project("alpha")
    assert p.is_open and ws.get_active_project().name == "alpha"
    assert len(p.applied_overlays()) >= 5


def test_workspace_reload_from_disk(spark, tmp_path, corpus_dir):
    """WorkspaceLoader semantics: a NEW manager over the same dir
    re-materializes projects from their project.json files."""
    wsdir = str(tmp_path / "ws")
    ws1 = W.WorkspaceManager(spark, wsdir)
    ws1.create_project(corpus_dir, "alpha")
    ws1.create_project(corpus_dir, "beta")

    ws2 = W.WorkspaceManager(spark, wsdir)
    assert {p.name for p in ws2.projects} == {"alpha", "beta"}
    assert all(not p.is_open for p in ws2.projects)  # fresh manager: closed
    p = ws2.open_project("beta")
    assert p.input_path == os.path.abspath(corpus_dir)
    assert ws2.cpg.edges().count() > 0


def test_remove_delete_reset(spark, tmp_path, corpus_dir):
    ws = W.WorkspaceManager(spark, str(tmp_path / "ws"))
    pa = ws.create_project(corpus_dir, "alpha")
    ws.create_project(corpus_dir, "beta")

    # remove_project forgets without touching disk (removeProject:73)
    ws.remove_project("alpha")
    assert not ws.project_exists("alpha") and os.path.isdir(pa.path)
    # ... so a reload sees it again
    assert W.WorkspaceManager(spark, ws.path).project_exists("alpha")

    # delete_project removes the directory (deleteProject:400)
    pb = ws.project("beta")
    ws.delete_project("beta")
    assert not os.path.isdir(pb.path)

    ws.reset()
    assert ws.number_of_projects == 0
    assert os.listdir(ws.path) == []


def test_next_overlay_dir_name(spark, tmp_path, corpus_dir):
    """getNextOverlayDirName:218 — int-prefixed continuation of the
    committed overlay numbering."""
    ws = W.WorkspaceManager(spark, str(tmp_path / "ws"))
    p = ws.create_project(corpus_dir, "alpha")
    n = len(p.applied_overlays())
    assert ws.get_next_overlay_dir_name("alpha", "myoverlay") == f"{n:02d}_myoverlay"


def test_run_script_bindings_and_result(spark, tmp_path, corpus_dir):
    """Script contract: bound g/F/S/params; result = run(g, params) return
    or the top-level `result` variable; parity with direct evaluation."""
    from tools import kgql

    ws = W.WorkspaceManager(spark, str(tmp_path / "ws"))
    p = ws.create_project(corpus_dir, "alpha")
    g = kgql.build_view_from_warehouse(spark, p.warehouse)

    s1 = tmp_path / "s1.py"
    s1.write_text(
        "def run(g, params):\n"
        "    return g.label(params['label']).count()\n"
    )
    got = W.run_script(g, str(s1), {"label": "TURN"})
    assert got == g.label("TURN").count()

    s2 = tmp_path / "s2.py"
    s2.write_text("result = g.all().count()\n")
    assert W.run_script(g, str(s2)) == g.all().count()

    s3 = tmp_path / "s3.py"
    s3.write_text("x = 1\n")  # neither run() nor result
    assert W.run_script(g, str(s3)) is None

    # run_scripts preserves order
    both = W.run_scripts(g, [str(s2), str(s3)])
    assert both == [g.all().count(), None]


def test_bundled_script_library(spark, transcripts, alias_dict, tmp_path):
    """Every script under scripts/ runs against a pipeline-built graph via
    the ScriptManager analog and returns a non-empty result."""
    import os

    from codepropertygraph_spark.operators import traversal
    from codepropertygraph_spark.plans import pipeline as P
    from codepropertygraph_spark.plans.workspace import run_script

    cat = P.run_pipeline(spark, transcripts, alias_dict, str(tmp_path / "wh"))
    g = traversal.GraphView(cat.nodes(), cat.edges())
    sdir = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    results = {}
    for fn in sorted(os.listdir(sdir)):
        if fn.endswith(".py"):
            results[fn] = run_script(
                g, os.path.join(sdir, fn), {"k": 3, "top": 3}
            )
    assert set(results) == {
        "community-sizes.py",
        "entity-salience.py",
        "graph-summary.py",
        "tool-usage.py",
    }
    assert results["graph-summary.py"]["nodes"].get("ENTITY", 0) > 0
    assert 0 < len(results["entity-salience.py"]) <= 3
    assert all(n >= 1 for _, n in results["community-sizes.py"])
    assert results["tool-usage.py"]
