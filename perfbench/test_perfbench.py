"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from codepropertygraph_spark import testdata as td
from perfbench import corpus as C
from perfbench import run as R
from perfbench.stats import percentile, precision_recall
from perfbench.tracing import Span, layer_rows, rollup_event_log

TINY = C.Size(conversations=30, mean_turns=3, parts=2, stream_files=3)


def test_generator_is_a_function_of_seed_and_keeps_the_pathologies():
    rows, alias = C.generate(7, TINY)
    assert (rows, alias) == C.generate(7, TINY)
    other = C.generate(8, TINY)[0]
    assert rows != other and len(rows) == len(other)  # the seed varies content, not size
    per_conv = {}
    for r in rows:
        per_conv.setdefault(r["conv_id"], []).append(r)
    assert len(per_conv["c000000"]) == 20 * TINY.mean_turns  # mega-conversation
    assert len(per_conv["c000005"]) == 1  # single-turn conversation
    dup = sorted(r["turn_idx"] for r in per_conv["c000003"])
    assert len(dup) != len(set(dup))  # duplicate turn_idx
    hub = sum(any(" org_1 " in f" {r['text']} " for r in t) for t in per_conv.values())
    assert hub >= 0.3 * len(per_conv)  # hub entity
    order = [(r["conv_id"], r["turn_idx"], r["ts"]) for r in rows]
    assert order != sorted(order)  # rows arrive shuffled


def test_corpus_cache_is_keyed_by_seed_and_size(tmp_path):
    a = C.ensure_corpus(str(tmp_path), 7, TINY)
    assert C.ensure_corpus(str(tmp_path), 7, TINY) == a
    b = C.ensure_corpus(str(tmp_path), 8, TINY)
    assert a.root != b.root
    rows, alias = C.generate(7, TINY)
    assert a.expected_triples() == td.reference_extract(rows, alias)
    assert len(os.listdir(a.path("stream_in"))) == TINY.stream_files


def test_precision_recall():
    rows, alias = C.generate(3, TINY)
    ref = td.reference_extract(rows, alias)
    assert precision_recall(set(ref), ref) == (1.0, 1.0)
    missing = set(sorted(ref)[1:])
    p, r = precision_recall(missing, ref)
    assert p == 1.0 and r == pytest.approx(1 - 1 / len(ref))
    extra = set(ref) | {("c999999", "x", "knows", "y")}
    p, r = precision_recall(extra, ref)
    assert p == pytest.approx(len(ref) / (len(ref) + 1)) and r == 1.0
    assert precision_recall(set(), set()) == (1.0, 1.0)
    assert precision_recall(set(), ref) == (0.0, 0.0)


def test_percentile_needs_ten_samples_beyond_it():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == 50.0
    assert percentile(values, 90) == 90.0
    assert percentile(values[:99], 90) is None  # only nine beyond
    assert percentile(values[:20], 50) == 10.0
    assert percentile(values[:19], 50) is None
    assert percentile(values[:110], 99) is None
    with pytest.raises(ValueError):
        percentile(values, 100)


def test_expected_json_nodes_follow_the_walker_grammar():
    nodes = C.expected_json_nodes([(4, '{"a":[1,"x",null],"b":true}')])
    assert nodes == {
        (4, "$", "object", None),
        (4, "$.a", "array", None),
        (4, "$.a[0]", "number", "1"),
        (4, "$.a[1]", "string", "x"),
        (4, "$.a[2]", "null", None),
        (4, "$.b", "boolean", "true"),
    }


def _event_log(path, events):
    with open(path, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


def _task(stage, run_ms, gc_ms, shuffle_w, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
        },
    }


def test_event_log_rolls_up_per_job_group(tmp_path):
    path = str(tmp_path / "app")
    _event_log(
        path,
        [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "pb0:outer", "spark.sql.execution.id": "3"}},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
             "Properties": {"spark.jobGroup.id": "pb1:inner"}},
            {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
             "Properties": {"spark.jobGroup.id": "run-id-of-a-stream"}},
            {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4], "Properties": {}},
            _task(0, 10, 1, 100),
            _task(1, 20, 2, 0, spill=7),
            _task(2, 30, 3, 50),
            _task(3, 40, 4, 25),
            _task(4, 99, 9, 99),  # no group: not attributed
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
             "executionId": 3,
             "sparkPlanInfo": {"metrics": [], "children": [
                 {"metrics": [{"name": "number of files read", "accumulatorId": 42}], "children": []}]}},
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
             "executionId": 3, "accumUpdates": [[42, 2], [43, 1000]]},
        ],
    )
    roll = rollup_event_log(path, alias={"run-id-of-a-stream": "pb1:inner"})
    assert set(roll) == {"pb0:outer", "pb1:inner"}
    outer, inner = roll["pb0:outer"], roll["pb1:inner"]
    assert (outer["jobs"], outer["tasks"], outer["run_ms"], outer["gc_ms"]) == (1, 2, 30, 3)
    assert (outer["shuffle_write_bytes"], outer["shuffle_read_bytes"], outer["spill_bytes"]) == (100, 10, 7)
    assert outer["files_read"] == 2
    assert (inner["jobs"], inner["tasks"], inner["shuffle_write_bytes"], inner["files_read"]) == (2, 2, 75, 0)

    spans = [Span("outer", "pb0:outer", None, 0.0, 10.0), Span("inner", "pb1:inner", 0, 2.0, 5.0),
             Span("inner", "pb2:inner", 0, 6.0, 7.0)]
    rows = layer_rows(spans, roll)
    assert rows["outer"].self_s == pytest.approx(6.0)
    assert rows["outer"].counters["jobs"] == 3  # its own job plus its children's
    assert (rows["inner"].calls, rows["inner"].wall_s) == (2, pytest.approx(4.0))


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(R.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        m[:3] for m in R.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in R.PER_LAYER
    ]
    from codepropertygraph_spark.plans.pipeline import STANDARD_PASSES

    assert R.PASSES == tuple(p.name for p in STANDARD_PASSES)
