"""Spans around the benchmark's calls into the program, rolled up from
Spark's own event log.

A :class:`Tracer` records one span per call the benchmark makes into a layer
(name, start, end, parent). Every span runs under its own Spark job group, so
after the session stops, :func:`rollup_event_log` can attribute each job,
task, shuffle byte, spill byte and GC millisecond of the event log to the
span that caused it. Streaming queries set their own job group (their run
id); the tracer's :class:`StreamListener` maps each run id to the span that
started the query.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

COUNTERS = ("jobs", "tasks", "run_ms", "gc_ms", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "files_read")


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class BatchStats:
    run_id: str
    duration_ms: float
    stateful: bool
    state_rows: int


class StreamListener(StreamingQueryListener):
    """Records every micro-batch and which span started each query."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.batches: list[BatchStats] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        self.tracer.alias_group(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            BatchStats(
                str(p.runId),
                float(p.durationMs.get("triggerExecution", 0)),
                len(p.stateOperators) > 0,
                sum(int(s.numRowsTotal) for s in p.stateOperators),
            )
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.add(str(event.runId))

    def wait_for(self, run_ids: set[str], timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait for the terminations."""
        deadline = time.monotonic() + timeout_s
        while not run_ids <= self.terminated and time.monotonic() < deadline:
            time.sleep(0.05)


class Tracer:
    """Span recorder for the traced run; registers a :class:`StreamListener`."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.group_alias: dict[str, str] = {}
        self.listener = StreamListener(self)
        spark.streams.addListener(self.listener)

    def alias_group(self, foreign_group: str) -> None:
        """Attribute jobs of ``foreign_group`` to the innermost open span."""
        if self._stack:
            self.group_alias[foreign_group] = self.spans[self._stack[-1]].group

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"pb{idx}:{name}", parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                sc.setJobGroup(outer.group, outer.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


# ---------------------------------------------------------------------------
# event-log roll-up
# ---------------------------------------------------------------------------


def rollup_event_log(path: str, alias: dict[str, str] | None = None) -> dict[str, dict[str, int]]:
    """Per job group: jobs, tasks, executor run ms, task GC ms, shuffle
    bytes written and read, spill bytes and files read by scans.

    Stages and SQL executions are attributed to the group of the job that
    submitted them; ``alias`` maps a foreign group (a streaming run id) to
    the group that should carry its numbers.
    """
    alias = alias or {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_metric_ids: set[int] = set()
    accum_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)

    def group_of(props: dict | None) -> str | None:
        g = (props or {}).get("spark.jobGroup.id")
        return alias.get(g, g) if g is not None else None

    def scan_plan(plan: dict) -> None:
        for m in plan.get("metrics", []):
            if m.get("name") == "number of files read":
                files_metric_ids.add(m["accumulatorId"])
        for child in plan.get("children", []):
            scan_plan(child)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = group_of(e.get("Properties"))
                if g is None:
                    continue
                out[g]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
                ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if ex is not None:
                    exec_group.setdefault(int(ex), g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if g is None or tm is None:
                    continue
                c = out[g]
                c["tasks"] += 1
                c["run_ms"] += tm.get("Executor Run Time", 0)
                c["gc_ms"] += tm.get("JVM GC Time", 0)
                c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                c["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                scan_plan(e.get("sparkPlanInfo", {}))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    accum_updates.append((e["executionId"], acc_id, value))
    for ex, acc_id, value in accum_updates:
        g = exec_group.get(ex)
        if g is not None and acc_id in files_metric_ids:
            out[g]["files_read"] += value
    return dict(out)


@dataclass
class LayerRow:
    name: str
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    counters: dict[str, int] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def layer_rows(spans: list[Span], rollup: dict[str, dict[str, int]]) -> dict[str, LayerRow]:
    """Spans of the same name merged into one row. ``self_s`` is a span's
    wall time minus the time its child spans cover; counters are the span's
    own job group plus those of all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)

    def total(i: int) -> dict[str, int]:
        c = dict(rollup.get(spans[i].group, dict.fromkeys(COUNTERS, 0)))
        for j in children[i]:
            for k, v in total(j).items():
                c[k] += v
        return c

    rows: dict[str, LayerRow] = {}
    for i, s in enumerate(spans):
        r = rows.setdefault(s.name, LayerRow(s.name))
        r.calls += 1
        r.wall_s += s.wall_s
        r.self_s += s.wall_s - sum(spans[j].wall_s for j in children[i])
        for k, v in total(i).items():
            r.counters[k] += v
    return rows


def format_table(rows: dict[str, LayerRow]) -> str:
    head = ("layer", "calls", "wall_s", "self_s", "jobs", "tasks", "task_s", "shuffle_w_B",
            "shuffle_r_B", "spill_B", "gc_s")
    lines = ["\t".join(head)]
    for r in rows.values():
        c = r.counters
        lines.append(
            "\t".join(
                str(x)
                for x in (r.name, r.calls, f"{r.wall_s:.3f}", f"{r.self_s:.3f}", c["jobs"],
                          c["tasks"], f"{c['run_ms'] / 1000:.3f}", c["shuffle_write_bytes"],
                          c["shuffle_read_bytes"], c["spill_bytes"], f"{c['gc_ms'] / 1000:.3f}")
            )
        )
    return "\n".join(lines)
