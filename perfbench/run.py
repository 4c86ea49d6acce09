"""Build / stream benchmark of ``codepropertygraph_spark``.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

Each workload is a closed loop with one client: the benchmark waits for
every call before it makes the next. A run always completes one iteration
and starts another only while ``--seconds`` has not elapsed; with iterations
far longer than ``--seconds``, ``op_s`` is the first (cold-JVM) iteration,
which is what a user of a fresh process sees. Inputs are generated from
``--seed`` (``perfbench/corpus.py``) and cached by seed and size under
``.perfbench-data/``; the program only reads the generated parquet. The
Spark session is sized from the host (CPUs, 30% of MemTotal) through the
program's environment overrides.

- ``build``: a fresh warehouse, ``plans.pipeline.run_pipeline`` over all
  ``STANDARD_PASSES``, then ``sources.json_ingest.json_tree`` over the
  corpus's AST-JSON. Write-heavy, many batch jobs.
- ``stream``: ``streaming.ingest.stream_triples_exact`` drains the corpus
  cut into shuffled files at a fixed files-per-trigger, so conversations
  straddle micro-batches, then ``read_triples_exact`` reads the result.
  Many small jobs next to Python stateful ``follows``; no overlay commits.

Set-up (inputs read and made resident) is repeated ``SETUP_REPS`` times and
``setup_s`` is the median; corpus generation is paid in the first repetition
only when the cache is cold.

Every call's output is checked: triples against
``testdata.reference_extract``, the JSON tree against a Python walk of the
documents, each lookup against an unindexed ``Catalog.nodes()`` filter and
each analytics result's row count and order-insensitive hash against the
first run of the same corpus. A call that raises or fails its check counts
in ``failed``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` runs every call under a Spark job group,
writes Spark's event log and rolls it up per call into jobs, tasks, shuffle
bytes, spill and GC time, and reports ``trace.overhead_s``: traced minus
untraced ``op_s``. It also times the read side once: on ``build``,
``Catalog.build_index`` and seeded ``Catalog.lookup`` reads of the graph just
built; on ``stream``, the operator layers over the whole corpus and the
dataflow and centrality analytics over the streamed triples. The per-layer
table goes to ``.perfbench-data/trace/`` and the per-layer metrics to
standard output.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from functools import cached_property
from statistics import median

import numpy as np
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script: make the repository importable
    sys.path.insert(0, ROOT)

from perfbench.stats import dir_bytes, digest, percentile, precision_recall  # noqa: E402
from perfbench.tracing import Tracer, format_table, layer_rows, rollup_event_log  # noqa: E402
DATA = os.path.join(ROOT, ".perfbench-data")

# ~1.6k turns: the pipeline's per-pass job floor, not the corpus, sets its
# time at this size, and one cold build must fit in a run
CORPUS_SIZE = {"conversations": 120, "mean_turns": 12, "parts": 4, "stream_files": 8}
SETUP_REPS = 3
FILES_PER_TRIGGER = 2
LOOKUPS = 20  # p50 needs 20 samples under the ten-beyond rule

PASSES = ("meta_data", "base_layer", "extraction", "link_files", "decorate",
          "canonicalize", "linking", "rel_triples", "validate")
# Span names, which are also metric names; "reachable_cross_conv" times
# dataflow.reachable_cross_conversation under a name that keeps its metrics
# within 64 characters.
DATAFLOW_OPS = ("reachable_within_auto", "flow_witness_auto", "reachable_cross_conv")
CENTRALITY_OPS = ("pagerank_int", "link_prediction", "random_walks")

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),  # median of the set-up repetitions of one run
    ("op_s", "s", "lower"),  # median wall of a loop iteration: the build or the drain
    ("turns_per_s", "1/s", "higher"),  # corpus turns / op_s
    ("triple_precision", "ratio", "higher"),  # against testdata.reference_extract
    ("triple_recall", "ratio", "higher"),
    ("stored_bytes_per_input_byte", "ratio", "lower"),  # warehouse or sink / input
)
# (name, unit, better, the end-to-end metric and workload it should move)
PER_LAYER = (
    *(
        (f"plans.pipeline.{p}.{m}", u, "lower", "op_s on build")
        for p in PASSES
        for m, u in (("wall_s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "B"))
    ),
    ("plans.pipeline.bytes_written", "B", "lower", "stored_bytes_per_input_byte on build"),
    ("sources.json_ingest.json_tree.wall_s", "s", "lower", "op_s on build"),
    ("sources.json_ingest.json_tree.jobs", "count", "lower", "op_s on build"),
    ("operators.canonicalize.merge_map.wall_s", "s", "lower", "op_s on build and stream"),
    ("operators.canonicalize.merge_map.jobs", "count", "lower", "op_s on build and stream"),
    ("operators.extraction.wall_s", "s", "lower", "op_s on build and stream"),
    ("operators.extraction.tasks", "count", "lower", "op_s on build and stream"),
    ("operators.linking.wall_s", "s", "lower", "op_s on build and stream"),
    ("operators.kg.final_triples.wall_s", "s", "lower", "op_s on build and stream"),
    ("operators.kg.final_triples.shuffle_write_bytes", "B", "lower", "op_s on build and stream"),
    ("streaming.ingest.batches", "count", "lower", "op_s on stream"),
    ("streaming.ingest.batch_mean_ms", "ms", "lower", "op_s on stream"),
    ("streaming.ingest.batch_max_ms", "ms", "lower", "op_s on stream"),
    ("streaming.ingest.state_rows", "count", "lower", "op_s on stream"),
    ("streaming.ingest.jobs", "count", "lower", "op_s on stream"),
    ("streaming.ingest.stream_follows_exact.wall_s", "s", "lower", "op_s on stream"),
    *(
        (f"operators.{layer}.{op}.{m}", u, "lower", "none gated: read side, traced on stream")
        for layer, ops in (("dataflow", DATAFLOW_OPS), ("centrality", CENTRALITY_OPS))
        for op in ops
        for m, u in (("wall_s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "B"))
    ),
    ("plans.pipeline.lookup.p50_ms", "ms", "lower", "none gated: read side, traced on build"),
    ("plans.pipeline.lookup.tasks", "count", "lower", "none gated: read side, traced on build"),
    ("plans.pipeline.lookup.files_read", "count", "lower", "none gated: read side, traced on build"),
    ("plans.pipeline.build_index.wall_s", "s", "lower", "none gated: read side, traced on build"),
    ("session.jvm_gc_s", "s", "lower", "every end-to-end time"),
    ("session.jvm_peak_rss_mb", "MB", "lower", "none gated: VmHWM follows heap growth, not live data"),
    ("trace.overhead_s", "s", "lower", "traced minus untraced op_s"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# host and session
# ---------------------------------------------------------------------------


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg": list(os.getloadavg())}


def configure_env(host: dict, run_dir: str, event_log_dir: str | None) -> None:
    """Size the session from the host through the program's env overrides,
    keep every file Spark writes inside the checkout, and let Spark's Python
    workers import the program."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_gib = max(1, min(8, int(host["mem_total_mb"] * 0.3 / 1024)))
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher included: temp files in the checkout, and no
    # hsperfdata file in the system temp directory
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{event_log_dir}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
                "pyspark-shell",
            ]
        )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Run:
    """State shared by a workload's set-up, loop and checks."""

    def __init__(self, spark, corpus, seed: int, run_dir: str):
        self.spark = spark
        self.corpus = corpus
        self.seed = seed
        self.run_dir = run_dir
        self.tracer: Tracer | None = None  # set for the traced run
        self.attempted = 0
        self.failed = 0
        self.precision: list[float] = []
        self.recall: list[float] = []
        self.stored_bytes = 0
        self.layer: dict[str, float] = {}  # per-layer values measured directly
        self.iterations = 0

    def call(self, name: str, fn, check):
        """One checked call into the program. Returns (wall seconds, output);
        an exception or a failed check counts the call as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            span = self.tracer.span(name) if self.tracer else contextlib.nullcontext()
            with span, contextlib.redirect_stdout(sys.stderr):
                out = fn()
            wall = time.perf_counter() - t0
            ok = check(out)
        except Exception:
            traceback.print_exc()
            wall, out, ok = time.perf_counter() - t0, None, False
        if not ok:
            self.failed += 1
            log(f"FAILED: {name}")
        return wall, out

    def check_triples(self, rows) -> bool:
        got = {(r["conv_id"], r["subj"], r["pred"], r["obj"]) for r in rows}
        p, r = precision_recall(got, self.expected_triples)
        self.precision.append(p)
        self.recall.append(r)
        return p >= 0.95 and r >= 0.95

    @cached_property
    def expected_triples(self) -> set[tuple[str, str, str, str]]:
        return self.corpus.expected_triples()


def operator_probes(run: Run, tr, ad) -> None:
    """Calls into the operator layers the pipeline and the stream are built
    from, each on the whole corpus."""
    from codepropertygraph_spark.operators import canonicalize, extraction, kg, linking

    def nonempty(d: tuple[int, int]) -> bool:
        return d[0] > 0

    _, merge = run.call(
        "operators.canonicalize.merge_map",
        lambda: canonicalize.merge_map(ad).localCheckpoint(eager=True),
        lambda m: m.count() > 0,
    )
    run.call("operators.extraction", lambda: digest(extraction.flagged_tokens(tr)), nonempty)
    raw = extraction.raw_triples(tr).localCheckpoint(eager=True)
    run.call("operators.linking", lambda: digest(linking.linked_triples_premerge(raw, ad)), nonempty)
    run.call("operators.kg.final_triples", lambda: digest(kg.final_triples(tr, ad, merge=merge)), nonempty)


def analytics(run: Run, triples) -> None:
    """The dataflow and centrality operators over a triple set. Each result's
    row count and order-insensitive hash must match the first run of the
    same corpus."""
    from codepropertygraph_spark.operators import centrality, dataflow

    fe = (
        triples.where(F.col("pred") == "follows")
        .select("conv_id", F.col("subj").alias("s"), F.col("obj").alias("o"))
        .localCheckpoint(eager=True)
    )
    ee = centrality.entity_edges(triples).localCheckpoint(eager=True)
    ops = {
        "dataflow.reachable_within_auto": lambda: dataflow.reachable_within_auto(fe, max_hops=4),
        "dataflow.flow_witness_auto": lambda: dataflow.flow_witness_auto(fe, max_hops=4),
        "dataflow.reachable_cross_conv":
            lambda: dataflow.reachable_cross_conversation(fe, max_hops=4, max_crossings=1),
        "centrality.pagerank_int": lambda: centrality.pagerank_int(ee, iters=5),
        "centrality.link_prediction": lambda: centrality.link_prediction(ee, min_cn=2),
        "centrality.random_walks": lambda: centrality.random_walks(ee, walks_per_node=2, length=4),
    }
    path = os.path.join(DATA, "digests", os.path.basename(run.corpus.root) + ".json")
    reference = load_json(path) or {}
    for name, fn in ops.items():
        run.call(
            f"operators.{name}",
            lambda fn=fn: list(digest(fn())),
            lambda d, name=name: d[0] > 0 and d == reference.setdefault(name, d),
        )
    save_json(path, reference)


def lookups(run: Run, cat) -> None:
    """``build_index`` then seeded ``Catalog.lookup`` point reads, each
    checked against an unindexed ``Catalog.nodes()`` filter."""
    nodes = cat.nodes()
    names = sorted(
        r[0] for r in nodes.where(F.col("full_name").isNotNull()).select("full_name").distinct().collect()
    )
    rng = np.random.default_rng(run.seed)
    keys = [names[i] for i in rng.choice(len(names), size=LOOKUPS, replace=False)]
    expected: dict[str, list[int]] = {k: [] for k in keys}
    for r in nodes.where(F.col("full_name").isin(keys)).select("full_name", "id").collect():
        expected[r["full_name"]].append(r["id"])
    for ids in expected.values():
        ids.sort()
    run.call("plans.pipeline.build_index", cat.build_index, os.path.isdir)
    latencies_ms = []
    for k in keys:
        wall, _ = run.call(
            "plans.pipeline.lookup",
            lambda k=k: sorted(r["id"] for r in cat.lookup(k).select("id").collect()),
            lambda ids, k=k: ids == expected[k],
        )
        latencies_ms.append(wall * 1000)
    run.layer["plans.pipeline.lookup.p50_ms"] = percentile(latencies_ms, 50) or 0.0


class Build:
    """``run_pipeline`` into a fresh warehouse, then ``json_tree``."""

    def __init__(self, run: Run):
        from perfbench.corpus import expected_json_nodes

        self.run = run
        t = pq.read_table(run.corpus.path("ast_json.parquet"), columns=["ast_id", "ast"])
        self.expected_json = expected_json_nodes(
            list(zip(t.column("ast_id").to_pylist(), t.column("ast").to_pylist()))
        )
        self.frames: list = []
        self.cat = None

    def setup(self) -> None:
        spark, c = self.run.spark, self.run.corpus
        for f in self.frames:
            f.unpersist()
        self.frames = [
            spark.read.parquet(c.path(n)).persist()
            for n in ("transcripts.parquet", "alias_dict.parquet", "ast_json.parquet")
        ]
        for f in self.frames:
            f.count()

    def _pipeline(self, warehouse: str):
        from codepropertygraph_spark.plans import pipeline as P

        tr, ad, _ = self.frames
        if self.run.tracer is None:
            return P.run_pipeline(self.run.spark, tr, ad, warehouse)
        # traced: drive the same passes one at a time, one span each
        cat = P.Catalog(self.run.spark, warehouse)
        ctx = P.PassContext(self.run.spark, cat, tr, ad)
        for i, p in enumerate(P.STANDARD_PASSES):
            with self.run.tracer.span(f"plans.pipeline.{p.name}"):
                cat.commit_overlay(i, p.name, p.run(ctx))
        return cat

    def iteration(self, i: int) -> float:
        from codepropertygraph_spark.sources import json_ingest

        run = self.run
        warehouse = os.path.join(run.run_dir, f"warehouse{i}")
        wall_p, self.cat = run.call(
            "plans.pipeline.run_pipeline",
            lambda: self._pipeline(warehouse),
            lambda cat: run.check_triples(cat.read_table("triples").collect()),
        )
        run.stored_bytes = dir_bytes(warehouse)
        aj = self.frames[2]
        wall_j, _ = run.call(
            "sources.json_ingest.json_tree",
            lambda: json_ingest.json_tree(aj, "ast_id", "ast")
            .select("ast_id", "path", "kind", "value")
            .collect(),
            lambda rows: len(rows) == len(self.expected_json)
            and {tuple(r) for r in rows} == self.expected_json,
        )
        return wall_p + wall_j

    def input_bytes(self) -> int:
        return self.run.corpus.input_bytes()

    def trace_extras(self) -> None:
        self.run.layer["plans.pipeline.bytes_written"] = self.run.stored_bytes
        if self.cat is not None:
            lookups(self.run, self.cat)


class Stream:
    """``stream_triples_exact`` over the shuffled files, then
    ``read_triples_exact``."""

    def __init__(self, run: Run):
        self.run = run
        self.ad = None
        self.out = None

    def setup(self) -> None:
        if self.ad is not None:
            self.ad.unpersist()
        self.ad = self.run.spark.read.parquet(self.run.corpus.path("alias_dict.parquet")).persist()
        self.ad.count()

    def iteration(self, i: int) -> float:
        from codepropertygraph_spark.streaming import ingest

        run = self.run
        base = os.path.join(run.run_dir, f"stream{i}")
        self.out, ck = os.path.join(base, "out"), os.path.join(base, "checkpoint")
        wall_s, _ = run.call(
            "streaming.ingest.stream_triples_exact",
            lambda: ingest.stream_triples_exact(
                run.spark, run.corpus.path("stream_in"), self.ad, self.out, ck,
                max_files_per_trigger=FILES_PER_TRIGGER,
            ),
            lambda _: True,  # its output is checked through read_triples_exact
        )
        wall_r, _ = run.call(
            "streaming.ingest.read_triples_exact",
            lambda: ingest.read_triples_exact(run.spark, self.out).collect(),
            run.check_triples,
        )
        run.stored_bytes = dir_bytes(self.out)
        return wall_s + wall_r

    def input_bytes(self) -> int:
        c = self.run.corpus
        return dir_bytes(c.path("stream_in")) + dir_bytes(c.path("alias_dict.parquet"))

    def trace_extras(self) -> None:
        from codepropertygraph_spark.streaming import ingest

        run = self.run
        listener = run.tracer.listener
        run_ids = set(run.tracer.group_alias)
        listener.wait_for(run_ids)
        batches = [b for b in listener.batches if b.run_id in run_ids]
        durations = [b.duration_ms for b in batches] or [0.0]
        stateful = [b for b in batches if b.stateful]
        iterations = run.iterations
        run.layer.update(
            {
                "streaming.ingest.batches": len(batches) / iterations,
                "streaming.ingest.batch_mean_ms": sum(durations) / len(durations),
                "streaming.ingest.batch_max_ms": max(durations),
                "streaming.ingest.state_rows": max((b.state_rows for b in stateful), default=0),
                "streaming.ingest.stream_follows_exact.wall_s":
                    sum(b.duration_ms for b in stateful) / 1000 / iterations,
            }
        )
        tr = run.spark.read.parquet(run.corpus.path("transcripts.parquet")).persist()
        operator_probes(run, tr, self.ad)
        triples = ingest.read_triples_exact(run.spark, self.out).persist()
        analytics(run, triples)


WORKLOADS = {"build": Build, "stream": Stream}


def load_json(path: str):
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def save_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end_metrics(run: Run, w, setup_walls, op_walls) -> dict[str, float]:
    op_s = median(op_walls)
    return {
        "setup_s": median(setup_walls),
        "op_s": op_s,
        "turns_per_s": run.corpus.turns / op_s,
        "triple_precision": min(run.precision, default=0.0),
        "triple_recall": min(run.recall, default=0.0),
        "stored_bytes_per_input_byte": run.stored_bytes / w.input_bytes(),
    }


def per_layer_metrics(run: Run, rows, gc_s: float, overhead_s: float) -> dict[str, float]:
    """Every per-layer metric, as a mean per call of its span; 0 for a layer
    the workload does not call."""
    out = {name: 0.0 for name, *_ in PER_LAYER}
    for name in out:
        span, _, m = name.rpartition(".")
        row = rows.get(span)
        if row is not None and (m == "wall_s" or m in row.counters):
            out[name] = (row.wall_s if m == "wall_s" else row.counters[m]) / row.calls
    stream = rows.get("streaming.ingest.stream_triples_exact")
    if stream is not None:
        out["streaming.ingest.jobs"] = stream.counters["jobs"] / stream.calls
    out.update(run.layer)
    out["session.jvm_gc_s"] = gc_s / run.iterations
    out["trace.overhead_s"] = overhead_s
    return out


def untraced_reference(args) -> float:
    """Median untraced op_s recorded by earlier runs of this workload in this
    checkout; runs one untraced child first when there is none."""
    path = os.path.join(DATA, "untraced", f"{args.workload}.json")
    if load_json(path) is None:
        log("no untraced run recorded yet; running one for the overhead figure")
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=170,
        )
    return median(load_json(path))


def record_untraced(workload: str, op_s: float) -> None:
    path = os.path.join(DATA, "untraced", f"{workload}.json")
    save_json(path, ((load_json(path) or []) + [op_s])[-20:])


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def measure(args, host: dict, run_dir: str, event_log_dir: str | None, overhead_ref):
    """Set up, run the loop, check, and return (run, metrics)."""
    from codepropertygraph_spark.session import get_spark
    from perfbench import corpus as C

    trace = event_log_dir is not None
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        t0 = time.perf_counter()
        corpus = C.ensure_corpus(DATA, args.seed, C.Size(**CORPUS_SIZE))
        generate_s = time.perf_counter() - t0  # ~0 unless the cache was cold
        run = Run(spark, corpus, args.seed, run_dir)
        w = WORKLOADS[args.workload](run)
        setup_walls: list[float] = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.setup()
            setup_walls.append(time.perf_counter() - t0 + (generate_s if rep == 0 else 0.0))
        if trace:
            run.tracer = Tracer(spark)
        gc0 = jvm_gc_s(spark)
        op_walls: list[float] = []
        t_start = time.perf_counter()
        while not op_walls or time.perf_counter() - t_start < args.seconds:
            op_walls.append(w.iteration(len(op_walls)))
        gc_s = jvm_gc_s(spark) - gc0
        run.iterations = len(op_walls)
        if trace:
            w.trace_extras()
            run.tracer.close()
            run.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        else:
            metrics = end_to_end_metrics(run, w, setup_walls, op_walls)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)

    info = {"workload": args.workload, "seed": args.seed, "turns": corpus.turns,
            "spark": pyspark.__version__, "host_before": host,
            "loadavg_after": list(os.getloadavg()), "iterations": len(op_walls),
            "setup_walls": setup_walls, "op_walls": op_walls}
    log(json.dumps(info))
    with open(os.path.join(DATA, "runs.jsonl"), "a") as fh:  # host and load, every run
        fh.write(json.dumps(info) + "\n")
    if not trace:
        record_untraced(args.workload, metrics["op_s"])
        return run, metrics
    tracer = run.tracer
    rows = layer_rows(tracer.spans, rollup_event_log(os.path.join(event_log_dir, app_id), tracer.group_alias))
    metrics = per_layer_metrics(run, rows, gc_s, median(op_walls) - overhead_ref)
    moves = {name: why for name, _, _, why in PER_LAYER}
    report = "\n".join(
        [f"# {json.dumps(info)}", format_table(rows), "", "metric\tvalue\tmoves"]
        + [f"{k}\t{v:.6g}\t{moves[k]}" for k, v in metrics.items()]
    )
    out = os.path.join(DATA, "trace", f"{args.workload}-s{args.seed}.tsv")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        fh.write(report + "\n")
    log(f"per-layer table ({out}):\n{report}")
    return run, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "codepropertygraph_spark", "__init__.py")):
        log(f"codepropertygraph_spark not found under {ROOT}; run from a full checkout")
        return 2

    trace = bool(args.trace)
    overhead_ref = untraced_reference(args) if trace else None
    host = host_info()
    run_dir = os.path.join(DATA, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    event_log_dir = os.path.join(run_dir, "eventlog") if trace else None
    configure_env(host, run_dir, event_log_dir)
    try:
        run, metrics = measure(args, host, run_dir, event_log_dir, overhead_ref)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = {name: unit for name, unit, *_ in (PER_LAYER if trace else END_TO_END)}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
