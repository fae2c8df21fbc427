"""Spans around the benchmark's calls into each layer, and Spark
status-store counters for the jobs each call launched.

Tracing lives entirely in the benchmark: a span opens before a call into
a layer's public function and closes after the call's result has been
materialised at the layer boundary (traced runs only). Spans stay in
memory; counters are read from Spark's status store (reachable with
``spark.ui.enabled=false``) after each traced pass.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

LAYERS = (
    "sources.warc",
    "webtext",
    "htmltext",
    "dedup",
    "extract",
    "sinks.merge",
    "canonicalize",
    "linking",
)
# Layers whose work runs in Python workers behind an Arrow boundary.
PYTHON_LAYERS = ("sources.warc", "webtext", "htmltext", "dedup", "extract")
COUNTERS = (
    "self_s",
    "jobs",
    "task_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "rows_out",
    "tasks_failed",
)
PYTHON_COUNTERS = ("python_s", "arrow_bytes")
RATIOS = (
    "dedup.verify_yield",
    "webtext.snapshot_keep_frac",
    "extract.triples_per_page",
    "sinks.merge.scan_amplification",
    "sinks.merge.bytes_written",
    "sinks.merge.files_written",
    "run.core_busy_frac",
)
RUN_METRICS = (
    "run.cold_pass_s",
    "run.chunk_commit_p50_s",
    "run.traced_pass_s",
    "run.untraced_pass_s",
    "run.trace_overhead_s",
    "run.reconcile_frac",
    "run.attributed_task_frac",
    "run.failed_frac",
)
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# SQL metric names (Spark 4.1) read off the per-execution plan graph.
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_WRITTEN_BYTES = "written output"
_WRITTEN_FILES = "number of written files"
_ROWS = "number of output rows"
_WANTED = frozenset((_PY_TIME, _PY_SENT, _PY_RECV, _WRITTEN_BYTES, _WRITTEN_FILES))
_SCANS = ("Scan", "InMemoryTableScan")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS]
    names += [f"{layer}.{c}" for layer in PYTHON_LAYERS for c in PYTHON_COUNTERS]
    return names + list(RATIOS) + list(RUN_METRICS)


def per_layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf.endswith("_frac") or leaf in ("verify_yield", "scan_amplification"):
        return "ratio"
    if leaf == "triples_per_page":
        return "triples/page"
    return "count"


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    rows_out: int = 0
    counters: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the union of its children's intervals
    (clipped to the span), so overlapping children are counted once."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def parse_metric_value(text: str | None) -> float:
    """Spark's formatted SQL metric → number (seconds for timings,
    bytes for sizes, plain numbers otherwise). Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    scale = {
        "": 1.0,
        "B": 1.0,
        "KiB": 1024.0,
        "MiB": 1024.0**2,
        "GiB": 1024.0**3,
        "TiB": 1024.0**4,
        "ns": 1e-9,
        "ms": 1e-3,
        "s": 1.0,
        "m": 60.0,
        "h": 3600.0,
    }.get(unit, 1.0)
    return val * scale


class Tracer:
    """Opens spans around layer calls. Disabled, ``call`` is a plain
    call; enabled, it tags the call's jobs with a job group, materialises
    the result with ``materialize`` and records the span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[int] = []

    def begin_pass(self, run_id: str) -> Span | None:
        if not self.enabled:
            return None
        self.run_id = run_id
        self._stack = []  # a pass that raised may have left spans open
        return self._open("pass", "run")

    def end_pass(self, root: Span | None) -> None:
        if root is not None:
            self._close(root)

    def call(self, layer: str, name: str, fn, *args, materialize=None, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self._open(name, layer)
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group(span), f"{layer}:{name}")
        try:
            out = fn(*args, **kwargs)
            if materialize is not None:
                out, span.rows_out = materialize(out)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._close(span)
        return out

    def group(self, span: Span) -> str:
        return f"perfbench/{span.run_id}/{span.span_id}"

    def _open(self, name: str, layer: str) -> Span:
        span = Span(
            span_id=len(self.spans),
            name=name,
            layer=layer,
            start=time.time(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
        )
        self.spans.append(span)
        self._stack.append(span.span_id)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()

    def pass_spans(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]


class StatusStore:
    """Reads jobs, stages and per-execution SQL metrics from Spark's
    status store through the JVM gateway."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the jobs just run."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        out = []
        seq = self._app.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = j.submissionTime()
            group = j.jobGroup()
            stages = j.stageIds()
            out.append(
                {
                    "job_id": j.jobId(),
                    "group": group.get() if group.isDefined() else None,
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    "stage_ids": [stages.apply(k) for k in range(stages.size())],
                }
            )
        return out

    def stage(self, stage_id: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            s = self._app.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted, or never submitted (skipped stage)
            return None
        if s.status().toString() == "SKIPPED":
            return None
        return {
            "task_s": s.executorRunTime() / 1000.0,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "tasks_failed": s.numFailedTasks(),
        }

    def executions(self) -> list[dict]:
        out = []
        seq = self._sql.executionsList()
        for i in range(seq.size()):
            x = seq.apply(i)
            keys = x.jobs().keySet().toSeq()
            out.append(
                {
                    "execution_id": x.executionId(),
                    "job_ids": [keys.apply(k) for k in range(keys.size())],
                }
            )
        return out

    def execution_nodes(self, execution_id: int) -> list[tuple[str, dict]]:
        """[(node name, {metric name: number})] for one SQL execution,
        holding only the metrics the counters use (each value read costs
        gateway round trips)."""
        values = self._sql.executionMetrics(execution_id)
        nodes = self._sql.planGraph(execution_id).allNodes()
        out = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            wanted = _WANTED | {_ROWS} if name.startswith(_SCANS) else _WANTED
            metrics = node.metrics()
            got = {}
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() in wanted:
                    v = values.get(m.accumulatorId())
                    got[m.name()] = parse_metric_value(v.get() if v.isDefined() else None)
            out.append((name, got))
        return out


def attribute_jobs(spans: list[Span], jobs: list[dict], group_of) -> dict[int, list[int]]:
    """span_id → job ids. A job belongs to the span whose job group it
    carries; jobs with no group (submitted from threads that do not
    inherit the caller's group, e.g. run_resumable's chunk pool) belong
    to the innermost span open when they were submitted."""
    by_group = {group_of(s): s.span_id for s in spans}
    out: dict[int, list[int]] = {s.span_id: [] for s in spans}
    for j in jobs:
        sid = by_group.get(j["group"]) if j["group"] else None
        if sid is None and j["group"] is None:
            inside = [s for s in spans if s.start <= j["submitted"] <= s.end]
            if inside:
                sid = max(inside, key=lambda s: s.start).span_id
        if sid is not None:
            out[sid].append(j["job_id"])
    return out


def collect_counters(store: StatusStore, tracer: Tracer, run_id: str) -> None:
    """Fill each span of one traced pass with its status-store counters:
    stage totals of its jobs, and the SQL metrics of the executions those
    jobs belong to (Python-node time and Arrow bytes, scan rows, bytes
    and files written)."""
    store.drain()
    spans = tracer.pass_spans(run_id)
    jobs = store.jobs()
    job_ids = attribute_jobs(spans, jobs, tracer.group)
    stages_of = {j["job_id"]: j["stage_ids"] for j in jobs}
    execs = store.executions()
    seen_stages: set[int] = set()
    for span in spans:
        c = dict.fromkeys(
            (
                "jobs",
                "task_s",
                "gc_s",
                "shuffle_write_bytes",
                "shuffle_read_bytes",
                "spill_bytes",
                "tasks_failed",
                "python_s",
                "arrow_bytes",
                "scan_rows",
                "bytes_written",
                "files_written",
            ),
            0.0,
        )
        ids = set(job_ids[span.span_id])
        c["jobs"] = len(ids)
        for jid in sorted(ids):
            for sid in stages_of.get(jid, []):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.stage(sid)
                if st:
                    for k, v in st.items():
                        c[k] += v
        for x in execs:
            if not ids.intersection(x["job_ids"]):
                continue
            for node, m in store.execution_nodes(x["execution_id"]):
                if _PY_TIME in m:
                    c["python_s"] += m[_PY_TIME]
                    c["arrow_bytes"] += m.get(_PY_SENT, 0.0) + m.get(_PY_RECV, 0.0)
                if node.startswith(_SCANS):
                    c["scan_rows"] += m.get(_ROWS, 0.0)
                c["bytes_written"] += m.get(_WRITTEN_BYTES, 0.0)
                c["files_written"] += m.get(_WRITTEN_FILES, 0.0)
        span.counters = c
