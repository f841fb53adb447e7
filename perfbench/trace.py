"""Outside-in tracing of the program's layers for the traced benchmark run.

Nothing in the program is edited. The tracer replaces each layer's public
functions at the name where callers look them up (``engine`` binds
``compile_row_rules`` at import; ``cli`` imports ``load_manifest`` at call
time from ``manifest``) with a wrapper that records a span. Per span it
sets one Spark job group, so the event log attributes every job and stage
to its innermost span, and it counts the py4j commands sent while the span
is innermost. Object-release commands (``m\\nd``) are skipped: garbage
collection sends them at arbitrary times, which made counts wander.

Spans stay in memory; the event log is parsed once after the session
stops, and ``request_metrics`` turns both into the per-layer numbers.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute, span name). The span name's prefix before the first
# dot is the layer.
LAYER_FUNCTIONS = [
    ("schema_enforcer_spark.manifest", "load_manifest", "manifest.load"),
    ("schema_enforcer_spark.binding", "ManifestRegistry.automap", "binding.automap"),
    ("schema_enforcer_spark.compiler", "compile_row_rules", "compiler.compile_row_rules"),
    ("schema_enforcer_spark.engine", "compile_row_rules", "compiler.compile_row_rules"),
    ("schema_enforcer_spark.engine", "compile_row_rule", "compiler.compile_row_rule"),
    ("schema_enforcer_spark.engine", "ValidationEngine.violations", "engine.violations"),
    ("schema_enforcer_spark.engine", "ValidationEngine.verdicts", "engine.verdicts"),
    ("schema_enforcer_spark.engine", "ValidationEngine.validate", "engine.validate"),
    ("schema_enforcer_spark.engine", "validate_many", "engine.validate_many"),
    ("schema_enforcer_spark.checkpoint", "CheckpointManager.run", "checkpoint.pending"),
    ("schema_enforcer_spark.checkpoint", "CheckpointManager.record", "checkpoint.record"),
    ("schema_enforcer_spark.stats", "write_partition_stats", "stats.write"),
    ("schema_enforcer_spark.stats", "merged_column_stats", "stats.merge"),
    ("schema_enforcer_spark.functions.dedup", "near_dup_groups", "dedup.near_dup_groups"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "sink.parquet"),
]
# DataFrame actions and cache calls get a span in the calling layer, named
# "<caller span>:<method>", so the driver time that plans each action is
# attributed to the layer that asked for it
ACTIONS = ("collect", "count", "isEmpty", "take", "localCheckpoint", "persist", "unpersist")
# a parquet write inside these layers is their own storage, not a result sink
_OWN_WRITES = ("checkpoint", "stats")
_RELEASE = "m\nd"
_GROUP = "perfbench-span-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    request: int
    start: float
    end: float = 0.0
    py4j: int = 0

    @property
    def kind(self) -> str:
        """The layer function this span (or the action it ran) belongs to."""
        return self.name.split(":", 1)[0]

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    spark: object
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    notes: dict[int, dict[str, float]] = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _restore: list[tuple] = field(default_factory=list)
    _request: int = -1
    _internal: bool = False

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        self._internal = True
        try:
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"{_GROUP}{span.id}", span.name)
        finally:
            self._internal = False

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, self._request, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def request(self, index: int, name: str):
        """Root span of one traced request."""
        self._request, self.enabled = index, True
        try:
            with self.span(name):
                yield
        finally:
            self.enabled = False

    def note(self, key: str, value: float) -> None:
        self.notes.setdefault(self._request, {})[key] = value

    # -- instrumentation -----------------------------------------------------

    def _wrap(self, owner, attr: str, name: str | None) -> None:
        """Replace owner.attr by a traced twin; name None marks an action."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            top = tracer._stack[-1] if tracer.enabled else None
            if top is None or (name and name.startswith("sink.") and top.layer in _OWN_WRITES):
                return orig(*args, **kwargs)
            with tracer.span(name or f"{top.kind}:{attr}"):
                out = orig(*args, **kwargs)
            if name == "checkpoint.pending":
                tracer.note("pending_rows", out[1])
            return out

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def install(self) -> None:
        for module, attr, name in LAYER_FUNCTIONS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            self._wrap(owner, leaf, name)
        dataframe = importlib.import_module("pyspark.sql.classic.dataframe").DataFrame
        for attr in ACTIONS:
            self._wrap(dataframe, attr, None)
        client = self.spark.sparkContext._gateway._gateway_client
        cls = type(client)
        send = cls.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            if tracer.enabled and not tracer._internal and tracer._stack and not command.startswith(_RELEASE):
                tracer._stack[-1].py4j += 1
            return send(conn, command, *args, **kwargs)

        cls.send_command = send_command
        self._restore.append((cls, "send_command", send))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _zero_stage() -> dict:
    return {
        "tasks": 0, "task_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "peak_exec_mem_bytes": 0, "input_rows": 0, "output_bytes": 0,
    }


def read_event_log(directory: str) -> tuple[dict, dict]:
    """(jobs, stages) from the single event log file in *directory*.

    jobs: id -> {span, start, end} (seconds since the epoch);
    stages: id -> {span, job, **task metric sums}."""
    (name,) = os.listdir(directory)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}

    def span_of(props: dict | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(_GROUP):]) if group.startswith(_GROUP) else None

    with open(os.path.join(directory, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"span": span_of(ev.get("Properties")), "start": ev["Submission Time"] / 1e3, "end": None}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                st = stages.setdefault(sid, _zero_stage())
                st["span"] = span_of(ev.get("Properties"))
                st["job"] = stage_job.get(sid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                st = stages.setdefault(ev["Stage ID"], _zero_stage())
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1e3
                st["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["peak_exec_mem_bytes"] = max(st["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
                st["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
                st["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs, stages


# ---------------------------------------------------------------------------
# interval arithmetic over [start, end) pairs
# ---------------------------------------------------------------------------


def union(ivs) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(ivs):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def intersect(xs, ys) -> list[tuple[float, float]]:
    xs, ys = union(xs), union(ys)
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def subtract(xs, ys) -> list[tuple[float, float]]:
    out = []
    ys = union(ys)
    for a, b in union(xs):
        for c, d in ys:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
        if a < b:
            out.append((a, b))
    return out


def measure(ivs) -> float:
    return sum(b - a for a, b in union(ivs))


# ---------------------------------------------------------------------------
# per-request layer metrics
# ---------------------------------------------------------------------------

STAGE_SUMS = (
    "tasks", "task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_rows",
)


def request_metrics(
    spans: list[Span], jobs: dict, stages: dict, cores: int, input_table_rows: int, notes: dict
) -> tuple[dict[str, float], list[dict]]:
    """Layer metrics of one traced request, plus its per-stage rows."""
    by_id = {s.id: s for s in spans}
    (root,) = [s for s in spans if s.parent is None]
    wall = root.end - root.start
    window = [(root.start, root.end)]

    def ancestors(s: Span):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def self_intervals(pick) -> list[tuple[float, float]]:
        """Time inside the picked spans that no nested span of another kind covers."""
        mine = [s for s in spans if pick(s)]
        nested = [s for s in spans if not pick(s) and any(pick(a) for a in ancestors(s))]
        return subtract([(s.start, s.end) for s in mine], [(s.start, s.end) for s in nested])

    def layer(name):
        return lambda s: s.layer == name

    def kind(name):
        return lambda s: s.kind == name

    req_jobs = {j: v for j, v in jobs.items() if v["span"] in by_id and v["end"] is not None}
    req_stages = [dict(st, stage=sid) for sid, st in stages.items() if st.get("span") in by_id]

    def jobs_in(pick):
        return [v for v in req_jobs.values() if pick(by_id[v["span"]])]

    def job_ivs(js):
        return intersect([(v["start"], v["end"]) for v in js], window)

    all_jobs = job_ivs(req_jobs.values())
    engine_self = self_intervals(layer("engine"))
    engine_jobs = jobs_in(layer("engine"))
    sink_stages = [st for st in req_stages if by_id[st["span"]].layer == "sink"]
    m = {
        "request_s": wall,
        "py4j.calls": sum(s.py4j for s in spans),
        "driver.idle_s": wall - measure(all_jobs),
        "manifest.load_s": measure(self_intervals(layer("manifest"))),
        "binding.automap_s": measure(self_intervals(layer("binding"))),
        "compiler.compile_s": measure(self_intervals(layer("compiler"))),
        "compiler.py4j_calls": sum(s.py4j for s in spans if s.layer == "compiler"),
        "engine.plan_s": measure(subtract(engine_self, all_jobs)),
        "engine.py4j_calls": sum(s.py4j for s in spans if s.layer == "engine"),
        "engine.eager_jobs": len(engine_jobs),
        "engine.eager_s": measure(intersect(engine_self, job_ivs(engine_jobs))),
        "cli.self_s": measure(self_intervals(layer("cli"))),
        "cli.jobs": len(jobs_in(layer("cli"))),
        "checkpoint.pending_s": measure(self_intervals(kind("checkpoint.pending"))),
        "checkpoint.record_s": measure(self_intervals(kind("checkpoint.record"))),
        "checkpoint.jobs": len(jobs_in(layer("checkpoint"))),
        "checkpoint.lineage_files": notes.get("lineage_files", 0),
        "checkpoint.pending_share": notes.get("pending_rows", 0) / input_table_rows,
        "stats.write_s": measure(self_intervals(kind("stats.write"))),
        "stats.merge_s": measure(self_intervals(kind("stats.merge"))),
        "sink.write_s": measure(self_intervals(layer("sink"))),
        "sink.bytes": sum(st["output_bytes"] for st in sink_stages),
        "dedup.span_s": measure([(s.start, s.end) for s in spans if s.layer == "dedup"]),
        "dedup.jobs": len(jobs_in(layer("dedup"))),
        "spark.jobs": len(req_jobs),
        "spark.stages": sum(1 for st in req_stages if st["tasks"]),
        "spark.peak_exec_mem_bytes": max((st["peak_exec_mem_bytes"] for st in req_stages), default=0),
    }
    for key in STAGE_SUMS:
        m[f"spark.{key}"] = sum(st[key] for st in req_stages)
    m["spark.scan_amplification"] = m["spark.input_rows"] / input_table_rows
    m["spark.busy_share"] = m["spark.task_s"] / (wall * cores)
    covered = [(s.start, s.end) for s in spans if s is not root] + [(v["start"], v["end"]) for v in req_jobs.values()]
    m["trace.attributed_share"] = measure(intersect(covered, window)) / wall
    rows = [
        {"request": root.request, "span": by_id[st["span"]].name, **{k: v for k, v in st.items() if k != "span"}}
        for st in sorted(req_stages, key=lambda st: st["stage"])
    ]
    return m, rows
