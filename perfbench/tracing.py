"""Spans and counters for the traced run, recorded from outside the program.

The tracer wraps the calls the benchmark makes into each layer, and the
catalog functions the operator modules call, in timed spans. Spark's own
event log supplies the jobs, stages and tasks; each job becomes a child
span of the build or exec span whose job group launched it. A query
execution listener supplies the Catalyst phases of every execution,
which become child spans of the build or exec span they ran in. Spans stay
in memory until :meth:`Tracer.write` runs once at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

PACKAGE = "data_collection_ieee_spark"

# SQL metrics read from the event log, by the name Spark gives them in
# the plan. Rows come back from Python workers as the "number of output
# rows" of a Python/pandas/Arrow evaluation node.
SQL_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "number of written files": "output_files",
}
PYTHON_NODE_WORDS = ("Python", "Pandas", "Arrow")
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    qid: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store plus counters for the catalog layer."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.qid: str | None = None
        self._patched: list[tuple[object, str, object]] = []
        # Reader frames already returned, held so that their ids stay unique.
        self._seen_readers: dict[int, object] = {}
        # (phase, start, end) in epoch seconds, from the JVM's clock.
        self.phases: list[tuple[str, float, float]] = []

    def begin(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), parent=parent, qid=self.qid, attrs=attrs))
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> Span:
        popped = self._stack.pop()
        if popped != sid:
            raise RuntimeError(f"span {sid} closed out of order (open: {popped})")
        span = self.spans[sid]
        span.end = time.time()
        return span

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """A span; with ``group``, Spark jobs started inside it are
        tagged with that job group so the event log can attribute them."""
        sid = self.begin(name, **attrs)
        if group is not None:
            self.spans[sid].attrs["group"] = group
            self.sc.setJobGroup(group, group)
        try:
            yield self.spans[sid]
        finally:
            self.end(sid)

    # -- Catalyst ----------------------------------------------------------

    def note_analysis(self, df) -> None:
        """Record the analysis phase of the frame a query function returned.

        It ran while the function built the frame, so it becomes a child
        span of the query's last build span."""
        found = df._jdf.queryExecution().tracker().phases().get("analysis")
        if found.isDefined():
            s = found.get()
            self.phases.append(("analysis", s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0))

    def listen(self, spark) -> None:
        """Record the Catalyst phases of every query execution Spark runs:
        the actions inside query functions and the noop sink. The sink
        plans its own write command, so its optimization and planning are
        read from that command's QueryExecution, not from the frame's."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _PhaseListener(self.phases)
        self._listeners = spark._jsparkSession.listenerManager()
        self._listeners.register(self._listener)

    def stop_listening(self, spark) -> None:
        """Wait until Spark has delivered every execution event, then
        unregister the listener."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self._listeners.unregister(self._listener)

    # -- catalog layer -----------------------------------------------------

    def patch_catalog(self, catalog) -> None:
        """Time every ``load_table`` and count every ``persist_tracked``
        call, including those the operator modules imported by name."""
        load_table, persist_tracked = catalog.load_table, catalog.persist_tracked

        def traced_load_table(spark, sf_dir, name):
            sid = self.begin("catalog.load_table", table=name)
            try:
                df = load_table(spark, sf_dir, name)
            finally:
                span = self.end(sid)
            # A memo hit returns the very reader frame an earlier call got.
            span.attrs["memo_hit"] = id(df) in self._seen_readers
            self._seen_readers[id(df)] = df
            return df

        def traced_persist_tracked(df):
            if self._stack:
                self.spans[self._stack[-1]].attrs["persisted"] = (
                    self.spans[self._stack[-1]].attrs.get("persisted", 0) + 1
                )
            return persist_tracked(df)

        for mod in [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m]:
            for attr, orig, new in (
                ("load_table", load_table, traced_load_table),
                ("persist_tracked", persist_tracked, traced_persist_tracked),
            ):
                if getattr(mod, attr, None) is orig:
                    self._patched.append((mod, attr, orig))
                    setattr(mod, attr, new)

    def unpatch(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, separators=(",", ":"))


class NoTracer:
    """Stands in for :class:`Tracer` in untraced runs: records nothing."""

    def span(self, name: str, group: str | None = None, **attrs):
        return nullcontext()

    def note_analysis(self, df) -> None:
        pass


class _PhaseListener:
    """A ``QueryExecutionListener`` implemented in Python; Spark calls it
    on its listener thread after each named query execution ends."""

    def __init__(self, out: list) -> None:
        self.out = out

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java interface
        phases = qe.tracker().phases()
        for phase in CATALYST_PHASES:
            found = phases.get(phase)
            if found.isDefined():
                s = found.get()
                self.out.append((phase, s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0))

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java interface
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -- Spark event log ----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs from the single uncompressed event log in ``log_dir``.

    Returns ``{job_id: {...}}`` with the job group, start and end times
    (epoch seconds) and the stage, task, byte and SQL-metric totals of
    its stages.
    """
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    metric_of: dict[int, str] = {}  # SQL accumulator id -> total it feeds
    last_job_of: dict[str, int] = {}  # SQL execution id -> its latest job
    driver_updates: list[tuple[str, list]] = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                    **dict.fromkeys(TASK_TOTALS, 0),
                }
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = jid
                if "spark.sql.execution.id" in props:
                    last_job_of[props["spark.sql.execution.id"]] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                # Stages skipped because their shuffle output already
                # existed never complete, so they are not counted.
                job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                if job is not None:
                    job["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is not None:
                    _add_task(job, ev, metric_of)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _scan_plan(ev["sparkPlanInfo"], metric_of)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append((str(ev["executionId"]), ev["accumUpdates"]))
    # Write statistics are summed on the driver after the write job ends.
    for exec_id, updates in driver_updates:
        job = jobs.get(last_job_of.get(exec_id))
        for acc_id, value in updates:
            if job is not None and acc_id in metric_of:
                job[metric_of[acc_id]] += int(value)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs


def _scan_plan(info: dict, metric_of: dict[int, str]) -> None:
    stack = [info]
    while stack:
        node = stack.pop()
        python_node = any(w in node.get("nodeName", "") for w in PYTHON_NODE_WORDS)
        for m in node.get("metrics", []):
            if m["name"] in SQL_METRICS:
                metric_of[m["accumulatorId"]] = SQL_METRICS[m["name"]]
            elif python_node and m["name"] == "number of output rows":
                metric_of[m["accumulatorId"]] = "python_rows_received"
        stack.extend(node.get("children", []))


# Totals kept per job; the first SPLIT_TOTALS are reported separately
# for the jobs of the build and of the exec span.
TASK_TOTALS = (
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes_sent",
    "python_rows_received",
    "output_bytes",
    "output_files",
)
SPLIT_TOTALS = TASK_TOTALS[:7]


def _add_task(job: dict, ev: dict, metric_of: dict[int, str]) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    job["tasks"] += 1
    job["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = metric_of.get(acc.get("ID"))
        if key is not None:
            job[key] += int(acc["Update"])


def attach_jobs(tracer: Tracer, jobs: dict) -> None:
    """Add each job as a child span of the span that owns its job group."""
    owners = {s.attrs["group"]: i for i, s in enumerate(tracer.spans) if "group" in s.attrs}
    for jid in sorted(jobs):
        job = jobs[jid]
        owner = owners.get(job["group"])
        if owner is None:
            continue
        parent = tracer.spans[owner]
        start = min(max(job["start"], parent.start), parent.end)
        attrs = {k: job[k] for k in ("stages", *TASK_TOTALS)}
        attrs["job_id"] = jid
        tracer.spans.append(
            Span(
                len(tracer.spans),
                "spark.job",
                start,
                max(start, min(job["end"], parent.end)),
                parent=owner,
                qid=parent.qid,
                attrs=attrs,
            )
        )


def attach_phases(tracer: Tracer) -> None:
    """Add each recorded Catalyst phase as a child span of the build or
    exec span it ran in. A span keeps the phase's duration as Spark
    measured it (``spark_s``) but is trimmed so that it overlaps neither
    that span's jobs nor an earlier phase; Spark reports whole
    milliseconds, and self times must still add up."""
    owners = [s for s in tracer.spans if s.name in ("build", "exec")]
    children = _children(tracer.spans)
    for phase, start, end in sorted(tracer.phases, key=lambda p: p[1]):
        # The JVM clock is read in whole milliseconds, so a phase may
        # appear to start up to 1 ms before the span that ran it.
        owner = next((o for o in owners if o.start - 0.001 <= start <= o.end), None)
        if owner is None:
            continue
        a, b = max(start, owner.start), min(end, owner.end)
        for kid in sorted((tracer.spans[k] for k in children[owner.sid]), key=lambda k: k.start):
            if kid.start <= a < kid.end:
                a = kid.end
            elif a < kid.start < b:
                b = kid.start
                break
        sid = len(tracer.spans)
        tracer.spans.append(
            Span(sid, "catalyst", a, max(a, b), parent=owner.sid, qid=owner.qid,
                 attrs={"phase": phase, "spark_s": end - start})
        )
        children[owner.sid].append(sid)


# -- summaries ----------------------------------------------------------------


def union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def _children(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s.sid)
    return out


def self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time per span name over the subtree under ``root``.

    A span's self time is its duration minus the union of its children's
    intervals. Jobs may overlap one another, so the ``spark.job`` layer
    is credited with the union of its sibling jobs, not their sum; the
    layers' self times then add up to the root span's duration.
    """
    children = _children(spans)
    out: dict[str, float] = defaultdict(float)
    stack = [root]
    while stack:
        s = spans[stack.pop()]
        kids = [spans[k] for k in children.get(s.sid, [])]
        out[s.name] += (s.end - s.start) - union([(k.start, k.end) for k in kids])
        out["spark.job"] += union([(k.start, k.end) for k in kids if k.name == "spark.job"])
        stack.extend(k.sid for k in kids if k.name != "spark.job")
    return dict(out)


def subtree(spans: list[Span], root: int) -> list[Span]:
    children = _children(spans)
    out, stack = [], [root]
    while stack:
        i = stack.pop()
        out.append(spans[i])
        stack.extend(children.get(i, []))
    return out
