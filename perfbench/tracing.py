"""Spans, layer wrappers and Spark counters for the traced run.

A traced run records a span around each call into a layer: name,
start, end and parent, kept in memory.  Every span tags the Spark jobs
it starts with its own job group, so the event log attributes jobs,
tasks, CPU, GC, shuffle and I/O to the innermost open span.  The event
log is switched on through ``PYSPARK_SUBMIT_ARGS`` by the traced run
alone; the package is never edited.

Layers reached only from inside the package (the gate, the upserts,
the table_io commit steps) are wrapped by replacing the module
attribute the package looks up at call time, for the duration of the
run, and restored afterwards.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

# times are shares of the phase's measured wall (``*_share``): a layer a
# workload never calls then reads a 0 ratio, not a constant 0 seconds
SPAN_COUNTERS = ("wall_share", "self_share", "cpu_share", "gc_share",
                 "jobs", "tasks", "shuffle_mb", "input_mb", "output_mb")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory spans and counts.  ``sc`` set ⇒ spans tag Spark jobs."""
    enabled = True
    sc: object = None
    phase: str = "setup"
    spans: list[Span] = field(default_factory=list)
    counts: list[tuple[str, str, float]] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent and parent.sid, self.phase,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span{sp.sid}", f"span{sp.sid}")

    def count(self, name: str, value: float) -> None:
        self.counts.append((self.phase, name, value))


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""
    enabled = False
    phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def count(self, name: str, value: float) -> None:
        pass


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's duration minus the part its children cover (children
    of one parent never overlap: the driver is single-threaded)."""
    child = defaultdict(float)
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] += sp.end - sp.start
    return {sp.sid: (sp.end - sp.start) - child[sp.sid] for sp in spans}


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the package's inner layer entry points for the run."""
    from nvd2mysqlloader_spark import ingest
    from nvd2mysqlloader_spark.operators import table_io

    patched: list[tuple[object, str, object]] = []
    linked: list[str] = []

    def patch(mod, attr, make):
        orig = getattr(mod, attr)
        patched.append((mod, attr, orig))
        setattr(mod, attr, make(orig))

    def spanned(name):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    def link_tree(orig):
        def wrapper(src, dst):
            linked.append(os.path.realpath(dst))
            with tracer.span("table_io.link_tree"):
                return orig(src, dst)
        return wrapper

    def upsert(orig):
        def wrapper(target_path, *args, **kwargs):
            before = table_io.current_version(target_path)
            linked.clear()
            name = os.path.basename(target_path.rstrip("/"))
            with tracer.span("upsert.write_upsert_parquet." + name):
                out = orig(target_path, *args, **kwargs)
            cur = table_io.current_version(target_path)
            if cur != before:            # a version was published
                links = {os.path.relpath(d, cur) for d in linked}
                rewritten = [d for d in table_io.leaf_partition_dirs(cur)
                             if d not in links]
                tracer.count("upsert.partitions_rewritten", len(rewritten))
                tracer.count("upsert.partitions_linked", len(links))
                tracer.count("upsert.files_written", sum(
                    f.endswith(".parquet") for d in rewritten
                    for f in os.listdir(os.path.join(cur, d))))
                tracer.count("table_io.versions_retained",
                             len(table_io.versions(target_path)))
            return out
        return wrapper

    patch(ingest, "fresh_feeds", spanned("ingest.fresh_feeds"))
    patch(ingest, "write_upsert_parquet", upsert)
    patch(table_io, "publish_version", spanned("table_io.publish_version"))
    patch(table_io, "cleanup_stale", spanned("table_io.cleanup_stale"))
    patch(table_io, "link_tree", link_tree)
    try:
        yield
    finally:
        for mod, attr, orig in reversed(patched):
            setattr(mod, attr, orig)


def scan_stats(df) -> tuple[int, int]:
    """(files, rows) read by the file scans of ``df``'s last action,
    from the executed physical plan's scan metrics."""
    files = rows = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        plan = todo.pop()
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(plan.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(plan.plan())
            continue
        metrics = plan.metrics()
        if metrics.contains("numFiles"):
            files += metrics.apply("numFiles").value()
            rows += metrics.apply("numOutputRows").value()
        children = plan.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return files, rows


# ------------------------------------------------------------ event log

def eventlog_submit_args(log_dir: str) -> str:
    """spark-submit arguments that switch on an uncompressed, unrolled
    event log in ``log_dir``: set as PYSPARK_SUBMIT_ARGS before the
    session starts, in the traced run only."""
    confs = {"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false"}
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) \
        + " pyspark-shell"


_STATS_LINE = re.compile(
    r"^(?P<desc>.*): jobs=(?P<jobs>\d+) stages=\d+ tasks=(?P<tasks>\d+) ")


def eventlog_counters(path: str, repo_root: str) -> dict[str, dict]:
    """Per job description: jobs and tasks from the repository's
    ``scripts/eventlog_stats.py`` (run on ``path``); executor CPU,
    shuffle, GC, input and output from one more pass over the task-end
    events, at full precision (that script prints CPU and shuffle to
    0.1) and for the counters it does not report."""
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    from scripts import eventlog_stats

    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(
        ("jobs", "tasks", "cpu_s", "shuffle_mb", "gc_s", "input_mb",
         "input_rows", "output_mb"), 0.0))
    buf, argv = io.StringIO(), sys.argv
    sys.argv = ["eventlog_stats", path]
    try:
        with contextlib.redirect_stdout(buf):
            eventlog_stats.main()
    finally:
        sys.argv = argv
    for line in buf.getvalue().splitlines():
        m = _STATS_LINE.match(line)
        if m:
            c = out[m["desc"]]
            c["jobs"], c["tasks"] = int(m["jobs"]), int(m["tasks"])

    stage_desc: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                e = json.loads(line)
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description") or "<none>"
                for sid in e.get("Stage IDs", []):
                    stage_desc[sid] = desc
            elif '"SparkListenerTaskEnd"' in line:
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                c = out[stage_desc.get(e["Stage ID"], "<none>")]
                c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                read = m.get("Shuffle Read Metrics") or {}
                c["shuffle_mb"] += (
                    read.get("Remote Bytes Read", 0)
                    + read.get("Local Bytes Read", 0)
                    + (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)) / 1e6
                inp = m.get("Input Metrics") or {}
                c["input_mb"] += inp.get("Bytes Read", 0) / 1e6
                c["input_rows"] += inp.get("Records Read", 0)
                c["output_mb"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 1e6
    return out


def find_eventlog(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
            if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
    return logs[0]
