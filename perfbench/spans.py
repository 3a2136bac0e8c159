"""Span tracer, process probes and the per-layer patch set.

Spans are recorded by the benchmark around calls into the engine's
modules; the engine itself is not edited. Calls the engine makes between
its own modules (``check_table`` → ``validate_spec``, ``schema_conforms``,
``compile_table_checks``) are timed by swapping the module attribute the
caller looks up for a timing wrapper, only while a traced run is in
progress (:func:`patched_layers`).

Each span gets its own Spark job group, so jobs, stages and tasks are
attributed to the innermost span that launched them and read back through
``statusTracker`` after the run (:meth:`Tracer.count_jobs`). Spans are
kept in memory and written out when the benchmark ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # comm may hold spaces: split after the closing parenthesis
    return s[s.rindex(")") + 2:].split()


def descendants(pid: int) -> list:
    """Live descendant pids of ``pid`` (from /proc, ppid links)."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes under the JVM (the pyspark
    daemon and its workers), including reaped workers (cutime/cstime)."""
    total = 0
    for pid in descendants(jvm_pid):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # fields after ")": state=0 ... utime=11 stime=12 cutime=13 cstime=14
        total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE / 2**20
    except OSError:
        return 0.0


class RssSampler:
    """Samples RSS(JVM) + RSS(this Python process) on a thread and keeps
    the peak, while started."""

    def __init__(self, jvm_pid: int, period_s: float = 0.02):
        self.pids = (jvm_pid, os.getpid())
        self.period_s = period_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = None

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Tracer:
    """In-memory spans: (id, parent, run, name, start, end, attrs).

    A disabled tracer makes :meth:`span` a no-op, so the untraced runs
    execute the same code with nothing recorded."""

    def __init__(self, spark, enabled: bool, jvm_pid: int):
        self.spark = spark
        self.enabled = enabled
        self.jvm_pid = jvm_pid
        self.spans: list = []
        self.run_id = None
        self._ids = itertools.count(1)
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        stack = self._stack
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "name": name,
            "group": f"perfbench-{os.getpid()}-{sid}",
            "attrs": dict(attrs),
        }
        # the job group is two local properties; an enclosing span's
        # values come back on exit
        saved = [(k, sc.getLocalProperty(k)) for k in JOB_GROUP_PROPS]
        sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        sc.setLocalProperty("spark.job.description", name)
        stack.append(rec)
        cpu0 = worker_cpu_s(self.jvm_pid)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            rec["worker_cpu_s"] = worker_cpu_s(self.jvm_pid) - cpu0
            stack.pop()
            for k, v in saved:
                sc.setLocalProperty(k, v)
            self.spans.append(rec)

    def count_jobs(self) -> None:
        """Fill jobs/stages/tasks of every span. Waits for the listener
        bus first, so finished jobs are all visible."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    stages += 1
                    tasks += st.numTasks if st else 0
            rec["jobs"], rec["stages"], rec["tasks"] = len(jobs), stages, tasks

    def run_spans(self, run_id) -> list:
        return [r for r in self.spans if r["run"] == run_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def self_times(spans: list) -> dict:
    """name -> summed self time: each span's duration minus its direct
    children's (spans nest on one thread)."""
    out: dict = {}
    for r in spans:
        out[r["name"]] = out.get(r["name"], 0.0) + r["end"] - r["start"]
        if r["parent"] is not None:
            parent = next(p for p in spans if p["id"] == r["parent"])
            out[parent["name"]] = out.get(parent["name"], 0.0) - (r["end"] - r["start"])
    return out


@contextmanager
def patched_layers(tr: Tracer):
    """While active, the engine's inter-module calls named in the layer
    table run inside spans: ``spec.validate`` (``validate_spec`` and
    ``schema_conforms``), ``compile.checks`` (``compile_table_checks``,
    with the check and shared-slot counts) and
    ``plans.validation.check_table``. Originals are restored on exit."""
    import check_datapackage_spark.compile as compile_mod
    import check_datapackage_spark.plans.validation as validation_mod
    import check_datapackage_spark.spec as spec_mod

    def timed(span_name, fn, counts=None):
        def wrapper(*a, **kw):
            with tr.span(span_name) as attrs:
                out = fn(*a, **kw)
                if counts:
                    attrs.update(counts(out))
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def check_counts(checks):
        slots = {n for ck in checks for layer in (ck.lets or ()) for n in layer}
        return {"n_checks": len(checks), "n_let_slots": len(slots)}

    swaps = [
        (spec_mod, "validate_spec", timed("spec.validate", spec_mod.validate_spec)),
        (compile_mod, "schema_conforms", timed("spec.validate", compile_mod.schema_conforms)),
        (
            compile_mod,
            "compile_table_checks",
            timed("compile.checks", compile_mod.compile_table_checks, check_counts),
        ),
        (
            validation_mod,
            "check_table",
            timed("plans.validation.check_table", validation_mod.check_table),
        ),
    ]
    saved = [(m, n, getattr(m, n)) for m, n, _ in swaps]
    try:
        for m, n, w in swaps:
            setattr(m, n, w)
        yield
    finally:
        for m, n, orig in saved:
            setattr(m, n, orig)
