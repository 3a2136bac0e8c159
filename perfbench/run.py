"""Validation benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout of the repository::

    python3 perfbench/run.py --workload seq_full --seed 1 --seconds 16 --trace 0

The run generates its inputs from ``--seed`` as parquet under
``.perfbench/work/`` (removed at exit), starts Spark on ``local[nproc]``
from a single driver process, sets up :data:`SETUP_REPS` times (input
generation, load, warm-up run), makes :data:`WARM_RUNS` more runs and
then runs the workload closed loop, one client, for ``--seconds``.
``setup_s`` is the session start plus the median set-up. Every run is
checked against the generator's injection record.

The host is shared and its speed changes by up to 2x for minutes at a
time, so the end-to-end times are reported in seconds of a quiet host:
the median wall time is scaled by the quiet host's time of a fixed host
reference (:func:`host_ref`) over the median time of that reference,
taken between the runs. The wall times are in the context line.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced runs and prints the per-layer metrics, with the
tracing overhead; its spans go to ``.perfbench/out/``. The line before
the result holds the run's context (versions, sizes, CPU calibration,
sample counts). Layer → metric → workload pairs are in ``layers.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from spans import RssSampler, Tracer, descendants, patched_layers, self_times

SETUP_REPS = 3
#: checked, untimed runs between the last set-up and the timed window:
#: the first runs after a set-up are still getting faster (JIT)
WARM_RUNS = 1
#: work of each kind of host reference (:func:`host_ref`)
REF_ROUND_TRIPS = 300
REF_SORT_LONGS = 8_000_000
#: seconds each kind of host reference takes on a quiet 4-vCPU host;
#: end-to-end times are reported in seconds of that host
REF_S = {"round_trips": 0.3, "jvm_cpu": 0.6}
#: seconds of each CPU calibration spin (bench.cpu_calibration)
CAL_SECONDS = 0.25
DRIVER_MEMORY = "2g"

#: spans whose summed self time is a per-layer metric ``<span>_s``
LAYER_SPANS = (
    "spec.validate",
    "compile.checks",
    "plans.validation.check_table",
    "plans.validation.violations_plan",
    "plans.validation.summary",
    "operators.uniqueness.violations",
    "operators.referential.violations",
    "issue.finalize_violations",
    "transfer.topandas",
    "transfer.noop",
    "sources.registry.write_violations",
    "operators.stats.profile",
    "operators.sketch.tdigest_by_group",
    "operators.drift.token_histogram",
    "operators.drift.drift_from_histogram",
)


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def checkout_root() -> str:
    """The benchmark runs from the root of a checkout; the engine is
    imported from there, never from an installed copy."""
    root = os.getcwd()
    for need in ("check_datapackage_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found under {root}: run from the root of a checkout")
    sys.path.insert(0, root)
    return root


def start_spark(nproc: int, work: str):
    from check_datapackage_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cores=nproc,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap is committed and touched at start, so its
            # resident size does not depend on when the GC grew it
            "spark.driver.extraJavaOptions": (
                f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for both
    the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        procs = descendants(proc.pid)
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while any(os.path.exists(f"/proc/{p}") for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def host_ref(jvm, kinds) -> float:
    """Seconds of fixed work that runs no engine code and reads no Spark
    setting, of the kinds a workload spends its time on
    (``Workload.host_ref``):

    - ``round_trips``: py4j calls from the driver into the JVM, each
      waiting on the other side, as plan building does;
    - ``jvm_cpu``: 64 MB of random longs made and sorted in parallel in
      the driver JVM, on every core and past the CPU caches, as a scan
      does.

    So the reference slows down with the host when a run does."""
    t0 = time.perf_counter()
    if "round_trips" in kinds:
        for i in range(REF_ROUND_TRIPS):
            # four round trips: the package lookups, then the call
            jvm.java.lang.Math.abs(i)
    if "jvm_cpu" in kinds:
        arr = jvm.java.util.Random(1).longs(REF_SORT_LONGS).toArray()
        jvm.java.util.Arrays.parallelSort(arr)
    return time.perf_counter() - t0


def host_seconds(wall: float, refs: list, kinds) -> float:
    """``wall`` seconds in seconds of the quiet host, by the median of
    the host references ``refs`` taken around it. The host this runs on
    is shared and its speed changes by up to 2x for minutes at a time;
    the run and the references slow down together."""
    return wall * sum(REF_S[kind] for kind in kinds) / statistics.median(refs)


def tail(samples: list) -> tuple:
    """The highest percentile with ``k = min(10, n // 4)`` samples beyond
    it (ten once there are 40 samples). Returns (value, k)."""
    s = sorted(samples)
    k = min(10, len(s) // 4)
    return s[len(s) - 1 - k], k


def setup(name, seed, nproc, inputs, spark, tr_off):
    """One set-up after the session start: input generation into the new
    directory ``inputs``, load and warm-up run. Returns (workload,
    seconds, warm outcome)."""
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    os.makedirs(inputs)
    w = WORKLOADS[name](seed, inputs, nproc)
    w.info = w.generate()
    w.load(spark)
    warm = w.run(spark, tr_off)
    return w, time.perf_counter() - t0, warm


class Tally:
    """Attempted/failed runs and the reference digest all runs match."""

    def __init__(self, w):
        self.w = w
        self.attempted = self.failed = 0
        self.ref = None
        self.problems: list = []

    def check(self, out, label: str) -> None:
        self.attempted += 1
        try:
            probs = self.w.verify(out)
        except Exception as e:  # an output the checks cannot read is wrong
            probs = [f"verify raised {e!r}"]
        if self.ref is None:
            self.ref = (out.digest, out.n_violations)
        elif (out.digest, out.n_violations) != self.ref:
            probs.append(f"digest {out.digest}/{out.n_violations} != first run {self.ref}")
        if probs:
            self.failed += 1
            self.problems.append({label: probs[:5]})

    def check_probes(self, probs: list, label: str) -> None:
        self.attempted += 1
        if probs:
            self.failed += 1
            self.problems.append({label: probs[:5]})

    def raised(self, label: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append({label: [traceback.format_exc(limit=3)]})
        traceback.print_exc()


def measure(w, spark, tr_off, seconds, tally, pid):
    """Closed loop of untraced runs for ``seconds``, a host reference
    before the first and after each. Returns (run wall times, host
    references, peak RSS)."""
    jvm = spark.sparkContext._jvm
    run_s, peak = [], 0.0
    host_ref(jvm, w.host_ref)  # JIT warm-up of the reference itself
    refs = [host_ref(jvm, w.host_ref)]
    start = time.monotonic()
    i = 0
    # until the window is over, or the next run would end past it
    while time.monotonic() - start + (run_s[-1] if run_s else 0.0) <= seconds:
        i += 1
        try:
            with RssSampler(pid) as rss:
                t0 = time.perf_counter()
                out = w.run(spark, tr_off)
                dt = time.perf_counter() - t0
        except Exception:
            tally.raised(f"run {i}")
            continue
        finally:
            refs.append(host_ref(jvm, w.host_ref))
        peak = max(peak, rss.peak)
        run_s.append(dt)
        tally.check(out, f"run {i}")
    return run_s, refs, peak


def layer_metrics(tr, run_ids) -> dict:
    """Median over traced runs of each per-layer metric."""
    per_run = []
    for rid in run_ids:
        spans = tr.run_spans(rid) + tr.run_spans("probe")
        st = self_times(spans)
        m = {f"{s}_s": st.get(s, 0.0) for s in LAYER_SPANS}
        m["transfer.boundary_s"] = m["transfer.topandas_s"] - m["transfer.noop_s"]
        comp = [r["attrs"] for r in spans if r["name"] == "compile.checks"]
        m["compile.n_checks"] = max((a.get("n_checks", 0) for a in comp), default=0)
        m["compile.n_let_slots"] = max((a.get("n_let_slots", 0) for a in comp), default=0)
        topd = [r["attrs"] for r in spans if r["name"] == "transfer.topandas"]
        m["transfer.violation_rows"] = sum(a.get("violation_rows", 0) for a in topd)
        m["transfer.bytes"] = sum(a.get("bytes", 0) for a in topd)
        main = tr.run_spans(rid)
        root = [r for r in main if r["name"] == "run"]
        # pyspark worker CPU of the run and of the probes (top-level spans)
        m["python.worker_cpu_s"] = sum(r["worker_cpu_s"] for r in spans if r["parent"] is None)
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}"] = sum(r[k] for r in main)
        m["plans.validation.check_table.jobs"] = sum(
            r["jobs"] for r in main if r["name"] == "plans.validation.check_table"
        )
        m["trace.run_s"] = sum(r["end"] - r["start"] for r in root)
        per_run.append(m)
    return {k: statistics.median(m[k] for m in per_run) for k in per_run[0]}


def traced_loop(w, spark, tr_off, tr, seconds, tally):
    """Pairs of one untraced and one traced run, in alternating order so
    that a warm-up trend cancels, for ``seconds`` (at least two pairs);
    then the layer probes once. Returns (untraced run_s, traced run ids)."""
    untraced, traced = [], []
    start = time.monotonic()
    pair_s = 0.0
    k = 0
    while k < 2 or time.monotonic() - start + pair_s <= seconds:
        t_pair = time.monotonic()
        for is_traced in ((False, True) if k % 2 == 0 else (True, False)):
            label = f"{'traced' if is_traced else 'untraced'} {k}"
            try:
                if is_traced:
                    tr.run_id = f"t{k}"
                    with patched_layers(tr), tr.span("run"):
                        out = w.run(spark, tr)
                    traced.append(tr.run_id)
                else:
                    t0 = time.perf_counter()
                    out = w.run(spark, tr_off)
                    untraced.append(time.perf_counter() - t0)
            except Exception:
                tally.raised(label)
                continue
            tally.check(out, label)
        k += 1
        pair_s = time.monotonic() - t_pair
    tr.run_id = "probe"
    try:
        tally.check_probes(w.probes(spark, tr), "probes")
    except Exception:
        tally.raised("probes")
    tr.count_jobs()
    return untraced, traced


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = checkout_root()
    try:
        import pyspark

        from bench import cpu_calibration
        from workloads import WORKLOADS
    except ImportError as e:
        fail(f"cannot import the engine or its dependencies: {e}")
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    nproc = os.cpu_count()
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file inside the checkout: Python's, the
    # short-lived spark-submit launcher JVM's and (start_spark) Spark's
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    ctx = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "pyspark": pyspark.__version__,
        "driver_memory": DRIVER_MEMORY,
    }
    session = {}
    try:
        ctx["cpu_cal_before"] = cpu_calibration(CAL_SECONDS)
        result = bench(args, nproc, work, out_dir, ctx, session)
        ctx["cpu_cal_after"] = cpu_calibration(CAL_SECONDS)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if "spark" in session:
            stop_spark(session["spark"])
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


def bench(args, nproc, work, out_dir, ctx, session) -> dict:
    """Start Spark (kept in ``session`` for the caller to stop), set up,
    measure, and return the result object."""
    t0 = time.perf_counter()
    spark = session["spark"] = start_spark(nproc, work)
    ctx["jvm_start_s"] = time.perf_counter() - t0
    ctx["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    pid = jvm_pid(spark)
    tr_off = Tracer(spark, False, pid)

    setups, selftest = [], []
    for rep in range(SETUP_REPS if args.trace == 0 else 1):
        inputs = os.path.join(work, f"inputs-{rep}")
        w, dt, warm = setup(args.workload, args.seed, nproc, inputs, spark, tr_off)
        setups.append(dt)
        warm_probs = w.verify(warm)
        if warm_probs:
            raise RuntimeError(f"warm-up run incorrect: {warm_probs[:5]}")
        # the check is not vacuous: one injection fewer must fail it
        selftest.append(bool(w.verify(warm, w.mutated_record())))
    ctx["inputs"] = w.info
    ctx["setup_s_all"] = setups
    ctx["selftest_detects_missing_injection"] = all(selftest)
    tally = Tally(w)
    for i in range(WARM_RUNS):
        tally.check(w.run(spark, tr_off), f"warm {i}")

    if args.trace == 0:
        run_wall, refs, peak = measure(w, spark, tr_off, args.seconds, tally, pid)
        if not run_wall:
            raise RuntimeError("no run completed")
        kinds = w.host_ref
        med = host_seconds(statistics.median(run_wall), refs, kinds)
        setup_wall = ctx["jvm_start_s"] + statistics.median(setups)
        metrics = {
            # by the references of the timed window too: the host's slow
            # and fast phases last minutes, longer than a set-up
            "setup_s": (host_seconds(setup_wall, refs, kinds), "s"),
            "run_s": (med, "s"),
            "rows_per_s": (w.info["rows"] / med, "1/s"),
            "peak_rss_mb": (peak, "MB"),
        }
        # too few runs in a window for a tail with ten runs beyond it:
        # context only, with the number of runs beyond it
        tail_s, k = tail(run_wall)
        ctx.update(
            run_wall_s=statistics.median(run_wall),
            run_wall_s_all=run_wall,
            run_refs=refs,
            setup_wall_s=setup_wall,
            host_ref=kinds,
            host_slowdown=statistics.median(refs) / sum(REF_S[kind] for kind in kinds),
            run_wall_tail_s=tail_s,
            run_tail_beyond=k,
        )
    else:
        tr = Tracer(spark, True, pid)
        untraced, traced = traced_loop(w, spark, tr_off, tr, args.seconds, tally)
        if not traced or not untraced:
            raise RuntimeError("no traced run completed")
        lm = layer_metrics(tr, traced)
        lm["trace.untraced_run_s"] = statistics.median(untraced)
        lm["trace.overhead_s"] = lm["trace.run_s"] - lm["trace.untraced_run_s"]
        tr.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.jsonl"))
        units = {"_s": "s", "bytes": "bytes"}
        metrics = {
            k: (v, next((u for suf, u in units.items() if k.endswith(suf)), "count"))
            for k, v in lm.items()
        }
        ctx.update(untraced_run_s_all=untraced, traced_runs=len(traced))
    ctx["failed_frac"] = tally.failed / max(1, tally.attempted)
    ctx["problems"] = tally.problems[:10]
    return {
        "correct": tally.failed == 0 and ctx["selftest_detects_missing_injection"],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
