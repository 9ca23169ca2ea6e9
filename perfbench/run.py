"""Benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see workloads.py):

- ``etl_ingest``: seeded CSV drops and Excel workbooks through the
  reference file-to-warehouse flow; the only workload that writes.
- ``curation_composites``: the job-heavy ``entity_resolution`` composite.

Every run generates its inputs from ``--seed`` under ``.perfbench_work/``,
starts the session, makes the workload's warm-up passes over those
inputs, then runs whole passes in a closed loop until ``--seconds`` have
gone by. Outputs are verified at the end of the timed phase (oracle
twins, expected row counts). The exit code is 2 when the engine is not
next to the benchmark.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
and the Spark event log during traced passes only, runs untraced and
traced passes in the order U T T U (repeated until ``--seconds`` have gone
by), and prints the per-layer metrics plus the tracing overhead.
The last stdout line is the result JSON; the line before it is a detail
record with sample counts, units, failing op names and the figures that
apply to one workload only (``ingest_rows_per_s``, ``op_tail_s``).
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


@dataclass
class Op:
    name: str
    traced: bool
    t0: float
    t1: float
    outcome: object
    op_id: str = ""
    probe: dict = field(default_factory=dict)


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, spark-submit's launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def _session_conf(trace: bool) -> dict:
    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse")}
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return conf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and the oracle gate must be importable from the checkout
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import light_etl_windows_container_poc_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not found next to the benchmark: {e}",
              file=sys.stderr)
        return 2
    import shutil

    shutil.rmtree(WORK, ignore_errors=True)
    _isolate_environment()

    from perfbench import tracing, workloads
    from perfbench.report import per_layer_metrics, summarize

    wl = workloads.make(args.workload)
    trace = bool(args.trace)
    t_gen = time.time()
    inputs = wl.prepare(os.path.join(WORK, "data"), args.seed)
    gen_s = time.time() - t_gen

    from light_etl_windows_container_poc_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    t_sess = time.time()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      extra_conf=_session_conf(trace))
    session_start_s = time.time() - t_sess
    tracer = tracing.Tracer()
    capture = None
    try:
        if trace:
            tracer.instrument(spark)
            capture = _progress_capture(spark)
            event_log = _EventLogSwitch(spark)
            event_log.detach()   # on for traced passes only
        wl.start(spark)
        # warm-up passes over this workload's own inputs: checked, not counted
        warm = []
        for w in range(wl.warmup_passes):
            warm += _run_pass(spark, wl, -1 - w, False, tracer)[0]
        setup_s = time.time() - PROCESS_T0 - gen_s

        # the timed phase: each pass's input generation, its ops and their
        # checks, then the verification of every output
        ops: list[Op] = []
        passes: list[tuple[bool, float]] = []
        t_start = time.time()
        p = 0
        while True:
            # traced runs alternate U T T U so that warm-up drift cancels
            traced = trace and p % 4 in (1, 2)
            if traced:
                event_log.attach()
            elif trace:
                event_log.detach()
            pass_ops, wall = _run_pass(spark, wl, p, traced, tracer)
            ops += pass_ops
            passes.append((traced, wall))
            p += 1
            if time.time() - t_start >= args.seconds and (
                    not trace or p % 4 == 0):
                break

        problems = [f"warm-up {o.name}: {o.outcome.error}"
                    for o in warm if not o.outcome.ok]
        try:
            problems += wl.verify(warm + ops)
        except Exception as e:
            problems.append(
                f"verification failed: {type(e).__name__}: {e}"[:500])
        timed_s = time.time() - t_start
    finally:
        _stop(spark)   # also flushes and closes the event log
    layer = per_layer_metrics(tracing, tracer, ops, passes, capture,
                              session_start_s, wl, WORK) if trace else None
    detail, result = summarize(args, wl, inputs, warm, ops, passes, timed_s,
                               setup_s, gen_s, problems, layer)
    if trace:
        detail["trace_file"] = _write_spans(args, tracer, ops)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def _write_spans(args, tracer, ops) -> str:
    """Write the ops and every recorded span, kept in memory until now."""
    from dataclasses import asdict

    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"ops": [{"op": o.op_id, "traced": o.traced, "t0": o.t0,
                            "t1": o.t1, "ok": o.outcome.ok} for o in ops],
                   "spans": [asdict(s) for s in tracer.spans]}, fh)
    return os.path.relpath(path, ROOT)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the gateway JVM exits when its stdin closes)."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait()


class _EventLogSwitch:
    """Takes Spark's event-log listener off the listener bus and puts it
    back, so that only traced passes pay for the event log."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self.bus, self.listener = sc.listenerBus(), sc.eventLogger().get()
        self.on = True

    def attach(self) -> None:
        if not self.on:
            self.bus.addToEventLogQueue(self.listener)
            self.on = True

    def detach(self) -> None:
        if self.on:
            self.bus.waitUntilEmpty()   # deliver what the log still owes
            self.bus.removeListener(self.listener)
            self.on = False


def _progress_capture(spark):
    """ProgressCapture that also stamps when each event arrived."""
    from light_etl_windows_container_poc_spark.streaming.metrics import \
        ProgressCapture

    class Stamped(ProgressCapture):
        def __init__(self):
            super().__init__(max_events=100_000)
            self.arrivals: list[tuple[str, float, int, int]] = []

        def onQueryProgress(self, event) -> None:
            super().onQueryProgress(event)
            ev = self.events[-1]
            # (run id, arrival, input rows, batch duration ms)
            self.arrivals.append((ev[1], time.time(), ev[4], ev[7] or 0))

    cap = Stamped()
    spark.streams.addListener(cap)
    return cap


def _jvm_probe(spark) -> dict:
    from py4j.protocol import Py4JError

    jvm = spark.sparkContext._jvm
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        # CacheManager keeps its entries in a private field
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        entries = int(field.get(cm).size())
    except Py4JError:
        entries = 0 if cm.isEmpty() else 1
    heap = 0
    for pool in jvm.java.lang.management.ManagementFactory \
            .getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {"cache_entries": entries,
            "persistent_rdds": int(spark.sparkContext._jsc
                                   .getPersistentRDDs().size()),
            "heap_peak_mb": heap / 2**20}


def _reset_heap_peaks(spark) -> None:
    jvm = spark.sparkContext._jvm
    for pool in jvm.java.lang.management.ManagementFactory \
            .getMemoryPoolMXBeans():
        if str(pool.getType().toString()) == "Heap memory":
            pool.resetPeakUsage()


def _warehouse_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _run_pass(spark, wl, pass_no: int, traced: bool, tracer
              ) -> tuple[list[Op], float]:
    """One pass over the workload's ops. Returns the ops and the pass wall
    time: from the first op's start to the last op's end, including the
    cache clearing between ops but not input generation or checks."""
    from perfbench.workloads import OpOutcome

    sc = spark.sparkContext
    out = []
    planned = wl.pass_ops()
    t_pass = time.time()
    for i, (name, fn) in enumerate(planned):
        op_id = f"p{pass_no}.{i}.{name}"
        probe = {}
        if traced:
            _reset_heap_peaks(spark)
            if wl.writes:
                probe["files0"] = _warehouse_files(wl.wh)
            sc.setJobGroup(op_id, name)
            tracer.op, tracer.enabled = op_id, True
        t0 = time.time()
        try:
            outcome = fn()
        except Exception as e:  # a failed op is counted, never timed as fast
            outcome = OpOutcome(ok=False, error=f"{type(e).__name__}: {e}"[:500])
        t1 = time.time()
        if traced:
            tracer.enabled, tracer.op = False, None
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            probe.update(_jvm_probe(spark))
            if wl.writes:
                probe["files1"] = _warehouse_files(wl.wh)
        spark.catalog.clearCache()
        out.append(Op(name, traced, t0, t1, outcome, op_id, probe))
    wall = time.time() - t_pass
    for op in out:
        if op.outcome.ok:
            try:
                wl.check(op.name, op.outcome)
            except Exception as e:
                op.outcome.ok = False
                op.outcome.error = f"check: {type(e).__name__}: {e}"[:500]
    return out, wall


if __name__ == "__main__":
    sys.exit(main())
