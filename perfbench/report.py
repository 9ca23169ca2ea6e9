"""Turns recorded ops, spans and the Spark event log into the metrics.

End-to-end metrics come from untraced runs; per-layer metrics come from
the traced passes of a traced run and are per op unless the name says
otherwise. Every name here is also declared in BENCHMARK.json.
"""

from __future__ import annotations

import os
from collections import defaultdict

from .stats import median, tail_percentile
from .tracing import LOG_TABLE, OPERATOR_MODULES, union_length

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}

PER_LAYER: dict[str, tuple[str, str]] = {
    # name: (unit, better)
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.in_job_s": ("s", "lower"),
    "spark.between_jobs_s": ("s", "lower"),
    "spark.unattributed_jobs": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.skipped_stage_ratio": ("ratio", "higher"),
    "spark.python_eval_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.eager_jobs": ("count", "lower"),
    "queries.collect_s": ("s", "lower"),
    "catalog.load_tables_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.cache_entries_after_op": ("count", "lower"),
    "session.persistent_rdds_after_op": ("count", "lower"),
    "session.jvm_heap_peak_mb": ("MB", "lower"),
    "pipeline.ingest_s": ("s", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "streaming.start_s": ("s", "lower"),
    "streaming.batch_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.empty_batch_ratio": ("ratio", "lower"),
    "sinks.append_calls": ("count", "lower"),
    "sinks.append_s": ("s", "lower"),
    "sinks.log_append_calls": ("count", "lower"),
    "sinks.log_append_s": ("s", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.rows_per_file": ("rows", "higher"),
    "sinks.bytes_written_per_input_byte": ("ratio", "lower"),
    "sources.files_read": ("count", "lower"),
    "sources.input_mb": ("MB", "lower"),
    **{f"operators.{m}.{k}": (u, "lower")
       for m in OPERATOR_MODULES
       for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))},
    "trace.overhead_ratio": ("ratio", "lower"),
}


def _metric(value, unit):
    return {"value": float(value), "unit": unit}


def summarize(args, wl, inputs, warm, ops, passes, timed_s, setup_s, gen_s,
              problems, layer):
    ok = [o for o in ops if o.outcome.ok and not o.traced]
    lat = [o.t1 - o.t0 for o in ok]
    failed = [o for o in ops if not o.outcome.ok]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": inputs, "input_gen_s": round(gen_s, 4),
        "timed_phase_s": round(timed_s, 4), "passes": len(passes),
        "attempted": len(ops), "failed": len(failed),
        "fail_ratio": len(failed) / len(ops) if ops else 1.0,
        "failed_ops": [f"{o.op_id}: {o.outcome.error}" for o in failed],
        "problems": problems,
        "end_to_end": {
            "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
            # the whole timed phase, input generation through verified
            # result, per op: a run's op count depends on --seconds
            "wall_s": {"value": timed_s / max(len(ops), 1), "unit": "s",
                       "samples": 1, "ops": len(ops)},
            "op_p50_s": {"value": median(lat), "unit": "s",
                         "samples": len(lat)},
        },
        "warmup_ops": [{"op": o.name, "s": round(o.t1 - o.t0, 4),
                        "build_s": round(o.outcome.build_s, 4),
                        "collect_s": round(o.outcome.collect_s, 4)}
                       for o in warm],
        "per_op_p50_s": {n: median([o.t1 - o.t0 for o in ok if o.name == n])
                         for n in sorted({o.name for o in ok})},
        "per_op_build_collect_s": [
            (o.name, round(o.outcome.build_s, 4), round(o.outcome.collect_s, 4))
            for o in ok],
    }
    tail = tail_percentile(lat)
    if tail is not None:
        detail["end_to_end"]["op_tail_s"] = {
            "value": tail[1], "unit": "s", "percentile": tail[0],
            "samples": len(lat)}
    if wl.writes and ok:
        rows = sum(o.outcome.detail["drop"].input_rows for o in ok)
        detail["end_to_end"]["ingest_rows_per_s"] = {
            "value": rows / timed_s, "unit": "rows/s", "samples": 1}
    if layer is not None:
        detail["per_layer"] = layer
    correct = not failed and not problems
    if args.trace:
        metrics = {n: _metric(layer[n], PER_LAYER[n][0]) for n in PER_LAYER}
    else:
        metrics = {n: _metric(detail["end_to_end"][n]["value"], u)
                   for n, u in END_TO_END.items()}
    return detail, {"correct": correct, "attempted": len(ops),
                    "failed": len(failed), "metrics": metrics}


def per_layer_metrics(tracing, tracer, ops, passes, capture, session_start_s,
                      wl, work) -> dict[str, float]:
    traced = [o for o in ops if o.traced]
    n = max(len(traced), 1)
    by_id = {o.op_id: o for o in traced}
    path = tracing.find_event_log(os.path.join(work, "eventlog"))
    ev = tracing.parse_event_log(path) if path else tracing.EventLog()

    runs = tracing.stream_run_ops(ev, traced)
    jobs_of: dict[str, list] = defaultdict(list)
    attributed = set()
    for j in ev.jobs.values():
        op = j.group if j.group in by_id else None
        if op is None and j.stream_query is not None:
            op = runs.get(j.group)
        if op in by_id:
            jobs_of[op].append(j)
            attributed.add(j.jid)
    unattributed = sum(
        1 for j in ev.jobs.values() if j.jid not in attributed
        and any(o.t0 <= j.submit <= o.t1 for o in traced))

    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    listed = run = 0
    for o in traced:
        js = jobs_of[o.op_id]
        m["spark.jobs_per_op"] += len(js)
        in_job = union_length([(j.submit, j.end or j.submit) for j in js])
        m["spark.in_job_s"] += in_job
        m["spark.between_jobs_s"] += max(0.0, (o.t1 - o.t0) - in_job)
        build_end = o.t0 + o.outcome.build_s
        if hasattr(wl, "queries"):
            m["queries.eager_jobs"] += sum(1 for j in js if j.submit <= build_end)
            m["queries.build_s"] += o.outcome.build_s
            m["queries.collect_s"] += o.outcome.collect_s
        for j in js:
            listed += len(j.stages)
            run += sum(1 for s in j.stages if ev.stage_ran_for.get(s) == j.jid)
            t = ev.task.get(j.jid, {})
            m["spark.tasks_per_op"] += t.get("tasks", 0)
            m["spark.executor_run_s"] += t.get("run_s", 0)
            m["spark.executor_cpu_s"] += t.get("cpu_s", 0)
            m["spark.gc_s"] += t.get("gc_s", 0)
            m["spark.shuffle_write_mb"] += t.get("shuffle_write_b", 0) / 2**20
            m["spark.shuffle_read_mb"] += t.get("shuffle_read_b", 0) / 2**20
            m["spark.spill_mb"] += t.get("spill_b", 0) / 2**20
            m["spark.input_mb"] += t.get("input_b", 0) / 2**20
            m["spark.python_eval_s"] += ev.python_s.get(j.jid, 0.0)
            if j.description and j.description.startswith("op:operators."):
                mod = j.description[len("op:operators."):]
                if mod in OPERATOR_MODULES:
                    m[f"operators.{mod}.jobs"] += 1
        m["session.cache_entries_after_op"] += o.probe.get("cache_entries", 0)
        m["session.persistent_rdds_after_op"] += o.probe.get(
            "persistent_rdds", 0)
        m["session.jvm_heap_peak_mb"] = max(m["session.jvm_heap_peak_mb"],
                                            o.probe.get("heap_peak_mb", 0))
    m["spark.stages_per_op"] = run

    spans = [s for s in tracer.spans if s.op in by_id]
    selfs = tracing.self_times(spans)
    by_sid = {s.sid: s for s in spans}

    def under(s, layer_prefix):
        p = s.parent
        while p is not None:
            if by_sid[p].layer.startswith(layer_prefix):
                return True
            p = by_sid[p].parent
        return False

    def descendants(s):
        out = []
        for c in spans:
            p = c.parent
            while p is not None and p != s.sid:
                p = by_sid[p].parent
            if p == s.sid:
                out.append(c)
        return out

    for s in spans:
        dur = s.t1 - s.t0
        if s.layer == "catalog" and not under(s, "catalog"):
            m["catalog.load_tables_s"] += dur
        elif s.layer == "pipeline":
            m["pipeline.ingest_s"] += dur
            sink = [(c.t0, c.t1) for c in descendants(s)
                    if c.layer.startswith("sinks")]
            m["pipeline.self_s"] += dur - union_length(sink)
        elif s.layer == "sinks.append":
            if s.attrs.get("table") == LOG_TABLE:
                if not under(s, "sinks.log"):
                    m["sinks.log_append_calls"] += 1
                    m["sinks.log_append_s"] += dur
            else:
                m["sinks.append_calls"] += 1
                m["sinks.append_s"] += dur
        elif s.layer == "sinks.log":
            m["sinks.log_append_calls"] += 1
            m["sinks.log_append_s"] += dur
        elif s.layer.startswith("operators."):
            m[f"{s.layer}.calls"] += 1
            m[f"{s.layer}.self_s"] += selfs[s.sid]

    if capture is not None:
        batches = [a for a in capture.arrivals if runs.get(a[0]) in by_id]
        first: dict[str, float] = {}
        for run_id, arrival, _rows, _ms in batches:
            first.setdefault(run_id, arrival)
        for run_id, arrival in first.items():
            # the stream started by the latest start_* call before it
            t_start = max((s.t0 for s in spans if s.layer == "streaming"
                           and s.op == runs[run_id] and s.t0 <= arrival),
                          default=None)
            if t_start is not None:
                m["streaming.start_s"] += arrival - t_start
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(a[3] for a in batches) / 1e3
        empty_batches = sum(1 for a in batches if a[2] == 0)

    if getattr(wl, "writes", False):
        written = bytes_w = landed = in_bytes = 0
        for o in traced:
            drop = o.outcome.detail["drop"]
            f0, b0 = o.probe["files0"]
            f1, b1 = o.probe["files1"]
            written += f1 - f0
            bytes_w += b1 - b0
            landed += sum(drop.csv_rows.values()) + sum(drop.book_rows.values())
            in_bytes += drop.input_bytes
            m["sources.files_read"] += drop.csv_files + drop.xlsx_files
            m["sources.input_mb"] += drop.input_bytes / 2**20
        m["sinks.files_written"] = written

    out = {k: v / n for k, v in m.items()}
    # whole-run values and ratios over all traced ops, not per-op sums
    out["session.start_s"] = session_start_s
    out["session.jvm_heap_peak_mb"] = m["session.jvm_heap_peak_mb"]
    out["spark.skipped_stage_ratio"] = (listed - run) / listed if listed else 0.0
    out["spark.unattributed_jobs"] = unattributed / n
    if capture is not None and batches:
        out["streaming.empty_batch_ratio"] = empty_batches / len(batches)
    if getattr(wl, "writes", False):
        out["sinks.rows_per_file"] = landed / written if written else 0.0
        out["sinks.bytes_written_per_input_byte"] = (
            bytes_w / in_bytes if in_bytes else 0.0)
    walls = {True: [], False: []}
    for traced_pass, w in passes:
        walls[traced_pass].append(w)
    out["trace.overhead_ratio"] = (median(walls[True]) / median(walls[False])
                                   if walls[True] and walls[False] else 0.0)
    return out
