"""Per-layer metrics of a traced run.

Layers are the engine's packages: ``session``, ``sources``, ``plans``,
``operators``, ``functions``, ``sinks`` and ``streaming``. Time and py4j
counts come from the benchmark's spans. Bytes, CPU and GC come from the
Spark stages launched under a traced job's spans (matched by job group).
Catalyst phase times come from the query-execution listener, matched to a
traced job by time. Additive values are per traced job. A layer the
workload does not run reports 0.
"""

from __future__ import annotations

import os

import stats
from spans import self_time, stage_rows

STREAM_PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.trigger_ms": "triggerExecution",
}

# name -> unit, in the order they are printed
UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.build_s": "s",
    "sources.input_bytes": "bytes",
    "sources.scan_passes": "ratio",
    "sources.scan_cpu_s": "s",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "operators.build_s": "s",
    "operators.py4j_calls": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.exec_cpu_s": "s",
    "operators.gc_s": "s",
    "functions.png_ms_per_item": "ms",
    "functions.jpeg_ms_per_item": "ms",
    "functions.wav_ms_per_item": "ms",
    "functions.flac_ms_per_item": "ms",
    "functions.decode_stage_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    **{name: "ms" for name in STREAM_PHASES},
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def descendants(spans: list, root) -> list:
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root.span_id]
    while todo:
        for child in by_parent.get(todo.pop(), ()):
            out.append(child)
            todo.append(child.span_id)
    return out


def output_files(out_dir: str) -> tuple[int, int]:
    """(files, bytes) of data the sinks wrote: Spark's checksum files,
    ``_SUCCESS`` markers and a stream's checkpoint are not counted."""
    files = size = 0
    for d, dirs, names in os.walk(out_dir):
        dirs[:] = [x for x in dirs if x != "_checkpoint"]
        for n in names:
            if n.startswith(".") or n == "_SUCCESS":
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def tracing_overhead(results: list) -> float:
    """Median over traced jobs of their time minus the mean of the untraced
    jobs just before and after them. Jobs speed up through a run as the JVM
    warms, and comparing neighbours cancels that drift."""
    diffs = [
        cur.seconds - (before.seconds + after.seconds) / 2
        for (before, t0), (cur, t1), (after, t2) in zip(results, results[1:], results[2:])
        if t1 and not t0 and not t2
    ]
    return _median(diffs)


def _median(xs) -> float:
    return stats.median(xs) if xs else 0.0


def layer_metrics(spark, rec, listener, traced: list, results: list, workload, peak_rss_mb: float) -> dict:
    """(value, unit) for every name in :data:`UNITS`."""
    from py4j.protocol import Py4JError

    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:
        import time

        time.sleep(2)
    m = dict.fromkeys(UNITS, 0.0)
    top = {s.name: s for s in rec.spans if s.parent is None}
    m["session.start_s"] = top["session.start"].duration
    m["session.warmup_s"] = top["session.warmup"].duration
    m["spark.peak_rss_mb"] = peak_rss_mb
    m.update(workload.decoder_ms_per_item())

    m["trace.overhead_s"] = tracing_overhead(results)
    n = len(traced)
    if not n:
        return {k: (v, UNITS[k]) for k, v in m.items()}

    inner, coverage = [], []
    for job, _ in traced:
        inner.extend(descendants(rec.spans, job))
        coverage.append(1.0 - self_time(job, rec.children(job)) / job.duration)
    m["trace.span_coverage"] = _median(coverage)
    for layer in ("sources", "plans", "operators", "sinks"):
        mine = [s for s in inner if s.layer == layer]
        m[f"{layer}.build_s" if layer != "sinks" else "sinks.write_s"] = sum(s.duration for s in mine) / n
        if layer in ("plans", "operators"):
            m[f"{layer}.py4j_calls"] = sum(s.py4j_calls for s in mine) / n

    groups = {rec.group_id(s) for s in inner}
    stages = [st for st in stage_rows(spark.sparkContext) if st.job_group in groups]
    scans = [st for st in stages if st.input_records > 0]
    rest = [st for st in stages if st.input_records == 0]
    m["sources.input_bytes"] = sum(st.input_bytes for st in stages) / n
    m["sources.scan_passes"] = sum(st.input_records for st in stages) / (n * workload.input_records())
    m["sources.scan_cpu_s"] = sum(st.cpu_s for st in scans) / n
    m["operators.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stages) / n
    m["operators.shuffle_read_bytes"] = sum(st.shuffle_read_bytes for st in stages) / n
    m["operators.spill_bytes"] = sum(st.spill_bytes for st in stages) / n
    m["operators.exec_cpu_s"] = sum(st.cpu_s for st in rest) / n
    m["operators.gc_s"] = sum(st.gc_s for st in rest) / n
    m["spark.stages"] = len(stages) / n
    m["spark.tasks"] = sum(st.tasks for st in stages) / n
    m["spark.task_retries"] = sum(st.failed_tasks for st in stages) / n
    m["spark.exec_run_s"] = sum(st.run_s for st in stages) / n
    m["spark.exec_cpu_s"] = sum(st.cpu_s for st in stages) / n
    m["spark.gc_s"] = sum(st.gc_s for st in stages) / n

    windows = [(job.start, job.end) for job, _ in traced]
    for start, phases in listener.events:
        if any(lo <= start <= hi for lo, hi in windows):
            for phase in ("analysis", "optimization", "planning"):
                m[f"plans.{phase}_ms"] += phases.get(phase, 0.0) / n

    files = size = 0
    for _, res in traced:
        f, b = output_files(res.out_dir)
        files, size = files + f, size + b
    m["sinks.files_written"] = files / n
    m["sinks.bytes_written"] = size / n
    m["functions.decode_stage_s"] = _median([r.decode_s for _, r in traced])
    for name, key in STREAM_PHASES.items():
        m[name] = _median([p.get(key, 0) for _, r in traced for p in r.progress])
    return {k: (v, UNITS[k]) for k, v in m.items()}
