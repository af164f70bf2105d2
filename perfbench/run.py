"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload solana_stream --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under ``.perfbench_tmp/`` in the checkout, starts a Spark session with the
engine's ``get_spark`` and runs untimed warm-up jobs (set-up), then runs
jobs back to back for ``--seconds`` seconds (a closed loop with one
client), checks every job's output and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` counts jobs plus output checks; ``failed`` counts jobs that
raised plus checks that found a wrong output. A failure is never dropped:
the run still reports its metrics, with ``correct`` false.

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json.
With ``--trace 1`` every other job runs traced (spans, job groups, py4j
counts, Catalyst phase listener) and the metrics are the per-layer metrics,
plus the tracing overhead (a traced job's time minus the mean of the untraced
jobs around it). Spans are written to ``.perfbench_out/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run(workload, seconds: float, trace: bool) -> dict:
    """Set up, warm up, measure and check one workload; returns the result
    object the benchmark prints."""
    import stats
    from layers import layer_metrics
    from spans import PhaseListener, Recorder
    from workloads import WARMUP_JOBS

    t_gen = time.perf_counter()
    workload.generate()
    log(f"generated inputs in {time.perf_counter() - t_gen:.1f} s")
    rec = Recorder(run_id=f"{workload.name}-{workload.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    with rec.span("session.start"):
        spark = workload.start_session()
    try:
        with rec.span("session.warmup"):
            for k in range(WARMUP_JOBS):
                workload.warmup(spark, k)
        setup_s = time.perf_counter() - t0
        log(f"set up in {setup_s:.1f} s")

        listener = None
        if trace:
            rec.sc = spark.sparkContext
            listener = PhaseListener(quiet=rec.quiet)
            listener.register(spark)
            rec.count_py4j()

        results, traced, failed_jobs = [], [], 0
        k, start = 0, time.perf_counter()
        # a traced run needs an untraced job on each side of a traced one
        while time.perf_counter() - start < seconds or (trace and k < 3):
            k += 1
            job_rec = rec if trace and k % 2 == 0 else None
            try:
                if job_rec is not None:
                    with rec.span("job") as job_span:
                        rec.ambient = job_span
                        try:
                            res = workload.run_job(spark, k, rec)
                        finally:
                            rec.ambient = None
                    traced.append((job_span, res))
                    res.decode_s = workload.decode_probe(spark, rec)
                else:
                    res = workload.run_job(spark, k)
                results.append((res, job_rec is not None))
            except Exception:
                failed_jobs += 1
                log(f"job {k} failed:\n{traceback.format_exc()}")
        rec.stop_counting()
        log(f"ran {k} jobs in {time.perf_counter() - start:.1f} s")
        t_check = time.perf_counter()

        failed_checks = 0
        try:
            reference = workload.reference(spark)
        except Exception:
            log(f"reference failed:\n{traceback.format_exc()}")
            reference = None
        for res, _ in results:
            try:
                problems = workload.check(res, reference) if reference else ["no reference"]
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                failed_checks += 1
                log(f"wrong output in {res.out_dir}: {problems}")

        log(f"checked outputs in {time.perf_counter() - t_check:.1f} s")
        jvm_mb, python_mb = workload.peak_rss_mb(spark)
        # forked workers share pages with the daemon, so the sum is an upper bound
        peak_rss_mb = jvm_mb + sum(python_mb)
        log(f"peak RSS {peak_rss_mb:.0f} MB: JVM {jvm_mb:.0f} MB, "
            f"{len(python_mb)} Python processes {sum(python_mb):.0f} MB")
        layers = layer_metrics(spark, rec, listener, traced, results, workload, peak_rss_mb) if trace else None
    finally:
        workload.stop_session(spark)

    if trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        rec.write(os.path.join(out, f"spans-{rec.run_id}.jsonl"))

    plain = [r for r, was_traced in results if not was_traced]
    attempted = k + len(results)
    failed = failed_jobs + failed_checks
    log(f"{workload.name}: {len(plain)} untraced jobs, {failed} of {attempted} operations failed "
        f"(failed_frac {failed / attempted:.4f})")
    if trace:
        metrics = layers
    else:
        if not plain:
            raise RuntimeError("no job completed")
        job_times = [r.seconds for r in plain]
        batch_times = [p["triggerExecution"] / 1e3 for r in plain for p in r.progress] or job_times
        log(f"job seconds {[round(t, 3) for t in job_times]}, batch seconds {[round(t, 3) for t in batch_times]}")
        job_s = stats.median(job_times)
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (job_s, "s"),
            "items_per_s": (workload.items_per_job / job_s, "1/s"),
            "batch_s_p50": (stats.median(batch_times), "s"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import solana_etl_spark  # noqa: F401  the engine under test; absent outside a checkout
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    # Spark's Python workers need the engine on their path; every scratch
    # file (Spark, the JVM, Python workers) stays under the run's directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # no JVM perf-data files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(workloads.WORKLOADS[args.workload](tmp, args.seed), args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
