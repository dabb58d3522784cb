#!/usr/bin/env python3
"""Benchmark for the CDC engine: one workload, one seed, one local Spark
session.

    python3 perfbench/run.py --workload tail_cow --seed 1 --seconds 12 --trace 0

Prints, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``. A traced run also writes its
spans to ``.perfbench_out/``. Exits 0 only when every output check passed.
Run from anywhere; everything it writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit: the gated end-to-end metrics, reported by every workload.
# Times, set-up included, are engine CPU (procstat), which moves far less
# than wall time when host speed varies; the wall-clock figures, which CPU
# steal and the JIT compiler threads move by a third between runs and
# windows on a shared 4-vCPU host, are printed on stderr (README.md).
END_TO_END = {
    "setup_s": "s",
    "epoch_cpu_ms_p50": "ms",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B",
}
# name -> unit: figures printed on stderr where the workload has samples
# for them (README.md)
REPORTED = {
    "setup_wall_s": "s",
    "events_per_s": "events/s",
    "epoch_ms_p50": "ms",
    "epoch_ms_tail": "ms",
    "cycle_ms_p50": "ms",
    "cycle_ms_tail": "ms",
    "lookup_ms_p50": "ms",
    "lookup_ms_tail": "ms",
    "poll_ms_p50": "ms",
    "events_per_cpu_s": "events/cpu-s",
    "cycle_cpu_ms_p50": "ms",
    "lookup_cpu_ms_p50": "ms",
    "poll_cpu_ms_p50": "ms",
    "ops_failed_ratio": "ratio",
}
SAMPLES = ("epoch_ms", "cycle_ms", "lookup_ms", "poll_ms",
           "epoch_cpu_ms", "cycle_cpu_ms", "lookup_cpu_ms", "poll_cpu_ms")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples
    beyond it: the 11th-largest of n samples, percentile 100·(n−10)/n.
    With ten samples or fewer no percentile has ten beyond it, and the
    largest sample is reported (percentile 100)."""
    xs = sorted(samples)
    if len(xs) <= 10:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def end_to_end(run) -> dict[str, float]:
    """Gated and reported end-to-end figures of one run; a figure whose
    samples the workload does not take is left out."""
    cpu_s = run.cpu["driver"] + run.cpu["jvm"] + run.cpu["py_worker"]
    out = {
        "setup_s": run.setup_s,
        "setup_wall_s": run.setup_wall_s,
        "events_per_s": run.events / run.timed_s,
        "events_per_cpu_s": run.events / cpu_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": run.peak_rss_mb,
        "stored_bytes_per_row": run.stored_bytes_per_row,
        "ops_failed_ratio": run.failed / run.attempted,
    }
    for name in SAMPLES:
        xs = getattr(run, name)
        if xs:
            out[f"{name}_p50"] = statistics.median(xs)
            if not name.endswith("cpu_ms") and name != "poll_ms":
                out[f"{name}_tail"] = tail(xs)[0]
    return out


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="local[N] task slots (default 4)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one stored row before the checks, which must then fail")
    return ap.parse_args(argv)


def start_session(work: str, cpus: int):
    from go_dcp_kafka_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark"),
            # no hsperfdata file in the system temp dir, so the run writes
            # only inside the checkout; a fixed set of JIT compiler threads,
            # so their CPU can be told apart from the engine's (procstat);
            # a fixed young generation that is reused in place, so the
            # JVM's peak RSS follows the data the engine keeps (G1's
            # adaptive sizing spread it 0.21 across seeds, this 0.03)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                             "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                                             "-XX:+UseParallelGC -Xmn384m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _terminate(*_) -> None:
    """SIGTERM: end the JVM first (a Spark call may be in flight on the
    gateway), then unwind through main's clean-up."""
    proc = _jvm_process()
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()
    sys.exit(143)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = _jvm_process()
    if proc is None or proc.poll() is None:
        spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # the JVM ignored the closed pipe: force it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "go_dcp_kafka_spark")):
        print(f"perfbench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # Python workers import the engine's kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    spark = None
    try:
        import layers
        import workloads
        from procstat import ProcessSet
        from spans import JobCounter, Tracer, check_job_counter

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        spark = start_session(work, args.cpus)
        spark.range(1).collect()
        session_s = time.perf_counter() - t0
        procs = ProcessSet()
        # engine CPU since this process started: interpreter start,
        # imports, and the JVM's start and first job
        session_cpu_s = procs.engine_cpu_s()
        jobs = JobCounter(spark)
        check_job_counter(spark, jobs)
        tracer = Tracer(bool(args.trace), jobs, procs.engine_cpu_s)
        if args.trace:
            layers.install(tracer)
        run = workloads.Run()
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer, procs, args.corrupt)
        ctx.mark("session")
        workloads.WORKLOADS[args.workload](ctx, run)
        ctx.mark("checks")
        run.setup_part("session", [(session_s, session_cpu_s)])
        parts = ("session", "warmup", "bootstrap")
        run.setup_s = sum(statistics.median(run.setup_parts[f"{p}_cpu_s"]) for p in parts)
        run.setup_wall_s = sum(statistics.median(run.setup_parts[f"{p}_s"]) for p in parts)
        e2e = end_to_end(run)
        if args.trace:
            per_layer = layers.derive(tracer, run)
            units = {**layers.PER_LAYER, **layers.EXTRA.get(args.workload, {})}
            metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
            out = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json")
            tracer.dump(out, {
                "workload": args.workload, "seed": args.seed, "cpus": args.cpus,
                "end_to_end_traced": e2e, "per_layer": per_layer, "setup": run.setup_parts,
                "samples": {k: getattr(run, k) for k in SAMPLES},
                "tail_percentile": {k: tail(xs)[1] for k in ("epoch_ms", "cycle_ms", "lookup_ms")
                                    if (xs := getattr(run, k))},
            })
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        for e in run.errors:
            print(f"perfbench: FAILED {e}", file=sys.stderr)
        print(json.dumps({
            "setup": run.setup_parts, "cpu": run.cpu,
            "host_steal_share": run.cpu["host_steal"] / (run.timed_s * os.cpu_count()),
            "reported": {k: {"value": e2e[k], "unit": u} for k, u in REPORTED.items() if k in e2e},
            "samples": {k: getattr(run, k) for k in SAMPLES if getattr(run, k)},
            "info": {k: v for k, v in run.info.items() if isinstance(v, (int, float, str))},
            "timeline_s": [(label, round(t - t0, 2)) for label, t in ctx.timeline],
        }, default=str), file=sys.stderr)
        correct = run.failed == 0
        print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
