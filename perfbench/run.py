"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload point_oltp --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The line before it is a fuller report (per-op-class
medians, tails with their percentile and sample count, write and
maintenance latencies, disk use, failures). The exit code is 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "ping_p50_ms": "ms",
    "point_read_ms": "ms",
    "scan_read_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "server.recv_ms": "ms",
    "server.exec_stream_ms": "ms",
    "sql_frontend.dispatch_self_ms": "ms",
    "events.state_at_ms": "ms",
    "events.state_at_calls_per_stmt": "count",
    "events.rows_scanned_per_row_returned": "count",
    "events.append_ms": "ms",
    "events.last_sequence_ms": "ms",
    "events.meta_bump_ms": "ms",
    "events.snapshot_ms": "ms",
    "events.compact_ms": "ms",
    "temporal.resolve_ms": "ms",
    "storage.batch_entries": "count",
    "storage.bytes_written_per_user_byte": "count",
    "storage.disk_bytes_per_live_row": "B",
    "spark.jobs_per_stmt": "count",
    "spark.stages_per_stmt": "count",
    "spark.tasks_per_stmt": "count",
    "spark.plan_ms": "ms",
    "registry.build_ms": "ms",
    "trace.overhead_frac": "fraction",
}


def pin_environment(workdir: str) -> None:
    """Fix what the engine reads from the environment, before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session default (16g) can exceed the machine; the inputs are small
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine (the wire encoder runs in mapInArrow)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # A fixed, pre-touched heap: a heap that starts small grows, and gets
    # touched, at points that depend on GC timing and machine speed, which
    # made peak memory and latency vary from run to run. Peak memory then
    # moves with what lives outside the JVM heap (this process, Python
    # workers, native and Arrow buffers, metaspace).
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    java_opts = shlex.quote(
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    warehouse = shlex.quote(os.path.join(workdir, "warehouse"))
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = shlex.quote(f"-Djava.io.tmpdir={tmp}") + " -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={warehouse} "
        f"--driver-java-options {java_opts} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — last resort, then wait again
                proc.kill()
                proc.wait(timeout=10)


def end_to_end(outcome, rss_mb: float) -> dict:
    from perfbench.harness import cycle_ops_per_s
    from perfbench.stats import median

    rec = outcome.timed
    return {
        "setup_s": median(outcome.setup_s),
        "ops_per_s": cycle_ops_per_s(rec, outcome.cycle, outcome.warm),
        "ping_p50_ms": median(rec.samples["ping"]),
        "point_read_ms": rec.class_ms("point_read"),
        "scan_read_ms": rec.class_ms("scan_read"),
        "peak_rss_mb": rss_mb,
    }


def per_layer(layers: dict, outcome) -> dict:
    from perfbench.workloads import ANALYTICS_QUERIES

    pooled = dict(layers.get("pooled", {}))
    pooled.update(layers.get("storage", {}))
    pooled.update(layers.get("analytics", {}))
    pooled["events.rows_scanned_per_row_returned"] = layers.get("rows_scanned")
    pooled["storage.disk_bytes_per_live_row"] = outcome.extra.get("disk_bytes_per_live_row")
    pooled["trace.overhead_frac"] = layers.get("overhead")
    names = dict(PER_LAYER)
    names.update({f"registry.{q}.exec_ms": "ms" for q in ANALYTICS_QUERIES})
    # a layer the workload's statements never reach did no work: 0
    return {n: (pooled.get(n) or 0.0, unit) for n, unit in names.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "driftdb_spark", "__init__.py")):
        print(f"no engine sources next to the benchmark under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # run the cleanup below on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workdir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(workdir)
    spark = None
    try:
        pin_environment(workdir)
        from driftdb_spark.session import get_spark
        from perfbench.harness import peak_rss_mb
        from perfbench.stats import median
        from pyspark import SparkContext

        served = args.workload != "analytics_batch"
        t0 = time.perf_counter()
        # the wire server runs under FAIR scheduling, as `cli serve` starts it
        spark = get_spark(app_name="perfbench", scheduler="FAIR" if served else "FIFO")
        spark_start_s = time.perf_counter() - t0
        ctx = Ctx(spark, args.seed, args.seconds, bool(args.trace), workdir)
        outcome = WORKLOADS[args.workload](ctx)
        proc = getattr(SparkContext._gateway, "proc", None)
        rss = peak_rss_mb(proc.pid if proc is not None else None)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(workdir))

    recs = outcome.recorders()
    attempted = sum(r.attempted for r in recs)
    failed = sum(r.failed for r in recs)
    if args.trace:
        metrics = per_layer(ctx.layers, outcome)
    else:
        metrics = {n: (v, END_TO_END[n]) for n, v in end_to_end(outcome, rss).items()}
    missing = sorted(n for n, (v, _u) in metrics.items() if v is None)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "spark_start_s": spark_start_s,
        "setup_s_reps": outcome.setup_s,
        "ops": outcome.timed.summary(),
        "op_kinds_ms": {lb: median(v) for lb, v in outcome.timed.by_label.items()},
        "failed_frac": failed / attempted if attempted else None,
        "errors": [e for r in recs for e in r.errors],
        "missing_metrics": missing,
        **outcome.extra,
    }
    if args.trace:
        report["layers_by_class"] = ctx.layers.get("by_class", {})
        report["traced_ops"] = outcome.traced.summary() if outcome.traced else {}
    correct = failed == 0 and not missing
    print(json.dumps({"report": report}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items() if v is not None},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
