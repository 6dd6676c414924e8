"""Seeded end-to-end benchmark of the export build, the export refresh
and the index ingest.

Run from the repository root::

    python3 perfbench/run.py --workload export_refresh --seed 1 --seconds 5 --trace 0

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``). Outputs are
checked against an independent DuckDB evaluation; a mismatch makes the
command exit 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import spans  # noqa: E402

PACKAGE = "tijdloze_musicbrainz_spark"


def _isolate(work: str) -> None:
    """Run-scoped stores and host-sized Spark settings, through the
    environment variables the package reads at import/session time."""
    for sub in ("sink", "mat", "warehouse", "local", "events", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_SINK_DIR"] = os.path.join(work, "sink")
    os.environ["SPARK_GRAFT_MAT_DIR"] = os.path.join(work, "mat")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a quarter of physical memory, at most 8 GiB: the package default
    # (48g) over-commits a small host that has no swap
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1024, min(8192, spans.mem_total_mb() // 4))}m"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (the launcher too) keeps its temp files in
    # the run directory and writes no perf-data file outside it
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (Python workers are the JVM's children and exit with it)."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure: kill, never leak the JVM
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (smoke test)")
    args = ap.parse_args(argv)

    import workloads  # noqa: PLC0415

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"no {PACKAGE} package under {root}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    _isolate(work)
    sizes = gen.TINY if args.tiny else gen.Sizes()
    try:
        ctx = workloads.Context(
            seed=args.seed, seconds=args.seconds, traced=bool(args.trace), sizes=sizes,
            work=work, cache=os.path.join(state, "cache"),
        )
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.generate()  # excluded from setup_s

        ctx.host_probe_s = spans.host_probe_s()
        from tijdloze_musicbrainz_spark.session import get_spark  # noqa: PLC0415

        conf = {"spark.ui.showConsoleProgress": "false"}
        if ctx.traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        ctx.session_start_s = time.perf_counter() - t0
        ctx.spark = spark

        def phase(name: str) -> None:
            if ctx.traced:
                spark.sparkContext.setJobGroup(f"{args.workload}/{name}", name)

        def marker(which: str) -> None:
            """A one-row job that marks where the measured phase begins
            or ends in the event log."""
            if ctx.traced:
                spark.sparkContext.setJobGroup(f"{args.workload}/marker", which)
                spark.range(1).count()

        try:
            phase("setup")
            wl.setup()
            ctx.setup_s = time.perf_counter() - t0
            marker("begin")
            phase("measure")
            t1 = time.perf_counter()
            wl.measure()
            t2 = time.perf_counter()
            marker("end")
            ctx.measure_s = t2 - t1
            # probed again after the measured phase: the worse of the two
            # readings shows a run that contention hit while it measured
            ctx.host_probe_s = max(ctx.host_probe_s, spans.host_probe_s())
            phase("after_loop")
            wl.after_loop()
            ctx.peak_rss_mb = spans.peak_rss_mb(
                [os.getpid(), getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", -1)])
        finally:
            _stop_spark(spark)
        t3 = time.perf_counter()
        errors = wl.check()
        print(f"[perfbench] phases (s): session={ctx.session_start_s:.1f} "
              f"setup={ctx.setup_s - ctx.session_start_s:.1f} measure={t2 - t1:.1f} "
              f"after={t3 - t2:.1f} check={time.perf_counter() - t3:.1f}", file=sys.stderr)
        for e in errors:
            print(f"[perfbench] MISMATCH {e}", file=sys.stderr)
        # the last untraced result per workload and seed, the base of
        # trace_overhead_pct
        tag = f"{args.workload}-{args.seed}{'-tiny' if args.tiny else ''}"
        last = os.path.join(state, "results", f"{tag}.json")
        if ctx.traced:
            untraced = None
            if os.path.exists(last):
                with open(last) as f:
                    untraced = json.load(f)["op_best_ms"]
            metrics = wl.layer_metrics(spans.read_event_log(os.path.join(work, "events")), untraced)
            ctx.tracer.dump(os.path.join(state, "traces", f"{tag}.json"))
        else:
            metrics = wl.e2e_metrics()
            os.makedirs(os.path.dirname(last), exist_ok=True)
            with open(last, "w") as f:
                json.dump({"op_best_ms": metrics["op_best_ms"][0]}, f)
        print(f"[perfbench] {args.workload} seed={args.seed} host_probe_s={ctx.host_probe_s:.4f} "
              f"attempted={ctx.attempted}", file=sys.stderr)
        correct = not errors
        result = {
            "correct": correct,
            "attempted": max(ctx.attempted, 1),
            # the gate compares a run's outputs as a whole, so a
            # mismatch marks every operation of the run as failed
            "failed": 0 if correct else max(ctx.attempted, 1),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
