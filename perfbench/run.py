"""Benchmark entry point.

    python3 perfbench/run.py --workload museum_etl|query_mix|near_dup \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One process, one closed-loop
client on ``local[<cpus>]``. Set-up (Spark session, seeded inputs,
references, warm-up) is timed as ``setup_s``; then measured passes run
until ``--seconds`` have elapsed (at least the workload's
``min_passes``), each
checked against the reference outside its timed window.

``--trace 0`` reports the end-to-end metrics (medians over passes).
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the traced ones, plus the tracing overhead; spans
are written to ``.perfbench_work/traces/``. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "museum_image_etl_gridfs_spark"
DRIVER_MEM = "3g"

# wall time is measured and printed, but it is not gated: on a shared
# host, hypervisor steal spreads its 10-seed IQR to 20-27% of the
# median, past any usable bound, while cpu_s stays within 10%
END_TO_END = {"setup_s": "s", "cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, the same set for every
    workload; a layer a workload does not exercise reports 0."""
    from workloads import NEAR_DUP

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "catalog.load_s": "s",
        "plans.build_s": "s",
        "plans.exec_s": "s",
        "functions.cleaning_s": "s",
        "operators.dedup.keep_first_s": "s",
        "operators.dedup.rows_in": "count",
        "operators.dedup.rows_out": "count",
        "operators.split.assign_s": "s",
        "operators.gridfs.chunk_write_s": "s",
        "operators.gridfs.reassemble_s": "s",
        "operators.gridfs.chunks": "count",
        "operators.gridfs.bytes": "bytes",
        "operators.images.transform_s": "s",
        "operators.images.ok": "count",
        "operators.images.quarantined": "count",
        "operators.images.ok_ratio": "ratio",
        "operators.components.rounds": "count",
        "operators.lifecycle.released": "count",
        "spark.parquet_read_s": "s",
        "spark.parquet_write_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.input_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.gc_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.task_skew": "ratio",
        "jvm.cpu_s": "s",
        "jvm.jit_cpu_s": "s",
        "python.worker_cpu_s": "s",
        "driver.cpu_s": "s",
        "memory.peak_rss_mb": "MB",
        "pass.wall_s": "s",
        "trace.overhead_s": "s",
    }
    for q in NEAR_DUP:
        units[f"plans.build_s.{q}"] = "s"
        units[f"plans.exec_s.{q}"] = "s"
    return units


def _configure_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit: import path,
    memory sized for a small shared host, every scratch file inside the
    checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def _start_spark(work: str):
    from museum_image_etl_gridfs_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every process below this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    from probes import descendants

    started = set(descendants()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _pass_metrics(ctx, workload, i: int, traced: bool) -> dict:
    """One measured pass: wall, CPU by role and peak RSS while it runs,
    then (untimed) the output check and the status-store read."""
    from probes import RssSampler, cpu_split, stage_totals

    group = f"pass-{i}"
    ctx.spark.sparkContext.setJobGroup(group, group)
    ctx.tracer.enabled = traced
    first_span = len(ctx.tracer.spans)
    cpu0 = cpu_split()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        with ctx.tracer.span("pass"):
            out = workload.run_pass(ctx, traced)
        wall = time.perf_counter() - t0
    cpu = cpu_split() - cpu0
    ctx.tracer.enabled = False
    t0 = time.perf_counter()
    errors = workload.check(out)
    check_s = time.perf_counter() - t0
    m = {
        "wall_s": wall,
        "cpu_s": cpu.work,
        "jvm.jit_cpu_s": cpu.jit,
        "memory.peak_rss_mb": rss.peak_bytes / 2**20,
        "jvm.cpu_s": cpu.jvm,
        "python.worker_cpu_s": cpu.python_workers,
        "driver.cpu_s": cpu.driver,
        "errors": errors,
        "traced": traced,
        "check_s": check_s,
    }
    if traced:
        spans = ctx.tracer.self_times(first_span)
        m.update(spans)
        for total in ("plans.build_s", "plans.exec_s"):
            m[total] = sum(v for k, v in spans.items() if k.startswith(total + "."))
        m.update(out.counts)
        st = stage_totals(ctx.spark, group)
        m.update({f"spark.{k}": v for k, v in vars(st).items()})
        if "operators.images.ok" in out.counts:
            m["operators.images.ok_ratio"] = out.counts["operators.images.ok"] / (
                out.counts["operators.images.ok"] + out.counts["operators.images.quarantined"]
            )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from probes import Tracer, host_context, median
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _configure_env(work)
    tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    host0 = host_context()
    spark = None
    try:
        t = time.perf_counter()
        spark = _start_spark(work)
        start_s = time.perf_counter() - t
        workload = WORKLOADS[args.workload]()
        ctx = Ctx(spark, args.seed, work, tracer)
        workload.prepare(ctx)
        t = time.perf_counter()
        # warm-up: one full pass per path the measured passes take
        workload.run_pass(ctx, False)
        if args.trace:
            workload.run_pass(ctx, True)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        passes = []
        t_measure = time.perf_counter()
        while len(passes) < (4 if args.trace else workload.min_passes) or (
            time.perf_counter() - t_measure < args.seconds
        ):
            traced = bool(args.trace) and len(passes) % 2 == 1
            p = _pass_metrics(ctx, workload, len(passes), traced)
            passes.append(p)
            print(
                f"perfbench: pass {len(passes) - 1} traced={int(traced)} "
                f"wall_s={p['wall_s']:.3f} cpu_s={p['cpu_s']:.2f} jit_s={p['jvm.jit_cpu_s']:.2f} "
                f"peak_rss_mb={p['memory.peak_rss_mb']:.0f} check_s={p['check_s']:.2f} "
                f"errors={len(p['errors'])}",
                file=sys.stderr,
            )
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            if args.trace:
                tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces", f"{tracer.run_id}.jsonl"))
            shutil.rmtree(work, ignore_errors=True)

    attempted = workload.ops() * len(passes)
    failed = sum(len(p["errors"]) for p in passes)
    for i, p in enumerate(passes):
        for op, err in p["errors"].items():
            print(f"perfbench: pass {i} {op} FAILED: {err}", file=sys.stderr)
    host1 = host_context()
    untraced = [p for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        units = per_layer_units()
        values = {k: median(p.get(k, 0) for p in traced) for k in units}
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        values["pass.wall_s"] = median(p["wall_s"] for p in untraced)
        values["trace.overhead_s"] = median(p["wall_s"] for p in traced) - median(
            p["wall_s"] for p in untraced
        )
    else:
        units = END_TO_END
        values = {
            "setup_s": setup_s,
            "cpu_s": median(p["cpu_s"] for p in untraced),
        }
    print(
        f"perfbench {args.workload} seed={args.seed} passes={len(passes)} "
        f"failed_frac={failed / max(attempted, 1):.4f} "
        f"wall_s={median(p['wall_s'] for p in untraced):.4f}s "
        + " ".join(f"{k}={values[k]:.4f}{units[k]}" for k in END_TO_END if k in values)
        + f" setup(session={start_s:.2f}s warmup={warmup_s:.2f}s)"
        + f" loadavg1={host1['loadavg1']:.2f}"
        + f" steal_s={host1['steal_s'] - host0['steal_s']:.2f}"
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
