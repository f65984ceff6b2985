"""sum_spark benchmark: one workload, one fresh process, one closed loop.

    python3 perfbench/run.py --workload llm_vector --seed 1 --seconds 16 --trace 0

Run from the repository root. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it (``perfbench {...}``) records the pinned
environment, per-op-type counts and medians, drift gauges and failures.
See perfbench/README.md for the workloads and metrics.
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

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run that is not done by then fails
SF = 0.01  # table scale: lineitem = 6,000,000 x SF rows
DATA_SEED = 42  # the tables are the same in every run; --seed drives the ops

END_TO_END = {
    "setup_s": "s",
    "throughput_ops_per_s": "1/s",
    "success_rate": "%",
    "peak_rss_mb": "MB",
    "latency_gmean_s": "s",
}
STORE_OPS = ("read", "list", "find", "create", "update", "delete")
PER_LAYER = {
    "session.start_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "engine.execute_s": "s",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.shuffle_bytes": "bytes",
    "engine.input_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.gc_s": "s",
    "engine.persisted_rdds": "count",
    "store.bulk_load_s": "s",
    **{f"store.{op}_p50_s": "s" for op in STORE_OPS},
    "store.jobs_per_read": "ratio",
    "store.netting_read_share": "ratio",
    "store.files_max": "count",
    "store.compactions": "count",
    "store.compact_s": "s",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "registry.run_s": "s",
    "registry.call_p50_s": "s",
    "payload.build_s": "s",
    "payload.bytes": "bytes",
    **{
        f"{layer}.self_s": "s"
        for layer in ("op", "queries", "catalyst", "engine", "store", "registry", "payload")
    },
    "host.steal_share": "ratio",
    "host.cpu_busy_share": "ratio",
    "trace.overhead_share": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


START_AGE = process_age_s()


def pin_env(run_dir: str) -> dict:
    """The process environment of every run, sized to this machine: all
    its cores, half its memory as heap (at most 20g), the repository on
    PYTHONPATH for Spark's Python workers, and fresh scratch dirs."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    tmp = os.path.join(run_dir, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(mem_kb // 2 // 1024, 20 * 1024)}m",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # No hsperfdata file: HotSpot writes it under /tmp whatever tmpdir says.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    for d in (tmp, env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("sum_spark/store.py", "tests/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import datagen
    import workloads
    from spans import Tracer, cpu_ticks, host_shares, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_env(run_dir)
    data_dir = os.path.join(run_dir, "data")
    t = time.perf_counter()
    datagen.write_tables(data_dir, SF, DATA_SEED)
    phases = {"datagen_s": time.perf_counter() - t}

    def on_alarm(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still stop the JVM
    signal.alarm(RUN_LIMIT_S)

    from sum_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        phases["session_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ctx = workloads.Context(spark, data_dir, run_dir, args.seed, args.seconds, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        phases["warmup_s"] = time.perf_counter() - t
        eng = ctx.engine
        gc0, rdd0, cpu0 = eng.gc_s(), eng.persisted_rdds(), cpu_ticks()
        setup_s = START_AGE + time.perf_counter() - T0

        lat: dict[str, list[float]] = {}  # op -> latencies of its successful runs
        pass_rates: list[float] = []
        w0 = time.perf_counter()
        for p in range(wl.passes):
            done, p0, ov_p = 0, time.perf_counter(), tracer.overhead_s
            for j, op in enumerate(wl.pass_ops):
                ctx.attempted += 1
                i = tracer.op_id = p * len(wl.pass_ops) + j
                ov0, t = tracer.overhead_s, time.perf_counter()
                try:
                    with tracer.span("op"):
                        wl.run(i, op)
                except Exception as e:  # noqa: BLE001 — a failed op is counted
                    ctx.failed.append(f"{op}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                done += 1
                lat.setdefault(op, []).append(time.perf_counter() - t - (tracer.overhead_s - ov0))
            pass_rates.append(done / (time.perf_counter() - p0 - (tracer.overhead_s - ov_p)))
        window_s = time.perf_counter() - w0 - tracer.overhead_s

        drift = {
            "engine.gc_s": eng.gc_s() - gc0,
            "engine.persisted_rdds": eng.persisted_rdds() - rdd0,
            **host_shares(cpu0, cpu_ticks()),
        }
        rss = peak_rss_mb([os.getpid(), eng.jvm_pid()])
        layers = wl.layer_metrics()
    finally:
        signal.alarm(0)
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    p50 = {k: statistics.median(v) for k, v in lat.items()}
    if args.trace:
        values = {
            "session.start_s": phases["session_s"],
            **{f"engine.{k}": v for k, v in eng.totals.items()},
            **layers,
            **drift,
            **{f"store.{k}_p50_s": v for k, v in p50.items() if k in STORE_OPS},
            "registry.call_p50_s": p50.get("call", 0.0),
            "trace.overhead_share": tracer.overhead_s / window_s,
        }
        for name, v in tracer.self_times().items():
            key = name.split(".")[0] + ".self_s"
            values[key] = values.get(key, 0.0) + v
        metrics = {k: (values.get(k, 0), u) for k, u in PER_LAYER.items()}
        tracer.dump(
            os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "env": env},
        )
    else:
        values = {
            "setup_s": setup_s,
            # Median over passes: one pass hit by a host stall does not count.
            "throughput_ops_per_s": statistics.median(pass_rates),
            "success_rate": 100.0 * (ctx.attempted - len(ctx.failed)) / ctx.attempted,
            "peak_rss_mb": rss,
            # Geometric mean over the primary op's samples: every registry
            # entry, or the point reads. In a fixed mix of entries the median
            # is one entry's middle sample; the geometric mean weighs them all.
            "latency_gmean_s": statistics.geometric_mean(
                lat.get("read") or [x for v in lat.values() for x in v]
            ),
        }
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "window_s": window_s,
        "ops": {k: len(v) for k, v in lat.items()},
        "op_p50_s": p50,
        "pass_rates": pass_rates,
        "setup_phases_s": phases,
        "warmup_s": ctx.warmup_s,
        "drift": drift,
        "failed": ctx.failed,
        "env": env,
    }
    print("perfbench " + json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not ctx.failed,
                "attempted": ctx.attempted,
                "failed": len(ctx.failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
