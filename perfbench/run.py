#!/usr/bin/env python3
"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload change_tail --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object {correct, attempted, failed, metrics}: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything
the run writes stays under ``.perfbench_work/`` in the repository root;
the inputs are deleted at exit, the result record (environment, every
pass, failures) and, for a traced run, the span file are kept under
``.perfbench_work/results/``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_p50_s": "s",
    "mix_s": "s",
}


def layer_metrics() -> dict[str, str]:
    from workloads import MIX_OPS

    m = {
        "session.start_s": "s",
        "input.gen_s": "s",
        "warm.s": "s",
        "hybrid_source.init_s": "s",
        "hybrid_source.build_s": "s",
        "hybrid_source.build_jobs": "count",
        "snapshot.exec_s": "s",
        "snapshot.executor_run_s": "s",
        "snapshot.stages": "count",
        "snapshot.shuffle_write_mb": "MB",
        "snapshot.spill_mb": "MB",
        "datasource.latest_offset_ms": "ms",
        "datasource.get_batch_ms": "ms",
        "stream.log_lag_offsets": "offsets",
        "stream.query_planning_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.wal_commit_ms": "ms",
        "stream.commit_offsets_ms": "ms",
        "stream.empty_trigger_ms": "ms",
        "stream.batch_p90_s": "s",
        "stream.batch_samples": "count",
        "stream.batches": "count",
        "stream.rows_per_batch": "rows",
        "stateful.updates_ms": "ms",
        "stateful.commit_ms": "ms",
        "stateful.rows_total": "rows",
        "stateful.rows_updated": "rows",
        "stateful.memory_mb": "MB",
        "changelog.start_s": "s",
        "changelog.read_latest_s": "s",
        "changelog.store_mb": "MB",
        "changelog.store_files": "count",
        "registry.build_s": "s",
        "registry.build_jobs": "count",
        "registry.py4j_calls": "count",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "mix.exec_s": "s",
        "mix.shuffle_write_mb": "MB",
        "mix.spill_mb": "MB",
        **{f"mix.{op}_s": "s" for op in MIX_OPS},
        "error_rate": "ratio",
        "peak_rss_mb": "MB",
    }
    for name in ("events_per_s", "batch_p50_s", "mix_s"):
        m[f"overhead.{name}"] = END_TO_END[name]
    return m


def pin_env(work: str, cpu_share: float) -> dict:
    """Environment knobs the engine already reads, set before the JVM
    starts. The session gets ``cpu_share`` of the cores. Every path points
    into the run's work directory."""
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, int(nproc * cpu_share))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = min(4096, mem_mb // 4)  # far below physical RAM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_BUCKETED_DIR": os.path.join(work, "bucketed"),
        "SPARK_GRAFT_DERBY_DIR": os.path.join(work, "derby"),
        "TMPDIR": tmp,
        # no console progress bars; no JVM perf-data file under /tmp
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {"nproc": nproc, "spark_cpus": cpus, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb}


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others (the ``steal``
    column of /proc/stat) between two readings — a slow run on a busy host
    shows here."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(sum(d), 1)


def _shutdown(spark, rss) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait for it and every Python worker it forked."""
    from pyspark import SparkContext

    worker_pids: set[int] = set()
    if rss is not None:
        rss.sample()  # the workers alive now, beside those seen earlier
        worker_pids = rss.pids
    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in worker_pids):
            return
        time.sleep(0.1)
    raise RuntimeError("Python workers did not exit after the JVM stopped")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    from workloads import CPU_SHARE, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # the engine is imported from this checkout only; without it the
    # benchmark fails here, before any output
    sys.path.insert(0, ROOT)
    from flink_cdc_connectors_spark.session import get_spark
    from tracing import Py4jCounter, RssSampler, SparkProbe, Tracer

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-p{os.getpid()}")
    os.makedirs(work)
    env = pin_env(work, CPU_SHARE[args.workload])
    os.chdir(work)  # derby.log, spark-warehouse, metastore_db land here
    env["load1_start"] = os.getloadavg()[0]
    ticks0 = _cpu_ticks()

    tracer = Tracer(args.trace == 1)
    spark = None
    rss = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        env["spark"] = spark.version
        env["java"] = spark._jvm.java.lang.System.getProperty("java.version")  # noqa: SLF001
        ctx = Ctx(spark=spark, work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
        if tracer.enabled:
            ctx.probe, ctx.py4j = SparkProbe(spark), Py4jCounter(spark)
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:  # noqa: SLF001
            out = WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            _shutdown(spark, rss)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    env["load1_end"] = os.getloadavg()[0]
    env["steal_pct"] = _steal_pct(ticks0, _cpu_ticks())
    env["python"] = platform.python_version()

    setup_s = session_s + out["gen_s"] + out["warm_s"]
    plain = out["plain"]
    e2e = out["e2e"](plain) if plain else dict.fromkeys(("events_per_s", "batch_p50_s", "mix_s"), 0.0)
    e2e = {"setup_s": setup_s, **e2e}
    correct = ctx.failed == 0 and bool(plain)

    if tracer.enabled:
        units = layer_metrics()
        values = dict.fromkeys(units, 0.0)
        values.update(out["layer"])
        values.update({"session.start_s": session_s, "input.gen_s": out["gen_s"],
                       "warm.s": out["warm_s"],
                       "error_rate": ctx.failed / max(ctx.attempted, 1),
                       "peak_rss_mb": rss.peak_mb})
        if plain and out["traced"]:
            traced_e2e = out["e2e"](out["traced"])
            for name in ("events_per_s", "batch_p50_s", "mix_s"):
                values[f"overhead.{name}"] = traced_e2e[name] - e2e[name]
        tracer.dump(os.path.join(WORK_ROOT, "results", f"trace-{tag}.json"), env=env)
    else:
        units, values = END_TO_END, e2e
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}

    record = {"env": env, "workload": args.workload, "seed": args.seed,
              "setup": {"session_s": session_s, "gen_s": out["gen_s"], "warm_s": out["warm_s"]},
              "trace": args.trace, "attempted": ctx.attempted, "failed": ctx.failed,
              "failures": ctx.notes, "end_to_end": e2e, "metrics": metrics,
              "peak_rss_mb": rss.peak_mb, "passes": plain}
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for note in ctx.notes:
        print(f"FAILED: {note}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
