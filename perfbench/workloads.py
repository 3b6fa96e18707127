"""The workloads. Each one generates its inputs, warms the session, runs
timed passes through the engine's public functions, and checks the
engine's output against an independent reference.

A pass is the unit the end-to-end metrics are medians over:

- ``change_tail``: one long-lived ``cdc_binlog`` stream
  (``startupMode=initial``, half the starting log in the snapshot, a
  ``maxOffsetsPerBatch`` rate limit, ``refreshLatest``) feeding
  ``materialize_latest_state`` (the stateful strategy) under its default
  processing-time trigger. Set-up drains the snapshot and the catch-up
  backlog; each pass then appends one increment of the log, times
  ``processAllAvailable()`` until it is applied, and reads the table back
  with ``read_latest_state``.
- ``query_mix``: one closed-loop client runs every operation of
  ``MIX_OPS`` once, each to the noop sink, in an order drawn from the
  seed: registry keys over a generated fixture, and the initial load of a
  wide table through ``HybridCdcSource`` (staggered chunk watermarks,
  ``read_all()``).

In a traced run the timed passes alternate untraced and traced; the
per-layer numbers come from the traced passes and the tracing overhead is
the traced minus the untraced value of each pass metric.
"""

from __future__ import annotations

import ast
import glob
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime

import duckdb

import gates
import gen
from tracing import Py4jCounter, SparkProbe, Tracer, planning_ms

# -- sizes (the seed sets the data, never the sizes) ----------------------

TAIL_KEYS = 1_000
TAIL_SKEW = 3.0  # a quarter of the events land on 1.6% of the keys
TAIL_START = 2_000  # events in the log when the stream starts
TAIL_SNAPSHOT_FRACTION = 0.5
TAIL_BATCH = 1_000  # maxOffsetsPerBatch
TAIL_INCREMENT = 2 * TAIL_BATCH  # events appended per pass: two micro-batches
TAIL_INCREMENTS = 60  # more than any run consumes
TAIL_EVENTS = TAIL_START + TAIL_INCREMENTS * TAIL_INCREMENT

MIX_SF = 0.01
SNAPSHOT_OP = "snapshot_load"
SNAPSHOT_EVENTS = 50_000
SNAPSHOT_KEYS = 25_000  # wide and uniform: two events per key
SNAPSHOT_CHUNKS = 8
MIX_KEYS = (
    "cdc_deserialize_envelope",
    "cdc_changelog_normalize",
    "cdc_chunk_reconcile",
    "cdc_pgoutput_relation",
    "agg_groupby",
    "ext_dedup_simhash",
)
MIX_OPS = (SNAPSHOT_OP, *MIX_KEYS)
MIX_WARM_PASSES = 4  # untimed passes after the checking pass

GEN_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    probe: SparkProbe | None = None
    py4j: Py4jCounter | None = None
    input_dir: str = ""
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    state: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.notes.append(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def generate(ctx: Ctx, make_tables) -> float:
    """Write the inputs GEN_REPEATS times; every copy must hash the same.
    Returns the median write time; the first copy is the input."""
    times, digests = [], []
    for i in range(GEN_REPEATS):
        out = os.path.join(ctx.work, f"input{i}")
        t0 = time.perf_counter()
        gen.write_tables(make_tables(ctx.seed), out)
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(out))
        if i:
            shutil.rmtree(out)
    if len(set(digests)) != 1:
        ctx.fail("input generation is not deterministic")
    ctx.input_dir = os.path.join(ctx.work, "input0")
    return _median(times)


def timed_passes(ctx: Ctx, run_pass, min_passes: int) -> tuple[list[dict], list[dict]]:
    """Run passes until ``ctx.seconds`` have passed and at least
    ``min_passes`` ran, so a slow run measures no fewer passes than a fast
    one. A traced run alternates untraced and traced passes and runs an
    even number of them, so both kinds sit equally early on the warm-up
    curve. Returns (untraced, traced) pass records."""
    if ctx.tracer.enabled:
        min_passes += min_passes % 2
    plain, traced = [], []
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while i < min_passes or time.perf_counter() < deadline or (ctx.tracer.enabled and i % 2):
        tr = ctx.tracer.enabled and i % 2 == 1
        rec = run_pass(ctx, i, tr)
        if rec is not None:
            (traced if tr else plain).append(rec)
        i += 1
    return plain, traced


# -- change_tail -----------------------------------------------------------


def _tail_tables(seed: int) -> dict:
    log = gen.cdc_log(seed, TAIL_EVENTS, TAIL_KEYS, skew=TAIL_SKEW)
    out = {"log/part-000": log.slice(0, TAIL_START)}
    for i in range(TAIL_INCREMENTS):
        out[f"increments/part-{i + 1:03d}"] = log.slice(
            TAIL_START + i * TAIL_INCREMENT, TAIL_INCREMENT
        )
    return out


def _progress_end_s(p) -> float:
    """Wall-clock second at which the trigger of progress ``p`` ended."""
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start + p.durationMs.get("triggerExecution", 0) / 1e3


def _off(offset) -> int:
    """The ``off`` field of a cdc_binlog offset as the progress report
    carries it (a dict rendered with Python quoting)."""
    d = ast.literal_eval(offset) if isinstance(offset, str) else offset
    return int(d["off"])


def _store_size(state_dir: str) -> dict:
    files = glob.glob(os.path.join(state_dir, "**", "*.parquet"), recursive=True)
    return {
        "changelog.store_mb": sum(os.path.getsize(f) for f in files) / 2**20,
        "changelog.store_files": len(files),
    }


def _tail_layer(st: dict, progress: list) -> dict:
    """Per-layer numbers of one traced pass, from its progress reports."""
    data = [p for p in progress if p.numInputRows > 0]
    empty = [p for p in progress if p.numInputRows == 0]
    ops = [p.stateOperators[0] for p in data if p.stateOperators]

    def dur(k):
        return statistics.mean(p.durationMs.get(k, 0) for p in data)

    return {
        "datasource.latest_offset_ms": dur("latestOffset"),
        "datasource.get_batch_ms": dur("getBatch"),
        # the reported latestOffset is the rate-limited plan (equal to
        # endOffset), so the lag is taken to the log's real end
        "stream.log_lag_offsets": statistics.mean(
            st["log_end"] - _off(p.sources[0].endOffset) for p in data
        ),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.empty_trigger_ms": _median(
            p.durationMs.get("triggerExecution", 0) for p in empty
        ),
        "stream.batches": len(data),
        "stream.rows_per_batch": _median(p.numInputRows for p in data),
        "stateful.updates_ms": _median(o.allUpdatesTimeMs for o in ops),
        "stateful.commit_ms": _median(o.commitTimeMs for o in ops),
        "stateful.rows_total": ops[-1].numRowsTotal if ops else 0,
        "stateful.rows_updated": _median(o.numRowsUpdated for o in ops),
        "stateful.memory_mb": ops[-1].memoryUsedBytes / 2**20 if ops else 0.0,
        **_store_size(st["state_dir"]),
    }


def _tail_pass(ctx: Ctx, i: int, traced: bool) -> dict | None:
    """Append the next increment to the log, wait until the stream has
    applied it, and read the latest-state table."""
    from flink_cdc_connectors_spark.streaming.changelog import read_latest_state

    st, tr = ctx.state, ctx.tracer
    q = st["query"]
    if not st["increments"]:
        ctx.fail(f"tail pass {i}: the generated increments ran out")
        return None
    nxt = st["increments"].pop(0)
    last = q.lastProgress.batchId if q.lastProgress else -1
    os.rename(nxt, os.path.join(st["log_dir"], os.path.basename(nxt)))
    st["log_end"] += TAIL_INCREMENT
    rec: dict = {}
    try:
        t0 = time.perf_counter()
        with tr.span("stream.drain"):
            q.processAllAvailable()
        ta = time.perf_counter()
        with tr.span("changelog.read_latest"):
            latest = read_latest_state(ctx.spark, st["state_dir"])
            if traced:
                with tr.span("catalyst"):
                    rec["catalyst"] = planning_ms(latest)
            _noop(latest)
        te = time.perf_counter()
    except Exception as exc:
        ctx.attempted += 1
        ctx.fail(f"tail pass {i}: {type(exc).__name__}: {exc}"[:300])
        return None
    progress = [p for p in q.recentProgress if p.batchId > last]
    ctx.attempted += len(progress)
    rows = sum(p.numInputRows for p in progress)
    if rows != TAIL_INCREMENT:
        ctx.fail(f"tail pass {i}: {rows} rows arrived, {TAIL_INCREMENT} were appended")
    rec.update(
        wall_s=te - t0,
        read_latest_s=te - ta,
        batch_s=[p.durationMs["triggerExecution"] / 1e3 for p in progress if p.numInputRows],
        triggers=len(progress),
    )
    if traced and rec["batch_s"]:
        rec["layer"] = _tail_layer(st, progress)
        ctx.tracer.count("stream.rows", rows)
        ctx.tracer.count("stream.triggers", len(progress))
        ctx.tracer.count("stream.data_batches", len(rec["batch_s"]))
    return rec


def change_tail(ctx: Ctx) -> dict:
    from flink_cdc_connectors_spark.sources import datasource
    from flink_cdc_connectors_spark.streaming.changelog import (
        materialize_latest_state,
        read_latest_state,
    )

    spark, tr = ctx.spark, ctx.tracer
    gen_s = generate(ctx, _tail_tables)
    st = ctx.state
    st["log_dir"] = os.path.join(ctx.input_dir, "log")
    st["increments"] = sorted(glob.glob(os.path.join(ctx.input_dir, "increments", "*")))
    st["state_dir"] = os.path.join(ctx.work, "tail_state")
    st["log_end"] = TAIL_START - 1
    t0 = time.perf_counter()
    with tr.span("warm"):
        datasource.register(spark)
        with tr.span("datasource.load"):
            stream = (
                spark.readStream.format("cdc_binlog")
                .option("path", st["log_dir"])
                .option("startupMode", "initial")
                .option("snapshotFraction", str(TAIL_SNAPSHOT_FRACTION))
                .option("maxOffsetsPerBatch", str(TAIL_BATCH))
                .option("refreshLatest", "true")
                .load()
            )
        wall0 = time.time()
        # available_now=False leaves the default processing-time trigger;
        # availableNow with maxOffsetsPerBatch stops after the snapshot
        # batch and never applies the tail (NOTES.md, known defect)
        with tr.span("changelog.materialize"):
            q = materialize_latest_state(
                stream, st["state_dir"], os.path.join(ctx.work, "tail_ckpt"),
                available_now=False,
            )
        st["query"] = q
    try:
        with tr.span("warm"):
            with tr.span("stream.drain"):
                q.processAllAvailable()  # snapshot batch + catch-up backlog
            catch_up = list(q.recentProgress)
            ctx.attempted += len(catch_up)
            start_s = _progress_end_s(catch_up[0]) - wall0
            # the first read of the store compiles its plan; keep it out
            # of the first timed pass
            _noop(read_latest_state(spark, st["state_dir"]))
        warm_s = time.perf_counter() - t0
        plain, traced = timed_passes(ctx, _tail_pass, min_passes=3)
    finally:
        q.stop()
    if q.exception() is not None:
        ctx.fail(f"change_tail: stream failed: {q.exception()}"[:300])

    ctx.attempted += 1
    got = os.path.join(ctx.work, "tail_got")
    read_latest_state(spark, st["state_dir"]).select(
        "user_id", "value", "props", "event_id"
    ).write.parquet(got)
    bad = gates.latest_state_mismatches(os.path.join(st["log_dir"], "*.parquet"), got)
    if bad:
        ctx.fail(
            f"change_tail: {bad} rows differ from the latest-per-key reference "
            "(a missing tail event shows here)", bad
        )

    def e2e(ps):
        return {
            "events_per_s": TAIL_INCREMENT / _median(p["wall_s"] for p in ps),
            "batch_p50_s": _median(b for p in ps for b in p["batch_s"]),
            "mix_s": _median(p["wall_s"] for p in ps),
        }

    layer = {}
    traced_ok = [p for p in traced if "layer" in p]
    if traced_ok:
        layer = {n: _median(p["layer"][n] for p in traced_ok) for n in traced_ok[0]["layer"]}
        batches = sorted(b for p in traced_ok for b in p["batch_s"])
        layer["stream.batch_p90_s"] = (
            statistics.quantiles(batches, n=10)[-1] if len(batches) > 1 else batches[0]
        )
        layer["stream.batch_samples"] = len(batches)
        layer["changelog.start_s"] = start_s
        layer["changelog.read_latest_s"] = _median(p["read_latest_s"] for p in traced_ok)
        layer.update({
            f"catalyst.{ph}_ms": _median(p["catalyst"][ph] for p in traced_ok)
            for ph in ("analysis", "optimization", "planning")
        })
    return {"gen_s": gen_s, "warm_s": warm_s, "plain": plain, "traced": traced,
            "e2e": e2e, "layer": layer}


# -- query_mix -------------------------------------------------------------


def _mix_tables(seed: int) -> dict:
    tables = gen.fixture(seed, MIX_SF)
    tables["snapshot/events"] = gen.cdc_log(seed + 1, SNAPSHOT_EVENTS, SNAPSHOT_KEYS)
    return tables


def _watermarks() -> list[int]:
    # chunk i snapshots at an offset between half the log and its end, so
    # the stream phase re-reads the second half through shouldEmit
    n, c = SNAPSHOT_EVENTS, SNAPSHOT_CHUNKS
    return [int(n * (0.5 + 0.5 * i / (c - 1))) - 1 for i in range(c)]


def _snapshot_df(ctx: Ctx, rec: dict):
    from flink_cdc_connectors_spark.sources.hybrid_source import HybridCdcSource
    from flink_cdc_connectors_spark.sources.loaders import load_table

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("hybrid_source.init"):
        events = load_table(ctx.spark, os.path.join(ctx.input_dir, "snapshot"), "events")
        src = HybridCdcSource(
            ctx.spark, events, num_chunks=SNAPSHOT_CHUNKS, watermarks=_watermarks()
        )
    t1 = time.perf_counter()
    with tr.span("hybrid_source.read_all"):
        df = src.read_all()
    rec["init_s"], rec["build_s"] = t1 - t0, time.perf_counter() - t1
    return df


def _build(ctx: Ctx, op: str, rec: dict):
    if op == SNAPSHOT_OP:
        return _snapshot_df(ctx, rec)
    from flink_cdc_connectors_spark.registry import all_queries

    with ctx.tracer.span("registry.build"):
        return all_queries()[op].builder(ctx.spark, ctx.input_dir)


def _mix_order(ctx: Ctx, i: int) -> list[str]:
    ops = list(MIX_OPS)
    random.Random(f"{ctx.seed}:{i}").shuffle(ops)
    return ops


def _housekeep(spark) -> None:
    # builders cache their intermediates; drop them so no operation runs
    # on its predecessor's cached blocks. No forced System.gc(): a full
    # collection after every operation shrinks the heap and keeps the GC
    # threads busy through the timed passes, which slows them unevenly.
    spark.catalog.clearCache()


def _run_op(ctx: Ctx, op: str, traced: bool) -> dict:
    """One operation to the noop sink; in a traced pass also the jobs,
    py4j calls and Catalyst phases of its build and the stage counters of
    its execution."""
    rec: dict = {}
    with ctx.tracer.span(f"mix.{op}"):
        t0 = time.perf_counter()
        if traced:
            mark, calls = ctx.probe.mark(), ctx.py4j.calls
        tb = time.perf_counter()
        df = _build(ctx, op, rec)
        if traced:
            rec.setdefault("build_s", time.perf_counter() - tb)
            rec["py4j_calls"] = ctx.py4j.calls - calls
            rec["build_jobs"] = ctx.probe.since(mark)["jobs"]
            with ctx.tracer.span("catalyst"):
                rec["catalyst"] = planning_ms(df)
            mark = ctx.probe.mark()
        ta = time.perf_counter()
        with ctx.tracer.span("snapshot.exec" if op == SNAPSHOT_OP else "mix.exec"):
            _noop(df)
        te = time.perf_counter()
        if traced:
            rec["exec_s"] = te - ta
            rec["exec"] = ctx.probe.since(mark)
            for k in ("py4j_calls", "build_jobs"):
                ctx.tracer.count(f"{op}.{k}", rec[k])
            for k, v in rec["exec"].items():
                ctx.tracer.count(f"{op}.exec.{k}", v)
        rec["wall_s"] = te - t0
    return rec


def _mix_pass(ctx: Ctx, i: int, traced: bool) -> dict | None:
    ops: dict[str, dict] = {}
    with ctx.tracer.span("mix.pass"):
        for op in _mix_order(ctx, i):
            ctx.attempted += 1
            try:
                ops[op] = _run_op(ctx, op, traced)
            except Exception as exc:  # a failed operation is counted, the pass goes on
                ctx.fail(f"query_mix {op}: {type(exc).__name__}: {exc}"[:300])
            _housekeep(ctx.spark)
    return {"ops": ops, "wall_s": sum(r["wall_s"] for r in ops.values())}


def _check_snapshot(ctx: Ctx) -> float:
    rec: dict = {}
    t0 = time.perf_counter()
    got = os.path.join(ctx.work, "snapshot_got")
    _snapshot_df(ctx, rec).select("user_id", "value", "props", "event_id").write.parquet(got)
    spark_s = time.perf_counter() - t0
    log = os.path.join(ctx.input_dir, "snapshot", "events.parquet")
    bad = gates.latest_state_mismatches(log, got)
    if bad:
        ctx.fail(
            f"query_mix {SNAPSHOT_OP}: {bad} rows differ from the latest-per-key reference",
            bad,
        )
    return spark_s


def _mix_check(ctx: Ctx) -> float:
    """The checking pass: every operation once, its output checked — the
    registry keys collected and compared with their oracle_sql in DuckDB,
    the snapshot load written out and compared with the latest-per-key
    reference. Returns the Spark-side seconds only (the reference side is
    not part of set-up)."""
    from flink_cdc_connectors_spark.registry import all_queries

    specs = all_queries()
    con = duckdb.connect()
    spark_s = 0.0
    try:
        for path in glob.glob(os.path.join(ctx.input_dir, "*.parquet")):
            name = os.path.basename(path).removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        for op in _mix_order(ctx, -1):
            ctx.attempted += 1
            try:
                if op == SNAPSHOT_OP:
                    spark_s += _check_snapshot(ctx)
                    continue
                t0 = time.perf_counter()
                got = specs[op].builder(ctx.spark, ctx.input_dir).toPandas()
                spark_s += time.perf_counter() - t0
                bad = gates.frame_mismatches(got, con.execute(specs[op].oracle).fetchdf())
                if bad:
                    ctx.fail(f"query_mix {op}: {bad} rows differ from oracle_sql", bad)
            except Exception as exc:
                ctx.fail(f"query_mix check {op}: {type(exc).__name__}: {exc}"[:300])
            finally:
                _housekeep(ctx.spark)
    finally:
        con.close()
    return spark_s


def _op_medians(ps: list[dict]) -> dict[str, float]:
    return {
        op: _median(p["ops"][op]["wall_s"] for p in ps if op in p["ops"]) for op in MIX_OPS
    }


def _mix_layer(traced: list[dict]) -> dict:
    def per_pass(ops, key, sub=None):
        return _median(
            sum(r[key][sub] if sub else r[key] for o, r in p["ops"].items() if o in ops)
            for p in traced
        )

    snap, keys = {SNAPSHOT_OP}, set(MIX_KEYS)
    return {
        "registry.build_s": per_pass(keys, "build_s"),
        "registry.build_jobs": per_pass(keys, "build_jobs"),
        "registry.py4j_calls": per_pass(keys, "py4j_calls"),
        "mix.exec_s": per_pass(keys, "exec_s"),
        "mix.shuffle_write_mb": per_pass(keys, "exec", "shuffle_write_mb"),
        "mix.spill_mb": per_pass(keys, "exec", "spill_mb"),
        "hybrid_source.init_s": per_pass(snap, "init_s"),
        "hybrid_source.build_s": per_pass(snap, "build_s"),
        "hybrid_source.build_jobs": per_pass(snap, "build_jobs"),
        "snapshot.exec_s": per_pass(snap, "exec_s"),
        **{
            f"snapshot.{k}": per_pass(snap, "exec", k)
            for k in ("executor_run_s", "stages", "shuffle_write_mb", "spill_mb")
        },
        **{
            f"catalyst.{ph}_ms": per_pass(set(MIX_OPS), "catalyst", ph)
            for ph in ("analysis", "optimization", "planning")
        },
        **{f"mix.{op}_s": v for op, v in _op_medians(traced).items()},
    }


def query_mix(ctx: Ctx) -> dict:
    gen_s = generate(ctx, _mix_tables)
    with ctx.tracer.span("warm"):
        check_s = _mix_check(ctx)
        # untimed passes while the JIT compiles the mix: pass walls fall
        # through the first passes of a session, and a timed window on
        # that slope measures how far down it a run got (NOTES.md,
        # Steadiness)
        t1 = time.perf_counter()
        for i in range(MIX_WARM_PASSES):
            _mix_pass(ctx, -2 - i, False)
    warm_s = check_s + time.perf_counter() - t1
    plain, traced = timed_passes(ctx, _mix_pass, min_passes=3)

    def e2e(ps):
        # one pass = the sum of each operation's median over the passes
        mix_s = sum(_op_medians(ps).values())
        return {
            "events_per_s": len(MIX_OPS) / mix_s if mix_s else 0.0,  # 0: every op failed
            "batch_p50_s": _median(r["wall_s"] for p in ps for r in p["ops"].values()),
            "mix_s": mix_s,
        }

    return {"gen_s": gen_s, "warm_s": warm_s, "plain": plain, "traced": traced,
            "e2e": e2e, "layer": _mix_layer(traced) if traced else {}}


WORKLOADS = {
    "change_tail": change_tail,
    "query_mix": query_mix,
}

# The share of the cores a workload's session runs on (local[n]).
# query_mix's operations are planning-bound at sf0.01 and run as fast on
# half the cores; the spare cores keep the JIT compiler, GC and py4j
# threads from queueing behind its task threads, and its runs spread less
# (NOTES.md, Steadiness). change_tail's stateful batches use every core.
CPU_SHARE = {
    "change_tail": 1.0,
    "query_mix": 0.5,
}
