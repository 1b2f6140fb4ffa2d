"""The two CDC workloads, driven through the engine's public API.

cdc_catchup (closed loop, one stream): snapshot a seeded base table,
drain a spooled backlog of fixed-size change batches with an
availableNow stream, read the merged target and check it, compact,
check again. Repeated in fresh mirrors, as many whole cycles as fit
the time budget.

cdc_live (open loop at a fixed change rate): a generator thread inserts
changes into an embedded Derby outbox on a fixed schedule (one
multi-row INSERT per 1 s tick, like the reference's insert.ps1); the
main thread runs `JdbcChangePoller.poll_once` once per tick, as soon as
the tick's INSERT commits; a pk-bucketed Mirror applies the spool with
a 100 ms processing-time trigger; one closed-loop reader, paced to a
lookup every 1.5 s, calls `Mirror.lookup` for the whole run. Each
change's lag runs from the commit that created it to the end of the
micro-batch that applied it, recovered after the run from the poll log
and the checkpoint's file-source log, with nothing added inside the
stream.

The end-to-end cost of both is the CPU time of the process tree, less
the JVM's JIT compiler threads, per change, read from /proc; their wall
times (rate, batch time, lag) are reported by traced runs.
"""

from __future__ import annotations

import calendar
import glob
import json
import os
import queue
import re
import shutil
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import types as T

import procfs
from gen import ROW_FIELDS, CdcInputs, zipf_keys
from spans import JOB_METRICS, data_batches, progress_phases

from peerdb_cdc_psql_clickhouse_spark.sources.changes import write_change_batches
from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import JdbcChangePoller
from peerdb_cdc_psql_clickhouse_spark.streaming.mirror import Mirror

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("purchaser", T.IntegerType()),
        T.StructField("product_id", T.IntegerType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("amount", T.DoubleType()),
    ]
)
assert [f.name for f in ROW_SCHEMA.fields] == [n for n, _ in ROW_FIELDS]

# sizes per workload; "smoke" is the tiny variant smoke.py runs
CATCHUP = {
    "full": {"n_base": 500_000, "batch_rows": 1000, "n_batches": 30, "warm_batches": 10},
    "smoke": {"n_base": 5_000, "batch_rows": 100, "n_batches": 3, "warm_batches": 1},
}
# cycles per run = round(seconds / CATCHUP_CYCLE_S), at least 1; a
# full-size cycle takes 15-25 s on 4 cores
CATCHUP_CYCLE_S = 15.0
LIVE = {
    "full": {"n_base": 100_000, "n_buckets": 16, "warm_ticks": 16},
    "smoke": {"n_base": 5_000, "n_buckets": 4, "warm_ticks": 2},
}
# the fixed open-loop schedule (also stated in BENCHMARK.json): the
# reference's insert.ps1 defaults, one 500-row INSERT per tick with 1 s
# between ticks
ROWS_PER_TICK = 500
TICK_S = 1.0
# short next to the poll and the micro-batch, so that the wait for the
# next trigger adds at most 100 ms to a change's lag
TRIGGER = "100 milliseconds"
# the reader starts a lookup every READER_PERIOD_S, or as soon as the
# last one ends if that is later: one lookup in flight at a time, and
# (while a lookup takes less than the period) the same number of them
# in every run, so the work a run measures does not depend on how fast
# the host is. Without a pause the reader kept the 4 cores busy, and a
# change's lag then swung with every stall of the host.
READER_PERIOD_S = 1.5
SETUP_REPEATS = 3
# how often a drain samples the JIT compiler threads (procfs.JitClock)
JIT_SAMPLE_S = 0.5
READS_PER_CYCLE = 3
WARM_LOOKUPS = 8

# end-to-end names an untraced run reports. A workload also returns
# work_rate_per_s, latency_p50_ms and latency_p95_ms, which only traced
# runs report (as traced.*): on a shared VM these wall times follow the
# host's CPU steal more than the program (see README.md, Steadiness)
E2E_METRICS = ("setup_s", "cpu_ms_per_change")
TRACED_E2E = E2E_METRICS + ("work_rate_per_s", "latency_p50_ms", "latency_p95_ms")
# per-layer names every run reports (0 where a layer did no work)
STREAM_LAYERS = (
    "sources.changes",
    "sources.jdbc_changes",
    "streaming.mirror",
    "streaming.mirror.read",
    "streaming.mirror.write",
)
LAYER_METRICS = (
    "sources.changes.latest_offset_ms",
    "sources.changes.get_batch_ms",
    "streaming.mirror.batches",
    "streaming.mirror.input_rows",
    "streaming.mirror.add_batch_ms",
    "streaming.mirror.query_planning_ms",
    "streaming.mirror.wal_commit_ms",
    "streaming.mirror.commit_offsets_ms",
    "streaming.mirror.trigger_ms",
    "streaming.mirror.other_ms",
    "streaming.mirror.thin_ratio",
    "streaming.mirror.delta_files",
    "streaming.mirror.delta_bytes_per_change",
    "streaming.mirror.write.snapshot_s",
    "streaming.mirror.write.compact_s",
    "streaming.mirror.read.read_target_s",
    "streaming.mirror.read.checksum_parity_s",
    "streaming.mirror.read.lookups",
    "streaming.mirror.read.lookup_p50_ms",
    "streaming.mirror.read.lookup_p95_ms",
    "sources.jdbc_changes.polls",
    "sources.jdbc_changes.poll_ms",
    "sources.jdbc_changes.rows_per_poll",
    "sources.jdbc_changes.empty_poll_frac",
    "generator.late_p95_ms",
    "generator.insert_p95_ms",
    "generator.backlog_slope_per_s",
    "process.peak_rss_mb",
    "process.jit_cpu_s",
    "host.steal_pct",
) + tuple(f"{layer}.{m}" for layer in STREAM_LAYERS for m in ("self_s",) + JOB_METRICS) + tuple(
    f"traced.{k}" for k in TRACED_E2E
)


def _pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


class _Outcome:
    """Attempted/failed operation counts; a failed gate is a failed op."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def _mirror(ctx, name: str, n_buckets: int = 0) -> Mirror:
    return Mirror(
        ctx.spark,
        name=name,
        schema="public",
        table=name,
        key_cols=["id"],
        row_schema=ROW_SCHEMA,
        target_root=f"{ctx.dir}/wh",
        checkpoint_root=f"{ctx.dir}/ckpt",
        n_buckets=n_buckets,
    )


def _parquet(ctx, table, name: str):
    path = f"{ctx.dir}/in_{name}.parquet"
    pq.write_table(table, path)
    return ctx.spark.read.parquet(path)


def _in_sync(ctx, mirror: Mirror, expected) -> bool:
    with ctx.tracer.span("streaming.mirror.read", "checksum_parity"):
        row = mirror.checksum_parity(expected).collect()[0]
    return bool(row["in_sync"])


def _delta_stats(mirror: Mirror) -> tuple[int, int, int]:
    """(files, rows, bytes) of the mirror's delta parts, read from the
    parquet footers — no Spark job."""
    files = glob.glob(f"{mirror.target_dir}/delta/_batch=*/*.parquet")
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    return len(files), rows, sum(os.path.getsize(f) for f in files)


# -- cdc_catchup ----------------------------------------------------------

def _catchup_cycle(ctx, name: str, base_df, expected, spool: str, out: _Outcome) -> dict:
    tr = ctx.tracer
    m = _mirror(ctx, name)
    with tr.span("streaming.mirror.write", "snapshot") as s_snap:
        m.snapshot(base_df)
    jit = procfs.JitClock()
    cpu0 = procfs.app_cpu_s(jit)
    with tr.span("streaming.mirror", "drain") as s_drain:
        q = m.start(spool, available_now=True, max_files_per_trigger=1)
        while not q.awaitTermination(JIT_SAMPLE_S):
            jit.sample()
    cpu, jit_s = (b - a for a, b in zip(cpu0, procfs.app_cpu_s(jit)))
    batches = data_batches(q)
    for _ in range(READS_PER_CYCLE):
        with tr.span("streaming.mirror.read", "read_target"):
            m.read_target().write.format("noop").mode("overwrite").save()
    out.check(_in_sync(ctx, m, expected), f"{name}: parity after drain")
    files, delta_rows, delta_bytes = _delta_stats(m)
    with tr.span("streaming.mirror.write", "compact") as s_compact:
        m.compact()
    out.check(_in_sync(ctx, m, expected), f"{name}: parity after compact")
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    return {
        "snapshot_s": dur(s_snap),
        "drain_s": dur(s_drain),
        "drain_cpu_s": cpu,
        "drain_jit_s": jit_s,
        "compact_s": dur(s_compact),
        "batches": batches,
        "delta": (files, delta_rows, delta_bytes),
    }


def _catchup_inputs(ctx, tag: str, seed: int, n_base: int, batch_rows: int, n_batches: int):
    """Generate one seed's inputs and spool its change batches;
    returns (base, expected, spool dir)."""
    n_changes = batch_rows * n_batches
    inputs = CdcInputs(seed, n_base, n_changes)
    spool = f"{ctx.dir}/spool_{tag}"
    with ctx.tracer.span("sources.changes", "write_change_batches"):
        write_change_batches(
            _parquet(ctx, inputs.change_table(n_changes), f"changes_{tag}"),
            spool,
            rows_per_batch=batch_rows,
        )
    return (
        _parquet(ctx, inputs.base_table(), f"base_{tag}"),
        _parquet(ctx, inputs.expected(n_changes), f"expected_{tag}"),
        spool,
    )


def catchup(ctx) -> dict:
    size = CATCHUP[ctx.size]
    tr = ctx.tracer
    out = _Outcome()
    # set-up, repeated so its median is reported: inputs and spool
    # (identical each time), then a warm-up drain of the backlog's first
    # batches into a throwaway mirror: a run's first drain took about
    # twice as long per batch as its second
    setups = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        base_df, expected, spool = _catchup_inputs(
            ctx, str(i), ctx.seed, size["n_base"], size["batch_rows"], size["n_batches"]
        )
        setups.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm = _mirror(ctx, "warm")
    warm_spool = f"{ctx.dir}/spool_warm"
    for b in range(size["warm_batches"]):
        shutil.copytree(f"{spool}/_batch={b}", f"{warm_spool}/_batch={b}")
    with tr.span("streaming.mirror.write", "snapshot"):
        warm.snapshot(base_df)
    with tr.span("streaming.mirror", "drain"):
        warm.start(warm_spool, available_now=True, max_files_per_trigger=1).awaitTermination()
    setup_s = statistics.median(setups) + time.perf_counter() - t

    # a whole number of cycles, as many as fit the time budget
    first_span = len(tr.spans)
    host = procfs.host_cpu_ticks()
    cycles = [
        _catchup_cycle(ctx, f"catchup{i}", base_df, expected, spool, out)
        for i in range(max(1, round(ctx.seconds / CATCHUP_CYCLE_S)))
    ]
    progresses = [p for c in cycles for p in c["batches"]]
    trigger_ms = [p["durationMs"]["triggerExecution"] for p in progresses]
    input_rows = sum(p["numInputRows"] for p in progresses)
    files, delta_rows, delta_bytes = (sum(c["delta"][i] for c in cycles) for i in range(3))
    med = lambda k: statistics.median(c[k] for c in cycles)  # noqa: E731
    e2e = {
        "work_rate_per_s": input_rows / sum(c["drain_s"] for c in cycles),
        "cpu_ms_per_change": 1000 * sum(c["drain_cpu_s"] for c in cycles) / input_rows,
        "latency_p50_ms": _pct(trigger_ms, 50),
        "latency_p95_ms": _pct(trigger_ms, 95),
    }
    layers = {
        **progress_phases(progresses),
        "host.steal_pct": procfs.steal_pct(host),
        "process.jit_cpu_s": sum(c["drain_jit_s"] for c in cycles),
        "streaming.mirror.batches": len(progresses),
        "streaming.mirror.input_rows": input_rows,
        "streaming.mirror.thin_ratio": delta_rows / max(input_rows, 1),
        "streaming.mirror.delta_files": files,
        "streaming.mirror.delta_bytes_per_change": delta_bytes / max(input_rows, 1),
        "streaming.mirror.write.snapshot_s": med("snapshot_s"),
        "streaming.mirror.write.compact_s": med("compact_s"),
        "streaming.mirror.read.read_target_s": statistics.median(
            tr.durations("read_target", first_span)
        ),
        "streaming.mirror.read.checksum_parity_s": statistics.median(
            tr.durations("checksum_parity", first_span)
        ),
    }
    return {
        "setup_s": setup_s, "e2e": e2e, "layers": layers,
        "attempted": out.attempted, "failed": out.failed, "notes": out.notes,
    }


# -- cdc_live -------------------------------------------------------------

OUTBOX_DDL = (
    'CREATE TABLE outbox ("_op" VARCHAR(8) NOT NULL, "_version" BIGINT NOT NULL '
    'PRIMARY KEY, "_ts" TIMESTAMP NOT NULL, "id" BIGINT NOT NULL, "purchaser" INT, '
    '"product_id" INT, "quantity" INT, "amount" DOUBLE)'
)


def _sql_value(v) -> str:
    if v is None:
        return "NULL"
    return repr(float(v)) if isinstance(v, float) else str(int(v))


class _Generator(threading.Thread):
    """Open-loop source: tick i is due at t0 + i*TICK_S whatever the
    engine is doing, and inserts the next ROWS_PER_TICK changes in one
    multi-row INSERT. A change is created when its INSERT commits; the
    tick's index then goes on `committed`, and None when the thread ends."""

    def __init__(self, conn, inputs: CdcInputs, t0: float, n_ticks: int,
                 stop: threading.Event) -> None:
        super().__init__(name="perfbench-generator", daemon=True)
        self.conn, self.inputs, self.t0, self.n_ticks = conn, inputs, t0, n_ticks
        self.stop = stop
        self.per_tick = ROWS_PER_TICK
        self.created = np.zeros(n_ticks * self.per_tick)  # epoch s per version
        self.late: list[float] = []
        self.insert_s: list[float] = []
        self.committed: queue.Queue = queue.Queue()
        self.error: Exception | None = None

    def run(self) -> None:
        c = self.inputs.changes
        stmt = self.conn.createStatement()
        try:
            for i in range(self.n_ticks):
                due = self.t0 + i * TICK_S
                if self.stop.wait(max(0.0, due - time.time())):
                    return  # the run was aborted
                now = time.time()
                self.late.append(now - due)
                ts = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(now)) + f".{int(now % 1 * 1e6):06d}"
                rows = []
                for v in range(i * self.per_tick, (i + 1) * self.per_tick):
                    dead = bool(c["_deleted"][v])
                    vals = [c[n][v].item() if not dead else None for n, _ in ROW_FIELDS[1:]]
                    rows.append(
                        f"('{c['_op'][v]}', {v}, TIMESTAMP('{ts}'), {int(c['id'][v])}, "
                        + ", ".join(_sql_value(x) for x in vals) + ")"
                    )
                stmt.executeUpdate("INSERT INTO outbox VALUES " + ", ".join(rows))
                done = time.time()
                self.insert_s.append(done - now)
                self.created[i * self.per_tick:(i + 1) * self.per_tick] = done
                self.committed.put(i)
        except Exception as e:  # re-raised by the main thread
            self.error = e
        finally:
            stmt.close()
            self.committed.put(None)


class _Reader(threading.Thread):
    """Closed-loop, paced reader: lookup i starts at t0 + i *
    READER_PERIOD_S, or when lookup i-1 ends if that is later."""

    def __init__(self, ctx, mirror: Mirror, keys: np.ndarray, t0: float,
                 stop: threading.Event) -> None:
        super().__init__(name="perfbench-reader", daemon=True)
        self.ctx, self.mirror, self.keys, self.t0, self.stop = ctx, mirror, keys, t0, stop
        self.latencies: list[tuple[float, float]] = []  # (start, seconds)
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for i, k in enumerate(self.keys):
                if self.stop.wait(max(0.0, self.t0 + i * READER_PERIOD_S - time.time())):
                    return
                started, t = time.time(), time.perf_counter()
                with self.ctx.tracer.span("streaming.mirror.read", "lookup"):
                    self.mirror.lookup(id=int(k)).collect()
                self.latencies.append((started, time.perf_counter() - t))
        except Exception as e:  # re-raised by the main thread
            self.error = e


def _applied_batches(checkpoint: str) -> dict[int, int]:
    """spool slot -> micro-batch id, from the file-source log in the
    query checkpoint (plain and compacted entries alike)."""
    slot_batch: dict[int, int] = {}
    for path in glob.glob(f"{checkpoint}/sources/0/*"):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    m = re.search(r"_batch=(\d+)", e["path"])
                    if m:
                        slot_batch[int(m.group(1))] = int(e["batchId"])
    return slot_batch


def _batch_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished."""
    whole, _, frac = p["timestamp"].rstrip("Z").partition(".")
    start = calendar.timegm(time.strptime(whole, "%Y-%m-%dT%H:%M:%S"))
    return start + float(f"0.{frac or 0}") + p["durationMs"]["triggerExecution"] / 1000


def live(ctx) -> dict:
    size = LIVE[ctx.size]
    spark, tr = ctx.spark, ctx.tracer
    out = _Outcome()
    run_s = ctx.seconds
    # warm-up ticks run first on the same schedule and count as set-up
    n_warm = size["warm_ticks"] * ROWS_PER_TICK
    n_ticks = size["warm_ticks"] + int(run_s / TICK_S)
    n_changes = n_ticks * ROWS_PER_TICK
    mirror = _mirror(ctx, "live", n_buckets=size["n_buckets"])
    # set-up, repeated so its median is reported: inputs and the
    # snapshot (an overwrite, so repeating it is idempotent)
    setups = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        inputs = CdcInputs(ctx.seed, size["n_base"], n_changes)
        expected = _parquet(ctx, inputs.expected(n_changes), f"expected_{i}")
        with tr.span("streaming.mirror.write", "snapshot"):
            mirror.snapshot(_parquet(ctx, inputs.base_table(), f"base_{i}"))
        setups.append(time.perf_counter() - t)
    t_setup = time.time()

    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    url = f"jdbc:derby:{ctx.dir}/srcdb;create=true"
    conn = jvm.java.sql.DriverManager.getConnection(url)
    stop = threading.Event()
    threads, q = [], None
    try:
        ddl = conn.createStatement()
        ddl.executeUpdate(OUTBOX_DDL)
        ddl.close()
        spool = f"{ctx.dir}/spool"
        os.makedirs(spool)
        poller = JdbcChangePoller(url, "outbox", ROW_SCHEMA, spool, f"{ctx.dir}/cursor.json")
        # warm-up: empty polls and lookups on the snapshot
        for i in range(WARM_LOOKUPS):
            if i % 4 == 0:
                with tr.span("sources.jdbc_changes", "poll_once"):
                    poller.poll_once(spark)
            with tr.span("streaming.mirror.read", "lookup"):
                mirror.lookup(id=i).collect()
        q = mirror.start(spool, available_now=False, processing_time=TRIGGER,
                         max_files_per_trigger=None)

        # align the schedule to the trigger clock (processing-time
        # triggers fire on multiples of the interval since the epoch)
        t0 = float(int(time.time()) + 2)
        t_measure = t0 + size["warm_ticks"] * TICK_S
        # the 1-2 s wait for the aligned start is not set-up work
        setup_s = statistics.median(setups) + time.time() - t_setup + t_measure - t0
        gen = _Generator(conn, inputs, t0, n_ticks, stop)
        rng = np.random.default_rng(ctx.seed + 7)
        reader = _Reader(ctx, mirror, zipf_keys(rng, size["n_base"], 100_000), t0, stop)
        threads = [gen, reader]
        gen.start()
        reader.start()
        polls = []  # (slot, first version, last version, rows, seconds)
        jit = procfs.JitClock()
        cpu_at = {}  # tick -> procfs.app_cpu_s() when it committed
        last_version = n_changes - 1
        # one poll per tick, as soon as the tick's INSERT commits
        while (tick := gen.committed.get(timeout=60)) is not None:
            cpu_at[tick] = procfs.app_cpu_s(jit)
            if tick == size["warm_ticks"]:
                host = procfs.host_cpu_ticks()
            elif tick == n_ticks - 1:
                steal = procfs.steal_pct(host)
            before = poller.state()
            t = time.perf_counter()
            with tr.span("sources.jdbc_changes", "poll_once"):
                rows = poller.poll_once(spark)
            after = poller.state()
            first = 0 if before["cursor"] is None else before["cursor"] + 1
            polls.append((after["batch_seq"] - 1, first, after["cursor"], rows,
                          time.perf_counter() - t))
            if after["cursor"] == last_version:
                break
        stop.set()
        for th in threads:
            th.join()
            if th.error is not None:
                raise th.error
        q.processAllAvailable()
    finally:
        stop.set()
        for th in threads:
            th.join()
        if q is not None:
            q.stop()
        conn.close()

    # which micro-batch applied each change
    slot_batch = _applied_batches(mirror.checkpoint)
    progresses = data_batches(q)
    ends = {p["batchId"]: _batch_end(p) for p in progresses}
    applied_at = np.full(n_changes, np.nan)
    for slot, lo, hi, rows, _ in polls:
        if rows:
            applied_at[lo:hi + 1] = ends[slot_batch[slot]]
    out.check(not np.isnan(applied_at).any(), "live: every change mapped to a batch")
    lag_ms = 1000 * (applied_at - gen.created)[n_warm:]
    out.check(_in_sync(ctx, mirror, expected), "live: parity after quiesce")
    # the merged read of a mirror built from many small delta batches
    for _ in range(READS_PER_CYCLE):
        with tr.span("streaming.mirror.read", "read_target"):
            mirror.read_target().write.format("noop").mode("overwrite").save()

    # open-loop validity: backlog at each batch end must not trend up
    batch_t = np.array(sorted(ends.values()))
    in_window = batch_t[(batch_t >= t_measure) & (batch_t <= t_measure + run_s)]
    backlog = [
        np.sum(gen.created <= t) - np.sum(applied_at <= t) for t in in_window
    ]
    slope = (
        float(np.polyfit(in_window - t_measure, backlog, 1)[0]) if len(in_window) > 2 else 0.0
    )
    out.check(slope * run_s <= 2 * ROWS_PER_TICK, "live: backlog grew")

    # the measured window: polls of measured ticks and the micro-batches
    # that applied no warm-up change
    warm_batches = {slot_batch[p[0]] for p in polls if p[3] and p[1] < n_warm}
    progresses = [p for p in progresses if p["batchId"] not in warm_batches]
    polls = [p for p in polls if p[1] >= n_warm]
    input_rows = sum(p["numInputRows"] for p in progresses)
    files, delta_rows, delta_bytes = _delta_stats(mirror)
    lookups = 1000 * np.array([s for t, s in reader.latencies if t >= t_measure])
    phases = progress_phases(progresses)
    # CPU of the whole pipeline (generator, poll, apply and reads), less
    # JIT compilation, per change offered in the measured window
    measured_ticks = n_ticks - 1 - size["warm_ticks"]
    e2e = {
        "work_rate_per_s": input_rows / (phases["streaming.mirror.trigger_ms"] / 1000),
        "cpu_ms_per_change": 1000 * (cpu_at[n_ticks - 1][0] - cpu_at[size["warm_ticks"]][0])
        / (measured_ticks * ROWS_PER_TICK),
        "latency_p50_ms": _pct(lag_ms, 50),
        "latency_p95_ms": _pct(lag_ms, 95),
    }
    layers = {
        **phases,
        "host.steal_pct": steal,
        "process.jit_cpu_s": cpu_at[n_ticks - 1][1] - cpu_at[size["warm_ticks"]][1],
        "streaming.mirror.batches": len(progresses),
        "streaming.mirror.input_rows": input_rows,
        "streaming.mirror.thin_ratio": delta_rows / n_changes,
        "streaming.mirror.delta_files": files,
        "streaming.mirror.delta_bytes_per_change": delta_bytes / n_changes,
        "streaming.mirror.write.snapshot_s": statistics.median(tr.durations("snapshot")),
        "streaming.mirror.read.read_target_s": statistics.median(tr.durations("read_target")),
        "streaming.mirror.read.checksum_parity_s": statistics.median(
            tr.durations("checksum_parity")
        ),
        "streaming.mirror.read.lookups": len(lookups),
        "streaming.mirror.read.lookup_p50_ms": _pct(lookups, 50),
        "streaming.mirror.read.lookup_p95_ms": _pct(lookups, 95),
        "sources.jdbc_changes.polls": len(polls),
        "sources.jdbc_changes.poll_ms": 1000 * statistics.median(p[4] for p in polls),
        "sources.jdbc_changes.rows_per_poll": statistics.mean(p[3] for p in polls),
        "sources.jdbc_changes.empty_poll_frac": sum(p[3] == 0 for p in polls) / len(polls),
        "generator.late_p95_ms": 1000 * _pct(gen.late, 95),
        "generator.insert_p95_ms": 1000 * _pct(gen.insert_s, 95),
        "generator.backlog_slope_per_s": slope,
    }
    return {
        "setup_s": setup_s, "e2e": e2e, "layers": layers,
        "attempted": out.attempted, "failed": out.failed, "notes": out.notes,
    }
