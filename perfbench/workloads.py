"""The benchmark's workloads: closed loops with one client on one session.

- cdc_trickle: eager cadence (normalize every batch) with one attached view;
  small batches over a seeded destination; one reader step per batch.
- cdc_lazy_rw: the same seed and feed under the `auto` cadence, no view;
  syncs are O(batch) and reads fold the growing raw tail until a merge.
- cdc_bulk_wal: a pgoutput WAL backlog drained by `WalStreamRunner` into an
  empty destination, a few large triggers per drain.

Each workload returns a `Result`; `run.py` turns it into metrics. Times are
`time.perf_counter` seconds; correctness checks run after the timed loop.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

import inputs
from reference import Reference, as_ints

# sizes per scale; `tiny` keeps the tests fast
SCALES = {
    "bench": {
        "seed_rows": 20_000, "batch_events": 1_000, "max_batches": 30,
        # auto-cadence floor in batches: a merge fires every 5th batch
        "merge_every": 5, "warm_batches": 1,
        "wal_slots": 4, "wal_chunks": 2, "wal_chunk_events": 6_000,
        "warm_chunks": 2, "warm_chunk_events": 1_000, "max_drains": 40, "setup_reps": 3,
        "reads_per_drain": 2,
    },
    "tiny": {
        "seed_rows": 2_000, "batch_events": 100, "max_batches": 4,
        "merge_every": 3, "warm_batches": 1,
        "wal_slots": 2, "wal_chunks": 2, "wal_chunk_events": 400,
        "warm_chunks": 1, "warm_chunk_events": 100, "max_drains": 2, "setup_reps": 2,
        "reads_per_drain": 2,
    },
}

FEED_SCHEMA = T.StructType([
    T.StructField("pk", T.LongType()),
    T.StructField("qty", T.LongType()),
    T.StructField("flag", T.StringType()),
    T.StructField("note", T.StringType()),
])
# the WAL relation declares text columns
WAL_SCHEMA = T.StructType([T.StructField(f.name, T.StringType()) for f in FEED_SCHEMA.fields])
COLS = [f.name for f in FEED_SCHEMA.fields]


@dataclass
class Ctx:
    spark: object
    work: str          # per-run scratch dir, removed by the caller
    cache: str         # input cache, kept across runs
    seed: int
    seconds: float
    scale: dict
    calibrate: object = None  # () -> seconds of a fixed CPU-bound job
    clock: object = None  # () -> {"cpu_s": ..., "steal_s": ...} so far, run.clock
    tracer: object = None  # spans.Tracer in a traced run
    corrupt: bool = False  # corrupt one destination row before the checks


@dataclass
class Result:
    setup_reps: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)   # per batch / trigger
    read_s: list[float] = field(default_factory=list)    # per reader step
    # per loop iteration (a batch and its reader step, or a drain and its reads)
    iter_s: list[float] = field(default_factory=list)
    iter_events: list[int] = field(default_factory=list)
    iter_batches: list[int] = field(default_factory=list)
    iter_traced: list[bool] = field(default_factory=list)
    loop_s: float = 0.0
    loop_clock: dict = field(default_factory=dict)  # run.clock() deltas over the loop
    loop_epoch: tuple = (0.0, 0.0)  # time.time() at the loop's start and end
    calibration_s: list[float] = field(default_factory=list)  # before, after the loop
    attempted: int = 0
    failed: int = 0
    checks: list[dict] = field(default_factory=list)
    disk_bytes: int = 0
    raw_bytes: int = 0
    raw_events: int = 0
    extra: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one checked operation, failed unless `ok`."""
        self.attempted += 1
        if not ok:
            self.fail(name, detail)

    def fail(self, name: str, detail: str) -> None:
        """Mark an operation already counted in `attempted` as failed."""
        self.failed += 1
        self.checks.append({"check": name, "detail": detail[:300]})

    @property
    def events(self) -> int:
        return sum(self.iter_events)


def du(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _reader_step(df, pk) -> tuple[dict, tuple | None]:
    """One reader step: an aggregate over the mirror, then a point lookup."""
    agg = df.groupBy("flag").agg(F.count(F.lit(1)), F.sum(F.col("qty").cast("long"))).collect()
    rows = df.where(F.col("pk") == F.lit(pk)).select(*COLS).collect()
    return ({r[0]: (int(r[1]), int(r[2])) for r in agg},
            as_ints(tuple(rows[0])) if rows else None)


def _check_rows(res: Result, table, want: set[tuple]) -> None:
    """The final-destination check: every live row equals the reference."""
    try:
        got = {as_ints(t) for t in table.read().select(*COLS).toPandas().itertuples(index=False)}
    except Exception as e:  # noqa: BLE001 — an unreadable destination is a failed check
        res.check("final destination", False, repr(e))
        return
    res.check("final destination", got == want,
              f"{len(got ^ want)} rows differ ({len(got)} vs {len(want)})")


def _corrupt_one_row(dst: str) -> None:
    """Test seam: change one destination row behind the engine's back."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for f in sorted(glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)):
        t = pq.read_table(f)
        if t.num_rows:
            qty = t.column("qty")
            bumped = pc.add(qty.cast("int64"), 1).cast(qty.type) if qty.type != "string" \
                else pc.binary_join_element_wise(qty, "9", "")
            mask = [i == 0 for i in range(t.num_rows)]
            t = t.set_column(t.schema.get_field_index("qty"), "qty",
                             pc.if_else(mask, bumped, qty))
            pq.write_table(t, f)
            # drop the Hadoop checksum so the reader sees the edit, not a CRC error
            crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return


def _min_iters(tracer) -> int:
    """Loop iterations a run makes at least: a traced run traces odd
    iterations and compares them with the untraced even ones."""
    return 1 if tracer is None else 2


def _time(fn, *args) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


# -- changelog feed workloads --------------------------------------------------


def run_feed(ctx: Ctx, lazy: bool) -> Result:
    from peerdb_spark.cdc import CHANGELOG_SCHEMA, CdcPipeline, CdcTableConfig
    from peerdb_spark.mview import ViewTable
    from peerdb_spark.storage import ParquetTable

    sc, spark, res = ctx.scale, ctx.spark, Result()
    fdir = inputs.feed(ctx.cache, ctx.seed, sc["seed_rows"], sc["batch_events"],
                       sc["max_batches"])
    lookups = inputs.feed_lookups(fdir)
    seed_df = spark.read.parquet(os.path.join(fdir, "seed.parquet"))
    ref = Reference(fdir, ctx.work)

    def build(d: str):
        pipe = CdcPipeline(
            spark, os.path.join(d, "raw"), [],
            normalize_every="auto" if lazy else 1,
            auto_min_rows=sc["merge_every"] * sc["batch_events"],
        )
        # the product defaults: 16 buckets, 'agg' merge
        pipe.add_table(CdcTableConfig(inputs.DST, ["pk"], FEED_SCHEMA, os.path.join(d, "dst")),
                       backfill=seed_df)
        view = None
        if not lazy:
            view = ViewTable(spark, os.path.join(d, "view"), ["flag"], "qty")
            pipe.attach_view(inputs.DST, view, backfill=True)
        return pipe, view

    def batch_df(k: int):
        return spark.read.schema(CHANGELOG_SCHEMA).parquet(inputs.feed_batch_path(fdir, k))

    # set-up: seed the destination (and backfill the view) several times;
    # the first copy also takes the warm-up batches (the JIT keeps speeding
    # batches up for several of them), the last one is measured
    for rep in range(sc["setup_reps"]):
        d = os.path.join(ctx.work, f"setup{rep}")
        dt_, (pipe, view) = _time(build, d)
        res.setup_reps.append(dt_)
        if rep == 0:
            t0 = time.perf_counter()
            for b in range(1, sc["warm_batches"] + 1):
                pipe.process_batch(batch_df(b), b)
                _reader_step(pipe.read_table(inputs.DST), lookups[b])
            if lazy:
                pipe.maybe_normalize(b, force=True)
                _reader_step(pipe.read_table(inputs.DST), lookups[b])
            res.warmup_s = time.perf_counter() - t0
        if rep < sc["setup_reps"] - 1:
            shutil.rmtree(d)

    observed = []  # (batch, aggregate, lookup row)
    tracer = ctx.tracer
    min_iters = _min_iters(tracer)
    res.calibration_s.append(ctx.calibrate())
    c_loop = ctx.clock()
    e_loop = time.time()
    t_loop = time.perf_counter()
    k = 0
    while k < sc["max_batches"]:
        k += 1
        traced = tracer is not None and k % 2 == 1
        if traced:
            tracer.install()
        try:
            t0 = time.perf_counter()
            merged = pipe.process_batch(batch_df(k), k)
            t1 = time.perf_counter()
            with tracer.span("cdc.read") if traced else nullcontext():
                agg, row = _reader_step(pipe.read_table(inputs.DST), lookups[k])
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed batch ends the loop
            res.check(f"batch {k}", False, repr(e))
            break
        finally:
            if traced:
                tracer.uninstall()
        res.attempted += 2  # the batch and its reader step
        res.batch_s.append(t1 - t0)
        res.read_s.append(t2 - t1)
        res.iter_s.append(t2 - t0)
        res.iter_events.append(sc["batch_events"])
        res.iter_batches.append(1)
        res.iter_traced.append(traced)
        res.extra["merges"] = res.extra.get("merges", 0) + int(merged)
        observed.append((k, agg, row))
        elapsed = time.perf_counter() - t_loop
        # the lazy loop ends on a merge, so every run holds whole cadence cycles
        if k >= min_iters and elapsed >= ctx.seconds and (merged or not lazy):
            break
        if elapsed >= 3 * ctx.seconds:
            break
    res.loop_s = time.perf_counter() - t_loop
    res.loop_clock = {k: v - c_loop[k] for k, v in ctx.clock().items()}
    res.loop_epoch = (e_loop, time.time())
    res.calibration_s.append(ctx.calibrate())
    res.extra["batches"] = k

    # -- checks (untimed) --------------------------------------------------------
    if lazy:
        pipe.maybe_normalize(k, force=True)
    cfg = pipe.tables[inputs.DST]
    if ctx.corrupt:
        _corrupt_one_row(cfg.path)
    _check_rows(res, ParquetTable(spark, cfg.path, cfg.pk_cols, cfg.n_buckets), ref.rows(k))
    if view is not None:
        got_v = {r["flag"]: (int(r["cnt"]), int(r["sum_v"])) for r in view.read().collect()}
        want_v = ref.aggregate(k)
        res.check("view", got_v == want_v, f"{got_v} vs {want_v}")
    for b, agg, row in observed:
        want = (ref.aggregate(b), ref.lookup(b, lookups[b]))
        if (agg, row) != want:
            res.fail(f"reader step @{b}", f"{(agg, row)} vs {want}")
    ref.close()
    res.disk_bytes = du(cfg.path, *([view.path] if view is not None else []))
    res.raw_bytes = du(pipe.raw.path)
    res.raw_events = k * sc["batch_events"]
    return res


# -- WAL backlog workload --------------------------------------------------------


def run_wal(ctx: Ctx) -> Result:
    from peerdb_spark.cdc import CdcTableConfig
    from peerdb_spark.storage import ParquetTable
    from peerdb_spark.streaming import WalStreamRunner

    sc, spark, res = ctx.scale, ctx.spark, Result()
    slots = sc["wal_slots"]
    main = inputs.wal(ctx.cache, ctx.seed, slots, sc["wal_chunks"], sc["wal_chunk_events"])
    # a small backlog that warms the stream start, decode and merge paths
    warm = inputs.wal(ctx.cache, ctx.seed, slots, sc["warm_chunks"], sc["warm_chunk_events"])
    n_events = inputs.wal_event_count(main)
    ref = Reference(main, ctx.work)
    last_chunk = sc["wal_chunks"] - 1
    want_rows = ref.rows(last_chunk)
    want_agg = ref.aggregate(last_chunk)
    # keys the reader steps look up: spread over the final state, seeded
    ordered = sorted(want_rows)
    probe = [ordered[(ctx.seed * 7919 + i * 104729) % len(ordered)][0]
             for i in range(sc["reads_per_drain"])]
    want_reads = [(want_agg, ref.lookup(last_chunk, pk)) for pk in probe]
    ref.close()

    def runner(d: str, src: str) -> WalStreamRunner:
        return WalStreamRunner(
            spark, os.path.join(src, "wal"), os.path.join(d, "ckpt"),
            [CdcTableConfig(inputs.DST, ["pk"], WAL_SCHEMA, os.path.join(d, "dst"))],
            os.path.join(d, "raw"), max_files_per_trigger=slots,
        )

    def drain(d: str, src: str) -> tuple[WalStreamRunner, list[float]]:
        """Drain the backlog; returns the runner and its trigger durations."""
        r = runner(d, src)
        try:
            r.run_available()
            prog = [p for p in r.query.recentProgress if p.numInputRows > 0]
        finally:
            r.stop()
        return r, [p.durationMs["triggerExecution"] / 1000.0 for p in prog]

    # set-up: a runner over fresh directories, several times; the first one
    # drains the small backlog to warm the JVM and the Python workers
    for rep in range(sc["setup_reps"]):
        d = os.path.join(ctx.work, f"setup{rep}")
        dt_, _ = _time(runner, d, warm)
        res.setup_reps.append(dt_)
        if rep == 0:
            res.warmup_s, _ = _time(drain, d, warm)
        shutil.rmtree(d)

    tracer = ctx.tracer
    min_iters = _min_iters(tracer)
    res.calibration_s.append(ctx.calibrate())
    c_loop = ctx.clock()
    e_loop = time.time()
    t_loop = time.perf_counter()
    i = 0
    prev = None
    while i < sc["max_drains"]:
        i += 1
        d = os.path.join(ctx.work, f"drain{i}")
        traced = tracer is not None and i % 2 == 1
        if traced:
            tracer.install()
        reads = []
        try:
            t0 = time.perf_counter()
            r, triggers = drain(d, main)
            t1 = time.perf_counter()
            pipe = r.pipeline
            for pk in probe:
                t2 = time.perf_counter()
                with tracer.span("cdc.read") if traced else nullcontext():
                    reads.append(_reader_step(pipe.read_table(inputs.DST), str(pk)))
                res.read_s.append(time.perf_counter() - t2)
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed drain ends the loop
            res.check(f"drain {i}", False, repr(e))
            break
        finally:
            if traced:
                tracer.uninstall()
        res.attempted += 1 + len(reads)
        res.batch_s.extend(triggers)
        res.iter_s.append(t3 - t0)
        res.iter_events.append(n_events)
        res.iter_batches.append(len(triggers))
        res.iter_traced.append(traced)
        res.extra.setdefault("drain_s", []).append(t1 - t0)
        res.extra.setdefault("triggers", []).append(len(triggers))
        for got, want in zip(reads, want_reads):
            if got != want:
                res.fail(f"reader step drain {i}", f"{got} vs {want}")
        if prev is not None:
            shutil.rmtree(prev)
        prev = d
        if i >= min_iters and time.perf_counter() - t_loop >= ctx.seconds:
            break
    res.loop_s = time.perf_counter() - t_loop
    res.loop_clock = {k: v - c_loop[k] for k, v in ctx.clock().items()}
    res.loop_epoch = (e_loop, time.time())
    res.calibration_s.append(ctx.calibrate())

    # -- checks on the last drain (untimed) -------------------------------------
    if prev is not None:
        dst = os.path.join(prev, "dst")
        if ctx.corrupt:
            _corrupt_one_row(dst)
        _check_rows(res, ParquetTable(spark, dst, ["pk"]), want_rows)
        res.disk_bytes = du(dst, os.path.join(prev, "ckpt"))
        res.raw_bytes = du(os.path.join(prev, "raw"))
        res.raw_events = n_events
    res.extra["events_per_drain"] = n_events
    return res


WORKLOADS = {
    "cdc_trickle": lambda ctx: run_feed(ctx, lazy=False),
    "cdc_lazy_rw": lambda ctx: run_feed(ctx, lazy=True),
    "cdc_bulk_wal": run_wal,
}
