"""peerdb_spark CDC benchmark: one workload per invocation.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 5 --trace 0

Builds inputs from the seed (cached under .perfbench_work/cache), starts one
local[nproc] Spark session, sets up, runs the workload's closed loop for
--seconds, checks every result against an independent DuckDB reference and
prints two JSON lines: the full record (host facts, every metric measured
with its unit, tails with their percentile and sample count, failed checks)
and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 installs span wrappers
around the engine's entry points on every other loop iteration and reports
per-layer metrics, span coverage and the tracing overhead instead. All
reads and writes stay inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CALIBRATION_ROWS = 100_000_000

# the end-to-end metrics of the result line (BENCHMARK.json's `end_to_end`):
# set-up time, then the space and the work each batch or event costs
E2E = (("setup_s", "s"), ("disk_mb", "MB"), ("raw_bytes_per_event", "bytes"),
       ("jobs_per_batch", "count"), ("tasks_per_batch", "count"),
       ("write_bytes_per_event", "bytes"))
# metrics in the record only. The timed ones are not gated: on a shared
# 4-vCPU guest, other tenants slow whole runs at a time (CPU stolen by the
# hypervisor, and slower instructions on the CPU that is left), which moves
# CPU time per event by a fifth either way and wall time by more
RECORD = (("events_per_s", "1/s"), ("cpu_ms_per_event", "ms"), ("batch_p50_s", "s"),
          ("read_p50_s", "s"), ("peak_rss_mb", "MB"), ("error_ratio", "ratio"))


def per_layer_names() -> list[tuple[str, str]]:
    from spans import SPAN_FIELDS, SPAN_NAMES

    out = [(f"{s}.{f}", u) for s in SPAN_NAMES for f, u in SPAN_FIELDS]
    out += [("cdc.sync.rows", "count"), ("cdc.merges_per_batch", "ratio"),
            ("storage.buckets_touched", "count"), ("storage.rows_rewritten", "count"),
            ("storage.write_amp", "ratio"), ("cdc.read.rows", "count"),
            ("streaming.triggers", "count"), ("spark.task_util", "ratio"),
            ("trace.coverage", "ratio"), ("trace.overhead_pct", "%"),
            ("trace.overhead_events_per_s", "1/s")]
    return out


def _isolate_scratch() -> None:
    """Keep Spark's, Java's and Python's temporary files inside the checkout
    (must run before the JVM starts)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    import tempfile

    tempfile.tempdir = None
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage of the loop back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def calibrate(spark) -> float:
    """bench.py's fixed CPU-bound job (bit_xor over xxhash64), at
    CALIBRATION_ROWS rows: a host-speed reading taken right before and right
    after the timed loop."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(CALIBRATION_ROWS, numPartitions=nproc()).select(
        F.bit_xor(F.xxhash64("id"))).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def clock() -> dict[str, float]:
    """CPU seconds used so far by this process and all its descendants (the
    JVM and the Python workers included, finished children too), and the
    CPU seconds the hypervisor has stolen from this host so far."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        # after the name: state ppid ... utime stime cutime cstime
        procs[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo += [c for c, (pp, _) in procs.items() if pp == p and c not in tree]
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8])
    return {"cpu_s": sum(procs[p][1] for p in tree & procs.keys()) / tick,
            "steal_s": steal / tick}


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this driver process plus the JVM."""
    kb = _hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _hwm_kb(proc.pid)
    return kb / 1024.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    s = sorted(xs)
    return {"value": s[n - 11], "percentile": math.floor(100 * (n - 10) / n), "n": n}


def e2e_metrics(res, session_s: float, work: dict) -> dict:
    """`work` is spans.window_work over the timed loop."""
    batches = max(sum(res.iter_batches), 1)
    return {
        "setup_s": session_s + statistics.median(res.setup_reps) + res.warmup_s,
        "disk_mb": res.disk_bytes / 2**20,
        "raw_bytes_per_event": res.raw_bytes / max(res.raw_events, 1),
        # Spark jobs (each a scheduling round trip) and tasks per feed batch
        # or WAL trigger, reader steps included
        "jobs_per_batch": work["jobs"] / batches,
        "tasks_per_batch": work["tasks"] / batches,
        # output and shuffle bytes written per change event
        "write_bytes_per_event": work["write_bytes"] / max(res.events, 1),
    }


def record_metrics(res, spark) -> dict:
    def med(xs):  # None when a failed first batch left no samples
        xs = list(xs)
        return statistics.median(xs) if xs else None

    return {
        # events of one loop iteration over its median wall (an iteration
        # is a batch or a drain with its reader steps)
        "events_per_s": med(e / s for e, s in zip(res.iter_events, res.iter_s)),
        # CPU of the driver, the JVM and the Python workers in the timed
        # loop, per change event applied
        "cpu_ms_per_event": 1000.0 * res.loop_clock["cpu_s"] / max(res.events, 1),
        "batch_p50_s": med(res.batch_s),
        "read_p50_s": med(res.read_s),
        "peak_rss_mb": peak_rss_mb(spark),
        "error_ratio": res.failed / max(res.attempted, 1),
    }


def layer_metrics(res, tracer, cores: int) -> dict:
    """Per-layer metrics over the traced iterations, per batch (a feed batch
    or a WAL trigger), plus coverage and overhead against the untraced
    iterations of the same run."""
    from spans import SPAN_FIELDS, SPAN_NAMES

    tracer.self_times()
    tracer.attribute()
    it = [(s, e, b) for s, e, b, t in zip(res.iter_s, res.iter_events, res.iter_batches,
                                           res.iter_traced) if t]
    un = [(s, e) for s, e, t in zip(res.iter_s, res.iter_events, res.iter_traced) if not t]
    traced_s = sum(s for s, _, _ in it)
    batches = max(sum(b for _, _, b in it), 1)
    m: dict[str, float] = {f"{n}.{f}": 0.0 for n in SPAN_NAMES for f, _ in SPAN_FIELDS}
    counts: dict[str, int] = {}
    extra = {"rows_sync": 0, "rows_rewritten": 0, "buckets": 0, "read_rows": 0}
    for sp in tracer.spans:
        n = sp["name"]
        counts[n] = counts.get(n, 0) + 1
        m[f"{n}.s"] += sp["self"] / batches
        m[f"{n}.jobs"] += sp["jobs"] / batches
        m[f"{n}.tasks"] += sp["tasks"] / batches
        m[f"{n}.run_s"] += sp["run_s"] / batches
        m[f"{n}.shuffle_bytes"] += sp["shuffle_bytes"] / batches
        m[f"{n}.out_bytes"] += sp["out_bytes"] / batches
        if n == "cdc.sync":
            extra["rows_sync"] += sp["out_records"]
        elif n == "storage.rewrite":
            extra["rows_rewritten"] += sp["out_records"]
            extra["buckets"] += sp["counters"].get("buckets", 0)
        elif n == "cdc.read":
            extra["read_rows"] += sp["in_records"]
    events = sum(e for _, e, _ in it)
    m["cdc.sync.rows"] = extra["rows_sync"] / batches
    m["cdc.merges_per_batch"] = counts.get("cdc.normalize", 0) / batches
    m["storage.buckets_touched"] = extra["buckets"] / batches
    m["storage.rows_rewritten"] = extra["rows_rewritten"] / batches
    m["storage.write_amp"] = extra["rows_rewritten"] / max(events, 1)
    m["cdc.read.rows"] = extra["read_rows"] / max(counts.get("cdc.read", 0), 1)
    m["streaming.triggers"] = counts.get("streaming.trigger", 0) / max(len(it), 1)
    run_s = sum(sp["run_s"] for sp in tracer.spans)
    m["spark.task_util"] = run_s / max(traced_s * cores, 1e-9)
    m["trace.coverage"] = sum(sp["self"] for sp in tracer.spans) / max(traced_s, 1e-9)
    traced_eps = events / max(traced_s, 1e-9)
    untraced_eps = sum(e for _, e in un) / max(sum(s for s, _ in un), 1e-9)
    per_event_t = traced_s / max(events, 1)
    per_event_u = sum(s for s, _ in un) / max(sum(e for _, e in un), 1)
    m["trace.overhead_pct"] = 100.0 * (per_event_t / per_event_u - 1.0) if un else 0.0
    m["trace.overhead_events_per_s"] = traced_eps - untraced_eps if un else 0.0
    return m


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 scale: str = "bench", session_s: float = 0.0, corrupt: bool = False,
                 spans_out: str | None = None) -> tuple[dict, dict]:
    """Run one workload on an existing session; returns (record, result line)."""
    import workloads
    from spans import Tracer, window_work

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{name}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer(spark.sparkContext) if trace else None
    ctx = workloads.Ctx(spark=spark, work=run_dir, cache=os.path.join(WORK, "cache"),
                        seed=seed, seconds=seconds, scale=workloads.SCALES[scale],
                        calibrate=lambda: calibrate(spark), clock=clock, tracer=tracer,
                        corrupt=corrupt)
    try:
        res = workloads.WORKLOADS[name](ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    cores = spark.sparkContext.defaultParallelism
    if trace:
        metrics = layer_metrics(res, tracer, cores)
        units = dict(per_layer_names())
        if spans_out:
            tracer.dump(spans_out)
    else:
        metrics = e2e_metrics(res, session_s, window_work(spark.sparkContext, *res.loop_epoch))
        units = dict(E2E)
    import pyspark

    record_units = dict(RECORD)
    measured = {k: {"value": v, "unit": record_units[k]}
                for k, v in record_metrics(res, spark).items()}
    for k, xs in (("batch_tail_s", res.batch_s), ("read_tail_s", res.read_s)):
        measured[k] = {**tail(xs), "unit": "s"}
    if not trace:
        measured.update({k: {"value": v, "unit": units[k]} for k, v in metrics.items()})
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "scale": scale, "params": workloads.SCALES[scale],
        "host": {"nproc": nproc(), "spark_cores": cores, "pyspark": pyspark.__version__,
                 "calibration_rows": CALIBRATION_ROWS,
                 "calibration_before_after_s": res.calibration_s,
                 "loop_steal_s": res.loop_clock["steal_s"]},
        "metrics": measured,
        "session_s": session_s, "setup_reps_s": res.setup_reps, "warmup_s": res.warmup_s,
        "loop_s": res.loop_s, "loop_cpu_s": res.loop_clock["cpu_s"], "events": res.events,
        "batch_s": res.batch_s, "read_s": res.read_s,
        "failed_checks": res.checks, "extra": res.extra,
    }
    line = {
        "correct": res.failed == 0,
        "attempted": max(res.attempted, 1),
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return record, line


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [HERE, ROOT]
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import peerdb_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    _isolate_scratch()
    from peerdb_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        spans_out = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        record, line = run_workload(spark, args.workload, args.seed, args.seconds,
                                    bool(args.trace), session_s=session_s,
                                    spans_out=spans_out)
    finally:
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    print(json.dumps(record))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
