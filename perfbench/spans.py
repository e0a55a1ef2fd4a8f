"""Out-of-program tracing: span wrappers installed at runtime around the
engine's public entry points, one Spark job group per span, and a reader
that attributes job and stage metrics from the Spark status store
(`sc._jsc.sc().statusStore()`, readable with the UI off) to spans.

A span records its name, parent, thread and wall interval. Jobs belong to
the innermost open span on the thread that submitted them, because each
span sets the thread's job group on entry and restores the previous group
on exit. Spans stay in memory; `Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"

# (span name, module, class or None for a module function, attribute)
ENTRY_POINTS = (
    ("cdc.sync", "peerdb_spark.cdc", "CdcPipeline", "sync_batch"),
    ("cdc.cadence", "peerdb_spark.cdc", "CdcPipeline", "maybe_normalize"),
    ("cdc.normalize", "peerdb_spark.cdc", "CdcPipeline", "normalize_batches"),
    ("normalize.merge", "peerdb_spark.normalize", None, "merge_into_table"),
    ("storage.rewrite", "peerdb_spark.storage", "ParquetTable", "replace_partitions"),
    ("storage.split", "peerdb_spark.storage", "ParquetTable", "maybe_split"),
    ("storage.seed", "peerdb_spark.storage", "ParquetTable", "overwrite"),
    ("mview.fold", "peerdb_spark.mview", "ViewTable", "fold"),
    ("streaming.run", "peerdb_spark.streaming", "CdcStreamRunner", "run_available"),
    ("streaming.trigger", "peerdb_spark.streaming", "WalStreamRunner", "_foreach_batch"),
)

# per-call counters read from an entry point's arguments
COUNTERS = {
    # replace_partitions(self, df, buckets)
    "storage.rewrite": lambda _table, _df, buckets: {"buckets": len(buckets)},
}
# spans the benchmark opens itself around its reader step
BENCH_SPANS = ("cdc.read",)
SPAN_NAMES = tuple(e[0] for e in ENTRY_POINTS) + BENCH_SPANS
SPAN_FIELDS = (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("run_s", "s"),
               ("shuffle_bytes", "bytes"), ("out_bytes", "bytes"))


def status_json(sc) -> tuple[list[dict], list[dict]]:
    """Every job and stage in the Spark status store, as JSON dicts."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = json.loads(mapper.writeValueAsString(store.stageList(None, *defaults)))
    return jobs, stages


def window_work(sc, t0: float, t1: float) -> dict[str, int]:
    """Jobs submitted between epoch seconds t0 and t1, with the tasks and the
    output and shuffle-write bytes of the stages they ran (a stage counts
    once; skipped stages carry no metrics)."""
    jobs, stages = status_json(sc)
    by_stage = {s["stageId"]: s for s in stages if s.get("status") == "COMPLETE"}
    out = {"jobs": 0, "tasks": 0, "write_bytes": 0}
    seen: set[int] = set()
    for job in jobs:
        if not t0 * 1000 <= (job.get("submissionTime") or 0) <= t1 * 1000:
            continue
        out["jobs"] += 1
        for sid in set(job.get("stageIds", [])) - seen:
            seen.add(sid)
            st = by_stage.get(sid)
            if st is not None:
                out["tasks"] += st["numTasks"]
                out["write_bytes"] += st["outputBytes"] + st["shuffleWriteBytes"]
    return out


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main_stack: list[dict] = []
        self._main_thread = threading.get_ident()
        self._next_id = 0
        self._installed: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a callback thread (foreachBatch) nests under the
        # span the main thread is blocked in
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "thread": threading.get_ident(), "counters": {}}
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)

    # -- runtime wrappers ----------------------------------------------------

    def install(self) -> None:
        import importlib

        for name, mod_name, cls_name, attr in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(name, orig, COUNTERS.get(name)))
            self._installed.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    def _wrap(self, name: str, fn, count=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                if count is not None:
                    rec["counters"].update(count(*args, **kwargs))
                return fn(*args, **kwargs)

        return wrapper

    # -- status-store attribution ---------------------------------------------

    def attribute(self) -> None:
        """Attach jobs, tasks, executor run time, shuffle and output bytes and
        records to each span. A stage counts once, for the first job that ran
        it; skipped stages carry no metrics."""
        jobs, stages = status_json(self.sc)
        by_stage = {s["stageId"]: s for s in stages if s.get("status") == "COMPLETE"}
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=0, tasks=0, run_s=0.0, shuffle_bytes=0, out_bytes=0,
                     out_records=0, in_records=0)
        seen: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if not group.startswith(GROUP_PREFIX):
                continue
            span = by_id.get(int(group[len(GROUP_PREFIX):]))
            if span is None:
                continue
            span["jobs"] += 1
            for sid in job.get("stageIds", []):
                st = by_stage.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                span["tasks"] += st["numTasks"]
                span["run_s"] += st["executorRunTime"] / 1000.0
                span["shuffle_bytes"] += st["shuffleWriteBytes"]
                span["out_bytes"] += st["outputBytes"]
                span["out_records"] += st["outputRecords"]
                span["in_records"] += st["inputRecords"]

    def self_times(self) -> None:
        """self = wall minus the wall of direct children (children of a span
        run inside its interval, on its thread or on a thread it waits on)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["t1"] - s["t0"])
        for s in self.spans:
            s["wall"] = s["t1"] - s["t0"]
            s["self"] = s["wall"] - child.get(s["id"], 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                fh.write(json.dumps(s) + "\n")
