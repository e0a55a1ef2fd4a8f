"""Maintained windowed rollups — the continuous-aggregate pattern.

TimescaleDB's continuous aggregates / ClickHouse's AggregatingMergeTree
solve the same problem the reference's warehouse targets hand to their
engines: a windowed aggregate over an append-only event stream that is
kept up to date batch by batch WITHOUT rescanning history. Here it is an
explicit operator pair:

- rollup_delta(batch): one partial aggregate of the new batch — mergeable
  measures only (count / sum / min / max; avg = sum/cnt downstream), so
  partials combine associatively across batches.
- rollup_merge(state, delta): the O(new) maintenance step. Only (window,
  dims) keys TOUCHED by the batch are re-aggregated: the touched key set
  (bounded by the batch, usually a handful of recent windows) broadcasts
  against the state, untouched rows pass through untouched. With the state
  table partitioned by window day on disk, a merge rewrites only the
  touched partitions — history is never read or written.

Correctness invariant (pinned by tests and the declared oracle): folding
any batch split through rollup_delta + rollup_merge equals the one-shot
aggregate over the union — exactly because every measure is mergeable.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark.registry import atomic_write
from peerdb_spark.storage import read_parquet

MEASURES = ["cnt", "sum_v", "min_v", "max_v"]


def rollup_delta(
    batch: DataFrame,
    time_col: str,
    every_seconds: int,
    dims: list[str],
    value_col: str,
) -> DataFrame:
    """Partial rollup of one batch: (window_start_s, *dims, cnt, sum_v,
    min_v, max_v). Epoch-second bucketing via timestampdiff (NTZ-safe).
    One hash aggregate with map-side combine — the batch never shuffles
    at event granularity beyond its own partial."""
    secs = F.expr(
        f"timestampdiff(SECOND, timestamp'1970-01-01 00:00:00', `{time_col}`)"
    )
    ws = (F.floor(secs / F.lit(every_seconds)) * every_seconds).alias("window_start_s")
    return (
        batch.select(ws, *[F.col(d) for d in dims], F.col(value_col).alias("_v"))
        .groupBy("window_start_s", *dims)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_v").alias("sum_v"),
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
        )
    )


def rollup_merge(
    state: DataFrame | None,
    delta: DataFrame,
    dims: list[str],
    materialize_state: bool = False,
) -> DataFrame:
    """Fold a batch's partial rollup into the maintained state — O(new):
    untouched keys stream through without re-aggregation; touched keys
    (state rows semi-joined against the broadcast delta key set, plus the
    delta itself) re-combine their mergeable measures.

    The delta is eager-localCheckpointed: three plan branches consume it
    (both broadcast key probes + the union), and without pinning each
    branch would re-aggregate the batch (the multi-consumer
    lazy-checkpoint race documented in the perf playbook). `state` is
    referenced twice (anti + semi) — cheap when it's a parquet scan
    (RollupTable.fold), but a LAZY state doubles per merge level, so
    chained in-memory folds (state = rollup_merge(state, ...) in a loop)
    must pass materialize_state=True to keep the plan linear in the
    number of batches instead of exponential."""
    keys = ["window_start_s", *dims]
    if state is None:
        return delta
    delta = delta.localCheckpoint(eager=True)
    if materialize_state:
        state = state.localCheckpoint(eager=True)
    touched = delta.select(*keys).distinct()
    cold = state.join(F.broadcast(touched), keys, "left_anti")
    hot = state.join(F.broadcast(touched), keys, "left_semi")
    merged = (
        hot.unionByName(delta)
        .groupBy(*keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )
    return cold.unionByName(merged)


def _compact_applied(m: dict) -> dict:
    """Collapse the contiguous applied-id prefix into a watermark so the
    pointer file stays O(gap) instead of O(batches): Structured Streaming
    batch ids are monotone and contiguous, so in steady state the extra
    set is empty and the pointer never grows."""
    until, extra = m["applied_until"], sorted(set(m["applied_extra"]))
    while extra and extra[0] <= until + 1:
        until = max(until, extra.pop(0))
    return {**m, "applied_until": until, "applied_extra": extra}


POINTER = "_CURRENT"


def read_pointer(table_path: str) -> dict:
    """Read the `_CURRENT` pointer of a versioned table (RollupTable,
    mview.ViewTable / MviewTable, corpus.CorpusStateView); upgrades legacy
    `applied`-list pointers."""
    pointer = os.path.join(table_path, POINTER)
    if not os.path.exists(pointer):
        return {"version": 0, "applied_until": -1, "applied_extra": []}
    with open(pointer) as fh:
        m = json.load(fh)
    if "applied" in m:  # pre-compaction pointer layout
        ids = sorted(m.pop("applied"))
        m.setdefault("applied_until", -1)
        m.setdefault("applied_extra", ids)
        m = _compact_applied(m)
    return m


def read_version(spark, table_path: str, part: str | None = None) -> DataFrame | None:
    """The published snapshot of a versioned table (`part`: one relation
    of a multi-relation version), or None before the first publish. It
    reads with the schema the pointer recorded (`DataType.jsonValue()`
    form), so it launches no schema-inference job; pointers written by
    older versions hold none and infer it."""
    m = read_pointer(table_path)
    if m["version"] == 0:
        return None
    path, schema = os.path.join(table_path, f"v{m['version']}"), m.get("schema")
    if part is not None:
        path, schema = os.path.join(path, part), (schema or {}).get(part)
    return read_parquet(spark, path, None if schema is None else T.StructType.fromJson(schema))


def is_applied(m: dict, batch_id: int) -> bool:
    return batch_id <= m["applied_until"] or batch_id in m["applied_extra"]


def publish_version(table_path: str, m: dict, data: DataFrame | dict[str, DataFrame],
                    batch_id: int | None = None) -> None:
    """Write version m['version'] + 1 fully, then swing the pointer to it
    with an atomic rename, recording its schema and batch_id as applied
    (None, for a backfill, marks no batch), then retire_snapshot. `data`
    is one relation, or {part: relation} written in order under
    v{n}/part."""
    nxt = m["version"] + 1
    vdir = os.path.join(table_path, f"v{nxt}")
    if isinstance(data, DataFrame):
        data.write.mode("overwrite").parquet(vdir)
        schema = data.schema.jsonValue()
    else:
        for part, df in data.items():
            df.write.mode("overwrite").parquet(os.path.join(vdir, part))
        schema = {part: df.schema.jsonValue() for part, df in data.items()}
    applied = m["applied_extra"] if batch_id is None else [*m["applied_extra"], batch_id]
    nm = _compact_applied(
        {**m, "version": nxt, "schema": schema, "applied_extra": sorted(applied)})
    atomic_write(os.path.join(table_path, POINTER), json.dumps(nm))
    retire_snapshot(table_path, nxt)


def publish_epoch(table_path: str, m: dict, data: DataFrame, epoch: int) -> None:
    """publish_version for stores folded once per normalize epoch
    (mview.ViewTable, corpus.CorpusStateView). Epochs only move forward but
    need not start at 0 or be contiguous (process_batch callers number from
    1; a cadence of k folds every k-th id), so the applied set is recorded
    as one watermark and the pointer never grows."""
    until = max([m["applied_until"], epoch, *m["applied_extra"]])
    publish_version(table_path, {**m, "applied_until": until, "applied_extra": []}, data)


def retire_snapshot(table_path: str, published_version: int) -> None:
    """Grace-window snapshot retention: when v{n} is published, delete
    v{n-2} and keep v{n-1}. A reader that resolved `_CURRENT` → v{n-1}
    just before the pointer swung can still finish scanning its parquet
    files; a reader two folds stale has had a full fold's duration to
    complete (document: reads must not outlive TWO folds). Deleting the
    just-replaced version immediately — the old behavior — raced exactly
    that reader."""
    stale = published_version - 2
    if stale < 1:
        return
    old = os.path.join(table_path, f"v{stale}")
    if os.path.isdir(old):
        shutil.rmtree(old, ignore_errors=True)


class RollupTable:
    """Durable maintained rollup with EXACTLY-ONCE folding.

    State layout: versioned snapshot dirs (`v{n}/` parquet) plus a
    `_CURRENT` pointer file holding `{version, schema, applied_until,
    applied_extra}` — the schema is the one v{n} was written with, so reads
    infer nothing — and the applied-batch set compacted to a contiguous
    watermark (ids stay monotone under Structured Streaming, so the
    pointer is O(1) in steady state; legacy `applied`-list pointers are
    upgraded on read) — published with an atomic rename. A fold writes the next snapshot
    fully, THEN swings the pointer — a crash mid-fold leaves an orphan
    `v{n+1}` directory that the next fold overwrites, never a torn state.
    Re-folding an applied batch id is a no-op (the redelivery guard a
    foreachBatch caller needs: Spark replays micro-batches after restart
    with the same batch_id). SINGLE WRITER assumed — exactly the
    foreachBatch contract (micro-batches are serialized per query); two
    concurrent folders would race the pointer. Readers follow the
    atomically-published pointer and get a one-fold grace window: v{n-1}
    survives until v{n+1} publishes (retire_snapshot), so a read that
    resolved the pointer just before a fold finishes its scan; a read
    must not span TWO folds.

    Why full-snapshot writes are the right call HERE: rollup state is
    (windows × dims)-sized — compact by construction, orders of magnitude
    smaller than the event stream. O(new) applies to the EVENT-sized
    input (read once per fold); rewriting the aggregate is cheap and buys
    trivially correct crash semantics. If a deployment ever grows state
    past that, rollup_merge's cold/hot split plus day-partitioned
    overwrite is the upgrade path (the operators above already support
    it)."""

    def __init__(self, spark, path: str, dims: list[str],
                 every_seconds: int, time_col: str, value_col: str):
        self.spark = spark
        self.path = path
        self.dims = dims
        self.every_seconds = every_seconds
        self.time_col = time_col
        self.value_col = value_col
        os.makedirs(path, exist_ok=True)

    def read(self) -> DataFrame | None:
        return read_version(self.spark, self.path)

    def fold(self, batch: DataFrame, batch_id: int) -> bool:
        """Fold one batch; returns False when batch_id was already applied
        (redelivery no-op). Publish order: snapshot fully written, then
        pointer renamed — never a torn read."""
        m = read_pointer(self.path)
        if is_applied(m, batch_id):
            return False
        delta = rollup_delta(
            batch, self.time_col, self.every_seconds, self.dims, self.value_col
        )
        publish_version(self.path, m, rollup_merge(self.read(), delta, self.dims), batch_id)
        return True
