"""Structured Streaming CDC: continuous changelog ingestion → raw append →
normalize, with checkpointed offsets and effectively-once merges.

Reference semantics reproduced (studied, not copied):
- batch cut at max_batch_size / idle timeout (flow/connectors/postgres/
  cdc.go:554-558; defaults deep-dive-design-document.md:938-945) →
  `maxFilesPerTrigger` + processing-time trigger control admission.
- checkpoint-after-sink ordering (cdc.go:969-997 updateConsumedOffset) →
  Structured Streaming's checkpoint/WAL does exactly this: offsets commit
  after foreachBatch returns.
- at-least-once delivery + idempotent merge = effectively-once
  (docs/deep-dive-design-document.md:844): foreachBatch may replay a batch
  after a crash; the raw append is guarded by batch-id (skip if the raw
  partition already exists) and normalize is a deterministic merge, so
  replays converge.
- pause/resume/terminate (cdc_flow.go:489-973 signal handling) → the runner
  exposes stop()/await; restart resumes from the checkpoint.

Scale: the streaming plan is the same bucketed merge as batch CDC — state
lives in the destination tables, not in Spark streaming state, so there is
no state-store growth and the cluster can restart cold from checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark.cdc import CHANGELOG_SCHEMA, CdcPipeline, CdcTableConfig


class CdcStreamRunner:
    """Drives a CdcPipeline from a file-based changelog stream.

    The changelog directory is the transport (equivalent of the WAL/binlog
    feed); any producer appending parquet files in CHANGELOG_SCHEMA works.
    """

    def __init__(
        self,
        spark: SparkSession,
        changelog_dir: str,
        checkpoint_dir: str,
        tables: list[CdcTableConfig],
        raw_path: str,
        max_files_per_trigger: int | None = None,
        normalize_lag: int = 0,
        changelog_schema=None,
        retain_batches: int | None = None,
        catalog=None,
        mirror_name: str = "",
        normalize_every: int | str = 1,
    ):
        """normalize_every=k > 1 selects the pipeline's LAZY normalize
        cadence (CdcPipeline.process_batch): every trigger syncs, every
        k-th trigger merges the accumulated range, and reads between
        merges go through pipeline.read_table (fold-on-read). This is the
        uniform-key-fan-out answer the r9 cardinality probe measured (flat
        per-batch sync at any destination size); mutually exclusive with
        normalize_lag, which is the trail-by-N backpressure model (merge
        still runs once per batch, just behind).

        normalize_lag > 0 reproduces the reference's async-normalize
        backpressure model (flow/activities/flowable.go:398-418: normalize
        runs N batches behind sync, bounded) — sync stays fast while merges
        trail; call catch_up() to drain the tail when the stream idles.
        Either way the runner only hands the pipeline a merge horizon
        (trigger id − lag); CdcPipeline.maybe_normalize decides whether
        and what to merge.

        retain_batches keeps that many most-recent raw batches and drops the
        rest after each normalize (the reference's raw-table retention /
        ClickHouse TTL on _peerdb_batch_id): O(#dropped) directory removals.
        Must cover the replay window — the floor normalize_lag + 1 is
        enforced so a dropped batch can never be one the checkpoint might
        replay or a merge still needs."""
        if retain_batches is not None and retain_batches < normalize_lag + 1:
            raise ValueError("retain_batches must be >= normalize_lag + 1")
        lazy = normalize_every == "auto" or normalize_every > 1
        if lazy and normalize_lag:
            raise ValueError(
                "normalize_every and normalize_lag are distinct policies "
                "(cadence vs trail-by-N) — set at most one")
        if retain_batches is not None and normalize_every != "auto" \
                and retain_batches < normalize_every:
            raise ValueError("retain_batches must be >= normalize_every")
        self.retain_batches = retain_batches
        self.spark = spark
        self.changelog_dir = changelog_dir
        self.checkpoint_dir = checkpoint_dir
        self.pipeline = CdcPipeline(
            spark, raw_path, tables, catalog=catalog, mirror_name=mirror_name,
            normalize_every=normalize_every,
        )
        self.max_files_per_trigger = max_files_per_trigger
        self.normalize_lag = normalize_lag
        # alternate checkpoint types (string GTID / resume-token offsets)
        # come in via changelog_schema_with_checkpoint
        self.changelog_schema = changelog_schema or CHANGELOG_SCHEMA
        self._last_synced: int | None = None
        self.query = None

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # idempotency guard: a replayed batch id skips the raw append only if
        # the batch's completion marker exists — a bare partition directory can
        # be a partial left by a crash during job commit, and skipping on that
        # would permanently lose rows; sync_batch clears partials and rewrites
        if not self.pipeline.raw.is_batch_committed(batch_id):
            self.pipeline.sync_batch(batch_df, batch_id)
        self._last_synced = batch_id
        # the pipeline tracks its own merge watermark, so a replayed
        # trigger (already merged) submits nothing and a restart resumes
        merged = self.pipeline.maybe_normalize(batch_id - self.normalize_lag)
        if merged and self.retain_batches is not None:
            # only drop batches the merge has covered AND outside the
            # retention window (the watermark is set: a merge just ran)
            wm = self.pipeline._last_normalized
            self.pipeline.raw.drop_batches(
                min(batch_id - self.retain_batches + 1, wm + 1))

    def catch_up(self) -> None:
        """Normalize the trailing batches the lag/cadence left behind (the
        reference drains its normalize channel on flow pause/teardown)."""
        if self._last_synced is not None:
            self.pipeline.maybe_normalize(self._last_synced, force=True)

    def start(self, available_now: bool = False, processing_time: str = "10 seconds"):
        reader = (
            self.spark.readStream.schema(self.changelog_schema)
            .format("parquet")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.load(self.changelog_dir)
        writer = (
            stream.writeStream.foreachBatch(self._foreach_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        self.query = writer.start()
        return self.query

    def run_available(self) -> None:
        """Process everything currently in the changelog dir, then stop
        (Trigger.AvailableNow — the QRep 'wait for new rows' loop analogue)."""
        q = self.start(available_now=True)
        q.awaitTermination()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


def dedup_stream_within_watermark(
    stream: DataFrame,
    id_cols: list[str],
    ts_col: str = "_commit_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """At-least-once → effectively-once via the NATIVE Spark redelivery
    filter: `dropDuplicatesWithinWatermark` keeps one row per id within the
    watermark horizon, with bounded state (ids older than the watermark are
    evicted — redeliveries in CDC transports arrive within seconds, so a
    minutes-scale horizon covers them with tiny state).

    This is the declarative alternative to the custom keyed-state filter in
    streaming_stateful.py (applyInPandasWithState): same semantics for
    in-horizon duplicates, zero Python, state store managed by the engine.
    The reference gets the same guarantee structurally (idempotent sync +
    rank-dedup merge — docs/deep-dive-design-document.md:844); this operator
    gives it at the transport level for sinks with no merge step (queues,
    append-only objects). On a batch DataFrame it degrades to a plain
    dropDuplicates on the id columns.
    """
    from pyspark.sql import functions as F

    src = stream
    if dict(src.dtypes).get(ts_col) == "timestamp_ntz":
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if not src.isStreaming:
        return src.dropDuplicates(id_cols)
    return src.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def windowed_event_aggregation(
    stream: DataFrame,
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Event-time tumbling/hopping aggregation with late-data handling.

    The reference has no event-time windows (its 'watermark' is a replication
    cursor — SURVEY §2.8); this is the Spark-native analytics layer over the
    same event streams: watermark bounds state for late data, epoch-aligned
    buckets, count + sum aggregates. `slide` < `window` makes the windows
    overlap (hopping): each event lands in window/slide buckets, state scales
    with that factor. Works identically on batch DataFrames (no watermark
    applied) and streaming ones.
    """
    from pyspark.sql import functions as F

    gcols = group_cols or ["event_type"]
    src = stream
    # Structured Streaming watermarks require TIMESTAMP; parquet written with
    # naive timestamps loads as TIMESTAMP_NTZ — normalize the event-time col
    if dict(src.dtypes).get(ts_col) == "timestamp_ntz":
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if stream.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window, slide or window).alias("w"), *gcols)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), *gcols, "n_events", "sum_value")
    )


def session_event_aggregation(
    stream: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time session windows: per-key sessions split at > `gap` of
    inactivity, via the native `session_window` operator.

    Streaming: session state is bounded by the watermark (a session closes
    once the watermark passes its end+gap), so state size is O(open sessions)
    — the merging-session state store handles out-of-order arrivals without
    a custom stateful operator. Batch: the same expression compiles to a
    window-function plan; results match the batch sessionize query
    (queries/events.py:q_events_sessionize) for the same gap.
    """
    keys = key_cols or ["user_id"]
    src = stream
    if dict(src.dtypes).get(ts_col) == "timestamp_ntz":
        src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if stream.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_attribution_join(
    points: DataFrame,
    intervals_end: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    window: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """STREAM-STREAM attribution join: every `intervals_end` event (e.g. a
    purchase) matches the `points` events (e.g. clicks) by the same key in
    the `window` before it — the streaming twin of operators.interval_join.

    Uses Spark's native stream-stream inner join with a time-range
    condition: both sides carry watermarks, so the join state evicts rows
    older than window+watermark — bounded state, no custom operator. The
    range condition is what lets the engine bound state; an unconstrained
    stream-stream join would buffer forever. In batch mode the same plan
    degrades gracefully to a range join (use operators.interval_join there —
    the bucketed equi-join — when the inputs are large).

    Both inputs must share the key columns; output carries the point ts,
    the interval-end ts, and both payloads.
    """
    keys = key_cols or ["user_id"]

    def prep(df: DataFrame, alias: str) -> DataFrame:
        src = df
        if dict(src.dtypes).get(ts_col) == "timestamp_ntz":
            src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        if src.isStreaming:
            src = src.withWatermark(ts_col, watermark)
        renames = {c: f"{alias}_{c}" for c in src.columns if c not in keys}
        for old, new in renames.items():
            src = src.withColumnRenamed(old, new)
        return src

    p = prep(points, "p")
    e = prep(intervals_end, "e")
    cond = F.expr(
        " AND ".join(
            [
                *[f"p.{k} = e.{k}" for k in keys],
                f"p.p_{ts_col} >= e.e_{ts_col} - INTERVAL {window}",
                f"p.p_{ts_col} <= e.e_{ts_col}",
            ]
        )
    )
    return p.alias("p").join(e.alias("e"), cond, "inner").select(
        *[F.col(f"p.{k}").alias(k) for k in keys],
        *[c for c in p.columns if c not in keys],
        *[c for c in e.columns if c not in keys],
    )


class WalStreamRunner(CdcStreamRunner):
    """Drives a CdcPipeline from RAW pgoutput WAL message files.

    The transport is (slot, lsn, payload binary) parquet files — the wire
    bytes themselves, not pre-decoded changelog rows; each micro-batch is
    decoded with decode_pgoutput (per-slot sequential, Arrow-batched) and
    then flows through the same sync/normalize path as CdcStreamRunner.

    DECODER state must survive micro-batch boundaries — two kinds:

    - Relation ('R') messages: a fresh executor-side decoder per batch
      would not know tables whose Relation message arrived in an earlier
      batch. Postgres re-sends Relation messages per replication session
      (the reference's pglogrepl session cache,
      flow/connectors/postgres/cdc.go); here the driver harvests each
      batch's 'R' payloads (schema messages are rare — a bounded collect)
      and replays them as a preamble into the next batch's decoders.
    - Protocol-v2 streamed in-progress transactions: a streamed
      transaction can span micro-batches (StreamStart in one, StreamCommit
      in a later one). Each batch decodes with on_incomplete='carry': a
      slot that ends mid-stream emits one synthetic `stream_state` row
      (its buffered uncommitted rows + open-segment xid) which the driver
      filters OUT of the changelog, collects (≤1 row per slot) and feeds
      into the next batch's decoders — so the transaction's rows reach
      the raw table exactly once, at their commit, in commit order.

    Both are persisted per batch id under the raw directory
    (`_PG_DECODER_STATE/state_<batch_id>.json`, written atomically before
    the sync): after a crash, Structured Streaming replays the last
    uncommitted batch N, and the runner restores the decoder state that
    batch originally saw from state_{N-1} — replay produces the identical
    changelog, keeping the effectively-once guarantee.

    SHARED-FILESYSTEM REQUIREMENT: decoder-state records (driver) and
    stream-state bodies (executor-written, state_dir mode) use plain
    POSIX file I/O under the raw path — the raw directory must be a
    filesystem BOTH driver and executors can read and write (local fs in
    local mode, NFS/lustre-style shared mounts on a cluster). An
    object-store raw path (s3://, gs://, ...) is rejected at
    construction, and a probe-write verifies driver-side writability up
    front instead of failing mid-stream."""

    WAL_SCHEMA = T.StructType(
        [
            T.StructField("slot", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def __init__(self, *args, **kwargs):
        kwargs["changelog_schema"] = self.WAL_SCHEMA
        super().__init__(*args, **kwargs)
        from peerdb_spark.sources.pgoutput import PgOutputDecoder

        self._relation_cache = PgOutputDecoder()
        # slot -> PgOutputDecoder.stream_state() dict from the last batch
        self._stream_states: dict[str, dict] = {}
        self._assert_state_dir_posix()

    def _assert_state_dir_posix(self) -> None:
        """Fail FAST when the raw path cannot hold decoder state via plain
        POSIX I/O (class docstring, SHARED-FILESYSTEM REQUIREMENT): a
        URI-schemed raw path (s3a://, gs://, hdfs://, ...) would break
        carry/crash-replay silently mid-stream; a probe-write catches
        unwritable local paths at construction instead."""
        import os
        import re

        path = self.pipeline.raw.path
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", path)
        if m:
            raise ValueError(
                f"WalStreamRunner requires a plain POSIX raw path shared "
                f"by driver and executors for decoder-state persistence; "
                f"got '{m.group(1)}://...' (for file:// pass the bare "
                f"path). Stage WAL files on a shared filesystem mount, or "
                f"use CdcStreamRunner with pre-decoded changelog input "
                f"for object-store staging."
            )
        sdir = self._state_dir()
        os.makedirs(sdir, exist_ok=True)
        probe = os.path.join(sdir, ".probe")
        with open(probe, "w") as fh:
            fh.write("ok")
        os.remove(probe)

    def _state_dir(self) -> str:
        import os

        return os.path.join(self.pipeline.raw.path, "_PG_DECODER_STATE")

    def _state_path(self, batch_id: int) -> str:
        import os

        return os.path.join(self._state_dir(), f"state_{batch_id}.json")

    def _save_decoder_state(self, batch_id: int) -> None:
        """Persist the decoder state AS OF THE END of `batch_id` (atomic
        rename; input state for batch_id + 1). Only the latest two files
        are kept — a restart replays at most the last uncommitted batch."""
        import json
        import os

        os.makedirs(self._state_dir(), exist_ok=True)
        blob = {
            "relations": {
                str(oid): payload.hex()
                for oid, payload in self._relation_cache.relation_messages.items()
            },
            "streams": self._stream_states,
        }
        path = self._state_path(batch_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(blob, fh)
        os.replace(tmp, path)
        # prune the superseded record AND any executor-written stream-state
        # files only IT references (a replay can only target the last
        # uncommitted batch, which reads state_{batch_id - 1})
        stale = self._state_path(batch_id - 2)
        if os.path.exists(stale):
            os.remove(stale)
        # sweep stream-state bodies not referenced by any surviving record
        # (covers both superseded carries and orphans from a crash between
        # the executor write and this record write)
        referenced = set()
        for keep_id in (batch_id, batch_id - 1):
            kp = self._state_path(keep_id)
            if os.path.exists(kp):
                with open(kp) as fh:
                    for st in json.load(fh).get("streams", {}).values():
                        if isinstance(st, dict) and "state_file" in st:
                            referenced.add(os.path.basename(st["state_file"]))
        for fn in os.listdir(self._state_dir()):
            if fn.startswith("stream_") and fn.endswith(".json") \
                    and fn not in referenced:
                try:
                    os.remove(os.path.join(self._state_dir(), fn))
                except OSError:
                    pass

    def _restore_decoder_state(self, batch_id: int) -> None:
        """Reset driver-side decoder state to what batch `batch_id`
        originally decoded with (= state saved at the END of batch_id - 1).
        No file (first batch, or a fresh directory) keeps the in-memory
        state — identical on the sequential path, empty on a cold start."""
        import json
        import os

        from peerdb_spark.sources.pgoutput import PgOutputDecoder

        path = self._state_path(batch_id - 1)
        if not os.path.exists(path):
            return
        with open(path) as fh:
            blob = json.load(fh)
        cache = PgOutputDecoder()
        for payload_hex in blob.get("relations", {}).values():
            cache.replay(bytes.fromhex(payload_hex))
        self._relation_cache = cache
        self._stream_states = blob.get("streams", {})

    def _foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from peerdb_spark.sources.pgoutput import (
            STREAM_STATE_KIND,
            decode_pgoutput,
        )

        self._restore_decoder_state(batch_id)
        preamble = list(self._relation_cache.relation_messages.values())
        changelog = decode_pgoutput(
            batch_df, relation_preamble=preamble,
            stream_state=self._stream_states, on_incomplete="carry",
            # executors write state BODIES to shared storage; only
            # {"state_file": ...} pointers flow through the driver, so a
            # giant open transaction never rides a collect
            state_dir=self._state_dir(),
        ).localCheckpoint()  # decode once: state harvest + sync share it
        # harvest carried streamed-transaction state (bounded: ≤1 row/slot).
        # A slot ABSENT from this batch keeps its previous carry — its open
        # transaction is still pending even though no decoder ran for it;
        # a slot present in the batch either re-emits its state or consumed
        # it (commit/abort), so the harvested rows are authoritative for
        # exactly the slots that appeared.
        import json as _json

        carried = changelog.where(F.col("_kind") == STREAM_STATE_KIND).collect()
        # ONE scan for both driver harvests (r12 — they were two separate
        # full jobs costing ~1.3 s each per batch on a 200k-message batch):
        # the slots present in this batch (authoritative-carry bookkeeping)
        # and each slot's Relation ('R') messages for FUTURE batches (this
        # batch's executors see them in-stream, in WAL order; collect_list
        # drops the non-'R' nulls, so only the rare schema messages ride
        # the collect)
        slot_rels = batch_df.groupBy("slot").agg(
            F.collect_list(
                F.when(F.expr("substring(payload, 1, 1) == X'52'"),
                       F.struct("lsn", "payload"))
            ).alias("rels")
        ).collect()
        slots_in_batch = {r["slot"] for r in slot_rels}
        states = {s: st for s, st in self._stream_states.items()
                  if s not in slots_in_batch}
        states.update(
            {r["_src_table"]: _json.loads(r["_data"]) for r in carried})
        self._stream_states = states
        rels = sorted((rr for r in slot_rels for rr in r["rels"]),
                      key=lambda rr: rr["lsn"])
        for r in rels:
            self._relation_cache.replay(bytes(r["payload"]))
        # persist BEFORE the sink write: a crash inside sync replays this
        # batch against state_{batch_id - 1}, which this write never touches
        self._save_decoder_state(batch_id)
        super()._foreach_batch(
            changelog.where(F.col("_kind") != STREAM_STATE_KIND), batch_id
        )
