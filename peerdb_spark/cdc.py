"""CDC core: change-event model → raw staging table → normalize.

Reference model (studied, not copied):
- record kinds Insert/Update/Delete/Relation/Message: flow/model/record.go:9-179
- raw staging schema: flow/connectors/postgres/client.go:32-35 —
  `_peerdb_uid, _peerdb_timestamp, _peerdb_destination_table_name, _peerdb_data,
  _peerdb_record_type (0=insert,1=update,2=delete), _peerdb_match_data,
  _peerdb_batch_id, _peerdb_unchanged_toast_columns`
- sync = append changelog batch to raw with a batch id; normalize = merge a
  raw batch-id range into destination tables
  (flow/activities/flowable_core.go:693-770).

The raw table is parquet partitioned by `_peerdb_batch_id`: normalize's
batch-range read prunes to exactly the new partitions, and retention/cleanup
is a partition drop — both O(batch), independent of table history size.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark import normalize as N
from peerdb_spark.registry import atomic_write
from peerdb_spark.schema_evolution import _parse_ddl
from peerdb_spark.storage import SCHEMA_FILE, ParquetTable, load_schema, save_schema

# Input changelog schema (FIXTURES.md F3)
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("_kind", T.StringType()),
        T.StructField("_checkpoint_id", T.LongType()),
        T.StructField("_commit_ts", T.TimestampType()),
        T.StructField("_txid", T.LongType()),
        T.StructField("_src_table", T.StringType()),
        T.StructField("_dst_table", T.StringType()),
        T.StructField("_data", T.StringType()),
        T.StructField("_old_data", T.StringType()),
        T.StructField("_unchanged_cols", T.ArrayType(T.StringType())),
    ]
)

def changelog_schema_with_checkpoint(ck_type: T.DataType) -> T.StructType:
    """CHANGELOG_SCHEMA with an alternate checkpoint type.

    Offsets are not always integers: MySQL GTID sets and MongoDB resume
    tokens are opaque strings ordered lexicographically
    (ref: flow/model/cdc_stream.go:56-58). The whole pipeline — sync, raw
    staging, LWW tiebreak, replay guard — treats the checkpoint as an opaque
    orderable value, so swapping the type is schema-only."""
    return T.StructType(
        [
            T.StructField(f.name, ck_type if f.name == "_checkpoint_id" else f.dataType)
            for f in CHANGELOG_SCHEMA.fields
        ]
    )


RAW_UID = "_peerdb_uid"
RAW_TS = "_peerdb_timestamp"
RAW_DST = "_peerdb_destination_table_name"
RAW_DATA = "_peerdb_data"
RAW_TYPE = "_peerdb_record_type"
RAW_MATCH = "_peerdb_match_data"
RAW_BATCH = "_peerdb_batch_id"
RAW_UNCHANGED = "_peerdb_unchanged_toast_columns"


def changelog_to_raw(changelog: DataFrame, batch_id: int) -> DataFrame:
    """Map a changelog batch to raw-staging rows (ref: client.go:32-35).

    All expressions are JVM built-ins (uuid, to_json-free since _data is
    already a JSON string) — whole-stage-codegen friendly, no Python.
    """
    return changelog.select(
        F.expr("uuid()").alias(RAW_UID),
        # cast first: a changelog read from naive-timestamp parquet arrives as
        # TIMESTAMP_NTZ, which unix_micros rejects (no-op for TIMESTAMP)
        F.unix_micros(F.col("_commit_ts").cast("timestamp")).alias(RAW_TS),
        F.col("_dst_table").alias(RAW_DST),
        F.col("_data").alias(RAW_DATA),
        N.kind_code("_kind").alias(RAW_TYPE),
        F.col("_old_data").alias(RAW_MATCH),
        F.lit(batch_id).alias(RAW_BATCH),
        F.concat_ws(",", F.col("_unchanged_cols")).alias(RAW_UNCHANGED),
        F.col("_checkpoint_id").alias("_peerdb_checkpoint_id"),
    )


# schema of an empty raw read (all-heartbeat raw table): matches
# changelog_to_raw's output with the default integer checkpoint — the type
# only matters for 0 rows, where every downstream transform is a no-op
_RAW_EMPTY_SCHEMA = T.StructType(
    [
        T.StructField(RAW_UID, T.StringType()),
        T.StructField(RAW_TS, T.LongType()),
        T.StructField(RAW_DST, T.StringType()),
        T.StructField(RAW_DATA, T.StringType()),
        T.StructField(RAW_TYPE, T.IntegerType()),
        T.StructField(RAW_MATCH, T.StringType()),
        T.StructField(RAW_BATCH, T.IntegerType()),
        T.StructField(RAW_UNCHANGED, T.StringType()),
        T.StructField("_peerdb_checkpoint_id", T.LongType()),
    ]
)


@dataclass(frozen=True)
class RangeMeta:
    """What the parquet footers of a raw batch range prove, read on the
    driver without a Spark job (RawTable.range_meta)."""

    rows: int
    # the exact destination set, or None when the statistics cannot prove it
    dsts: list[str] | None
    # False only when every row group's record-type max is below KIND_RELATION
    may_have_relations: bool


class RawTable:
    """Append-only raw staging table, parquet partitioned by batch id.

    Each batch partition gets a completion marker file (`_PEERDB_COMMITTED`,
    underscore-prefixed so parquet readers ignore it) written only after the
    append job commits — bare directory existence is NOT proof of a complete
    append, since a crash during job commit can leave a partially-populated
    directory. Replay guards must use is_batch_committed(); append() itself
    clears a partial (marker-less) directory before re-writing so a replayed
    batch never double-appends partial rows.

    The first append also stores the data-file schema at the root
    (storage.SCHEMA_FILE); reads request it, so they launch no
    schema-inference job (a directory written by an older version has
    none and is inferred). The batch id stays a discovered partition
    column.
    """

    MARKER = "_PEERDB_COMMITTED"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, f"{RAW_BATCH}={batch_id}")

    def is_batch_committed(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self.batch_dir(batch_id), self.MARKER))

    def append(self, changelog: DataFrame, batch_id: int) -> None:
        from peerdb_spark.functions import ensure_parallelism

        part = self.batch_dir(batch_id)
        if os.path.isdir(part) and not self.is_batch_committed(batch_id):
            # partial directory from a crashed job commit — redo cleanly
            shutil.rmtree(part)
        # an under-split changelog batch (one WAL file, one parquet split)
        # would serialize the JSON/uuid projection and the parquet encode on
        # a few tasks — fan out first; no-op for well-split feeds, and the
        # parallel write also gives normalize a well-split read
        raw = changelog_to_raw(ensure_parallelism(changelog), batch_id)
        raw.write.mode("append").partitionBy(RAW_BATCH).parquet(self.path)
        if not os.path.exists(os.path.join(self.path, SCHEMA_FILE)):
            save_schema(self.path, raw.drop(RAW_BATCH).schema)
        # an EMPTY batch (heartbeat / idle micro-batch) writes no partition
        # dir at all — create it so the commit marker still lands and the
        # batch id is durably recorded as synced (the reference records
        # empty sync batches the same way; normalize over the range is a
        # no-op)
        os.makedirs(part, exist_ok=True)
        with open(os.path.join(part, self.MARKER), "w") as fh:
            fh.write("")

    def range_meta(self, start_batch: int, end_batch: int) -> RangeMeta:
        """Row count, destination set and relation-record presence of a
        batch range, from parquet FOOTERS only (no data read, no Spark job).

        The destination set is exact when every non-empty row group's
        destination column has min == max and no nulls (always so for a
        single-destination mirror); a range whose files mix destinations
        gets None and the caller scans. Relation records are
        ruled out when every row group's record-type max is below
        KIND_RELATION. A missing or partial statistic only ever sends the
        caller to its scan, never to a wrong answer."""
        import pyarrow.parquet as pq

        rows, dsts, exact, may_rel = 0, set(), True, False
        for b in range(start_batch, end_batch + 1):
            d = self.batch_dir(b)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                if not name.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(d, name))
                rows += md.num_rows
                names = md.schema.names
                i_dst, i_type = names.index(RAW_DST), names.index(RAW_TYPE)
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    if rg.num_rows == 0:
                        continue
                    st = rg.column(i_dst).statistics
                    if (st is not None and st.has_min_max and st.has_null_count
                            and st.null_count == 0 and st.min == st.max):
                        dsts.add(st.min)
                    else:
                        exact = False
                    st = rg.column(i_type).statistics
                    if st is None or not st.has_min_max or st.max >= N.KIND_RELATION:
                        may_rel = True
        return RangeMeta(rows, sorted(dsts) if exact else None, may_rel)

    def committed_batches(self) -> list[int]:
        """Sorted batch ids whose completion marker exists — O(#retained
        batches) directory listing (bounded by retention, no file walk)."""
        if not os.path.isdir(self.path):
            return []
        out = []
        prefix = f"{RAW_BATCH}="
        for name in os.listdir(self.path):
            if name.startswith(prefix):
                try:
                    bid = int(name[len(prefix):])
                except ValueError:
                    continue
                if self.is_batch_committed(bid):
                    out.append(bid)
        return sorted(out)

    def drop_batches(self, before_batch: int) -> int:
        """Retention cleanup: drop raw partitions with batch id < before_batch
        — O(#dropped batches) directory removals, independent of table size
        (the reference's raw-table retention deletes by batch id the same
        way). Returns the number of partitions dropped."""
        if not os.path.isdir(self.path):
            return 0
        dropped = 0
        prefix = f"{RAW_BATCH}="
        for name in os.listdir(self.path):
            if not name.startswith(prefix):
                continue
            try:
                bid = int(name[len(prefix):])
            except ValueError:
                continue
            if bid < before_batch:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                dropped += 1
        return dropped

    def read_batches(self, start_batch: int, end_batch: int) -> DataFrame:
        """The raw rows of a batch range. Only the range's partition dirs
        that hold parquet files are read, with `basePath` at the root so
        the batch id stays a discovered partition column: the listing is
        O(range), never O(retained batches) — a root read past Spark's
        parallel-discovery threshold (32 dirs) launches a listing job.
        A range with no files (empty heartbeat batches, or batches never
        synced) is an empty typed frame; inference would fail on it."""
        dirs = [
            d for d in map(self.batch_dir, range(start_batch, end_batch + 1))
            if any(f.endswith(".parquet") for _r, _d, fs in os.walk(d) for f in fs)
        ]
        if not dirs:
            return self.spark.createDataFrame([], _RAW_EMPTY_SCHEMA)
        schema = load_schema(self.path)
        reader = self.spark.read.option("basePath", self.path)
        return (reader if schema is None else reader.schema(schema)).parquet(*dirs)

    def _payload(self) -> "F.Column":
        # deletes carry the row image in match_data
        return F.when(F.col(RAW_TYPE) == N.KIND_DELETE, F.col(RAW_MATCH)).otherwise(
            F.col(RAW_DATA)
        )

    @staticmethod
    def _payload_bad(pay: "F.Column", value_schema: T.StructType) -> "F.Column":
        """Poison-pill predicate for a JSON payload column: truncated/invalid
        JSON, valid-JSON-but-not-an-object ('5', '[1,2]', 'null' — from_json
        would still yield an all-NULL struct and upsert a NULL-pk row), or an
        object whose fields fail to convert to value_schema's types. One
        JVM-side from_json pass with PERMISSIVE mode + a corrupt-record
        column covers the malformed classes; empty/whitespace-only payloads
        (from_json leaves the corrupt column NULL for those) are tested
        explicitly."""
        probe = T.StructType(
            [*value_schema.fields, T.StructField("_peerdb_corrupt", T.StringType())]
        )
        corrupt = F.from_json(
            pay, probe, {"columnNameOfCorruptRecord": "_peerdb_corrupt"}
        )["_peerdb_corrupt"]
        return pay.isNotNull() & (
            (F.length(F.trim(pay)) == 0) | corrupt.isNotNull()
        )

    def dead_letters(self, start_batch: int, end_batch: int, value_schema: T.StructType) -> DataFrame:
        """Raw DATA rows whose payload exists but does not parse AS AN OBJECT
        of the table's value schema (poison pills: truncated JSON, wrong
        encoding, non-object JSON scalars/arrays, type-mismatched fields).
        raw_to_changelog silently DROPS these from the merge — a malformed
        insert would otherwise upsert a NULL-pk row — so an ops loop should
        monitor this relation (alerting threshold on its count) and
        re-ingest after repair. Batch-pruned scan, same as normalize."""
        raw = self.read_batches(start_batch, end_batch).where(
            F.col(RAW_TYPE) <= N.KIND_DELETE
        )
        return raw.where(self._payload_bad(self._payload(), value_schema))

    def raw_to_changelog(self, raw: DataFrame, value_schema: T.StructType) -> DataFrame:
        """Typed change rows from raw JSON payloads (from_json, JVM-side).

        Rows whose payload is PRESENT but unparseable as a schema-shaped
        object are dropped here (see dead_letters for the quarantine view —
        same predicate): merging them would upsert a NULL-pk row, silently
        corrupting the destination. The quarantine test and the value parse
        are ONE from_json pass — the payload parses into the probe schema
        (value fields + corrupt-record column) and rows keep only when the
        corrupt slot is NULL, so the hot path pays a single JSON parse per
        row plus the conditional old-image parse for updates."""
        pay = self._payload()
        probe = T.StructType(
            [*value_schema.fields, T.StructField("_peerdb_corrupt", T.StringType())]
        )
        parsed0 = raw.withColumn(
            "_vp",
            F.from_json(pay, probe, {"columnNameOfCorruptRecord": "_peerdb_corrupt"}),
        ).withColumn("_pay_str", pay)
        ok = F.col("_pay_str").isNull() | (
            (F.length(F.trim(F.col("_pay_str"))) > 0)
            & F.col("_vp._peerdb_corrupt").isNull()
        )
        kept = parsed0.where(ok)
        parsed = kept.select(
            F.when(F.col(RAW_TYPE) == N.KIND_INSERT, F.lit("insert"))
            .when(F.col(RAW_TYPE) == N.KIND_UPDATE, F.lit("update"))
            .otherwise(F.lit("delete"))
            .alias(N.COL_KIND),
            F.col("_peerdb_checkpoint_id").alias(N.COL_CHECKPOINT),
            F.timestamp_micros(F.col(RAW_TS)).alias(N.COL_COMMIT_TS),
            F.col(RAW_DST).alias(N.COL_DST),
            F.struct(
                *[F.col(f"_vp.{f.name}") for f in value_schema.fields]
            ).alias("_v"),
            # updates keep their OLD row image too (when the source emitted
            # one — REPLICA IDENTITY FULL / binlog before-image): it powers
            # PK-changing-update splitting in normalize.split_pk_updates
            F.from_json(
                F.when(F.col(RAW_TYPE) == N.KIND_UPDATE, F.col(RAW_MATCH)),
                value_schema,
            ).alias(N.COL_OLD),
            F.when(F.col(RAW_UNCHANGED) == "", F.array().cast("array<string>"))
            .otherwise(F.split(F.col(RAW_UNCHANGED), ","))
            .alias(N.COL_UNCHANGED),
        )
        return parsed.select(
            N.COL_KIND, N.COL_CHECKPOINT, N.COL_COMMIT_TS, N.COL_DST, N.COL_UNCHANGED,
            N.COL_OLD, "_v.*",
        )


def cut_batches(changelog: DataFrame, max_batch_size: int) -> DataFrame:
    """Assign batch numbers without ever splitting a transaction.

    The reference cuts a CDC batch at max_batch_size records but holds the cut
    until the open transaction commits (`commitLock`,
    flow/connectors/postgres/cdc.go:554-558,701-703). Equivalent here:
    transactions (by `_txid`) are ordered by their first checkpoint id and
    packed cumulatively; a batch may exceed max_batch_size to keep its last
    transaction whole — exactly the reference's observable behavior.

    Adds `_batch_no` (0-based). The packing runs over the per-txid aggregate
    (#txids rows, not #records) as a DISTRIBUTED prefix sum: a global
    un-partitioned window would funnel every transaction through one task if
    a changelog ever carried tens of millions of transactions. Instead the
    txids are range-partitioned by (start, txid), each partition computes a
    local running sum, and the per-partition totals (≤ shuffle-partitions
    rows — the only single-task window) turn into additive offsets. Identical
    subtrees share shuffle stages via Spark's exchange reuse.
    """
    try:
        n_part = int(changelog.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = 32
    txn = changelog.groupBy("_txid").agg(
        F.count(F.lit(1)).alias("_txn_rows"),
        F.min("_checkpoint_id").alias("_txn_start"),
    )
    ranged = txn.repartitionByRange(n_part, "_txn_start", "_txid").withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy("_txn_start", "_txid")
    loc = ranged.withColumn("_lcum", F.sum("_txn_rows").over(w_local))
    # per-partition totals: tiny relation, safe single-task window
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        loc.groupBy("_pid")
        .agg(F.sum("_txn_rows").alias("_ptot"))
        .withColumn("_off", F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)))
        .select("_pid", "_off")
    )
    packed = (
        loc.join(F.broadcast(offsets), "_pid")
        .withColumn("_cum", F.col("_lcum") + F.col("_off"))
        .withColumn(
            "_batch_no",
            F.floor((F.col("_cum") - F.col("_txn_rows")) / F.lit(max_batch_size)).cast("int"),
        )
        .select("_txid", "_batch_no")
    )
    # no broadcast hint: packed is O(#txids) — AQE broadcasts when small
    return changelog.join(packed, "_txid")


# the 'auto' cadence merges once the pending raw tail holds at least this
# share of the destination's rows (CdcPipeline._cadence_due)
AUTO_RATIO = 0.10


@dataclass
class CdcTableConfig:
    dst_table: str
    pk_cols: list[str]
    value_schema: T.StructType
    path: str
    n_buckets: int = 16
    soft_delete_col: str | None = None
    synced_at_col: str | None = None
    exclude: list[str] = field(default_factory=list)
    # per-column settings (ref: protos/flow.proto ColumnSetting —
    # SourceName/DestinationName/DestinationType)
    renames: dict[str, str] = field(default_factory=dict)  # src name -> dst name
    type_overrides: dict[str, str] = field(default_factory=dict)  # dst name -> spark ddl type
    # a destination bucket whose row count crosses this splits in two after
    # the batch that grew it (storage.split_bucket — extendible hashing, only
    # the split bucket rewrites). Bounds per-batch merge reread as key
    # cardinality grows (the r8 probe's named caveat): bucket size stays
    # ≤ threshold rows ≈ a few hundred MB, the task-sized unit the 100 TB
    # design wants. 0 disables.
    split_threshold_rows: int = 4_000_000

    def __post_init__(self):
        # destinations are merged bucket by bucket (normalize.merge_into_table)
        if self.n_buckets < 1:
            raise ValueError(f"{self.dst_table}: n_buckets must be >= 1, got {self.n_buckets}")


class CdcPipeline:
    """Batch-mode CDC: sync (changelog→raw) then normalize (raw→destinations).

    Multiplexes one raw stream to many destination tables via
    `_peerdb_destination_table_name` (ref: SURVEY §1.1-5). The streaming
    wrapper (streaming.py) drives this from foreachBatch.
    """

    def __init__(
        self,
        spark: SparkSession,
        raw_path: str,
        tables: list[CdcTableConfig],
        catalog=None,
        mirror_name: str = "",
        auto_evolve: bool = False,
        normalize_every: int | str = 1,
        auto_min_rows: int = 100_000,
    ):
        """normalize_every=k > 1 selects the LAZY normalize cadence (the
        ClickHouse-RMT shape the reference delegates to its destination's
        background merges — flow/connectors/clickhouse/normalize.go:119-126):
        process_batch syncs every batch (O(batch), flat at any destination
        size) but merges only every k-th, amortizing the touched-bucket
        reread over k batches of deltas. Between merges read_table() serves
        the exact would-be-normalized state by folding the raw tail over
        the destination (rmt_latest_view semantics). The r9 cardinality
        probe measured this as THE uniform-fan-out answer: 250k vs 132k
        ev/s over 39M events with flat per-batch sync.

        normalize_every="auto" selects the SELF-TUNING cadence (the LSM
        compaction-trigger shape): normalize when the pending raw tail
        holds >= max(auto_min_rows, AUTO_RATIO x destination rows) —
        both sides from parquet FOOTER counts, no data read.
        auto_min_rows is a FLOOR: below it no merge runs regardless of
        destination size (a merge smaller than the floor cannot amortize
        its bucket reread; reads stay exact through read_table's fold
        until the floor is reached). Above the floor, a young mirror
        merges immediately (ratio x small destination < floor); as the
        destination grows the ratio term takes over and merges stretch
        proportionally, so the touched-bucket reread amortizes over
        proportionally more pending work — the measured uniform-fan-out
        mitigation without the operator hand-picking k. Reads between
        merges go through read_table either way. Destination row counts
        change only at merges, so they are cached on the pipeline and
        re-swept (one footer pass) only after a normalize."""
        if normalize_every != "auto" and (
                not isinstance(normalize_every, int) or normalize_every < 1):
            raise ValueError("normalize_every must be >= 1 or 'auto'")
        self.auto_min_rows = auto_min_rows
        # cached destination footprint for the 'auto' trigger; None =
        # recompute on next _cadence_due (invalidated whenever the
        # destination set or contents change: normalize, add/remove table)
        self._dest_rows: int | None = None
        self.spark = spark
        self.raw = RawTable(spark, raw_path)
        self.tables = {t.dst_table: t for t in tables}
        self.catalog = catalog
        self.mirror_name = mirror_name
        self.normalize_every = normalize_every
        # cadence state: the last batch id a normalize has covered,
        # persisted in the raw directory so a restarted pipeline resumes
        # the cadence; written AFTER each normalize completes — a crash in
        # between replays an idempotent merge range on the next trigger.
        self._last_normalized: int | None = self._load_norm_wm()
        # auto_evolve: detect schema DRIFT in payloads from sources that
        # declare no relation records (Mongo/queues) and evolve like an
        # explicit delta — see schema_evolution.detect_payload_drift
        self.auto_evolve = auto_evolve
        # dst_table -> list of attached incremental views (attach_view)
        self._views: dict[str, list] = {}
        if catalog is not None and mirror_name:
            self._rehydrate_schema_deltas()

    def attach_view(self, dst_table: str, view, backfill: bool = False) -> None:
        """Attach a maintained aggregate view (mview.ViewTable) to a
        destination: every normalize of that table also folds the merge's
        touched-pk pre/post images into the view — the warehouse-side
        "continuous aggregate over the mirror" kept O(touched) per batch
        instead of recomputed per query. Soft-deleted rows (when the table
        is configured with soft_delete_col) are excluded from the view's
        live set; redelivered batch ranges are no-ops via the view's own
        applied-batch watermark.

        Attaching to a table that ALREADY has rows requires
        `backfill=True` (or a prior view.backfill call): the view seeds
        from the one-shot aggregate over current live state, then folds
        incrementally — without it, pre-existing rows never enter the
        view. Overlapping/replayed normalize ranges are safe either way:
        images are STATE-based, so re-merged batches produce pre==post
        and net to zero."""
        if backfill:
            cfg = self.tables.get(dst_table)
            table = self._table(cfg)
            if table.exists and view.read() is None:
                live = table.read()
                if cfg.soft_delete_col:
                    live = live.where(
                        ~F.coalesce(F.col(cfg.soft_delete_col), F.lit(False))
                    )
                view.backfill(live)
        self._views.setdefault(dst_table, []).append(view)

    def _rehydrate_schema_deltas(self) -> None:
        """On (re)start, re-apply catalog-recorded schema deltas to the static
        value schemas — a restarted pipeline must keep parsing columns added
        mid-flow in earlier runs (the reference replays TableSchemaDeltas from
        its catalog the same way)."""
        for entry in self.catalog.schema_delta_audit(self.mirror_name):
            cfg = self.tables.get(entry["dst_table"])
            if cfg is None:
                continue
            have = {f.name for f in cfg.value_schema.fields}
            for name, ddl in entry["added"]:
                if name not in have:
                    cfg.value_schema = T.StructType(
                        [*cfg.value_schema.fields, T.StructField(name, _parse_ddl(ddl), True)]
                    )
                    have.add(name)

    # -- normalize-cadence policy (lazy normalize as configuration) --------

    _NORM_WM = "_PEERDB_NORMALIZED_UPTO"

    def _load_norm_wm(self) -> int | None:
        p = os.path.join(self.raw.path, self._NORM_WM)
        if os.path.exists(p):
            with open(p) as fh:
                txt = fh.read().strip()
            if txt:
                return int(txt)
        return None

    def _set_norm_wm(self, batch_id: int) -> None:
        if self._last_normalized is not None and batch_id <= self._last_normalized:
            return
        self._last_normalized = batch_id
        os.makedirs(self.raw.path, exist_ok=True)
        atomic_write(os.path.join(self.raw.path, self._NORM_WM), str(batch_id))

    def sync_batch(self, changelog: DataFrame, batch_id: int) -> None:
        self.raw.append(changelog, batch_id)

    def process_batch(self, changelog: DataFrame, batch_id: int) -> bool:
        """Sync one batch, then normalize iff the cadence says so — the
        single-call product path for both the eager default
        (normalize_every=1: identical to sync + normalize per batch) and
        the lazy cadence. Returns True when a normalize ran."""
        self.sync_batch(changelog, batch_id)
        return self.maybe_normalize(batch_id)

    def _pending_range(self, upto_batch: int | None = None):
        """(lo, hi) of the synced-but-unmerged raw tail, or None. Falls
        back to the persisted watermark / committed markers so a RESTARTED
        pipeline (fresh instance over the same directories) resumes the
        cadence without replaying state it has already merged."""
        committed = self.raw.committed_batches()
        if self._last_normalized is not None:
            lo = self._last_normalized + 1
        else:
            # nothing ever normalized through this pipeline: the whole
            # retained raw log is the tail (replaying an already-merged
            # range over base is idempotent — LWW converges — so a legacy
            # directory without a watermark resolves correctly, just
            # lazily)
            lo = min(committed, default=None)
        if lo is None:
            return None
        tail = [b for b in committed
                if b >= lo and (upto_batch is None or b <= upto_batch)]
        if not tail:
            return None
        return lo, max(tail)

    def maybe_normalize(self, upto_batch: int, force: bool = False) -> bool:
        """Normalize the pending tail up to `upto_batch` when the cadence
        says so (or force=True and any tail exists — the drain call a
        stream issues on pause/teardown). The one place that decides
        whether and what to merge: the eager default, the k / 'auto'
        cadences and the stream runner's trail-by-N lag all land here.
        Idempotent: a replayed range merges to the same state, the
        watermark only moves forward, and a batch already covered by it
        submits no Spark job."""
        rng = self._pending_range(upto_batch)
        if rng is None:
            return False
        lo, hi = rng
        if not force and not self._cadence_due(lo, hi):
            return False
        self.normalize_batches(lo, hi)
        return True

    def _cadence_due(self, lo: int, hi: int) -> bool:
        if self.normalize_every == "auto":
            # bootstrap: while NO destination exists yet, merge every
            # batch — a consumer reading the destination parquet directly
            # (not via read_table's raw-tail overlay) would otherwise see
            # nothing at all until pending crosses the floor (r12,
            # ADVICE low on the r11 floor fix; also the r10 eager
            # young-mirror behavior existing 'auto' users saw)
            if self._dest_row_count() == 0:
                return True
            pending = self.raw.range_meta(lo, hi).rows
            # due iff pending >= max(auto_min_rows, ratio * dest): the
            # floor gates first (below it a merge cannot amortize its
            # bucket reread no matter how small the destination), then
            # the ratio term stretches the cadence as the mirror grows
            if pending < self.auto_min_rows:
                return False
            return pending >= AUTO_RATIO * self._dest_row_count()
        return hi - lo + 1 >= self.normalize_every

    def _table(self, cfg: CdcTableConfig) -> ParquetTable:
        """The bucketed destination table a CdcTableConfig describes."""
        return ParquetTable(self.spark, cfg.path, cfg.pk_cols, cfg.n_buckets,
                            split_threshold_rows=cfg.split_threshold_rows)

    def _dest_row_count(self) -> int:
        """Total destination rows across the mirror's tables, from parquet
        footers only — cached because it changes only when a normalize
        rewrites buckets (normalize_batches invalidates), so the
        'auto' trigger costs one footer sweep per MERGE, not per batch."""
        if self._dest_rows is None:
            dest = 0
            for cfg in self.tables.values():
                t = self._table(cfg)
                if t.exists:
                    dest += sum(t.rows_per_bucket().values())
            self._dest_rows = dest
        return self._dest_rows

    def read_table(self, dst: str) -> DataFrame:
        """Read-through view of a destination under a lazy cadence: the
        normalized table overlaid with the synced-but-unmerged raw tail,
        folded by the SAME LWW decode+merge normalize would run — a reader
        between merges sees exactly the state the next normalize will
        write (ClickHouse FINAL-read semantics; the reference's lazy
        destinations get this from ReplacingMergeTree,
        flow/connectors/clickhouse/normalize_query.go:327-332). With no
        pending tail this is just the destination read."""
        cfg = self.tables.get(dst)
        if cfg is None:
            raise KeyError(f"unknown destination table: {dst}")
        table = self._table(cfg)
        base = table.read() if table.exists else None
        rng = self._pending_range()
        if rng is None:
            if base is None:
                raise ValueError(f"destination {dst} has no data yet")
            return base
        lo, hi = rng
        return self.state_as_of(dst, hi, start_batch=lo, base=base)

    def _batch_meta(self, raw: DataFrame, meta: RangeMeta) -> tuple[list[str], list]:
        """Pre-merge driver metadata: the distinct destination list AND the
        (rare, metadata-sized) relation records, ts-ordered. Each half
        comes from the range's footer statistics (`meta`) when they prove
        it, so a steady batch launches no job here; only the unproven half
        runs its narrow scan. The dst scan reads ONLY the dictionary-encoded
        dst column; the relation harvest carries a pushed `type ==
        KIND_RELATION` predicate, so row-group stats skip the data pages of
        every relation-free file. Driver-side result stays bounded by
        #tables + #schema-changes."""
        dsts = meta.dsts
        if dsts is None:
            dsts = [r[0] for r in raw.select(RAW_DST).distinct().collect()]
        rels = []
        if meta.may_have_relations:
            rel_rows = (
                raw.where(F.col(RAW_TYPE) == N.KIND_RELATION)
                .select(RAW_DST, RAW_DATA, RAW_TS)
                .collect()
            )
            rels = [
                {RAW_DST: r[RAW_DST], RAW_DATA: r[RAW_DATA], RAW_TS: r[RAW_TS]}
                for r in rel_rows
            ]
        # same-ts tiebreak on the delta payload — the r11 fused scan's
        # within-destination sort_array(struct(ts, data)) order (cross-dst
        # tie order never mattered: deltas apply per destination)
        rels.sort(key=lambda d: (d[RAW_TS], d[RAW_DATA] or ""))
        return dsts, rels

    def _apply_relation_records(self, rel: list) -> None:
        """Schema-change-as-data: 'relation' rows carry an added-columns delta
        JSON in _peerdb_data (ref: flow/model/record.go:150-153 RelationRecord
        → ReplayTableSchemaDeltas, flow/connectors/core.go:193-198). Applied
        BEFORE the data merge of the same batch range so the new columns'
        values in following data rows parse instead of being dropped; the
        row list is bounded (schema changes are rare, metadata-sized rows)."""
        from peerdb_spark import schema_evolution as SE

        for r in rel:
            cfg = self.tables.get(r[RAW_DST])
            if cfg is None:
                continue
            delta = SE.delta_from_relation_record(r[RAW_DATA], r[RAW_DST])
            self._apply_delta(cfg, delta)

    def _apply_delta(self, cfg, delta) -> None:
        """Apply one add-columns delta: destination table (audited when a
        catalog is bound) AND the live parse schema, so from_json surfaces
        the new columns for the rest of this batch range."""
        from peerdb_spark import schema_evolution as SE

        table = self._table(cfg)
        if table._load_schema() is not None:
            if self.catalog is not None and self.mirror_name:
                SE.replay_deltas(self.catalog, self.mirror_name, table, [delta])
            else:
                SE.apply_delta(table, delta)
        have = {f.name for f in cfg.value_schema.fields}
        for name, ddl in delta.added_columns:
            if name not in have:
                cfg.value_schema = T.StructType(
                    [*cfg.value_schema.fields, T.StructField(name, _parse_ddl(ddl), True)]
                )
                have.add(name)

    def _auto_evolve(self, raw: DataFrame, dsts: list[str]) -> None:
        """Schema-drift pass for relation-record-less sources: detect new
        payload keys per destination and evolve as if declared."""
        from peerdb_spark import schema_evolution as SE

        for dst in dsts:
            cfg = self.tables.get(dst)
            if cfg is None:
                continue
            sub = raw.where(
                (F.col(RAW_DST) == dst)
                & (F.col(RAW_TYPE) <= N.KIND_DELETE)
                & F.col(RAW_DATA).isNotNull()
            )
            delta = SE.detect_payload_drift(sub, cfg.value_schema, dst)
            if delta.added_columns:
                self._apply_delta(cfg, delta)

    def _changes_for(self, raw: DataFrame, dst: str, cfg) -> DataFrame:
        """Destination-shaped changelog for one table from a raw range:
        decode, PK-update split, exclusion, renames, type overrides —
        shared by the batch merge and time-travel reconstruction."""
        sub = raw.where((F.col(RAW_DST) == dst) & (F.col(RAW_TYPE) <= N.KIND_DELETE))
        changes = self.raw.raw_to_changelog(sub, cfg.value_schema)
        # split PK-changing updates while _old's struct fields still use
        # SOURCE column names (renames below touch only top-level columns)
        inv = {dst_name: src_name for src_name, dst_name in cfg.renames.items()}
        src_pks = [inv.get(c, c) for c in cfg.pk_cols]
        changes = N.split_pk_updates(changes, src_pks)
        if cfg.exclude:
            # column exclusion (ref: TableMapping.exclude, applied during
            # tuple processing — flow/connectors/postgres/cdc.go:335-386)
            changes = changes.drop(*cfg.exclude)
        if cfg.renames:
            # ALL renames in one atomic projection: sequential
            # withColumnRenamed calls make a→b while b exists duplicate the
            # name (and a swap a↔b unrecoverable); simultaneous aliasing
            # gives every config whose RESULTING names are distinct
            # (validate_mirror's rename_no_collision) well-defined
            # semantics, swaps and chains included
            changes = changes.select(
                *[F.col(c).alias(cfg.renames.get(c, c)) for c in changes.columns]
            )
        for col_name, ddl in cfg.type_overrides.items():
            if col_name in changes.columns:
                # destination-type override; try_cast mirrors the
                # truncation-to-NULL semantics under ANSI mode
                changes = changes.withColumn(col_name, F.col(col_name).try_cast(ddl))
        return changes

    def state_as_of(
        self,
        dst: str,
        end_batch: int,
        start_batch: int = 0,
        base: DataFrame | None = None,
    ) -> DataFrame:
        """TIME-TRAVEL read: reconstruct a destination's state as of the end
        of `end_batch`, straight from the append-only raw log — the
        destination table is never touched. The raw staging table is an
        event-sourcing log (batch-id partitioned, so the scan prunes to the
        requested range); replaying it through the same decode + LWW merge
        used by normalize yields the exact state any point-in-time normalize
        would have produced. Retention bounds how far back travel reaches
        (RawTable.drop_batches). For a mirror seeded by an initial snapshot
        (rows that never passed through raw), pass that snapshot as `base`.
        The reference has no equivalent — its raw table exists only as
        merge staging."""
        cfg = self.tables.get(dst)
        if cfg is None:
            raise KeyError(f"unknown destination table: {dst}")
        raw = self.raw.read_batches(start_batch, end_batch)
        changes = self._changes_for(raw, dst, cfg)
        return N.merge_changes(
            base,
            changes,
            cfg.pk_cols,
            soft_delete_col=cfg.soft_delete_col,
            synced_at_col=cfg.synced_at_col,
        )

    def normalize_batches(self, start_batch: int, end_batch: int) -> None:
        """Merge a raw batch range into every destination it touches, one
        table after another (the reference normalizes tables sequentially,
        one transaction per destination)."""
        raw = self.raw.read_batches(start_batch, end_batch)
        # one driver-side footer pass: the row count (the auto hot-key
        # probe's size gate, shared by all tables in the range) and, when
        # the statistics prove them, the distinct destinations and the
        # absence of relation records (ref: flow/connectors/postgres/
        # client.go:52-53)
        meta = self.raw.range_meta(start_batch, end_batch)
        dsts, rels = self._batch_meta(raw, meta)
        self._apply_relation_records(rels)
        if self.auto_evolve:
            self._auto_evolve(raw, dsts)
        for dst in dsts:
            cfg = self.tables.get(dst)
            if cfg is None:
                continue
            changes = self._changes_for(raw, dst, cfg)
            table = self._table(cfg)
            # AUTO hot-key guard: flip the LWW salt on only when one pk holds
            # a large share of a large range (normalize.detect_hot_key — a
            # map-side-combinable count probe), so the guard self-selects at
            # cluster width and costs nothing on even or small batches
            salt = 0
            if meta.rows >= N.HOT_KEY_MIN_ROWS and N.detect_hot_key(
                changes, cfg.pk_cols, N.HOT_KEY_THRESHOLD, N.HOT_KEY_MIN_ROWS
            ):
                salt = N.DEFAULT_SKEW_SALT
            views = self._views.get(dst, ())
            images = N.merge_into_table(
                table,
                changes,
                soft_delete_col=cfg.soft_delete_col,
                synced_at_col=cfg.synced_at_col,
                return_images=bool(views),
                skew_salt=salt,
            )
            if views:
                pre, post = images
                if cfg.soft_delete_col:  # flagged rows are not live
                    pre = pre.where(~F.coalesce(F.col(cfg.soft_delete_col), F.lit(False)))
                    post = post.where(~F.coalesce(F.col(cfg.soft_delete_col), F.lit(False)))
                for v in views:
                    v.fold(pre, post, batch_id=end_batch)
        # advance the cadence watermark only after every destination's
        # merge committed — a crash mid-loop replays the whole range (the
        # merges are idempotent and converge)
        self._dest_rows = None  # destinations changed: next 'auto' check re-sweeps footers
        self._set_norm_wm(end_batch)

    def add_table(self, cfg: CdcTableConfig, backfill: DataFrame | None = None) -> None:
        """Mid-flow table addition (ref: flow/workflows/cdc_flow.go:233-463):
        register the mapping and optionally snapshot-backfill the destination;
        subsequent batches containing its _dst_table rows normalize into it."""
        self.tables[cfg.dst_table] = cfg
        self._dest_rows = None
        if backfill is not None:
            table = self._table(cfg)
            out = backfill
            if cfg.soft_delete_col:
                out = out.withColumn(cfg.soft_delete_col, F.lit(False))
            if cfg.synced_at_col:
                out = out.withColumn(cfg.synced_at_col, F.current_timestamp())
            table.overwrite(out)

    def remove_table(self, dst_table: str) -> None:
        """Mid-flow table removal: later batches skip its rows (destination
        data is left in place, like the reference's DROP MIRROR semantics)."""
        self.tables.pop(dst_table, None)
        self._dest_rows = None

    def record_counts(self, start_batch: int, end_batch: int) -> DataFrame:
        """Per-table insert/update/delete counts (ref: flow/model/record.go:70-147;
        relation records are metadata, not counted)."""
        return (
            self.raw.read_batches(start_batch, end_batch)
            .where(F.col(RAW_TYPE) <= N.KIND_DELETE)
            .groupBy(RAW_DST, RAW_TYPE)
            .count()
        )

    def unchanged_toast_sets(self, start_batch: int, end_batch: int) -> DataFrame:
        """ARRAY_AGG(DISTINCT unchanged_toast_columns) GROUP BY dst, excluding
        delete records — the reference query filters _peerdb_record_type != 2
        (client.go getTableNameToUnchangedToastColsSQL), so delete rows' values
        never pollute the per-table toast sets."""
        return (
            self.raw.read_batches(start_batch, end_batch)
            .where(F.col(RAW_TYPE).isin(N.KIND_INSERT, N.KIND_UPDATE))
            .groupBy(RAW_DST)
            .agg(F.sort_array(F.collect_set(RAW_UNCHANGED)).alias("toast_sets"))
        )
