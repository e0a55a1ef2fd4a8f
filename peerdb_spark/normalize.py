"""Normalize: last-writer-wins dedup + merge of change batches into destination
tables — the heart of the engine.

Reference semantics reproduced (studied, not copied):
- rank-dedup of the raw batch: `RANK() OVER (PARTITION BY pk ORDER BY
  _peerdb_timestamp DESC) = 1` — flow/connectors/postgres/client.go:57-81.
  We add the checkpoint id to the ordering for a deterministic tiebreak when
  commit timestamps collide within a batch (SURVEY §7 risk list).
- MERGE branches — flow/connectors/postgres/normalize_stmt_generator.go:148-278:
  WHEN NOT MATCHED AND type != delete → INSERT;
  WHEN MATCHED AND type = delete → DELETE (hard) or soft-delete UPDATE;
  WHEN MATCHED otherwise → UPDATE.
- TOAST backfill: the reference generates one UPDATE branch per observed
  unchanged-column combination (normalize_stmt_generator.go:280+). Spark
  expresses the same semantics in a single branch with a per-column
  `array_contains(_unchanged_cols, col) ? dest.col : src.col` — no
  combinatorial SQL, same result.
- soft delete / synced-at columns: normalize_stmt_generator.go:127-135,219-237;
  insert-after-delete resurrection falls out of last-writer-wins ordering.
- lazy mode (ClickHouse ReplacingMergeTree analogue): dedup-on-read view over
  the append-only raw stream — flow/connectors/clickhouse/normalize_query.go:
  112-397 (version = _peerdb_timestamp, is_deleted = intDiv(record_type, 2)).

Scale notes: the dedup window and the merge join both hash-shuffle on the
primary key — one exchange each, reused (same key). When the destination is a
bucketed ParquetTable the merge joins bucket-pruned destination data against
the batch; AQE handles skewed pks. Record-kind codes: 0=insert, 1=update,
2=delete (ref: flow/connectors/postgres/client.go:34 _peerdb_record_type).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from peerdb_spark.storage import BUCKET_COL, ParquetTable

KIND_INSERT, KIND_UPDATE, KIND_DELETE = 0, 1, 2
# RelationRecord: schema-change-as-data (ref: flow/model/record.go:150-153);
# rides the changelog with _kind='relation' and the delta JSON in _data
KIND_RELATION = 3
# MessageRecord (logical-decoding messages, record.go:175-179) and any
# unrecognized kind: metadata — staged in raw for queue consumers, never
# merged (mapping unknowns to delete would merge a destructive null-pk row)
KIND_MESSAGE = 4

# canonical changelog column names (FIXTURES.md F3 / SURVEY §1.1-1)
COL_KIND = "_kind"  # 'insert' | 'update' | 'delete'
COL_CHECKPOINT = "_checkpoint_id"
COL_COMMIT_TS = "_commit_ts"
COL_TXID = "_txid"
COL_DST = "_dst_table"
COL_UNCHANGED = "_unchanged_cols"
# old row image for updates (struct of the pre-update values) — carried when
# the source emits full old tuples (REPLICA IDENTITY FULL / binlog old image);
# powers PK-changing-update splitting (ref: _peerdb_match_data)
COL_OLD = "_old"

META_COLS = [COL_KIND, COL_CHECKPOINT, COL_COMMIT_TS, COL_TXID, COL_DST, COL_UNCHANGED, COL_OLD]


def _qid(name: str) -> str:
    """Backtick-quote an identifier for SQL text (defensive: any name)."""
    return "`" + name.replace("`", "``") + "`"


def _qstr(s: str) -> str:
    """Single-quote a string literal for SQL text. Quotes are escaped by
    DOUBLING ('' — valid in both parser modes); backslashes are doubled
    because the sessions this engine builds run with the default
    spark.sql.parser.escapedStringLiterals=false (pinned explicitly in
    session.get_spark), under which backslash is an escape character
    (r12 ADVICE: \\' quote-escaping was only correct in that same mode,
    so the quoting now degrades gracefully if the mode ever flips)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def kind_code(col=COL_KIND):
    """String kind → numeric record type (0/1/2; 3 = relation/schema-delta;
    4 = message/unknown metadata)."""
    return F.expr(kind_code_sql(col))


def kind_code_sql(col=COL_KIND) -> str:
    """SQL text of kind_code — the merge builders compose projections as
    text so one selectExpr parse replaces per-node py4j round-trips (the
    lesson of the SQL-text geometry builders in functions/exotic.py: each
    Column-API node is a ~1 ms driver round trip; a parsed CASE chain is
    identical Catalyst output)."""
    c = _qid(col)
    return (
        f"CASE WHEN {c} = 'insert' THEN {KIND_INSERT}"
        f" WHEN {c} = 'update' THEN {KIND_UPDATE}"
        f" WHEN {c} = 'delete' THEN {KIND_DELETE}"
        f" WHEN {c} = 'relation' THEN {KIND_RELATION}"
        f" ELSE {KIND_MESSAGE} END"
    )


def latest_changes(
    changes: DataFrame,
    pk_cols: list[str],
    ts_col: str = COL_COMMIT_TS,
    checkpoint_col: str = COL_CHECKPOINT,
    skew_salt: int = 0,
) -> DataFrame:
    """Last-writer-wins dedup: keep the newest change per primary key.

    Window partitioned by pk, ordered by (commit_ts DESC, checkpoint DESC) —
    the checkpoint tiebreak makes same-timestamp batches deterministic.
    One hash exchange on pk; map-side no pre-agg possible for row_number, but
    the same partitioning is reused by the downstream merge join.

    skew_salt > 0 enables the HOT-KEY GUARD (round 9, verdict #6): a single
    pk receiving a large fraction of a batch (a counter row, a queue-table
    singleton) would otherwise land its entire history on one window task.
    The guard pre-folds per (pk, salt-of-checkpoint): max_by over the
    (ts, checkpoint) ordering struct is commutative/associative — the same
    order rule mview's retraction folds rely on — so Spark's partial
    (map-side) aggregation collapses the hot key WITHIN each input task
    before any shuffle, and the final window sees ≤ skew_salt rows per pk.
    Two exchanges instead of one, so callers pass a salt only when a hot
    key is present (CdcPipeline's auto probe, detect_hot_key): the plain
    window wins on well-distributed batches."""
    if skew_salt:
        ord_ = F.struct(F.col(ts_col), F.col(checkpoint_col))
        salt = F.pmod(F.xxhash64(F.col(checkpoint_col)), F.lit(int(skew_salt)))
        row = F.struct(*[F.col(c) for c in changes.columns])
        changes = (
            changes.groupBy(*[F.col(c) for c in pk_cols], salt.alias("_lww_salt"))
            .agg(F.max_by(row, ord_).alias("_r"))
            .select("_r.*")
        )
    # window as parsed SQL text (one py4j call instead of ~100 Column-API
    # round trips; identical WindowExec plan — DESC defaults NULLS LAST in
    # both the SQL parser and Column.desc())
    rn = (
        f"row_number() OVER (PARTITION BY {', '.join(_qid(c) for c in pk_cols)}"
        f" ORDER BY {_qid(ts_col)} DESC, {_qid(checkpoint_col)} DESC) AS _rn"
    )
    return changes.selectExpr("*", rn).where("_rn = 1").drop("_rn")


# salt width the auto heuristic applies when a hot key is detected: the
# window then sees <= 32 pre-folded rows per pk — small enough to be free,
# wide enough that the pre-fold's map-side partials parallelize
DEFAULT_SKEW_SALT = 32
# auto hot-key guard gates (CdcPipeline.normalize_batches): a raw range
# below HOT_KEY_MIN_ROWS (parquet footer counts, no data read) skips the
# probe — a sub-1M-row window task cannot serialize anything worth a
# second exchange — and a hot key must hold more than HOT_KEY_THRESHOLD
# of the batch AND at least HOT_KEY_MIN_ROWS rows
HOT_KEY_THRESHOLD = 0.01
HOT_KEY_MIN_ROWS = 1_000_000


def detect_hot_key(
    changes: DataFrame,
    pk_cols: list[str],
    threshold: float = 0.01,
    min_hot_rows: int = 100_000,
) -> bool:
    """Cheap per-batch hot-key probe (round 10, r9 verdict #6): True when
    some pk holds more than `threshold` of the batch AND at least
    `min_hot_rows` rows — the regime where the LWW window's per-pk task
    would serialize.

    The probe itself cannot skew: groupBy(pk).count() is map-side
    combinable, so a hot key collapses to one row per input partition
    before the (tiny) shuffle; the final max/sum is a scalar. One extra
    scan of the batch, paid only when the caller's size gate says the
    batch is big enough for skew to matter."""
    row = (
        changes.groupBy(*pk_cols)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c").alias("_mx"), F.sum("_c").alias("_n"))
        .collect()[0]
    )
    mx, n = row["_mx"], row["_n"]
    if not mx or not n:
        return False
    return mx >= max(threshold * n, min_hot_rows)


def split_pk_updates(
    changes: DataFrame, pk_cols: list[str], old_col: str = COL_OLD
) -> DataFrame:
    """PK-changing updates → delete(old_pk) + upsert(new_pk).

    Reference semantics (flow/connectors/clickhouse/normalize_query.go:180-214,
    `enablePrimaryUpdate`): when an update's old row image carries a different
    primary key than the new image, the destination must drop the old-PK row —
    the reference re-emits it as a delete keyed by `_peerdb_match_data` —
    while the new image upserts under the new PK. Without this, a PK-changing
    update strands the stale old-PK row forever.

    Here: rows whose `_old` struct disagrees with the new pk expand (one-pass,
    explode of a 1-or-2 element struct array — no second scan of the
    changelog) into the original change PLUS a synthetic delete carrying the
    old image under the old pk. The synthetic delete keeps the update's
    commit_ts/checkpoint so last-writer-wins ranks it correctly against any
    other change to the old key in the same batch (e.g. a pk swap A→B, B→A
    resolves by checkpoint order). The new-image update needs no rewriting:
    an unmatched update already inserts in merge_changes.

    No-op when the changelog carries no old-image column, or when no pk field
    is present in the old image (REPLICA IDENTITY NOTHING — pk changes are
    undetectable, same as the reference without enablePrimaryUpdate).
    """
    from pyspark.sql import types as T

    if old_col not in changes.columns:
        return changes
    old_type = changes.schema[old_col].dataType
    old_fields = (
        {f.name for f in old_type.fields} if isinstance(old_type, T.StructType) else set()
    )
    pk_in_old = [c for c in pk_cols if c in old_fields]
    if not pk_in_old:
        return changes.drop(old_col)
    out_cols = [c for c in changes.columns if c != old_col]
    # whole expansion as ONE parsed expression (see kind_code_sql note):
    # the two per-column struct builders were ~10 py4j round trips per
    # column per call on the normalize hot path
    oldq = _qid(old_col)
    is_pk_change = (
        f"({_qid(COL_KIND)} = 'update' AND {oldq} IS NOT NULL AND ("
        + " OR ".join(f"NOT ({oldq}.{_qid(c)} <=> {_qid(c)})" for c in pk_in_old)
        + "))"
    )

    def _field(c: str, for_delete: bool) -> str:
        if not for_delete:
            return f"{_qstr(c)}, {_qid(c)}"
        if c == COL_KIND:
            return f"{_qstr(c)}, 'delete'"
        if c == COL_UNCHANGED:
            ddl = changes.schema[c].dataType.simpleString()
            return f"{_qstr(c)}, CAST(NULL AS {ddl})"
        if c in old_fields and c not in META_COLS:
            # old image where present, new value as backfill (partial old
            # tuples: REPLICA IDENTITY USING INDEX carries only key columns)
            return f"{_qstr(c)}, coalesce({oldq}.{_qid(c)}, {_qid(c)})"
        return f"{_qstr(c)}, {_qid(c)}"

    new_row = "named_struct(" + ", ".join(_field(c, False) for c in out_cols) + ")"
    del_row = "named_struct(" + ", ".join(_field(c, True) for c in out_cols) + ")"
    expanded = (
        f"explode(CASE WHEN {is_pk_change} THEN array({new_row}, {del_row})"
        f" ELSE array({new_row}) END) AS _r"
    )
    return changes.selectExpr(expanded).select("_r.*")


def merge_changes(
    dest: DataFrame | None,
    changes: DataFrame,
    pk_cols: list[str],
    data_cols: list[str] | None = None,
    soft_delete_col: str | None = None,
    synced_at_col: str | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Merge a change batch into a destination DataFrame, returning new state.

    `changes` carries pk cols + data cols + changelog meta cols. `dest` may be
    None (bootstrap). Equivalent of the generated MERGE (see module doc):
    window LWW dedup, then a presence-marked full-outer join on the pk. Two
    exchanges, one per side — the join reuses the window's pk partitioning.
    """
    if data_cols is None:
        data_cols = [c for c in changes.columns if c not in META_COLS and c not in pk_cols]
    data_cols = [c for c in data_cols if c not in (soft_delete_col, synced_at_col)]
    changes = split_pk_updates(changes, pk_cols)
    if dedup:
        changes = latest_changes(changes, pk_cols)

    # Projections composed as SQL text and parsed in ONE selectExpr (see
    # kind_code_sql): the per-column F.when chains here were 600-850 py4j
    # round trips (~1 ms each) of pure driver time per merge call; the
    # parsed CASE expressions produce the identical Catalyst tree.
    has_unchanged = COL_UNCHANGED in changes.columns
    src = changes.selectExpr(
        *[_qid(c) for c in pk_cols],
        *[_qid(c) for c in data_cols],
        f"({kind_code_sql()}) AS _rtype",
        *([_qid(COL_UNCHANGED)] if has_unchanged else []),
    )

    if dest is None:
        out = src
        if soft_delete_col:
            # deletes with no prior state still materialize as tombstones
            out = out.withColumn(
                soft_delete_col, F.expr(f"_rtype = {KIND_DELETE}")
            )
        else:
            out = out.where(f"_rtype != {KIND_DELETE}")
        out = out.drop("_rtype", *([COL_UNCHANGED] if has_unchanged else []))
        if synced_at_col:
            out = out.withColumn(synced_at_col, F.current_timestamp())
        return out

    dest_cols = [c for c in dest.columns if c not in pk_cols]
    # Explicit presence markers: full-outer-join nulls are ambiguous when data
    # columns are legitimately NULL.
    d2 = dest.withColumn("_in_dest", F.lit(True)).alias("d")
    s2 = src.withColumn("_in_src", F.lit(True)).alias("s")
    joined = d2.join(s2, on=pk_cols, how="full_outer")
    in_dest = "(_in_dest IS NOT NULL)"
    in_src = "(_in_src IS NOT NULL)"
    is_delete = f"({in_src} AND s._rtype = {KIND_DELETE})"

    # a delete takes the source values only when the key is absent from the
    # destination (soft-delete tombstone INSERT — ref normalize_stmt_generator.go
    # 'WHEN NOT MATCHED AND _peerdb_record_type=2 THEN INSERT ... soft_delete=TRUE');
    # a matched delete keeps the destination values (tombstone UPDATE)
    use_src = f"({in_src} AND ((NOT {is_delete}) OR (NOT {in_dest})))"
    unch = f"s.{_qid(COL_UNCHANGED)}"

    def value_of(c: str) -> str:
        src_val = f"s.{_qid(c)}"
        if has_unchanged:
            # TOAST-unchanged column keeps the destination value — the single
            # generic branch replacing the reference's per-combination SQL
            d_val = f"d.{_qid(c)}" if c in dest_cols else "NULL"
            src_val = (
                f"CASE WHEN {unch} IS NOT NULL AND array_contains({unch}, {_qstr(c)})"
                f" AND {in_dest} THEN {d_val} ELSE s.{_qid(c)} END"
            )
        alt = f"d.{_qid(c)}" if c in dest_cols else "NULL"
        return f"CASE WHEN {use_src} THEN {src_val} ELSE {alt} END AS {_qid(c)}"

    select_cols = [*[_qid(c) for c in pk_cols], *[value_of(c) for c in data_cols]]

    if soft_delete_col:
        prev_deleted = (
            f"coalesce(d.{_qid(soft_delete_col)}, false)"
            if soft_delete_col in dest_cols
            else "false"
        )
        select_cols.append(
            f"CASE WHEN {is_delete} THEN true WHEN {in_src} THEN false"
            f" ELSE {prev_deleted} END AS {_qid(soft_delete_col)}"
        )
        # all rows kept: matched deletes become tombstone updates, unmatched
        # deletes materialize as tombstone INSERTs (reference parity)
        keep = "true"
    else:
        # hard delete drops the row; unmatched deletes no-op
        keep = f"NOT {is_delete}"

    if synced_at_col:
        prev_sync = (
            f"d.{_qid(synced_at_col)}" if synced_at_col in dest_cols else "NULL"
        )
        select_cols.append(
            f"CASE WHEN {in_src} THEN current_timestamp() ELSE {prev_sync} END"
            f" AS {_qid(synced_at_col)}"
        )

    return joined.where(keep).selectExpr(*select_cols)


def merge_into_table(
    table: ParquetTable,
    changes: DataFrame,
    data_cols: list[str] | None = None,
    soft_delete_col: str | None = None,
    synced_at_col: str | None = None,
    return_images: bool = False,
    skew_salt: int = 0,
) -> tuple[DataFrame, DataFrame] | None:
    """Merge a change batch into a bucketed ParquetTable, rewriting only the
    pk-hash buckets the batch touches (see storage.py module doc for the
    scale rationale).

    `return_images=True` additionally returns (pre, post): the TOUCHED-pk
    slices of the destination before and after the merge — the inputs
    incremental view maintenance needs (mview.mview_fold). Both are lazy
    broadcast-semi-join slices of relations this merge reads/writes anyway
    (pre from the touched buckets, post from the just-written table), so
    the images are free beyond one re-read of the touched buckets."""
    if not (table.n_buckets and table.pk_cols):
        raise ValueError("merge_into_table needs a bucketed table")
    pk = table.pk_cols
    # PK-changing updates split BEFORE dedup so the synthetic old-pk delete
    # participates in last-writer-wins under its own key.
    split = split_pk_updates(changes, pk)
    # manifest-aware leaf assignment (storage.assign_bucket_expr): for a
    # never-split table this is exactly the static pmod; after splits it
    # routes each pk to its current extendible-hashing leaf
    bexpr = table.assign_bucket_expr() if table.exists else None
    obs = Observation()

    def checkpoint(df: DataFrame) -> DataFrame:
        # the touched-bucket probe rides this eager checkpoint as an observed
        # metric (no job of its own). split and deduped hold the same
        # pk -> bucket set, and collect_set is idempotent under stage retries
        if bexpr is not None:
            df = df.observe(obs, F.collect_set(bexpr).alias("b"))
        return df.localCheckpoint(eager=True)

    # the LWW window executes once (the r11 double-execution question): in
    # the deduped checkpoint with images, else in the merge write, which
    # reads the decoded batch from the split checkpoint (§5: decode once)
    if bexpr is not None and not return_images:
        split = checkpoint(split)
    deduped = latest_changes(split, pk, skew_salt=skew_salt)
    if return_images:
        deduped = checkpoint(deduped)
        # one row per pk (the LWW window): the key slice needs no distinct
        keys = deduped.select(*pk)
    if not table.exists:
        boot = merge_changes(None, deduped, pk, data_cols, soft_delete_col, synced_at_col,
                             dedup=False)
        table.overwrite(boot)
        # a large initial snapshot can overshoot the bucket bound in one
        # write — split oversized base buckets immediately rather than
        # waiting for the first merge to touch them. Safe before the post
        # image is built: a split moves rows between directories but
        # preserves the relation exactly, so post reads identically.
        table.maybe_split()
        if return_images:
            post = table.read().join(F.broadcast(keys), pk, "left_semi")
            return post.where(F.lit(False)), post
        return None
    deduped = deduped.withColumn(BUCKET_COL, bexpr)
    buckets = sorted(obs.get["b"])
    dest = table.read_buckets(buckets).drop(BUCKET_COL)
    if return_images:
        pre = dest.join(F.broadcast(keys), pk, "left_semi").localCheckpoint(
            eager=True  # the buckets are REWRITTEN below — snapshot first
        )
    merged = merge_changes(dest, deduped.drop(BUCKET_COL), pk, data_cols,
                           soft_delete_col, synced_at_col, dedup=False)
    merged = merged.withColumn(BUCKET_COL, bexpr)
    table.replace_partitions(merged, buckets)
    if return_images:
        post = (
            table.read_buckets(buckets).drop(BUCKET_COL)
            .join(F.broadcast(keys), pk, "left_semi")
        )
        # a pending split would move the touched buckets' rows to child
        # ids under post's lazy plan — snapshot post first, then split.
        # split_candidates applies the same jittered thresholds as
        # maybe_split (one footer scan; no eager checkpoint unless a
        # split will actually happen)
        need = table.split_candidates(buckets)
        if need:
            post = post.localCheckpoint(eager=True)
            for b in need:
                table.split_bucket(b)
        return pre, post
    # grow the layout AFTER the batch commits: each touched bucket whose
    # row count crossed the threshold splits once (bounded per-batch
    # work; see storage.maybe_split)
    table.maybe_split(buckets)
    return None


def rmt_latest_view(
    appended: DataFrame,
    pk_cols: list[str],
    version_col: str = COL_COMMIT_TS,
    tiebreak_col: str = COL_CHECKPOINT,
    is_deleted=None,
) -> DataFrame:
    """Lazy normalize — ReplacingMergeTree(version, is_deleted) semantics as a
    dedup-on-read view over an append-only change table
    (ref: flow/connectors/clickhouse/normalize_query.go:327-332 + normalize.go:88-130).

    Latest version per pk wins; rows whose winning version is a delete vanish.
    """
    if is_deleted is None:
        is_deleted = F.col(COL_KIND) == "delete"
    latest = latest_changes(appended, pk_cols, version_col, tiebreak_col)
    return latest.where(~is_deleted)
