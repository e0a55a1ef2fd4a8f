"""CDC queries: LWW dedup, normalize merges, merge cadence, mirrors and views."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark import cdc as CDC
from peerdb_spark import normalize as N
from peerdb_spark.functions import ensure_parallelism
from peerdb_spark.functions import dedup as DD
from peerdb_spark.functions.hashing import h64_sql
from peerdb_spark.queries._common import (
    BASE_SQL,
    CHANGES_SQL,
    EVENTS_CHANGELOG_SQL,
    LINEITEM_CHANGELOG_SQL,
    _lang_id_sql,
    _quality_sql,
    _ranked_shared,
    _simhash_sql,
    _t,
    _tokens_sql,
    events_changelog,
    lineitem_base,
    lineitem_changelog,
    lineitem_changes,
)


# ---------------------------------------------------------------------------
# §2.5/2.6 dedup + merge/normalize
# ---------------------------------------------------------------------------


def q_cdc_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins rank dedup (ref: client.go:57-81 RANK()=1 CTE)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    chg = lineitem_changelog(li)
    return N.latest_changes(chg, ["pk"], ts_col="cts", checkpoint_col="ck").select(
        "pk", "ck", "kind", "qty", "price", "flag"
    )


SQL_CDC_LWW_DEDUP = f"""
WITH chg AS ({LINEITEM_CHANGELOG_SQL})
SELECT pk, ck, kind, qty, price, flag FROM (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cts DESC, ck DESC) rn
  FROM chg
) WHERE rn = 1
"""


def q_cdc_normalize_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full eager merge: base + changelog → final state (hard deletes)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r)
    chg = lineitem_changes(li, _r).select(
        "pk", "qty", "price", "flag",
        F.col("kind").alias(N.COL_KIND),
        F.col("ck").alias(N.COL_CHECKPOINT),
        F.col("cts").alias(N.COL_COMMIT_TS),
    )
    return N.merge_changes(base, chg, ["pk"]).select("pk", "qty", "price", "flag")


SQL_CDC_NORMALIZE_MERGE = f"""
WITH base AS ({BASE_SQL}),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cts DESC, ck DESC) rn
    FROM ({CHANGES_SQL})
  ) WHERE rn = 1
)
SELECT b.pk, b.qty, b.price, b.flag
FROM base b WHERE b.pk NOT IN (SELECT pk FROM last)
UNION ALL
SELECT l.pk, l.qty, l.price, l.flag
FROM last l WHERE l.kind <> 'delete'
"""


def q_cdc_split_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eager merge THROUGH the bucketed store with dynamic bucket splitting
    forced (round 9, storage.split_bucket/maybe_split): the base snapshot
    bootstraps a 4-bucket ParquetTable whose split threshold sits far below
    the base row count — every oversized base bucket splits immediately
    (extendible-hashing children, manifest swap) and merge-touched children
    keep splitting — then the changelog merges into the SPLIT layout and
    the final state reads back through it. The oracle is the plain SQL
    merge (same relation as cdc_normalize_merge): the driver's value hash
    certifies that leaf routing, manifest state, pruned bucket reads and
    the crash-safe swaps are invisible to the relation. Uses a
    deterministic scratch dir cleaned at entry (the returned DataFrame
    stays lazy over its files until the driver collects)."""
    import os
    import shutil

    from peerdb_spark.storage import ParquetTable

    (li,) = _t(spark, sf_dir, "lineitem")
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r)
    chg = lineitem_changes(li, _r).select(
        "pk", "qty", "price", "flag",
        F.col("kind").alias(N.COL_KIND),
        F.col("ck").alias(N.COL_CHECKPOINT),
        F.col("cts").alias(N.COL_COMMIT_TS),
    )
    wd = f"/tmp/peerdb_gate_split_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(wd, ignore_errors=True)
    table = ParquetTable(spark, f"{wd}/dst", ["pk"], n_buckets=4,
                         split_threshold_rows=200)
    table.overwrite(base)
    table.maybe_split()  # base buckets all exceed the threshold → split
    N.merge_into_table(table, chg)
    assert len(table.leaf_buckets()) > 4, "split gate must actually split"
    return table.read().select("pk", "qty", "price", "flag")


SQL_CDC_SPLIT_MERGE = SQL_CDC_NORMALIZE_MERGE


def _changelog_feed(
    cl: DataFrame,
    table: str,
    payload_cols: list[str],
    batch: Column | str,
    commit_ts: Column | None = None,
) -> DataFrame:
    """The CHANGELOG-shaped raw feed `CdcPipeline.process_batch` reads, one
    row per change of `cl` (kind, ck, payload columns), materialized once.
    `batch` is the `_b` column the caller slices into sync batches; the
    commit timestamp defaults to ck seconds after a fixed epoch."""
    if commit_ts is None:
        commit_ts = F.timestamp_seconds(F.lit(1_700_000_000) + F.col("ck"))
    payload = F.to_json(F.struct(*payload_cols))
    return cl.select(
        F.col("kind").alias("_kind"),
        F.col("ck").alias("_checkpoint_id"),
        commit_ts.alias("_commit_ts"),
        F.col("ck").alias("_txid"),
        F.lit(table).alias("_src_table"),
        F.lit(table).alias("_dst_table"),
        F.when(F.col("kind") != "delete", payload).alias("_data"),
        F.when(F.col("kind") == "delete", payload).alias("_old_data"),
        F.lit(None).cast("array<string>").alias("_unchanged_cols"),
        batch,
    ).localCheckpoint(eager=True)


def q_cdc_lazy_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY normalize cadence through the PRODUCT path (round 10:
    CdcPipeline normalize_every=k, the policy the r9 cardinality probe
    measured as the uniform-fan-out 100-TB answer — 250k vs 132k ev/s;
    the reference gets the equivalent from ClickHouse RMT background
    merges, flow/connectors/clickhouse/normalize.go:119-126). The base
    snapshot bootstraps the destination; the changelog splits into 3
    sync batches by checkpoint hash and feeds process_batch, which
    defers the merge until the 3rd batch completes the window — the
    asserts pin that batches 1-2 really did NOT merge. One deferred
    normalize then folds the whole tail, and the final destination must
    hash-match the SAME merge relation as cdc_normalize_merge restricted
    to the fixture's pk slice: the driver certifies deferral is invisible
    to the relation. (r11, verdict #7: trimmed from 4 deferred batches to
    3 AND quartered to the pk%4=0 slice — the merge is per-pk, so
    filtering the merged RESULT in the oracle equals filtering the
    inputs here; same asserts, same relation family, a quarter of the
    work on what was the board's slowest fixture (the remaining wall is
    the fixed per-operation cost of five real pipeline steps).)"""
    import os
    import shutil

    from peerdb_spark.storage import ParquetTable

    (li,) = _t(spark, sf_dir, "lineitem")
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r).where(F.col("pk") % 4 == 0)
    chg = lineitem_changes(li, _r).where(F.col("pk") % 4 == 0)
    wd = f"/tmp/peerdb_gate_lazy_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(wd, ignore_errors=True)
    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("qty", T.DoubleType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("flag", T.StringType()),
    ])
    table = ParquetTable(spark, f"{wd}/dst", ["pk"], n_buckets=4)
    # §2.6 overlap: the bootstrap snapshot write touches ONLY the
    # destination, and nothing before the batch-3 deferred merge reads the
    # destination — so it runs on a worker thread underneath the feed
    # checkpoint and the two deferred-batch syncs (all of which depend
    # only on the already-materialized ranked checkpoint), and is joined
    # right before the merge. Same five pipeline operations, same asserts,
    # same relation; one serial job's wall time reclaimed.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        boot = pool.submit(table.overwrite, base)
        cfg = CDC.CdcTableConfig("lineitem", ["pk"], schema, f"{wd}/dst",
                                 n_buckets=4)
        pipe = CDC.CdcPipeline(spark, f"{wd}/raw", [cfg], normalize_every=3)
        # one changelog materialization, 3 slices
        feed = _changelog_feed(
            chg, "lineitem", ["pk", "qty", "price", "flag"],
            F.pmod(F.col("ck"), F.lit(3)).alias("_b"),
            commit_ts=F.col("cts").cast("timestamp"))
        for b in (1, 2):
            merged = pipe.process_batch(
                feed.where(F.col("_b") == b - 1).drop("_b"), b)
            assert not merged, f"cadence merged early at batch {b}"
        boot.result()  # bootstrap visible before the merge reads buckets
    merged = pipe.process_batch(feed.where(F.col("_b") == 2).drop("_b"), 3)
    assert merged, "cadence did not merge at batch 3"
    return table.read().select("pk", "qty", "price", "flag")


# the eager-merge relation restricted to the fixture's pk slice (the LWW
# merge is per-pk, so filtering the result == filtering the inputs)
SQL_CDC_LAZY_CADENCE = (
    "SELECT * FROM (" + SQL_CDC_NORMALIZE_MERGE + ") WHERE pk % 4 = 0"
)


def q_cdc_mview_lazy_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained aggregate view THROUGH THE PRODUCT PATH under the lazy
    cadence (r11, verdict #5): CdcPipeline(normalize_every=2) with an
    attach_view'd ViewTable over an events-derived changelog split into 2
    checkpoint-interleaved batches. Views fold from MERGE images, so the
    view must lag until the window closes (the assert pins batch 1 really
    deferred AND left the view empty) and then equal the one-shot
    aggregate over the merged live state — which is exactly what the
    oracle states. Complements cdc_mirror_mview (the functional fold API,
    eager) by gating the pipeline-attached path plus the
    RMT-like read-freshness contract; the full mid-window lag/read_table
    exactness matrix is pinned in test_lazy_cadence.py. Slice: user_id%4
    keeps the fixture ~batch-sized."""
    import os
    import shutil

    from peerdb_spark.mview import ViewTable

    (ev,) = _t(spark, sf_dir, "events")
    cl = events_changelog(ev).where(F.col("pk") % 4 == 0).select(
        "pk", "ck", "kind", "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("v_i"),
    )
    wd = f"/tmp/peerdb_gate_mview_lazy_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(wd, ignore_errors=True)
    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("v_i", T.LongType()),
    ])
    cfg = CDC.CdcTableConfig("t", ["pk"], schema, f"{wd}/dst", n_buckets=4)
    pipe = CDC.CdcPipeline(spark, f"{wd}/raw", [cfg], normalize_every=2)
    view = ViewTable(spark, f"{wd}/view", ["event_type"], "v_i")
    pipe.attach_view("t", view)
    feed = _changelog_feed(cl, "t", ["pk", "event_type", "v_i"],
                           F.pmod(F.col("ck"), F.lit(2)).alias("_b"))
    for b in (1, 2):
        merged = pipe.process_batch(feed.where(F.col("_b") == b - 1).drop("_b"), b)
        assert merged == (b == 2), f"cadence merged early at batch {b}"
        if not merged:
            assert view.read() is None, "view folded before the merge"
    return view.read().select(
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_v").cast("long").alias("sum_v"),
    )


SQL_CDC_MVIEW_LAZY_FRESH = """
WITH cl AS (
  SELECT user_id AS pk, event_id AS ck,
         CASE event_type WHEN 'signup' THEN 'insert'
                         WHEN 'error' THEN 'delete'
                         ELSE 'update' END AS kind,
         event_type, CAST(round(value * 1000) AS BIGINT) AS v_i
  FROM events WHERE user_id % 4 = 0
),
w AS (
  SELECT * FROM cl QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ck DESC) = 1
)
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(v_i) AS BIGINT) AS sum_v
FROM w WHERE kind != 'delete' GROUP BY event_type
"""


def q_cdc_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC REPLICATION FEEDING THE TRAINING-DATA PIPELINE end-to-end (r12,
    verdict #8 — the production story the two halves previously gated only
    separately): a documents table runs as a CDC mirror
    (CdcPipeline + attach_view) and a corpus.CorpusStateView maintains the
    cleaning + near-dup-LSH state FROM the merge images — per-batch text
    work is O(touched rows), the corpus is never re-featurized, and
    updates/deletes (which append-only ingestion never sees) retract their
    old state rows. Batch 1 inserts the even half; batch 2 inserts the odd
    half, revises every 6th doc's text and deletes every 10th doc — so the
    maintained state must track a LIVE table through all three change
    kinds. Output = the accepted corpus (min-id keeper per content hash +
    quality/token floors) WITH its simhash LSH state; the oracle is the
    from-scratch clean over the merged live state, which is exactly the
    contract. Version-pointer asserts pin that the state really folded
    per-merge (incrementally), not from a final rebuild."""
    import json as _json
    import os
    import shutil

    from peerdb_spark.functions.corpus import CorpusStateView

    (docs,) = _t(spark, sf_dir, "documents")
    base = ensure_parallelism(docs.select("doc_id", "text")).localCheckpoint()
    rev = F.concat(F.col("text"), F.lit(" rev2 fresh words"))
    ins_even = base.where(F.col("doc_id") % 2 == 0).select(
        F.lit("insert").alias("kind"), "doc_id", "text",
        (F.col("doc_id") * 10 + 1).alias("ck"), F.lit(1).alias("_b"))
    ins_odd = base.where(F.col("doc_id") % 2 == 1).select(
        F.lit("insert").alias("kind"), "doc_id", "text",
        (F.col("doc_id") * 10 + 1).alias("ck"), F.lit(2).alias("_b"))
    upd = base.where(F.col("doc_id") % 6 == 0).select(
        F.lit("update").alias("kind"), "doc_id", rev.alias("text"),
        (F.col("doc_id") * 10 + 2).alias("ck"), F.lit(2).alias("_b"))
    dele = base.where(F.col("doc_id") % 10 == 0).select(
        F.lit("delete").alias("kind"), "doc_id", "text",
        (F.col("doc_id") * 10 + 3).alias("ck"), F.lit(2).alias("_b"))
    # near-dup CLONES: batch 2 also inserts lightly-edited copies of
    # every 9th doc under shifted ids — live pairs the maintained simhash
    # state must surface (the n_near_dups column consumes the LSH state)
    clone = base.where(F.col("doc_id") % 9 == 1).select(
        F.lit("insert").alias("kind"),
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail words notice"))
        .alias("text"),
        (F.col("doc_id") * 10 + 20001).alias("ck"), F.lit(2).alias("_b"))
    cl = (ins_even.unionByName(ins_odd).unionByName(upd)
          .unionByName(dele).unionByName(clone))
    feed = _changelog_feed(cl, "t", ["doc_id", "text"], "_b")

    wd = f"/tmp/peerdb_gate_corpusinc_{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(wd, ignore_errors=True)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    cfg = CDC.CdcTableConfig("t", ["doc_id"], schema, f"{wd}/dst", n_buckets=4)
    pipe = CDC.CdcPipeline(spark, f"{wd}/raw", [cfg], normalize_every=1)
    view = CorpusStateView(spark, f"{wd}/state")
    pipe.attach_view("t", view)

    def _version() -> int:
        with open(os.path.join(f"{wd}/state", "_CURRENT")) as fh:
            return _json.load(fh)["version"]

    for b in (1, 2):
        pipe.process_batch(feed.where(F.col("_b") == b).drop("_b"), b)
        assert _version() == b, f"state did not fold at batch {b}"
    # consume the maintained LSH state: near-dup partners among ACCEPTED
    # docs from the (id, simhash) relation alone — banded hamming LSH +
    # exact verify (dedup.hamming_pairs_from), never the text
    acc = view.accepted().localCheckpoint()
    # acc is already checkpointed — the banding's three branches read the
    # materialized blocks, so the engine's own narrow re-checkpoint would
    # be a redundant second copy (r12 ADVICE on the materialize default)
    pairs = DD.hamming_pairs_from(acc, "simhash", "doc_id",
                                  bits=32, bands=8, max_hamming=6,
                                  materialize=False)
    both = (pairs.select(F.col("id_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("id_b").alias("doc_id"))))
    nd = both.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_near_dups"))
    return acc.join(nd, "doc_id", "left").select(
        "doc_id", "simhash", "lang_pred", "quality", "n_tokens",
        F.coalesce("n_near_dups", F.lit(0).cast("long"))
        .alias("n_near_dups"))


SQL_CDC_CORPUS_INCREMENTAL = f"""
WITH live AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN text || ' rev2 fresh words'
              ELSE text END AS text
  FROM documents WHERE doc_id % 10 != 0
  UNION ALL
  SELECT doc_id + 2000 AS doc_id, text || ' extra tail words notice' AS text
  FROM documents WHERE doc_id % 9 = 1
),
per AS (
  SELECT doc_id, {h64_sql("trim(text)")} AS content_hash,
         {_lang_id_sql("text")} AS lang_pred,
         CAST({_quality_sql("text")} AS DOUBLE) AS quality,
         CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens
  FROM live
),
sims AS ({_simhash_sql(src="live")}),
keeper AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS m FROM per
  ) WHERE doc_id = m
),
acc AS (
  SELECT k.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash,
         k.lang_pred, k.quality, k.n_tokens
  FROM keeper k LEFT JOIN sims s ON k.doc_id = s.doc_id
  WHERE k.quality >= 0.8 AND k.n_tokens >= 20
)
SELECT a.doc_id, a.simhash, a.lang_pred, a.quality, a.n_tokens,
       CAST((SELECT count(*) FROM acc b
             WHERE b.doc_id != a.doc_id
               AND bit_count(xor(a.simhash, b.simhash)) <= 6) AS BIGINT)
         AS n_near_dups
FROM acc a
"""


def q_cdc_lww_skew_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW dedup through the HOT-KEY GUARD (round 9,
    normalize.latest_changes skew_salt): the two-level fold — max_by per
    (pk, checkpoint-salt) then the final window — against the SAME plain
    rank-dedup SQL oracle as cdc_lww_dedup, value-certifying that the
    salted pre-aggregation is semantics-free. The changelog's replicated
    keys (every pk carries multiple change rows) exercise the fold's
    collapse path on every key."""
    (li,) = _t(spark, sf_dir, "lineitem")
    chg = lineitem_changelog(li)
    return N.latest_changes(
        chg, ["pk"], ts_col="cts", checkpoint_col="ck", skew_salt=8
    ).select("pk", "ck", "kind", "qty", "price", "flag")


SQL_CDC_LWW_SKEW_DEDUP = SQL_CDC_LWW_DEDUP


def q_mirror_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror consistency check (validate.py:table_diff — the reference's
    wait-for-equal-tables e2e assertion as a production operator): source vs
    a destination with planted drift (qty bumped for every 1000th order,
    every 777th order missing). Each side collapses to 64 (bucket, count,
    order-independent checksum) rows — the tables never join row-to-row —
    and only mismatched buckets return. The oracle restates the full
    bucket/checksum arithmetic, certifying the diff relation exactly."""
    from peerdb_spark.validate import table_diff

    (li,) = _t(spark, sf_dir, "lineitem")
    src = li.select("l_orderkey", "l_linenumber", "l_quantity")
    dst = src.where(F.col("l_orderkey") % 777 != 0).withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 1000 == 0, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    return table_diff(src, dst, ["l_orderkey", "l_linenumber"], n_buckets=64)


def _table_diff_sql() -> str:
    sep = "chr(31)"

    def canon(c: str) -> str:
        # NULL-distinct per-column encoding, mirroring validate.table_diff:
        # '1'||value when present, '0' when NULL ('||' propagates NULL)
        return f"COALESCE('1' || CAST({c} AS VARCHAR), '0')"

    pkcat = f"concat_ws({sep}, {canon('l_orderkey')}, {canon('l_linenumber')})"
    rowcat = (
        f"concat_ws({sep}, {canon('l_orderkey')}, {canon('l_linenumber')}, "
        f"{canon('l_quantity')})"
    )
    fold = 1 << 60
    summ = """
  SELECT {h_pk} % 64 AS bucket, count(*) AS {side}_rows,
         CAST(sum({h_row}) % {fold} AS BIGINT) AS {side}_checksum
  FROM {rel} GROUP BY 1
"""
    return f"""
WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem),
dst AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 1000 = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity
  FROM lineitem WHERE l_orderkey % 777 != 0
),
ss AS ({summ.format(h_pk=h64_sql(pkcat), h_row=h64_sql(rowcat), fold=fold, side="src", rel="src")}),
ds AS ({summ.format(h_pk=h64_sql(pkcat), h_row=h64_sql(rowcat), fold=fold, side="dst", rel="dst")})
SELECT COALESCE(ss.bucket, ds.bucket) AS bucket,
       COALESCE(src_rows, 0) AS src_rows, COALESCE(dst_rows, 0) AS dst_rows,
       COALESCE(src_checksum, 0) AS src_checksum,
       COALESCE(dst_checksum, 0) AS dst_checksum
FROM ss FULL OUTER JOIN ds ON ss.bucket = ds.bucket
WHERE COALESCE(src_rows, 0) != COALESCE(dst_rows, 0)
   OR COALESCE(src_checksum, 0) != COALESCE(dst_checksum, 0)
"""


SQL_MIRROR_TABLE_DIFF = _table_diff_sql()


def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL reconstruction (cdc.py:CdcPipeline.state_as_of): the
    destination state as of a checkpoint bound, replayed from the append-only
    changelog WITHOUT touching the destination — the raw staging table as an
    event-sourcing log. Here: the lineitem changelog replayed only up to the
    median checkpoint (ck < 2^59, half the 60-bit hash space), merged over
    the base snapshot. The oracle applies the same bound inside the LWW
    rank — certifying that bounded replay ≡ point-in-time normalize."""
    (li,) = _t(spark, sf_dir, "lineitem")
    bound = 1 << 59
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r)
    chg = (
        lineitem_changes(li, _r)
        .where(F.col("ck") < bound)
        .select(
            "pk", "qty", "price", "flag",
            F.col("kind").alias(N.COL_KIND),
            F.col("ck").alias(N.COL_CHECKPOINT),
            F.col("cts").alias(N.COL_COMMIT_TS),
        )
    )
    return N.merge_changes(base, chg, ["pk"]).select("pk", "qty", "price", "flag")


SQL_CDC_TIME_TRAVEL = f"""
WITH base AS ({BASE_SQL}),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cts DESC, ck DESC) rn
    FROM ({CHANGES_SQL}) WHERE ck < {1 << 59}
  ) WHERE rn = 1
)
SELECT b.pk, b.qty, b.price, b.flag
FROM base b WHERE b.pk NOT IN (SELECT pk FROM last)
UNION ALL
SELECT l.pk, l.qty, l.price, l.flag
FROM last l WHERE l.kind <> 'delete'
"""


def q_cdc_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge with soft-delete tombstones (ref: normalize_stmt_generator.go:127-135).

    Includes deletes of keys ABSENT from the destination (pk shifted by 10M):
    the reference materializes those as tombstone INSERTs
    ('WHEN NOT MATCHED AND _peerdb_record_type=2 THEN INSERT ... soft_delete=TRUE'),
    so the gate certifies that path, not just matched-delete updates."""
    (li,) = _t(spark, sf_dir, "lineitem")
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r)
    raw = lineitem_changes(li, _r)
    chg = raw.select(
        "pk", "qty", "price", "flag",
        F.col("kind").alias(N.COL_KIND),
        F.col("ck").alias(N.COL_CHECKPOINT),
        F.col("cts").alias(N.COL_COMMIT_TS),
    )
    unseen_deletes = raw.where(F.col("ck") % 5 == 0).select(
        (F.col("pk") + 10_000_000).alias("pk"), "qty", "price", "flag",
        F.lit("delete").alias(N.COL_KIND),
        F.col("ck").alias(N.COL_CHECKPOINT),
        F.col("cts").alias(N.COL_COMMIT_TS),
    )
    chg = chg.unionByName(unseen_deletes)
    out = N.merge_changes(base, chg, ["pk"], soft_delete_col="_peerdb_is_deleted")
    return out.select("pk", "qty", "price", "flag", "_peerdb_is_deleted")


SQL_CDC_SOFT_DELETE = f"""
WITH base AS ({BASE_SQL}),
chg AS (
  SELECT pk, ck, cts, kind, qty, price, flag FROM ({CHANGES_SQL})
  UNION ALL
  SELECT pk + 10000000 AS pk, ck, cts, 'delete' AS kind, qty, price, flag
  FROM ({CHANGES_SQL}) WHERE ck % 5 = 0
),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cts DESC, ck DESC) rn
    FROM chg
  ) WHERE rn = 1
)
SELECT b.pk, b.qty, b.price, b.flag, FALSE AS _peerdb_is_deleted
FROM base b WHERE b.pk NOT IN (SELECT pk FROM last)
UNION ALL
SELECT coalesce(b.pk, l.pk) AS pk,
       CASE WHEN l.kind = 'delete' AND b.pk IS NOT NULL THEN b.qty ELSE l.qty END AS qty,
       CASE WHEN l.kind = 'delete' AND b.pk IS NOT NULL THEN b.price ELSE l.price END AS price,
       CASE WHEN l.kind = 'delete' AND b.pk IS NOT NULL THEN b.flag ELSE l.flag END AS flag,
       l.kind = 'delete' AS _peerdb_is_deleted
FROM last l LEFT JOIN base b USING (pk)
"""


def q_cdc_pk_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK-changing updates (ref: flow/connectors/clickhouse/normalize_query.go
    :180-214, enablePrimaryUpdate): every 11th-checkpoint update moves its row
    to pk+20M, carrying the old pk in the `_old` image struct.
    normalize.split_pk_updates must delete the old-pk row and upsert the new
    one — without the split, the stale old-pk row would survive the merge and
    the final state (and this oracle) would differ."""
    (li,) = _t(spark, sf_dir, "lineitem")
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r)
    raw = lineitem_changes(li, _r)
    is_mv = (F.col("kind") == "update") & (F.col("ck") % 11 == 0)
    chg = raw.select(
        F.when(is_mv, F.col("pk") + 20_000_000).otherwise(F.col("pk")).alias("pk"),
        "qty", "price", "flag",
        F.col("kind").alias(N.COL_KIND),
        F.col("ck").alias(N.COL_CHECKPOINT),
        F.col("cts").alias(N.COL_COMMIT_TS),
        # partial old image: pk only (REPLICA IDENTITY USING INDEX shape) —
        # split_pk_updates backfills delete-row data cols from the new image
        F.when(
            is_mv,
            F.struct(
                F.col("pk").alias("pk"),
                F.lit(None).cast("double").alias("qty"),
                F.lit(None).cast("double").alias("price"),
                F.lit(None).cast("string").alias("flag"),
            ),
        ).alias(N.COL_OLD),
    )
    return N.merge_changes(base, chg, ["pk"]).select("pk", "qty", "price", "flag")


SQL_CDC_PK_UPDATE = f"""
WITH base AS ({BASE_SQL}),
chg0 AS (SELECT pk, ck, cts, kind, qty, price, flag FROM ({CHANGES_SQL})),
chg AS (
  SELECT CASE WHEN kind = 'update' AND ck % 11 = 0 THEN pk + 20000000 ELSE pk END AS pk,
         ck, cts, kind, qty, price, flag
  FROM chg0
  UNION ALL
  SELECT pk, ck, cts, 'delete' AS kind, qty, price, flag
  FROM chg0 WHERE kind = 'update' AND ck % 11 = 0
),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cts DESC, ck DESC) rn
    FROM chg
  ) WHERE rn = 1
)
SELECT b.pk, b.qty, b.price, b.flag
FROM base b WHERE b.pk NOT IN (SELECT pk FROM last)
UNION ALL
SELECT l.pk, l.qty, l.price, l.flag
FROM last l WHERE l.kind <> 'delete'
"""


def q_cdc_toast_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOAST-unchanged column backfill: updates arrive with price NULLed and
    marked unchanged; merge must keep the destination value."""
    (li,) = _t(spark, sf_dir, "lineitem")
    _r = _ranked_shared(li)
    base = lineitem_base(li, _r)
    raw = lineitem_changes(li, _r)
    chg = raw.select(
        "pk",
        "qty",
        F.when(F.col("ck") % 3 == 0, F.lit(None)).otherwise(F.col("price")).alias("price"),
        "flag",
        F.col("kind").alias(N.COL_KIND),
        F.col("ck").alias(N.COL_CHECKPOINT),
        F.col("cts").alias(N.COL_COMMIT_TS),
        F.when(F.col("ck") % 3 == 0, F.array(F.lit("price")))
        .otherwise(F.array().cast("array<string>"))
        .alias(N.COL_UNCHANGED),
    )
    return N.merge_changes(base, chg, ["pk"]).select("pk", "qty", "price", "flag")


SQL_CDC_TOAST_COALESCE = f"""
WITH chg AS (
  SELECT pk, ck, cts, kind, qty,
         CASE WHEN ck % 3 = 0 THEN NULL ELSE price END AS price,
         flag,
         ck % 3 = 0 AS price_unchanged
  FROM ({CHANGES_SQL})
),
base AS ({BASE_SQL}),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY pk ORDER BY cts DESC, ck DESC) rn
    FROM chg
  ) WHERE rn = 1
)
SELECT b.pk, b.qty, b.price, b.flag
FROM base b WHERE b.pk NOT IN (SELECT pk FROM last)
UNION ALL
SELECT l.pk, l.qty,
       CASE WHEN l.price_unchanged AND b.pk IS NOT NULL THEN b.price ELSE l.price END AS price,
       l.flag
FROM last l LEFT JOIN base b USING (pk)
WHERE l.kind <> 'delete'
"""


def q_cdc_rmt_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy ReplacingMergeTree-style dedup-on-read over the events stream
    (ref: clickhouse normalize_query.go:327-332)."""
    (ev,) = _t(spark, sf_dir, "events")
    chg = events_changelog(ev)
    out = N.rmt_latest_view(
        chg, ["pk"], version_col="ck", tiebreak_col="ck", is_deleted=F.col("kind") == "delete"
    )
    return out.select("pk", "ck", "event_type", "value")


SQL_CDC_RMT_VIEW = f"""
WITH chg AS ({EVENTS_CHANGELOG_SQL})
SELECT pk, ck, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY ck DESC) rn FROM chg
) WHERE rn = 1 AND kind <> 'delete'
"""


def q_cdc_record_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind record counts (ref: record.go:70-147 PopulateCountMap)."""
    (ev,) = _t(spark, sf_dir, "events")
    return (
        events_changelog(ev)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


SQL_CDC_RECORD_COUNTS = f"""
WITH chg AS ({EVENTS_CHANGELOG_SQL})
SELECT kind, count(*) AS n_records FROM chg GROUP BY kind
"""


def q_cdc_unchanged_toast_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY_AGG(DISTINCT unchanged-cols) per destination (ref: client.go:54-56)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    chg = lineitem_changelog(li).withColumn(
        "unchanged",
        F.when(F.col("ck") % 3 == 0, F.lit("price"))
        .when(F.col("ck") % 5 == 0, F.lit("price,qty"))
        .otherwise(F.lit("")),
    )
    return (
        # deletes excluded — reference filters _peerdb_record_type != 2
        # (client.go getTableNameToUnchangedToastColsSQL)
        chg.where(F.col("kind") != "delete")
        .withColumn("dst_table", F.concat(F.lit("dst_"), F.col("flag")))
        .groupBy("dst_table")
        .agg(F.array_join(F.sort_array(F.collect_set("unchanged")), "|").alias("toast_sets"))
    )


SQL_CDC_UNCHANGED_TOAST = f"""
WITH chg AS (
  SELECT *, CASE WHEN ck % 3 = 0 THEN 'price'
                 WHEN ck % 5 = 0 THEN 'price,qty'
                 ELSE '' END AS unchanged
  FROM ({LINEITEM_CHANGELOG_SQL})
)
SELECT concat('dst_', flag) AS dst_table,
       string_agg(DISTINCT unchanged, '|' ORDER BY unchanged) AS toast_sets
FROM chg WHERE kind <> 'delete' GROUP BY concat('dst_', flag)
"""


def q_mongo_changestream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo change-stream decode under the gate (sources/mongo.py — pure
    JVM get_json_object decode): change events are synthesized from orders
    (op from o_orderkey%4 incl. a 'replace'→update mapping, resume-token hex
    checkpoints, clusterTime seconds), round-tripped through real event JSON
    (to_json), and decoded back. The oracle states the expected decoded
    relation directly — upgrading this source from rows-only to value-
    verified. Timestamps leave as epoch seconds (gate transport rule)."""
    from peerdb_spark.functions import ensure_parallelism
    from peerdb_spark.sources.mongo import changestream_to_changelog

    # orders.parquet is one small file at bench SFs → one split; the decode is
    # CPU-bound (JSON serialize+parse per row), so fan out first
    od = ensure_parallelism(_t(spark, sf_dir, "orders")[0])
    k = F.col("o_orderkey")
    op = (
        F.when(k % 4 == 0, "delete")
        .when(k % 4 == 1, "insert")
        .when(k % 4 == 2, "update")
        .otherwise("replace")
    )
    full_doc = F.when(
        k % 4 != 0,
        F.struct(
            F.col("o_orderkey"), F.col("o_custkey"), F.col("o_orderstatus")
        ),
    )
    event = F.to_json(
        F.struct(
            F.struct(
                F.concat(F.lit("82"), F.lpad(F.hex(k), 18, "0")).alias("_data")
            ).alias("_id"),
            op.alias("operationType"),
            F.struct(
                F.struct(
                    (F.lit(1_700_000_000) + k % 100_000).alias("t"),
                    F.lit(1).alias("i"),
                ).alias("$timestamp")
            ).alias("clusterTime"),
            F.struct(F.lit("app").alias("db"), F.lit("orders").alias("coll")).alias("ns"),
            F.struct(F.col("o_orderkey")).alias("documentKey"),
            full_doc.alias("fullDocument"),
        )
    )
    # materialize the synthesized event feed once (in production the events
    # arrive from the change-stream transport already materialized): without
    # the barrier, filter pushdown inlines the to_json synthesis into every
    # decode expression (~3x the whole query's runtime at sf0.1)
    events_df = od.select(event.alias("event_json")).localCheckpoint()
    decoded = changestream_to_changelog(events_df)
    return decoded.select(
        "_kind",
        "_checkpoint_id",
        F.col("_commit_ts").cast("long").alias("commit_s"),
        "_dst_table",
        "_data",
        "_old_data",
    )


SQL_MONGO_CHANGESTREAM_DECODE = """
SELECT CASE WHEN o_orderkey % 4 = 0 THEN 'delete'
            WHEN o_orderkey % 4 = 1 THEN 'insert'
            ELSE 'update' END AS _kind,
       '82' || lpad(hex(o_orderkey), 18, '0') AS _checkpoint_id,
       CAST(1700000000 + o_orderkey % 100000 AS BIGINT) AS commit_s,
       'app.orders' AS _dst_table,
       CASE WHEN o_orderkey % 4 = 0 THEN NULL
            ELSE '{"o_orderkey":' || o_orderkey || ',"o_custkey":' || o_custkey
                 || ',"o_orderstatus":"' || o_orderstatus || '"}' END AS _data,
       '{"o_orderkey":' || o_orderkey || '}' AS _old_data
FROM orders
"""


def q_mirror_lag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replication-lag gauges under the gate (alerting.py:lag_snapshot /
    lag_metrics_df — the data the reference's alerter thresholds evaluate,
    flow/alerting/alerting.go): deterministic batch metrics derived from the
    orders table (5 modulo-batches, checkpoint = o_orderkey) are recorded
    into a scratch catalog, then the per-mirror lag snapshot is computed.
    slot_lag = current source head − last synced checkpoint; the oracle
    states the same arithmetic in SQL, so the gauge math is cross-engine
    verified, not just unit-tested. Driver-side state is O(batches) = 5."""
    import tempfile

    from peerdb_spark.alerting import lag_metrics_df
    from peerdb_spark.registry import Catalog

    (od,) = _t(spark, sf_dir, "orders")
    stats = (
        od.groupBy((F.col("o_orderkey") % 5).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("o_orderkey").alias("hi"),
        )
        .collect()
    )  # bounded: exactly 5 rows
    cat = Catalog(tempfile.mkdtemp(prefix="peerdb_lagq_"))
    for r in sorted(stats, key=lambda r: r["b"]):
        cat.record_batch_metrics("m1", int(r["b"]), int(r["n"]), None, int(r["hi"]))
    head = max(int(r["hi"]) for r in stats) + 10_000
    return lag_metrics_df(spark, cat, ["m1"], {"m1": head})


SQL_MIRROR_LAG_METRICS = """
WITH b AS (
  SELECT o_orderkey % 5 AS b, count(*) AS n, max(o_orderkey) AS hi
  FROM orders GROUP BY 1
)
SELECT 'm1' AS mirror,
       CAST(max(b) AS BIGINT) AS last_batch_id,
       CAST(max(hi) AS BIGINT) AS last_synced_checkpoint,
       CAST(max(hi) + 10000 AS BIGINT) AS current_source_checkpoint,
       CAST(10000 AS BIGINT) AS slot_lag,
       CAST(sum(n) AS BIGINT) AS rows_synced
FROM b
"""


def _mirror_view_rounds(
    cl: DataFrame,
    fold: Callable[[DataFrame | None, DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Fold the changelog `cl` into a view in 3 checkpoint-interleaved
    rounds: each round LWW-merges its batch into the mirror (tombstones
    retained) and `fold(view, pre, post)` folds the live merge images.
    Returns the final view."""
    from concurrent.futures import ThreadPoolExecutor

    from peerdb_spark.mview import lww_merge_touched

    mirror, view = None, None
    with ThreadPoolExecutor(max_workers=2) as pool:
        for k in range(3):
            batch = cl.where(F.col("ck") % 3 == k)
            pre, post, mirror = lww_merge_touched(mirror, batch, "pk", "ck")
            live = F.col("kind") != "delete"
            view = fold(view, pre.where(live), post.where(live))
            # two jobs per round: the new mirror and the folded view — every
            # other relation (pre/post/delta/touched) recomputes lazily from
            # the PREVIOUS round's materialized mirror. Measured at sf0.01:
            # barrier-per-intermediate 16s, these two 3.4s, view left lazy
            # 6.9s (the 2^rounds cold/hot duplication out-costs one tiny-job
            # barrier). r12: both derive only from the PREVIOUS round's
            # state, so the two jobs are independent — submit them from a
            # 2-thread pool (guide §2.6 overlap) instead of sequentially;
            # measured 3.45 -> 2.30 s at sf0.1.
            fm = pool.submit(lambda m=mirror: m.localCheckpoint(eager=True))
            fv = pool.submit(lambda v=view: v.localCheckpoint(eager=True))
            mirror, view = fm.result(), fv.result()
    return view


def q_cdc_mirror_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized aggregate view over a CDC mirror, maintained
    incrementally with RETRACTION (mview.py): the events changelog arrives
    as 3 batches in checkpoint-interleaved order; each batch LWW-merges
    into the mirror (tombstones retained to beat stragglers) and the
    per-event_type (cnt, sum, avg) view folds only the touched groups —
    insert = +row, delete = −row, update = −old +new. The oracle states
    the ONE-SHOT aggregate over the final mirror, certifying that O(touched)
    maintenance converges to the from-scratch answer. This is the
    "continuous aggregate over a replicated table" loop a reference user
    builds warehouse-side today."""
    from peerdb_spark.mview import mview_fold

    (ev,) = _t(spark, sf_dir, "events")
    cl = events_changelog(ev).select(
        "pk", "ck", "kind", "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("v_i"),
    )
    view = _mirror_view_rounds(
        cl, lambda view, pre, post: mview_fold(view, pre, post, ["event_type"], "v_i"))
    return view.select(
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_v").cast("long").alias("sum_v"),
        (F.col("sum_v").cast("double") / F.col("cnt")).alias("avg_v"),
    )


SQL_CDC_MIRROR_MVIEW = """
WITH cl AS (
  SELECT user_id AS pk, event_id AS ck,
         CASE event_type WHEN 'signup' THEN 'insert'
                         WHEN 'error' THEN 'delete'
                         ELSE 'update' END AS kind,
         event_type, CAST(round(value * 1000) AS BIGINT) AS v_i
  FROM events
),
w AS (
  SELECT * FROM cl QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ck DESC) = 1
)
SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(v_i) AS BIGINT) AS sum_v,
       CAST(sum(v_i) AS DOUBLE) / count(*) AS avg_v
FROM w WHERE kind != 'delete' GROUP BY event_type
"""


def q_cdc_enriched_mview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained ENRICHED view — revenue per nation over an
    orders CDC stream joined to customer→nation dims (mview.enrich_images:
    Δ(fact ⋈ dim) = Δfact ⋈ dim, the one-sided IVM rule). The synthetic
    orders changelog has inserts for every order, customer-MOVING updates
    for o_orderkey%5==0 (the row changes nation — full retraction across
    groups), deletes for %7==0; three checkpoint-interleaved batches fold
    into the view, and the oracle states the one-shot aggregate over the
    final merged state. Dims broadcast; every per-batch relation is
    batch-sized."""
    from peerdb_spark.mview import enrich_images, mview_fold

    od, cust, nat = _t(spark, sf_dir, "orders", "customer", "nation")
    n_cust = cust.count()  # custkeys are contiguous 0..n-1 at every SF
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ins = od.select(
        F.col("o_orderkey").alias("pk"), (F.col("o_orderkey") * 2).alias("ck"),
        F.lit("insert").alias("kind"), F.col("o_custkey").alias("custkey"),
        cents.alias("cents"),
    )
    upd = od.where(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("pk"), (F.col("o_orderkey") * 2 + 1).alias("ck"),
        F.lit("update").alias("kind"),
        ((F.col("o_custkey") + 7) % n_cust).alias("custkey"),
        (cents + 500).alias("cents"),
    )
    dele = od.where(F.col("o_orderkey") % 7 == 0).select(
        F.col("o_orderkey").alias("pk"), (F.col("o_orderkey") * 2 + 2).alias("ck"),
        F.lit("delete").alias("kind"), F.col("o_custkey").alias("custkey"),
        F.lit(0).cast("long").alias("cents"),
    )
    cl = ins.unionByName(upd).unionByName(dele)
    dims = cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_custkey").alias("custkey"), "n_name"
    )

    def fold(view: DataFrame | None, pre: DataFrame, post: DataFrame) -> DataFrame:
        epre, epost = enrich_images(pre, post, dims, "custkey")
        return mview_fold(view, epre, epost, ["n_name"], "cents")

    view = _mirror_view_rounds(cl, fold)
    return view.select(
        "n_name",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_v").cast("long").alias("sum_cents"),
    )


SQL_CDC_ENRICHED_MVIEW = """
WITH cl AS (
  SELECT o_orderkey AS pk, o_orderkey*2 AS ck, 'insert' AS kind,
         o_custkey AS custkey, CAST(round(o_totalprice*100) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderkey*2+1, 'update',
         (o_custkey + 7) % (SELECT count(*) FROM customer),
         CAST(round(o_totalprice*100) AS BIGINT) + 500
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_orderkey*2+2, 'delete', o_custkey, 0
  FROM orders WHERE o_orderkey % 7 = 0
),
w AS (
  SELECT * FROM cl QUALIFY row_number() OVER (PARTITION BY pk ORDER BY ck DESC) = 1
)
SELECT n_name, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM w
JOIN customer ON custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE kind != 'delete'
GROUP BY n_name
"""
