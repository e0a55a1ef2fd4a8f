"""Incremental materialized-view maintenance over a CDC mirror.

The reference replicates changelogs into warehouses precisely so users can
keep aggregates there; the warehouse then recomputes those aggregates from
scratch on every query. This module closes the loop Spark-side: a GROUPED
AGGREGATE VIEW over the mirrored table, maintained O(touched keys) per sync
batch with full retraction support — the incremental-view-maintenance rule
(insert = +row, delete = −row, update = −old +new) specialized to the
retractable measures cnt/sum (avg = sum/cnt downstream).

Contrast with rollup.py: rollups fold APPEND-ONLY event streams (all four
measures are mergeable because rows never retract). A CDC mirror retracts —
updates move rows between groups and deletes remove them — so min/max stop
being foldable (removing the current min forces a re-scan of its group) and
are deliberately absent here; a caller needing them re-aggregates the
touched groups from the mirror (bounded by the batch's key set).

Inputs are the natural by-products of any merge step: the PRE-image (mirror
rows for the batch's keys before the merge) and the POST-image (those keys
after). Both are O(batch), obtained with a broadcast semi-join against the
mirror — the view maintenance itself never scans the mirror or the view
beyond the touched groups (cold groups pass through via anti-join, the
rollup_merge cold/hot pattern).

Correctness invariant (pinned by tests + the declared oracle): folding any
batch split, in any order the merge itself tolerates, equals the one-shot
aggregate over the final mirror state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peerdb_spark.rollup import (
    is_applied,
    publish_epoch,
    publish_version,
    read_pointer,
    read_version,
)


def group_contrib(rows: DataFrame, dims: list[str], value_col: str) -> DataFrame:
    """(dims, cnt, sum_v): one batch-sized hash agg with map-side partials."""
    return rows.groupBy(*dims).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("sum_v"),
    )


def mview_fold(
    view: DataFrame | None,
    pre_image: DataFrame,
    post_image: DataFrame,
    dims: list[str],
    value_col: str,
) -> DataFrame:
    """Fold one merge batch's pre/post images into the maintained view.

    delta = contrib(post) − contrib(pre), combined into the view on the
    touched group keys only; groups whose count reaches zero disappear
    (a group is either absent or carries live rows — no tombstones).
    `view=None` bootstraps and assumes `pre_image` is EMPTY (a fresh
    mirror); to start a view over a mirror that already has rows, seed it
    with the one-shot aggregate first (ViewTable.backfill) — folding
    deltas into None would silently drop the pre-existing contributions.

    Shape: the images become signed rows — post (dims, +1, +v), pre
    (dims, −1, −v) — aggregated ONCE together with the view's hot groups;
    the touched-group probe is their distinct dims, so the broadcast stays
    O(touched groups). The result keeps the incoming view's cnt/sum_v types
    (group_contrib's when `view` is None): a fold never widens a decimal.

    Materialization contract: this function takes NO checkpoints — the
    returned view is one lazy plan over its inputs, so a caller chaining
    folds materializes each round's RESULT (`view =
    mview_fold(...).localCheckpoint(eager=True)`, one job per round) to
    keep the plan linear.
    """
    v = F.col(value_col)
    rows = post_image.select(*dims, F.lit(1).alias("cnt"), v.alias("sum_v")).unionByName(
        pre_image.select(*dims, F.lit(-1).alias("cnt"), (-v).alias("sum_v")))
    types = (view if view is not None else group_contrib(pre_image, dims, value_col)).schema
    if view is not None:
        touched = F.broadcast(rows.select(*dims).distinct())
        rows = view.join(touched, dims, "left_semi").unionByName(rows)
    out = (rows.groupBy(*dims)
           .agg(*[F.sum(c).cast(types[c].dataType).alias(c) for c in ("cnt", "sum_v")])
           .where(F.col("cnt") != 0))
    return out if view is None else view.join(touched, dims, "left_anti").unionByName(out)


def enrich_images(
    pre_image: DataFrame,
    post_image: DataFrame,
    dims_df: DataFrame,
    on: str | list[str],
) -> tuple[DataFrame, DataFrame]:
    """Incremental maintenance of an ENRICHED view (fact ⋈ dimension):
    join both touched-pk images to the dim relation before folding. The
    dim side is constant within the batch, so Δ(fact ⋈ dim) =
    Δfact ⋈ dim — folding the enriched images is exact (the standard IVM
    one-sided delta rule). The dim relation broadcasts (it is the small
    side by construction); batch-sized images probe it, so enrichment adds
    zero shuffles. For a change on the DIM side use `dim_update_images`
    (the other half of two-sided IVM)."""
    return (
        pre_image.join(F.broadcast(dims_df), on),
        post_image.join(F.broadcast(dims_df), on),
    )


def dim_update_images(
    fact_live: DataFrame,
    dim_pre: DataFrame,
    dim_post: DataFrame,
    on: str | list[str],
) -> tuple[DataFrame, DataFrame]:
    """Two-sided IVM, dim half: for a DIMENSION change the join delta is
    fact ⋈ Δdim — every live fact row of a touched dim key contributes its
    OLD enrichment negatively and its NEW enrichment positively. Returns
    (pre, post) contribution images to feed mview_fold: the fact mirror
    joined to the dim pre-image and post-image respectively.

    Cost: the (batch-sized) dim images broadcast; the fact mirror is
    probed, never shuffled — at scale partition/bucket the mirror by the
    join key so the probe prunes files. A dim DELETE removes its fact
    rows' contributions entirely (they vanish from the view, matching
    inner-join semantics); a dim insert adds previously-dangling facts."""
    return (
        fact_live.join(F.broadcast(dim_pre), on),
        fact_live.join(F.broadcast(dim_post), on),
    )


def minmax_refresh(
    view: DataFrame | None,
    mirror_live: DataFrame,
    touched_dims: DataFrame,
    dims: list[str],
    value_col: str,
) -> DataFrame:
    """Maintain NON-retractable measures (min/max) next to a retractable
    view: re-aggregate ONLY the touched groups from the live mirror rows
    (a deletion may have removed the current extremum, so the group must
    be re-scanned — there is no algebraic retraction for min/max).

    `view` is a prior (dims, min_v, max_v) relation or None;
    `touched_dims` is the batch's group-key set — ALL groups the batch
    touched, including groups rows LEFT (pass the union of pre- and
    post-image keys; a group emptied by the batch simply disappears).
    Cost: one broadcast-semi slice of the mirror + a hash agg over the
    touched groups' rows — bounded by group sizes, not mirror size. At
    100 TB keep the mirror bucketed/partitioned by a dim prefix so the
    slice prunes files."""
    fresh = (
        mirror_live.join(F.broadcast(touched_dims), dims, "left_semi")
        .groupBy(*dims)
        .agg(F.min(value_col).alias("min_v"), F.max(value_col).alias("max_v"))
    )
    if view is None:
        return fresh
    cold = view.join(F.broadcast(touched_dims), dims, "left_anti")
    return cold.unionByName(fresh)


def lww_merge_touched(
    mirror: DataFrame | None,
    batch: DataFrame,
    pk_col: str,
    ck_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """LWW-merge a change batch into a mirror that stores its winning
    checkpoint per row, returning (pre_image, post_image, new_mirror).

    Winner = greatest checkpoint — commutative across batches, so batches
    may arrive in ANY order (delete tombstones stay in the mirror to beat
    stragglers; filter kind != 'delete' when reading). `ck_col` must be
    unique per pk within `mirror ∪ batch` (checkpoint ids are). pre/post
    are the touched-pk slices the view fold consumes; the mirror updates
    via broadcast anti-join of the touched keys + union (at scale: a
    partitioned-overwrite of the touched pk buckets).

    No checkpoints are taken here: pre/post/new_mirror are lazy slices of
    `mirror` and the batch. A chaining caller materializes the RETURNED
    mirror once per round (one job) and lets pre/post recompute from the
    previous round's already-materialized mirror — the measured-cheapest
    scheme (each extra barrier costs a scheduler round-trip).
    """
    cols = batch.columns
    w = (
        batch.groupBy(pk_col)
        .agg(F.max_by(F.struct(*[c for c in cols if c != pk_col]), ck_col).alias("_w"))
        .select(pk_col, "_w.*")
    )
    if mirror is None:
        empty = w.where(F.lit(False))
        return empty, w, w
    touched = w.select(pk_col)
    pre = mirror.join(F.broadcast(touched), pk_col, "left_semi")
    post = (
        pre.unionByName(w)
        .groupBy(pk_col)
        .agg(F.max_by(F.struct(*[c for c in cols if c != pk_col]), ck_col).alias("_w"))
        .select(pk_col, "_w.*")
    )
    new_mirror = mirror.join(F.broadcast(touched), pk_col, "left_anti").unionByName(post)
    return pre, post, new_mirror


class ViewTable:
    """Durable maintained VIEW only — for callers whose mirror already has
    durable storage (CdcPipeline's bucketed ParquetTable destinations).
    Folds (pre, post) touched-pk images produced by the merge step
    (normalize.merge_into_table(return_images=True)); same versioned-
    pointer crash contract and single-writer assumption as MviewTable.
    The pointer also records each version's schema, so reads infer none.
    `batch_id` is the normalize epoch, recorded as a watermark
    (rollup.publish_epoch): a fold at or below it is a no-op."""

    def __init__(self, spark, path: str, dims: list[str], value_col: str):
        import os

        self.spark = spark
        self.path = path
        self.dims = dims
        self.value_col = value_col
        os.makedirs(path, exist_ok=True)

    def read(self) -> DataFrame | None:
        return read_version(self.spark, self.path)

    def backfill(self, live_rows: DataFrame) -> bool:
        """Seed the view from EXISTING table state (attaching mid-life):
        the one-shot aggregate becomes the first version; subsequent folds
        are incremental. Consumes NO batch id — a later replayed normalize
        whose effects the backfill already contains folds pre==post and
        nets to zero (images are state-based, so this is self-correcting).
        No-op when the view already has a version."""
        m = read_pointer(self.path)
        if m["version"] > 0:
            return False
        publish_version(self.path, m, group_contrib(live_rows, self.dims, self.value_col))
        return True

    def fold(self, pre_image: DataFrame, post_image: DataFrame, batch_id: int) -> bool:
        m = read_pointer(self.path)
        if is_applied(m, batch_id):
            return False
        new_view = mview_fold(
            self.read(), pre_image, post_image, self.dims, self.value_col
        )
        publish_epoch(self.path, m, new_view, batch_id)
        return True


class MviewTable:
    """Durable mirror + maintained view with EXACTLY-ONCE folding — the
    mview analogue of rollup.RollupTable, same crash contract: each fold
    writes the NEXT versioned snapshot (v{n}/mirror + v{n}/view parquet)
    fully, then swings the `_CURRENT` pointer with an atomic rename; the
    two relations commit ATOMICALLY because they share one pointer. A
    crash mid-fold leaves an orphan v{n+1} the next fold overwrites.
    Redelivered batch ids are no-ops (watermark-compacted applied set —
    rollup._compact_applied); plug `fold` straight into foreachBatch.
    SINGLE WRITER assumed (the foreachBatch contract — micro-batches are
    serialized per query); readers only ever follow the published pointer.
    """

    def __init__(self, spark, path: str, pk_col: str, ck_col: str,
                 kind_col: str, dims: list[str], value_col: str):
        import os

        self.spark = spark
        self.path = path
        self.pk_col = pk_col
        self.ck_col = ck_col
        self.kind_col = kind_col
        self.dims = dims
        self.value_col = value_col
        os.makedirs(path, exist_ok=True)

    def mirror(self) -> DataFrame | None:
        """Full mirror state incl. delete tombstones (they beat stragglers)."""
        return read_version(self.spark, self.path, "mirror")

    def view(self) -> DataFrame | None:
        """The maintained grouped aggregate (live rows only)."""
        return read_version(self.spark, self.path, "view")

    def fold(self, batch: DataFrame, batch_id: int) -> bool:
        m = read_pointer(self.path)
        if is_applied(m, batch_id):
            return False
        pre, post, new_mirror = lww_merge_touched(
            self.mirror(), batch, self.pk_col, self.ck_col
        )
        live = F.col(self.kind_col) != "delete"
        new_view = mview_fold(
            self.view(), pre.where(live), post.where(live),
            self.dims, self.value_col,
        )
        # mirror first: the view write re-reads pre/post, whose plans scan
        # the PREVIOUS version's parquet — both writes land before the
        # pointer swings, so readers never see a half-published version
        publish_version(self.path, m, {"mirror": new_mirror, "view": new_view}, batch_id)
        return True
