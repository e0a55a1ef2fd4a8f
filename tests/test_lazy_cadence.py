"""Lazy normalize cadence as a first-class CdcPipeline policy (round 10):
normalize_every=k defers the merge while sync stays per-batch, read_table
serves the exact would-be-normalized state between merges, and the
watermark survives restarts.

Reference shape: the ClickHouse destination gets this for free from
ReplacingMergeTree background merges (flow/connectors/clickhouse/
normalize.go:119-126); here the cadence and read-through view are
explicit, crash-safe pipeline configuration.
"""

import datetime as dt

import pytest

from peerdb_spark import cdc
from peerdb_spark.storage import ParquetTable
from tests.test_cdc import VAL_SCHEMA, _changelog

TS = dt.datetime(2024, 1, 1)


def _batch(spark, batch_id, n=6):
    """Batch b upserts keys [b, b+n) (overlapping the previous batch) and
    deletes key b-1 when it exists — every batch touches prior state, so a
    deferred merge must fold ALL pending batches to be right."""
    rows = []
    for i in range(batch_id, batch_id + n):
        ck = batch_id * 1000 + i
        rows.append(
            ("update" if i < batch_id + n - 1 else "insert", ck, "t",
             {"id": i, "val": f"b{batch_id}", "amt": float(i)}, None, None))
    if batch_id > 1:
        rows.append(("delete", batch_id * 1000 + 999, "t", None,
                     {"id": batch_id - 1, "val": "", "amt": 0.0}, None))
    return _changelog(spark, [(k, c, d, p, o, u) for (k, c, d, p, o, u) in rows])


def _mk(spark, root, name, normalize_every=1):
    cfg = cdc.CdcTableConfig(
        "t", ["id"], VAL_SCHEMA, f"{root}/{name}/dst", n_buckets=4)
    return cdc.CdcPipeline(spark, f"{root}/{name}/raw", [cfg],
                           normalize_every=normalize_every)


def _state(df):
    return sorted((r["id"], r["val"], r["amt"]) for r in
                  df.select("id", "val", "amt").collect())


def _expect(b, n=6):
    """Literal-truth state after _batch(1).._batch(b): batch i upserts keys
    [i, i+n) with val=f"b{i}" and batch i+1 deletes key i, so the live set
    is exactly [b, b+n) and every live key's last writer is batch b.
    Replaces the eager twin pipeline this test used to run alongside
    (7 extra merges + per-batch dual reads — pure job overhead)."""
    return sorted((i, f"b{b}", float(i)) for i in range(b, b + n))


def test_cadence_defers_merges_and_read_through_matches_eager(spark, tmp_path):
    lazy = _mk(spark, str(tmp_path), "lazy", normalize_every=3)
    merged = []
    for b in range(1, 8):
        merged.append(lazy.process_batch(_batch(spark, b), b))
        # the read-through view equals the would-be-normalized truth at
        # every pending-tail class — one batch deferred (b1), two deferred
        # (b2), window just closed (b3), and the final mid-window point
        # after two full cadences (b7); b4-b6 repeat the same classes
        if b in (1, 2, 3, 7):
            assert _state(lazy.read_table("t")) == _expect(b), b
    # merges ran only on the cadence boundaries
    assert merged == [False, False, True, False, False, True, False]
    # destination on disk lags by the pending tail (batch 7 unmerged)
    dst = ParquetTable(spark, lazy.tables["t"].path, ["id"], 4).read()
    assert _state(dst) != _expect(7)
    # drain converges disk state to the live truth
    assert lazy.maybe_normalize(7, force=True)
    dst = ParquetTable(spark, lazy.tables["t"].path, ["id"], 4).read()
    assert _state(dst) == _expect(7)


def test_restart_resumes_cadence_watermark(spark, tmp_path):
    root = str(tmp_path)
    p1 = _mk(spark, root, "re", normalize_every=3)
    for b in range(1, 5):
        p1.process_batch(_batch(spark, b), b)  # merged through batch 3
    assert p1._last_normalized == 3
    # fresh instance over the same directories: watermark is persisted,
    # the pending tail (batch 4) is discovered from commit markers
    p2 = _mk(spark, root, "re", normalize_every=3)
    assert p2._last_normalized == 3
    assert _state(p2.read_table("t")) == _expect(4)
    # batches 5 and 6 complete the next window: exactly one merge (4..6)
    assert not p2.process_batch(_batch(spark, 5), 5)
    assert p2.process_batch(_batch(spark, 6), 6)
    assert p2._last_normalized == 6
    assert _state(p2.read_table("t")) == _expect(6)


def test_replayed_range_is_idempotent_under_cadence(spark, tmp_path):
    """Crash between normalize and watermark write → the range replays;
    LWW merge converges to the same state."""
    root = str(tmp_path)
    p = _mk(spark, root, "replay", normalize_every=2)
    for b in (1, 2):
        p.process_batch(_batch(spark, b), b)
    before = _state(p.read_table("t"))
    # simulate the lost watermark: re-normalize the already-merged range
    p.normalize_batches(1, 2)
    assert _state(p.read_table("t")) == before


def test_runner_policy_validation(spark, tmp_path):
    from peerdb_spark.streaming import CdcStreamRunner

    cfg = cdc.CdcTableConfig("t", ["id"], VAL_SCHEMA, str(tmp_path / "d"), 4)
    with pytest.raises(ValueError, match="distinct policies"):
        CdcStreamRunner(spark, str(tmp_path / "cl"), str(tmp_path / "ck"),
                        [cfg], str(tmp_path / "raw"), normalize_lag=2,
                        normalize_every=4)
    with pytest.raises(ValueError, match="retain_batches"):
        CdcStreamRunner(spark, str(tmp_path / "cl"), str(tmp_path / "ck"),
                        [cfg], str(tmp_path / "raw"), normalize_every=4,
                        retain_batches=2)


def test_stream_runner_lazy_cadence(spark, tmp_path):
    """End-to-end through Structured Streaming: 4 changelog files, cadence
    k=2 → two merges; catch_up drains nothing extra; final state equals
    the literal-truth state (_expect)."""
    from peerdb_spark.streaming import CdcStreamRunner

    cl_dir = tmp_path / "cl"
    cl_dir.mkdir()
    runner = CdcStreamRunner(
        spark, str(cl_dir), str(tmp_path / "ck"),
        [cdc.CdcTableConfig("t", ["id"], VAL_SCHEMA, str(tmp_path / "dst"), 4)],
        str(tmp_path / "raw"), max_files_per_trigger=1, normalize_every=2,
    )
    for b in range(1, 5):
        _batch(spark, b).coalesce(1).write.mode("append").parquet(str(cl_dir))
    runner.run_available()
    runner.catch_up()
    got = ParquetTable(spark, str(tmp_path / "dst"), ["id"], 4).read()
    assert _state(got) == _expect(4)


def test_auto_cadence_stretches_with_destination_growth(spark, tmp_path, monkeypatch):
    """normalize_every='auto' (round 10): the LSM-style trigger merges
    when the pending tail holds >= max(auto_min_rows, AUTO_RATIO x
    destination rows) (footer counts only). With the floor at one batch,
    a young mirror merges every batch; as the destination grows, merges
    stretch out — and read_table stays exact throughout."""
    monkeypatch.setattr(cdc, "AUTO_RATIO", 0.5)
    cfg = cdc.CdcTableConfig("t", ["id"], VAL_SCHEMA,
                             str(tmp_path / "a/dst"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "a/raw"), [cfg],
                           normalize_every="auto", auto_min_rows=40)

    def disjoint(b):  # each batch inserts a FRESH key range → dest grows
        rows = [("insert", b * 1000 + i, "t",
                 {"id": b * 100 + i, "val": f"b{b}", "amt": float(i)},
                 None, None) for i in range(40)]
        return _changelog(spark, rows)

    # disjoint inserts → literal-truth expected state (replaces the eager
    # twin pipeline: 8 extra merges for the same assertion)
    expect8 = sorted((bb * 100 + i, f"b{bb}", float(i))
                     for bb in range(1, 9) for i in range(40))

    merged = []
    for b in range(1, 9):
        merged.append(pipe.process_batch(disjoint(b), b))
    # batch 1 merges immediately (empty destination); afterwards each
    # batch adds 40 rows while the trigger needs >= half the GROWING
    # destination pending, so merges stretch out
    assert merged[0] is True
    assert 1 <= sum(merged) < 8
    # the gaps between merges grow (LSM-style): the last merge gap is
    # at least as long as the first post-bootstrap gap
    idx = [i for i, m in enumerate(merged) if m]
    if len(idx) >= 3:
        assert idx[-1] - idx[-2] >= idx[1] - idx[0]
    # the LAST merge must not be the only one if growth stretched the
    # cadence; regardless, the read-through view matches the live truth
    assert _state(pipe.read_table("t")) == expect8
    # drain converges the destination itself
    pipe.maybe_normalize(8, force=True)
    dst = ParquetTable(spark, cfg.path, ["id"], 4).read()
    assert _state(dst) == expect8


def test_attached_view_freshness_under_lazy_cadence(spark, tmp_path):
    """r11 (verdict #5): the read-freshness contract for maintained views
    under normalize_every=k — views fold from MERGE images, so between
    merges a view serves the state as of the LAST merge (RMT-like lag)
    while read_table serves the exact folded tail; when the window closes
    the view equals both the one-shot aggregate over the live destination
    AND a view rebuilt from scratch. A redelivered (replayed) merge range
    stays a no-op for the view."""
    from peerdb_spark.mview import ViewTable

    pipe = _mk(spark, str(tmp_path), "mv", normalize_every=3)
    view = ViewTable(spark, str(tmp_path / "mv/view"), ["val"], "amt")
    pipe.attach_view("t", view)

    def view_dict(v):
        df = v.read()
        return ({} if df is None else
                {r["val"]: (r["cnt"], r["sum_v"]) for r in df.collect()})

    def one_shot(df):
        return {
            r["val"]: (r["cnt"], r["sum_v"])
            for r in df.groupBy("val")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("amt").alias("sum_v"))
            .collect()
        }

    import pyspark.sql.functions as F

    merged = []
    for b in range(1, 7):
        merged.append(pipe.process_batch(_batch(spark, b), b))
        if merged[-1]:
            # window closed: view is exactly the live aggregate
            assert view_dict(view) == one_shot(pipe.read_table("t"))
        else:
            # mid-window: the view LAGS at the last merge while
            # read_table already serves the folded tail
            wm = pipe._last_normalized
            if wm is not None:
                assert view_dict(view) == one_shot(
                    pipe.state_as_of("t", wm))
                assert view_dict(view) != one_shot(pipe.read_table("t"))
    assert merged == [False, False, True, False, False, True]
    # equals a view REBUILT from scratch over the destination
    rebuilt = ViewTable(spark, str(tmp_path / "mv/view2"), ["val"], "amt")
    rebuilt.backfill(ParquetTable(
        spark, pipe.tables["t"].path, ["id"], 4).read())
    assert view_dict(view) == view_dict(rebuilt)
    # replayed merge range: state-based images net to zero
    before = view_dict(view)
    pipe.normalize_batches(4, 6)
    assert view_dict(view) == before


def test_auto_cadence_floor_gates_before_ratio(spark, tmp_path, monkeypatch):
    """r11 regression (ADVICE r10 medium) + r12 bootstrap (ADVICE r11
    low): the trigger is pending >= max(auto_min_rows, ratio x dest),
    EXCEPT while no destination exists yet (dest == 0), where every
    batch merges so direct-parquet readers see a destination from the
    first batch. Three branches pinned:
    (1) dest == 0 -> unconditional bootstrap merge (no bucket reread
        exists to amortize, so the floor's rationale doesn't apply);
    (2) once a destination exists, below the floor nothing merges;
    (3) over a GROWN destination, pending over the floor but under
        ratio x dest still defers (the old inverted code merged here,
        degenerating to near-eager merges exactly at large destinations)."""
    monkeypatch.setattr(cdc, "AUTO_RATIO", 1.0)
    cfg = cdc.CdcTableConfig("t", ["id"], VAL_SCHEMA,
                             str(tmp_path / "f/dst"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "f/raw"), [cfg],
                           normalize_every="auto", auto_min_rows=150)

    def disjoint(b):
        rows = [("insert", b * 1000 + i, "t",
                 {"id": b * 100 + i, "val": f"b{b}", "amt": float(i)},
                 None, None) for i in range(40)]
        return _changelog(spark, rows)

    # batches are disjoint inserts, so the exact expected state after
    # batch b is hand-computable — a literal-truth oracle that replaces
    # the eager twin pipeline this test used to run alongside (12 extra
    # merges + per-batch dual reads, ~half this test's wall time)
    def expect(b):
        return sorted((bb * 100 + i, f"b{bb}", float(i))
                      for bb in range(1, b + 1) for i in range(40))

    merged = []
    for b in range(1, 13):
        merged.append(pipe.process_batch(disjoint(b), b))
        # mid-deferral reads stay exact on every trigger branch: checked
        # at one representative batch per branch class (bootstrap-merged,
        # below-floor deferred, just-merged, ratio-deferred, tail-deferred)
        if b in (1, 2, 5, 9, 12):
            assert _state(pipe.read_table("t")) == expect(b), b
    # batch 1: dest == 0 -> bootstrap merge (dest becomes 40). Floor
    # branch: batches 2-4 hold 40/80/120 pending < 150 -> deferred;
    # batch 5 reaches 160 >= max(150, 1.0*40) -> merge (dest 200).
    # Batches 6-8 defer on the floor; batch 9 holds 160 >= floor but
    # < 1.0*200 -> ratio defers; batch 10 merges at 200 >= max(150, 200)
    # (dest 400); batches 11-12 hold 40/80 < floor -> DEFERRED (the
    # inverted pre-r11 code would have merged at batch 9)
    assert merged == [True, False, False, False, True,
                      False, False, False, False, True,
                      False, False]
    # the footer sweep is cached between merges and invalidated by them
    assert pipe._dest_rows is not None  # batch 12's check populated it
    pipe.maybe_normalize(12, force=True)
    assert pipe._dest_rows is None  # merge invalidated the cache
    dst = ParquetTable(spark, cfg.path, ["id"], 4).read()
    assert _state(dst) == expect(12)


def test_auto_cadence_validation():
    import pytest

    from peerdb_spark import cdc as C

    for bad in ("sometimes", 0):
        with pytest.raises(ValueError, match="normalize_every"):
            C.CdcPipeline(None, "/tmp/x", [], normalize_every=bad)
