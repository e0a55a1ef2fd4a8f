"""Property-based check of the normalize merge: arbitrary I/U/D workloads must
converge to the same state as a sequential dict replay (the reference's
convergence-equality oracle pattern, flow/e2e/test_utils.go)."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from peerdb_spark import normalize as N

TS = dt.datetime(2024, 1, 1)

ops = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=1, max_value=6),  # pk — small range forces collisions
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
    ),
    min_size=0,
    max_size=25,
)
base_rows = st.dictionaries(
    st.integers(min_value=1, max_value=6),
    st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
    max_size=4,
)


def replay(base: dict, events: list, soft_delete: bool = False) -> dict:
    """Sequential reference semantics: upsert on insert/update, remove on
    delete (delete of absent key is a no-op).

    With soft_delete every key maps to (val, deleted) and a delete leaves a
    tombstone holding the last values the destination held for the key —
    the reference MERGE's `WHEN MATCHED AND type=2 THEN UPDATE SET
    deleted=TRUE` keeps the pre-batch row, and a delete of a key the
    destination never held INSERTs the delete's own image."""
    state = {pk: (val, False) for pk, val in base.items()}
    for kind, pk, val in events:
        if kind != "delete":
            state[pk] = (val, False)
        elif soft_delete:
            state[pk] = (base.get(pk, val), True)
        else:
            state.pop(pk, None)
    return state if soft_delete else {pk: val for pk, (val, _) in state.items()}


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(base=base_rows, events=ops, soft_delete=st.booleans())
def test_merge_matches_sequential_replay(spark, base, events, soft_delete):
    dest = (
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "id long, val string"
        )
        if base
        else None
    )
    chg_rows = [
        {
            "_kind": kind,
            "_checkpoint_id": i,
            "_commit_ts": TS + dt.timedelta(seconds=i),
            "_txid": i,
            "_dst_table": "t",
            "_unchanged_cols": None,
            "id": pk,
            "val": val,
        }
        for i, (kind, pk, val) in enumerate(events)
    ]
    if not chg_rows:
        return
    chg = spark.createDataFrame(
        chg_rows,
        "id long, val string, _kind string, _checkpoint_id long, _commit_ts timestamp,"
        "_txid long, _dst_table string, _unchanged_cols array<string>",
    )
    if soft_delete:
        merged = N.merge_changes(dest, chg, ["id"], soft_delete_col="_del")
        got = {r["id"]: (r["val"], r["_del"]) for r in merged.collect()}
    else:
        got = {r["id"]: r["val"] for r in N.merge_changes(dest, chg, ["id"]).collect()}
    assert got == replay(base, events, soft_delete)


# --- PK-changing updates (normalize.split_pk_updates) ----------------------
# Ops now include ("move", old_pk, new_pk, val): an update whose old image
# carries a different primary key. Reference semantics
# (flow/connectors/clickhouse/normalize_query.go:180-214): the old-pk row is
# deleted, the new image upserts under the new pk.

move_ops = st.lists(
    st.one_of(
        st.tuples(
            st.sampled_from(["insert", "update", "delete"]),
            st.integers(min_value=1, max_value=6),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        ),
        st.tuples(
            st.just("move"),
            st.tuples(
                st.integers(min_value=1, max_value=6),
                st.integers(min_value=1, max_value=6),
            ),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        ),
    ),
    min_size=1,
    max_size=25,
)


def replay_with_moves(base: dict, events: list) -> dict:
    state = dict(base)
    for kind, key, val in events:
        if kind == "delete":
            state.pop(key, None)
        elif kind == "move":
            old_pk, new_pk = key
            if old_pk != new_pk:
                state.pop(old_pk, None)
            state[new_pk] = val
        else:
            state[key] = val
    return state


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(base=base_rows, events=move_ops)
def test_merge_with_pk_updates_matches_replay(spark, base, events):
    dest = (
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "id long, val string"
        )
        if base
        else None
    )
    chg_rows = []
    for i, (kind, key, val) in enumerate(events):
        if kind == "move":
            old_pk, new_pk = key
            chg_rows.append(
                {
                    "_kind": "update",
                    "_checkpoint_id": i,
                    "_commit_ts": TS + dt.timedelta(seconds=i),
                    "_txid": i,
                    "_dst_table": "t",
                    "_unchanged_cols": None,
                    "_old": {"id": old_pk, "val": None},
                    "id": new_pk,
                    "val": val,
                }
            )
        else:
            chg_rows.append(
                {
                    "_kind": kind,
                    "_checkpoint_id": i,
                    "_commit_ts": TS + dt.timedelta(seconds=i),
                    "_txid": i,
                    "_dst_table": "t",
                    "_unchanged_cols": None,
                    "_old": None,
                    "id": key,
                    "val": val,
                }
            )
    chg = spark.createDataFrame(
        chg_rows,
        "id long, val string, _kind string, _checkpoint_id long, _commit_ts timestamp,"
        "_txid long, _dst_table string, _unchanged_cols array<string>,"
        "_old struct<id: long, val: string>",
    )
    got = {r["id"]: r["val"] for r in N.merge_changes(dest, chg, ["id"]).collect()}
    assert got == replay_with_moves(base, events)
