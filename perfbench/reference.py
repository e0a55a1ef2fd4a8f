"""Independent DuckDB reference for the benchmark's correctness checks.

The reference reads only the generator's flat files (`seed.parquet`,
`events.parquet`), never the engine's changelog, raw or destination files.
Its semantics: last writer wins by checkpoint per key; a delete removes the
key; a TOAST-unchanged `note` keeps the key's previous value.
"""

from __future__ import annotations

import os

import duckdb

_STATE_SQL = """
WITH allrows AS (
    {seed}
    SELECT pk, ck, kind, qty, flag, note, note_unchanged
    FROM read_parquet('{events}') WHERE batch <= {upto}
),
last AS (
    SELECT pk, arg_max({{'kind': kind, 'qty': qty, 'flag': flag}}, ck) AS w
    FROM allrows GROUP BY pk
),
notes AS (
    SELECT pk, arg_max(note, ck) AS note FROM allrows
    WHERE kind <> 'delete' AND NOT note_unchanged GROUP BY pk
)
SELECT l.pk, l.w.qty AS qty, l.w.flag AS flag, n.note
FROM last l LEFT JOIN notes n USING (pk)
WHERE l.w.kind <> 'delete'
"""

_SEED_SQL = """
    SELECT pk, -1 AS ck, 'insert' AS kind, qty, flag, note, false AS note_unchanged
    FROM read_parquet('{seed}')
    UNION ALL
"""


class Reference:
    """Reference states over one input dir (a feed or a WAL backlog)."""

    def __init__(self, input_dir: str, work_dir: str):
        self.input_dir = input_dir
        seed = os.path.join(input_dir, "seed.parquet")
        self._seed = _SEED_SQL.format(seed=seed) if os.path.exists(seed) else ""
        self._events = os.path.join(input_dir, "events.parquet")
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{work_dir}'")
        self.con.execute("SET threads=2")

    def close(self) -> None:
        self.con.close()

    def _state(self, upto: int) -> str:
        return _STATE_SQL.format(seed=self._seed, events=self._events, upto=upto)

    def rows(self, upto: int) -> set[tuple]:
        """(pk, qty, flag, note) of every live key after batch/chunk `upto`."""
        return set(self.con.execute(self._state(upto)).fetchall())

    def aggregate(self, upto: int) -> dict[str, tuple[int, int]]:
        """flag -> (count, sum(qty)) over the state after `upto`."""
        q = f"SELECT flag, count(*), sum(qty) FROM ({self._state(upto)}) GROUP BY flag"
        return {f: (int(c), int(s)) for f, c, s in self.con.execute(q).fetchall()}

    def lookup(self, upto: int, pk: int) -> tuple | None:
        q = f"SELECT pk, qty, flag, note FROM ({self._state(upto)}) WHERE pk = {int(pk)}"
        got = self.con.execute(q).fetchall()
        return got[0] if got else None


def as_ints(row) -> tuple:
    """Normalise a destination row (pk, qty, flag, note): the WAL
    destination stores text columns, the feed destination bigint ones."""
    pk, qty, flag, note = row
    return (int(pk), None if qty is None else int(qty), flag, note)
