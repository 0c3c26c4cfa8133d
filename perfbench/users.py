"""Seeded inputs and the shadow model for a FIXTURES.md F1 ``users`` table
(id long, name string, email string null on odd ids, created_at timestamp).

The model is the benchmark's own record of the rows the table must hold; the
checks compare the table, read back through the package, against it.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = dt.datetime(2024, 1, 1)
WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
ARROW_SCHEMA = pa.schema([
    pa.field("id", pa.int64(), nullable=False),
    pa.field("name", pa.string(), nullable=False),
    pa.field("email", pa.string()),
    pa.field("created_at", pa.timestamp("us"), nullable=False),
])
SPARK_DDL = "id long not null, name string not null, email string, created_at timestamp_ntz not null"
COLS = ("id", "name", "email", "created_at")


def rows_for(ids, rng: np.random.Generator, tag: str = "") -> list[tuple]:
    words = rng.integers(0, len(WORDS), len(ids))
    jitter = rng.integers(0, 1_000_000, len(ids))
    return [
        (int(i), f"User {i} {WORDS[w]}{tag}",
         None if i % 2 else f"user{i}.{WORDS[w]}@example.com",
         BASE + dt.timedelta(seconds=int(i), microseconds=int(j)))
        for i, w, j in zip(ids, words, jitter)
    ]


def to_arrow(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in COLS]
    return pa.table([pa.array(c, t.type) for c, t in zip(cols, ARROW_SCHEMA)],
                    schema=ARROW_SCHEMA)


def _write_chunk(args) -> None:
    paths, rows = args
    for p, r in zip(paths, rows):
        pq.write_table(to_arrow(r), p)


def start_writes(paths: list[str], rows: list[list[tuple]], procs: int = 4):
    """Start writing one small parquet file per entry in a few worker
    processes; returns a function that waits for them and joins the pool."""
    import multiprocessing as mp

    pool = mp.get_context("fork").Pool(procs)
    pending = pool.map_async(_write_chunk, [(paths[k::procs], rows[k::procs])
                                            for k in range(procs)])

    def finish() -> None:
        try:
            pending.get()
        finally:
            pool.close()
            pool.join()

    return finish


class Model:
    """id -> row tuple."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}

    def add(self, rows: list[tuple]) -> None:
        for r in rows:
            self.rows[r[0]] = r

    def delete(self, ids) -> None:
        for i in ids:
            self.rows.pop(i, None)

    def set_name(self, ids, name: str) -> None:
        for i in ids:
            if i in self.rows:
                r = self.rows[i]
                self.rows[i] = (r[0], name, r[2], r[3])

    def snapshot(self) -> dict[int, tuple]:
        return dict(self.rows)

    def ids(self) -> list[int]:
        return sorted(self.rows)


def table_rows(arrow_table: pa.Table) -> list[tuple]:
    cols = [arrow_table.column(c).to_pylist() for c in COLS]
    return sorted(zip(*cols))


def diff(before: dict[int, tuple], after: dict[int, tuple]) -> Counter:
    """Expected changelog of one commit: deleted and inserted rows."""
    out: Counter = Counter()
    for i, r in before.items():
        if after.get(i) != r:
            out[("delete",) + r] += 1
    for i, r in after.items():
        if before.get(i) != r:
            out[("insert",) + r] += 1
    return out


def changes_rows(arrow_table: pa.Table) -> Counter:
    cols = [arrow_table.column(c).to_pylist() for c in ("_change_type",) + COLS]
    return Counter(zip(*cols))


def planned_ids(location: str, tasks, seen: dict[str, frozenset]) -> set[int]:
    """ids stored in the planned data files, read directly with pyarrow.
    ``seen`` keeps each file's ids: data files are immutable and their paths
    unique, so each is read once per run."""
    out: set[int] = set()
    for t in tasks:
        p = os.path.join(location, t.file.file_path)
        if p not in seen:
            seen[p] = frozenset(pq.read_table(p, columns=["id"]).column("id").to_pylist())
        out |= seen[p]
    return out
