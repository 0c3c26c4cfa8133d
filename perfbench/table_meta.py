"""table-metadata-20k: a users table of ~20k live data files, twice the scan
planner's 10k-entry manifest cache limit and far below its 500k-entry
distributed-planning threshold, so metadata work on the driver dominates.

Setup writes 20k two-row parquet files and imports them with ``add_files``
in four batches. The run is one round of phases, the seed ordering the
operations within each: a 1-row append; 64 point ``plan_files`` on ``id``
(the member-bounds skip reads one import member), eight string-equality
``plan_files`` on ``name`` (the name bounds let them skip fewer members),
two point scans, a ``name``-equality scan and a catalog load; a copy-on-write point delete of an imported row
(it rewrites one small file); then ``rewrite_manifests``. Mutations are
checked by reading back the rows they touched; the end of the run checks
the row count and a sample of rows through a freshly loaded table.
"""

from __future__ import annotations

import os
import time

import numpy as np

import go_iceberg_spark as gi
from go_iceberg_spark.schema import from_spark_schema

import users as U
from table_crud import NS, Crud, drive

FILES = 20_000
ROWS_PER_FILE = 2
IMPORT_BATCHES = 4
SAMPLE = 20


class Meta(Crud):
    ROUND_S = 30.0
    APPEND_ROWS = 1
    PHASES = (["append"],
              ["plan_point"] * 64 + ["plan_low"] * 8 + ["scan"] * 2 + ["scan_low"]
              + ["load_table"],
              ["delete_cow"])
    MAINTENANCE = ("rewrite_manifests",)

    def setup_all(self) -> tuple[list[float], list[float]]:
        """Wait for the import files (inputs, untimed), then time
        create_table plus the add_files batches. One build per run: it is
        the slowest step of the workload."""
        g0 = time.perf_counter()
        rows, paths, finish = self.prepared
        finish()
        for r in rows:
            self.model.add(r)
        self.next_id = FILES * ROWS_PER_FILE + 1
        self.inputs_s = time.perf_counter() - g0
        t0 = time.perf_counter()
        self.t = self.cat.create_table(NS, "users", from_spark_schema(self.schema))
        t1 = time.perf_counter()
        step = FILES // IMPORT_BATCHES
        for b in range(IMPORT_BATCHES):
            self.t.add_files(paths[b * step:(b + 1) * step])
        t2 = time.perf_counter()
        return [t2 - t0], [(t1 - t0) * 1000]

    def pick(self, k: int = 1) -> list[int]:
        """k distinct live ids of the whole table."""
        ids = self.model.ids()
        return [int(x) for x in self.rng.choice(ids, size=min(k, len(ids)), replace=False)]

    def filter_for(self, kind: str):
        ids = self.model.ids()
        i = ids[int(self.rng.integers(len(ids)))]
        if kind in ("plan_low", "scan_low"):
            # a name of the second to fourth import batch: "User 1xxxx" to
            # "User 4xxxx" also fall inside the first batch's name bounds
            # ("User 1 ..." to "User 9999 ..."), so every such filter reads
            # exactly two members where an id filter reads one
            step = FILES * ROWS_PER_FILE // IMPORT_BATCHES
            i = int(self.rng.integers(step + 1, FILES * ROWS_PER_FILE + 1))
            while i not in self.model.rows:
                i += 1
            name = self.model.rows[i][1]
            return gi.eq("name", name), {j for j, r in self.model.rows.items() if r[1] == name}
        return gi.eq("id", i), {i}

    def read_ids(self, ids, table=None) -> list[tuple]:
        t = table or self.t
        return U.table_rows(t.scan().filter(gi.isin("id", sorted(ids))).to_df().toArrow())

    def check_table(self, op, ids=None, table=None) -> None:
        """Read back only the rows the operation touched (a sample when it
        names none): a full read of 20k files would dwarf the operations."""
        if not ids:
            ids = self.pick(SAMPLE)
        with self.rec.span("check", op.id):
            got = self.read_ids(ids, table)
        want = sorted(self.model.rows[i] for i in ids if i in self.model.rows)
        if got != want:
            self.wrong(op, f"rows {sorted(ids)[:5]}...: table holds {len(got)}, model {len(want)}")
            for i in ids:
                self.model.rows.pop(i, None)
            self.model.add(got)

    def final_check(self, op, table) -> None:
        with self.rec.span("check", op.id):
            tasks = table.scan().plan_files()
            n = sum(t.file.record_count for t in tasks)
            dels = sum(len(t.delete_files) for t in tasks)
        if n != len(self.model.rows) or dels:
            self.wrong(op, f"fresh table plans {n} rows ({dels} delete files), "
                           f"model holds {len(self.model.rows)}")
        self.check_table(op, self.pick(SAMPLE), table)


def prepare(seed: int, work: str):
    """Generate the import files from the seed. Called before the Spark
    session starts, so the writer processes overlap the JVM's start-up and
    are forked from a process without JVM threads."""
    rng = np.random.default_rng([seed, FILES])
    rows = [U.rows_for(range(ROWS_PER_FILE * k + 1, ROWS_PER_FILE * (k + 1) + 1), rng)
            for k in range(FILES)]
    src = os.path.join(work, "import")
    os.makedirs(src)
    paths = [os.path.join(src, f"f{k:05d}.parquet") for k in range(FILES)]
    return rows, paths, U.start_writes(paths, rows)


def run(spark, rec, **kw):
    return drive(Meta, spark, rec, **kw)
