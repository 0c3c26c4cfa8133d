"""table-crud: a fixed, seed-ordered mix of table operations on a small
users table that stays well inside the scan planner's manifest cache.

A round runs these phases; the seed orders the operations within each phase
and draws the batch contents and filter constants:

1. three 1000-row appends;
2. reads: a scan of an ``id`` window, a scan of ``email IS NULL`` in an
   ``id`` window, a ``name``-prefix scan, 200 point ``plan_files`` on
   ``id`` and four ``starts_with`` ``plan_files`` on ``email``;
3. two copy-on-write point deletes, then two merge-on-read point deletes,
   then a point update, then a 20-row upsert, all on rows appended in
   phase 1;
4. the reads again, now over the merge-on-read delete files;
5. a ``changes()`` read of the upsert and a catalog ``load_table``.

Forty more point ``plan_files`` ride along in every phase but the reads,
and the round ends with compaction (``rewrite_position_deletes``,
``rewrite_data_files``) and ``expire_snapshots``, so merge-on-read delete
files pile up until then. Phases keep every operation kind meeting a
comparable table state whatever the seed, so seeds vary contents without
moving the medians; mutations target this round's rows so each rewrites a
freshly appended file. After every row-changing operation the whole table
is read back and compared with the shadow model.
"""

from __future__ import annotations

import time

import numpy as np

import go_iceberg_spark as gi
from go_iceberg_spark.catalog.catalog import FilesystemCatalog
from go_iceberg_spark.schema import from_spark_schema

import users as U
from harness import Op, reference_s, summarize

NS = ("bench",)
BATCH = 1000
INITIAL_BATCHES = 2
SETUPS = 3
PLANS = ["plan_point"] * 200 + ["plan_low"] * 4
# A point plan takes well under a millisecond here. Hundreds of them, spread
# over every phase, give plan_p50_ms a median that a burst of noise on a
# shared host during one part of the round does not move.
SPREAD = ["plan_point"] * 40


class Crud:
    ROUND_S = 30.0  # nominal wall time of one round on a 4-core box
    APPEND_ROWS = BATCH
    READS = ["scan:range", "scan:null", "scan_low"] + PLANS
    # Mutations run kind by kind. A CoW delete that follows a MoR delete
    # also reads the new delete file (about twice the cost), and one that
    # follows the upsert may meet a file the merge rewrote into a larger
    # one; a seed-dependent mix of these would move the medians.
    PHASES = (["append"] * 3 + SPREAD, READS, ["delete_cow"] * 2 + SPREAD,
              ["delete_mor"] * 2 + SPREAD, ["update"] + SPREAD, ["upsert"] + SPREAD, READS,
              ["changes", "load_table"] + SPREAD)
    MAINTENANCE = ("rewrite_position_deletes", "rewrite_data_files", "expire_snapshots")

    def __init__(self, spark, rec, rng, work, prepared=None):
        self.spark, self.rec, self.rng, self.work = spark, rec, rng, work
        self.prepared = prepared  # what prepare() made before the session started
        self.schema = spark.createDataFrame([], U.SPARK_DDL).schema
        self.cat = FilesystemCatalog(spark, f"{work}/warehouse")
        self.cat.create_namespace(NS)
        self.model = U.Model()
        self.next_id = 1
        self.recent: list[int] = []  # ids appended in the current round
        self.last_change = None  # (from_snapshot, to_snapshot, model_before, model_after)
        self.inputs_s = 0.0  # time spent generating input files before set-up
        self._live = (None, 0)
        self.file_ids: dict[str, frozenset] = {}  # data file -> ids it holds

    # -- inputs ------------------------------------------------------------
    def new_rows(self, n: int, tag: str = "") -> list[tuple]:
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        return U.rows_for(ids, self.rng, tag)

    def df(self, rows):
        return self.spark.createDataFrame(U.to_arrow(rows).to_pandas(), self.schema)

    def pick(self, k: int = 1) -> list[int]:
        """k distinct live ids of this round's appends."""
        ids = [i for i in self.recent if i in self.model.rows]
        return [int(x) for x in self.rng.choice(ids, size=min(k, len(ids)), replace=False)]

    # -- setup -------------------------------------------------------------
    def setup_all(self) -> tuple[list[float], list[float]]:
        """Build the table SETUPS times (each a fresh table and fresh
        batches) and keep the last; setup_s is the median."""
        runs = [self.setup(f"users_{k}") for k in range(SETUPS)]
        return [r[0] for r in runs], [r[1] for r in runs]

    def setup(self, name: str) -> tuple[float, float]:
        """create_table + the initial batches; returns (seconds, create ms)."""
        self.model, self.next_id = U.Model(), 1
        batches = [self.new_rows(BATCH) for _ in range(INITIAL_BATCHES)]
        dfs = [self.df(b) for b in batches]
        t0 = time.perf_counter()
        self.t = self.cat.create_table(NS, name, from_spark_schema(self.schema))
        t1 = time.perf_counter()
        for d in dfs:
            self.t.append(d)
        t2 = time.perf_counter()
        for b in batches:
            self.model.add(b)
        return t2 - t0, (t1 - t0) * 1000

    # -- checks ------------------------------------------------------------
    def check_table(self, op, ids=None, table=None) -> None:
        """Read the whole table back and compare it with the model; on a
        mismatch count the operation as wrong and adopt what the table holds
        so one defect is counted once. (``ids``: the rows the operation
        touched; this small table is always checked whole.)"""
        with self.rec.span("check", op.id):
            got = U.table_rows((table or self.t).to_df().toArrow())
        want = sorted(self.model.rows.values())
        if got != want:
            self.wrong(op, f"table holds {len(got)} rows, model {len(want)}"
                           f" ({len(set(got) ^ set(want))} differ)")
            self.model.rows = {r[0]: r for r in got}

    def final_check(self, op, table) -> None:
        self.check_table(op, table=table)

    def wrong(self, op, msg: str) -> None:
        self.rec.fail(f"{op.kind}#{op.id}: {msg}")
        op.ok = False

    # -- operations --------------------------------------------------------
    def mutate(self, kind: str, fn, apply, ids, user_bytes: int = 0) -> None:
        before = self.model.snapshot()
        s0 = self.t.current_snapshot().snapshot_id
        _, op = self.rec.op(kind, fn, root=self.t.location, user_bytes=user_bytes)
        if not op.ok:
            return
        apply()
        self.check_table(op, ids)
        self.last_change = (s0, self.t.current_snapshot().snapshot_id, before,
                            self.model.snapshot())

    def append(self) -> None:
        rows = self.new_rows(self.APPEND_ROWS)
        d = self.df(rows)
        self.recent += [r[0] for r in rows]
        self.mutate("append", lambda: self.t.append(d), lambda: self.model.add(rows),
                    [r[0] for r in rows], U.to_arrow(rows).nbytes)

    def delete(self, mode: str) -> None:
        (i,) = self.pick()
        kind = "delete_cow" if mode == "copy-on-write" else "delete_mor"
        self.mutate(kind, lambda: self.t.delete(gi.eq("id", i), mode=mode),
                    lambda: self.model.delete([i]), [i])

    def update(self) -> None:
        (i,) = self.pick()
        name = f"Renamed {i} {int(self.rng.integers(1 << 30))}"
        self.mutate("update", lambda: self.t.update(gi.eq("id", i), {"name": name}),
                    lambda: self.model.set_name([i], name), [i])

    def upsert(self) -> None:
        rows = U.rows_for(self.pick(10), self.rng, " v2") + self.new_rows(10, " new")
        d = self.df(rows)
        self.mutate("upsert", lambda: self.t.upsert(d, ["id"]), lambda: self.model.add(rows),
                    [r[0] for r in rows], U.to_arrow(rows).nbytes)

    def filter_for(self, kind: str):
        """Seed-drawn filter and the ids of the model rows it selects."""
        rows = self.model.rows
        ids = self.model.ids()
        lo = ids[int(self.rng.integers(len(ids)))]
        if kind == "plan_point":
            return gi.eq("id", lo), {lo}
        if kind == "plan_low":
            p = f"user{int(self.rng.integers(1, 10))}"
            return gi.starts_with("email", p), \
                {i for i, r in rows.items() if r[2] is not None and r[2].startswith(p)}
        if kind == "scan:range":
            return gi.and_(gi.gte("id", lo), gi.lt("id", lo + 200)), \
                {i for i in ids if lo <= i < lo + 200}
        if kind == "scan:null":
            return gi.and_(gi.is_null("email"), gi.and_(gi.gte("id", lo), gi.lt("id", lo + 400))), \
                {i for i in ids if lo <= i < lo + 400 and rows[i][2] is None}
        # "User k" with k in [10, 99] matches ids k, k0-k9 and k00-k99
        p = f"User {int(self.rng.integers(10, 100))}"
        return gi.starts_with("name", p), {i for i in ids if rows[i][1].startswith(p)}

    def scan(self, kind: str) -> None:
        f, sel = self.filter_for(kind)
        sb = self.t.scan().filter(f)
        res, op = self.rec.op(kind.split(":")[0], lambda: sb.to_df().toArrow())
        if not op.ok:
            return
        got = U.table_rows(res)
        want = sorted(self.model.rows[i] for i in sel)
        if got != want:
            self.wrong(op, f"{kind} returned {len(got)} rows, model {len(want)}")
        if self.rec.trace:
            tasks = self.t.scan().filter(f).plan_files()
            op.info["deletes_per_task"] = (sum(len(t.delete_files) for t in tasks)
                                           / max(1, len(tasks)))

    def plan(self, kind: str) -> None:
        f, sel = self.filter_for(kind)
        sb = self.t.scan().filter(f)
        tasks, op = self.rec.op(kind, sb.plan_files)
        op.info["ref_s"] = reference_s()
        if not op.ok:
            return
        missing = sel - U.planned_ids(self.t.location, tasks, self.file_ids)
        if missing:
            self.wrong(op, f"plan_files dropped files holding {len(missing)} matching rows")
        op.info["files"] = len(tasks)
        if self.rec.trace:
            op.info["live_files"] = self.live_files()

    def live_files(self) -> int:
        """Live data files of the current snapshot (an unfiltered plan,
        made once per snapshot, outside the timed calls)."""
        sid = self.t.current_snapshot().snapshot_id
        if self._live[0] != sid:
            self._live = (sid, len(self.t.scan().plan_files()))
        return self._live[1]

    def changes(self) -> None:
        s0, s1, before, after = self.last_change
        res, op = self.rec.op("changes", lambda: self.t.changes(s0, s1).toArrow())
        if not op.ok:
            return
        op.info["rows"] = res.num_rows
        if U.changes_rows(res) != U.diff(before, after):
            self.wrong(op, "changelog differs from the model's diff")

    def load_table(self) -> None:
        res, op = self.rec.op("load_table", lambda: self.cat.load_table(NS, self.t.identifier[-1]))
        if op.ok and res.current_snapshot().snapshot_id != self.t.current_snapshot().snapshot_id:
            self.wrong(op, "load_table returned a stale snapshot")

    def maintain(self) -> None:
        calls = {
            "rewrite_position_deletes": self.t.rewrite_position_deletes,
            "rewrite_data_files": self.t.rewrite_data_files,
            "expire_snapshots": lambda: self.t.expire_snapshots(retain_last=1),
            "rewrite_manifests": self.t.rewrite_manifests,
        }
        for kind in self.MAINTENANCE:
            _, op = self.rec.op(kind, calls[kind], root=self.t.location)
            if op.ok:
                self.check_table(op)

    def run_op(self, kind: str) -> None:
        if kind == "append":
            self.append()
        elif kind in ("delete_cow", "delete_mor"):
            self.delete("copy-on-write" if kind == "delete_cow" else "merge-on-read")
        elif kind == "update":
            self.update()
        elif kind == "upsert":
            self.upsert()
        elif kind.startswith("scan"):
            self.scan(kind)
        elif kind in ("plan_point", "plan_low"):
            self.plan(kind)
        elif kind == "changes":
            self.changes()
        elif kind == "load_table":
            self.load_table()


def guarded(rec, what: str, fn, *args) -> None:
    """Run an operation together with its checks; an exception escaping a
    check (a read of the table that raises, say) counts as a failure."""
    try:
        fn(*args)
    except Exception as e:
        rec.fail(f"{what}: check raised {type(e).__name__}: {str(e)[:300]}")


def drive(cls, spark, rec, *, seed: int, seconds: float, work: str, prepared=None):
    """Set up, run ``seconds / ROUND_S`` rounds (at least one), check the
    table once more through a freshly loaded handle, and summarize."""
    rng = np.random.default_rng(seed)
    c = cls(spark, rec, rng, work, prepared)
    with rec.span("setup"):
        setup_s, create_ms = c.setup_all()
    rounds = max(1, round(seconds / cls.ROUND_S))
    deadline = time.perf_counter() + 4 * seconds  # stay far inside the 180 s run limit
    members = 0
    t0 = time.perf_counter()
    for r in range(rounds):
        with rec.span(f"round-{r}"):
            for phase in cls.PHASES:
                for i in rng.permutation(len(phase)):
                    if time.perf_counter() > deadline:
                        break
                    guarded(rec, phase[i], c.run_op, phase[i])
            if rec.trace:  # the manifest tree at its largest, before maintenance
                members = max(members, len(c.t.manifests_df().collect()))
            guarded(rec, "maintenance", c.maintain)
            c.recent, c.last_change = [], None
    measure_s = time.perf_counter() - t0
    guarded(rec, "final_check", lambda: c.final_check(Op(-1, "final_check", 0.0, 0.0, True),
                                                      c.cat.load_table(NS, c.t.identifier[-1])))
    final_s = time.perf_counter() - t0 - measure_s
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid() if rec.trace else None
    e2e, layer, info = summarize(rec, setup_s, create_ms, members, jvm)
    info.update(rounds=rounds, measure_s=measure_s, final_check_s=final_s, inputs_s=c.inputs_s,
                rows_final=len(c.model.rows), checks=1)
    return e2e, layer, info


def prepare(seed: int, work: str) -> None:
    """Nothing to generate before the session starts."""


def run(spark, rec, **kw):
    return drive(Crud, spark, rec, **kw)
