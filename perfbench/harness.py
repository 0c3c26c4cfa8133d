"""Measurement plumbing shared by the table workloads.

Everything here observes the package from outside: it times calls into its
public API, walks the table directory for byte and file deltas, and (in a
traced run) reads Spark's status store for the jobs each operation ran.
"""

from __future__ import annotations

import contextlib
import os
import resource
import statistics
import time
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# order statistics


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Highest order statistic with at least ten samples above it, as
    (value, percentile, n); (0, 0, n) when there are ten samples or fewer."""
    n = len(xs)
    if n <= 10:
        return 0.0, 0.0, n
    i = n - 11
    return sorted(xs)[i], round(100.0 * (i + 1) / n, 1), n


def reference_s() -> float:
    """Wall time of a fixed pure-Python task that does not touch the package
    (about 2 ms on a 4-core box): building a dict of small tuples and strings
    and reading it back, the kind of work driver-side planning does. Timed
    right after an operation, it gauges the speed the shared host gave this
    process at that moment; on such a host that speed swings by a quarter
    within seconds."""
    t0 = time.perf_counter()
    d = {i: (i, str(i)) for i in range(6000)}
    sum(len(v[1]) for v in d.values())
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# storage counters


def walk(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    stack = [root]
    while stack:
        d = stack.pop()
        try:
            it = os.scandir(d)
        except FileNotFoundError:
            continue
        with it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    stack.append(e.path)
                elif e.is_file(follow_symlinks=False):
                    st = e.stat(follow_symlinks=False)
                    out[e.path] = (st.st_size, st.st_mtime_ns)
    return out


def storage_delta(root: str, before: dict, after: dict) -> dict[str, int]:
    """Bytes/files written and removed between two walks, split into the
    table's ``metadata/`` directory and everything else (data and delete
    files). A file rewritten in place counts as written."""
    mdir = os.path.join(root, "metadata") + os.sep
    d = dict.fromkeys(("data_bytes", "data_files", "meta_bytes", "meta_files",
                       "meta_versions", "removed_bytes", "removed_files"), 0)
    for p, (size, mtime) in after.items():
        if before.get(p) == (size, mtime):
            continue
        if p.startswith(mdir):
            d["meta_bytes"] += size
            d["meta_files"] += 1
            if p.endswith(".metadata.json"):
                d["meta_versions"] += 1
        else:
            d["data_bytes"] += size
            d["data_files"] += 1
    for p, (size, _) in before.items():
        if p not in after:
            d["removed_bytes"] += size
            d["removed_files"] += 1
    return d


# --------------------------------------------------------------------------
# Spark status store (works with the UI disabled)


def _interval_union(iv: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(iv):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_jobs(sc, group: str, wait_s: float = 2.0) -> dict:
    """Jobs, stages and task metrics of one job group. Listener events are
    asynchronous, so this polls until every job of the group has ended."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + wait_s
    while True:
        ids = list(st.getJobIdsForGroup(group))
        infos = [st.getJobInfo(j) for j in ids]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    out = dict.fromkeys(("jobs", "stages", "tasks", "executor_run_s", "input_bytes",
                         "shuffle_write_bytes", "job_wall_s"), 0)
    intervals = []
    seen_stages = set()
    for j, info in zip(ids, infos):
        out["jobs"] += 1
        try:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                a = jd.submissionTime().get().getTime() / 1000.0
                b = jd.completionTime().get().getTime() / 1000.0
                intervals.append((a, b))
                out["job_wall_s"] += b - a
        except Exception:
            pass
        for sid in (info.stageIds if info is not None else []):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    out["job_union_s"] = _interval_union(intervals)
    out["job_intervals"] = intervals  # epoch seconds
    return out


# --------------------------------------------------------------------------
# memory


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def pid_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# --------------------------------------------------------------------------
# the recorder


@dataclass
class Op:
    id: int
    kind: str
    start: float
    end: float
    ok: bool
    user_bytes: int = 0
    store: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Times operations, counts failures and storage deltas, and in a traced
    run tags each operation's Spark jobs with a job group and keeps spans
    (name, start, end, parent, op id) in memory."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.failed = 0
        self.failures: list[str] = []
        self.bookkeeping_s = 0.0
        self._next_id = 0
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._epoch0 = time.time()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one span around the block and yield its id; ``op`` ties a
        span (a check, say) to the operation it belongs to."""
        sid, start = self._next_id, self.now()
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            if self.trace:
                self.spans.append({"id": sid, "name": name, "start": start, "end": self.now(),
                                   "parent": parent, "op": sid if op is None else op})

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def op(self, kind: str, fn, *, root: str | None = None, user_bytes: int = 0):
        """Run one operation. Returns (result, Op); result is None when the
        call raised, which counts as a failed operation."""
        before = walk(root) if root else None
        group = f"op-{self._next_id}"  # the id the span below takes
        if self.trace:
            self.sc.setJobGroup(group, kind)
        with self.span(kind) as sid:
            t0 = time.perf_counter()
            try:
                res, ok = fn(), True
            except Exception as e:  # a failed operation is a counted outcome
                res, ok = None, False
                self.fail(f"{kind}#{sid}: {type(e).__name__}: {str(e)[:300]}")
            t1 = time.perf_counter()
        op = Op(sid, kind, t0 - self._t0, t1 - self._t0, ok, user_bytes)
        b0 = time.perf_counter()
        if self.trace:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            op.spark = spark_jobs(self.sc, group)
            op.spark["driver_only_s"] = max(0.0, op.wall - op.spark["job_union_s"])
            for a, b in op.spark.pop("job_intervals"):
                self.spans.append({"id": self._next_id, "name": "spark.job",
                                   "start": a - self._epoch0, "end": b - self._epoch0,
                                   "parent": sid, "op": sid})
                self._next_id += 1
        if root:
            op.store = storage_delta(root, before, walk(root))
        self.bookkeeping_s += time.perf_counter() - b0
        self.ops.append(op)
        return res, op

    # -- summaries ---------------------------------------------------------
    def walls(self, *kinds: str) -> list[float]:
        return [o.wall for o in self.ops if o.kind in kinds and o.ok]

    def of(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds and o.ok]


# --------------------------------------------------------------------------
# metric assembly shared by the workloads

PLANS = ("plan_point", "plan_low")
SCANS = ("scan", "scan_low")
MUTATIONS = ("delete_cow", "delete_mor", "update", "upsert")
MAINTENANCE = ("rewrite_data_files", "rewrite_position_deletes", "expire_snapshots",
               "rewrite_manifests")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def summarize(rec: Recorder, setup_s: list[float], create_ms: list[float],
              manifest_members: int, jvm_pid: int | None) -> tuple[dict, dict, dict]:
    """End-to-end metrics, per-layer metrics and report details, each
    metric as name -> (value, unit)."""
    ok = [o for o in rec.ops if o.ok]
    busy = sum(o.wall for o in ok)
    written = sum(o.store.get("data_bytes", 0) + o.store.get("meta_bytes", 0) for o in ok)
    user = sum(o.user_bytes for o in ok)
    appends, scans = rec.walls("append"), rec.walls(*SCANS)
    plans = [w * 1000 for w in rec.walls("plan_point")]
    p_tail = tail(plans)
    e2e = {
        "setup_s": (p50(setup_s), "s"),
        # a point plan's time over that of the reference task run right
        # after it: the host's speed swings cancel out, the program's cost
        # does not
        "plan_p50_rel": (p50([o.wall / o.info["ref_s"] for o in rec.of("plan_point")]),
                         "ratio"),
        "write_amp": (written / user if user else 0.0, "ratio"),
        "driver_peak_rss_mb": (driver_peak_rss_mb(), "MB"),
    }

    def sp(kinds, key):  # mean per op of a Spark status-store counter
        return _mean(o.spark.get(key, 0) for o in rec.of(*kinds))

    commits = [o for o in ok if o.store.get("meta_versions")]
    app, plan, scan = rec.of("append"), rec.of(*PLANS), rec.of(*SCANS)
    cow, mor = rec.of("delete_cow"), rec.of("delete_mor")
    maint = rec.of(*MAINTENANCE)
    tot = lambda key: sum(o.spark.get(key, 0) for o in ok)  # noqa: E731
    live = _mean(o.info.get("live_files", 0) for o in plan)
    layer = {
        # throughput and per-kind latencies of Spark-bound operations: CPU
        # steal on a shared 4-core box moves them more between runs than
        # any end-to-end bound may allow
        "run.ops_per_s": (len(ok) / busy if busy else 0.0, "1/s"),
        "append.p50_s": (p50(appends), "s"),
        "scan.p50_s": (p50(scans), "s"),
        "mutate.delete_cow_p50_s": (p50(rec.walls("delete_cow")), "s"),
        "catalog.load_table_ms": (p50([w * 1000 for w in rec.walls("load_table")]), "ms"),
        "catalog.create_table_ms": (p50(create_ms), "ms"),
        "write.data_files_per_append": (_mean(o.store["data_files"] for o in app), "count"),
        "write.data_bytes_per_append": (_mean(o.store["data_bytes"] for o in app), "B"),
        "metadata.bytes_per_commit": (_mean(o.store["meta_bytes"] for o in commits), "B"),
        "metadata.files_per_commit": (_mean(o.store["meta_files"] for o in commits), "count"),
        "metadata.versions_per_commit": (_mean(o.store["meta_versions"] for o in commits), "count"),
        "metadata.manifest_members": (manifest_members, "count"),
        "append.driver_s": (sp(["append"], "driver_only_s"), "s"),
        "plan.point_ms": (p50(plans), "ms"),
        "plan.point_tail_ms": (p_tail[0], "ms"),
        "plan.reference_ms": (p50([o.info["ref_s"] * 1000 for o in rec.of("plan_point")]), "ms"),
        "plan.low_selectivity_ms": (p50([w * 1000 for w in rec.walls("plan_low")]), "ms"),
        "plan.files_returned": (_mean(o.info.get("files", 0) for o in plan), "count"),
        "plan.prune_ratio": (_mean(o.info["files"] / o.info["live_files"] for o in plan
                                   if o.info.get("live_files")), "ratio"),
        "plan.live_entries": (live, "count"),
        "scan.spark_jobs": (sp(SCANS, "jobs"), "count"),
        "scan.executor_run_s": (sp(SCANS, "executor_run_s"), "s"),
        "scan.input_bytes": (sp(SCANS, "input_bytes"), "B"),
        "scan.deletes_per_task": (_mean(o.info.get("deletes_per_task", 0) for o in scan), "count"),
        "scan.driver_s": (sp(SCANS, "driver_only_s"), "s"),
        "mutate.cow_files_rewritten": (_mean(o.store["data_files"] for o in cow), "count"),
        "mutate.cow_bytes_rewritten": (_mean(o.store["data_bytes"] for o in cow), "B"),
        "mutate.mor_delete_files_added": (_mean(o.store["data_files"] for o in mor), "count"),
        "mutate.spark_jobs": (sp(MUTATIONS, "jobs"), "count"),
        "mutate.driver_s": (sp(MUTATIONS, "driver_only_s"), "s"),
        "mutate.delete_mor_p50_s": (p50(rec.walls("delete_mor")), "s"),
        "mutate.update_p50_s": (p50(rec.walls("update")), "s"),
        "mutate.upsert_p50_s": (p50(rec.walls("upsert")), "s"),
        **{f"maintenance.{k}_s": (p50(rec.walls(k)), "s") for k in MAINTENANCE},
        "maintenance.bytes_rewritten": (sum(o.store["data_bytes"] + o.store["meta_bytes"]
                                            for o in maint), "B"),
        "maintenance.files_removed": (sum(o.store["removed_files"] for o in maint), "count"),
        "incremental.changes_s": (p50(rec.walls("changes")), "s"),
        "incremental.rows": (_mean(o.info.get("rows", 0) for o in rec.of("changes")), "count"),
        "spark.jobs": (tot("jobs"), "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.executor_run_s": (tot("executor_run_s"), "s"),
        "spark.shuffle_write_bytes": (tot("shuffle_write_bytes"), "B"),
        "spark.input_bytes": (tot("input_bytes"), "B"),
        "spark.job_wall_s": (tot("job_union_s"), "s"),
        "spark.driver_only_s": (tot("driver_only_s"), "s"),
        "spark.jvm_peak_rss_mb": (pid_peak_rss_mb(jvm_pid) if jvm_pid else 0.0, "MB"),
    }
    counts = {}
    for o in rec.ops:
        counts[o.kind] = counts.get(o.kind, 0) + 1
    info = {
        "op_counts": counts,
        "busy_s": busy,
        "user_bytes": user,
        "bytes_written": written,
        "plan_tail": p_tail,
        "setup_runs_s": setup_s,
        "ops": [[o.kind, round(o.wall, 6), o.ok,
                 o.store.get("data_bytes", 0) + o.store.get("meta_bytes", 0),
                 round(o.info.get("ref_s", 0.0), 6)] for o in rec.ops],
    }
    return e2e, layer, info
