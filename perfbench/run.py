"""Table-layer benchmark for go_iceberg_spark.

    python3 perfbench/run.py --workload table-crud --seed 1 --seconds 30 --trace 0

Runs one workload in one process with one closed-loop client on
``local[N]`` (N = $SPARK_GRAFT_CPUS, default: the CPUs this process may use)
and prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` tags each operation's Spark
jobs with a job group and reports the per-layer metrics instead. A full
report (every metric, op counts, environment, spans when traced) is written
to ``.perfbench_work/out/`` under the repository root.

Workloads (see README.md beside this file):
  table-crud          small users table that fits the manifest cache
  table-metadata-20k  ~20k live data files, twice the cache entry limit

All scratch files live under ``.perfbench_work/`` in the repository root;
the command works from any working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("table-crud", "table-metadata-20k")


def _env(run_dir: str) -> tuple[int, str]:
    """Point every scratch location of Python, Spark and the JVM inside the
    run directory and make the package importable by executor-side Python
    workers (a driver-side sys.path entry does not reach them)."""
    sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    try:
        ncpu = len(os.sched_getaffinity(0))
    except AttributeError:
        ncpu = os.cpu_count() or 1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or ncpu)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM (the spark-submit launcher too): temp files inside the run
    # directory, no hsperfdata files under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus, f"local[{cpus}]"


def _spark(run_dir: str):
    from go_iceberg_spark.session import EngineConfig, get_spark

    spark = get_spark(EngineConfig(app_name="perfbench", extra_confs={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
    }))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to end
    (it exits when its standard input closes)."""
    gw = type(spark.sparkContext)._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def calibrate(spark) -> float:
    """Fixed-cost probe independent of the package: median of three
    in-memory aggregations. Run at both ends to record drift on the box."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, 8).selectExpr("sum(id * 2 + 1)").collect()
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[1]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_iceberg_spark", "__init__.py")):
        print(f"perfbench: package go_iceberg_spark not found under {ROOT}", file=sys.stderr)
        return 2

    t_begin = time.perf_counter()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus, master = _env(run_dir)
    spark = None
    try:
        from harness import Recorder

        if args.workload == "table-crud":
            import table_crud as wl
        else:
            import table_meta as wl
        work = os.path.join(run_dir, "w")
        os.makedirs(work)
        prepared = wl.prepare(args.seed, work)
        t0 = time.perf_counter()
        spark = _spark(run_dir)
        session_start_s = time.perf_counter() - t0
        cal_start = calibrate(spark)
        rec = Recorder(spark, bool(args.trace))
        e2e, layer, info = wl.run(spark, rec, seed=args.seed, seconds=args.seconds,
                                  work=work, prepared=prepared)
        cal_end = calibrate(spark)
        layer.update({
            "session.start_s": (session_start_s, "s"),
            "session.calibration_start_s": (cal_start, "s"),
            "session.calibration_end_s": (cal_end, "s"),
            "trace.bookkeeping_s": (rec.bookkeeping_s, "s"),
        })
        attempted = len(rec.ops) + info.pop("checks", 0)
        layer["failed_op_ratio"] = (rec.failed / attempted, "ratio")
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "master": master,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "attempted": attempted, "failed": rec.failed, "failures": rec.failures,
            "total_s": time.perf_counter() - t_begin,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
            **info,
        }
        out_dir = os.path.join(WORK, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(report, f, indent=1, sort_keys=True, default=str)
        if args.trace:
            with open(stem + ".spans.jsonl", "w") as f:
                for s in rec.spans:
                    f.write(json.dumps(s) + "\n")
        for fl in rec.failures:
            print(f"perfbench: FAILED {fl}", file=sys.stderr)
        print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} cpus={cpus} "
              f"master={master} attempted={attempted} failed={rec.failed} "
              f"report={os.path.relpath(stem, os.getcwd())}.json")
        chosen = e2e if not args.trace else layer
        print(json.dumps({
            "correct": rec.failed == 0,
            "attempted": attempted,
            "failed": rec.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
