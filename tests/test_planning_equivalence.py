"""Cross-tier pruning equivalence fuzz (VERDICT r2 task #9).

The scan picks among its planning tiers by metadata size (scan.py
``_pruned_entries``); all must agree on which files survive:

- ``prune_manifest_driver`` (pyarrow + numpy / per-row ``might_match``)
- ``plan_distributed``'s Catalyst stats predicate
- ``prune_cached`` over a cached entry list's ``MemberStats`` index (numpy
  prefilter, exact ``might_match`` on its survivors)
- the in-memory ``might_match`` reference itself

Invariants checked on thousands of randomized (file-stats, filter) pairs,
with file CONTENTS generated first and stats derived exactly as the writer
derives them:

1. COMPLETENESS (both tiers): a file containing any matching row is never
   pruned — the silent-data-loss bug class.
2. driver ⊆ distributed: the Catalyst predicate is at most as aggressive as
   the driver tier (it gives up to TRUE on strings/NOT shapes the driver can
   still prune).
3. On numeric-only filter shapes the two tiers are IDENTICAL.
4. The driver tier is exactly ``might_match`` applied per file.
5. The cached-member tier is exactly ``might_match`` applied per file, in
   manifest order.
"""

from __future__ import annotations

import os
import random

import pytest

pytestmark = pytest.mark.soak  # r13: soak lane (see pytest.ini)
from pyspark.sql import Row

from go_iceberg_spark.expr import Op, col, might_match, ColumnStats
from go_iceberg_spark.schema import from_spark_schema
from go_iceberg_spark.table.metadata import CONTENT_DATA, DataFileEntry, write_manifest
from go_iceberg_spark.table.planning import (
    MemberStats,
    plan_distributed,
    prune_cached,
    prune_manifest_driver,
)

SEED = 20260814
N_FILES = 250

# ops whose Catalyst translation covers the same cases as the driver tier
_NUMERIC_OPS = {Op.EQ, Op.IN, Op.LT, Op.LTE, Op.GT, Op.GTE,
                Op.IS_NULL, Op.NOT_NULL, Op.AND, Op.OR,
                Op.ALWAYS_TRUE, Op.ALWAYS_FALSE}


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _numeric_only(e, schema) -> bool:
    if e.op not in _NUMERIC_OPS:
        return False
    if e.children:
        return all(_numeric_only(c, schema) for c in e.children)
    if e.column:
        t = getattr(schema.find_field(e.column).type, "name", None)
        if t not in ("int", "long", "float", "double"):
            return False
    # NaN literals: the vector tier defers to exact might_match while the
    # Catalyst tier stays conservative-TRUE — identical only up to ⊆
    vals = list(e.values) if e.values else ([e.value] if e.value is not None else [])
    if any(_is_nan(v) for v in vals):
        return False
    return True


def _gen_files(rng):
    """(rows per column, derived stats) per file — stats derived from rows
    exactly like the writer; some files drop a column's stats entirely."""
    files = []
    for i in range(N_FILES):
        k = rng.randint(1, 8)
        x = [None if rng.random() < 0.25 else rng.randint(-40, 40) for _ in range(k)]
        # double column: NaN rows in ~1/4 of files (r6 — parquet bounds
        # EXCLUDE NaN, Spark orders NaN above every double)
        y = [None if rng.random() < 0.25
             else (float("nan") if rng.random() < 0.08 else round(rng.uniform(-40, 40), 2))
             for _ in range(k)]
        s = [None if rng.random() < 0.25 else rng.choice("abcdmnwxyz") * 2 for _ in range(k)]
        # occasionally: all-null column, or stats missing entirely
        if rng.random() < 0.1:
            x = [None] * k
        stats = {}
        for fid_idx, rows in (("x", x), ("y", y), ("s", s)):
            if rng.random() < 0.12:
                continue  # file predates stats collection for this column
            present = [r for r in rows if r is not None and not _is_nan(r)]
            stats[fid_idx] = {
                "min": min(present) if present else None,
                "max": max(present) if present else None,
                "null_count": sum(1 for r in rows if r is None),
                "value_count": len(rows),
            }
            if fid_idx == "y" and rng.random() < 0.5:  # opt-in nan counts
                stats[fid_idx]["nan_count"] = sum(1 for r in rows if _is_nan(r))
        files.append({"path": f"data/f{i:04d}.parquet", "x": x, "y": y, "s": s,
                      "stats": stats})
    return files


def _gen_filters(rng):
    """A spread of filter shapes over long x, double y, string s."""
    out = []
    X, Y, S = col("x"), col("y"), col("s")
    for _ in range(15):
        v = rng.randint(-45, 45)
        w = round(rng.uniform(-45, 45), 2)
        out.extend([
            X.eq(v), X.lt(v), X.gte(v), X.isin(v, v + 7, -v),
            Y.lte(w), Y.gt(w),
            Y.eq(float("nan")), Y.gte(float("nan")), Y.lt(float("nan")),
            (X.gte(v) & X.lte(v + 10)), (X.lt(v) | Y.gt(w)),
            X.not_eq(v), X.not_in(v, v + 1),
            X.is_null(), Y.is_not_null(),
            S.eq(rng.choice("abcdmnwxyz") * 2), S.starts_with(rng.choice("abcdm")),
            S.not_starts_with("a"), (S.gt("mm") & X.lt(v)),
        ])
    return out


def _row_truth(f, file) -> bool:
    """Any row of the file satisfies the filter (ground truth over the rows
    the stats were derived from)."""
    def sat(e, i):
        if e.op is Op.AND:
            return all(sat(c, i) for c in e.children)
        if e.op is Op.OR:
            return any(sat(c, i) for c in e.children)
        if e.op is Op.NOT:
            return not sat(e.children[0], i)
        v = file[e.column][i]
        if e.op is Op.IS_NULL:
            return v is None
        if e.op is Op.NOT_NULL:
            return v is not None
        if v is None:
            return False

        # Spark orders NaN ABOVE every double and NaN == NaN is true; with
        # no real infinities in the generated domain, mapping NaN -> +inf
        # reproduces those semantics under Python comparisons
        def K(a):
            import math
            return math.inf if _is_nan(a) else a

        v = K(v)
        return {
            Op.EQ: lambda: v == K(e.value),
            Op.NOT_EQ: lambda: v != K(e.value),
            Op.LT: lambda: v < K(e.value),
            Op.LTE: lambda: v <= K(e.value),
            Op.GT: lambda: v > K(e.value),
            Op.GTE: lambda: v >= K(e.value),
            Op.IN: lambda: v in [K(w) for w in e.values],
            Op.NOT_IN: lambda: v not in [K(w) for w in e.values],
            Op.STARTS_WITH: lambda: v.startswith(e.value),
            Op.NOT_STARTS_WITH: lambda: not v.startswith(e.value),
        }[e.op]()
    return any(sat(f, i) for i in range(len(file["x"])))


@pytest.fixture(scope="module")
def fuzz_manifest(spark, tmp_path_factory):
    rng = random.Random(SEED)
    files = _gen_files(rng)
    schema = from_spark_schema(
        spark.createDataFrame([Row(x=1, y=1.0, s="a")]).schema)
    fid = {f.name: f.field_id for f in schema.fields}
    entries = [
        DataFileEntry(
            content=CONTENT_DATA, file_path=f["path"], file_format="parquet",
            spec_id=0, schema_id=0, record_count=len(f["x"]), file_size=100,
            partition={}, sequence_number=1,
            column_stats={fid[n]: s for n, s in f["stats"].items()},
        )
        for f in files
    ]
    path = str(tmp_path_factory.mktemp("fuzz") / "manifest.parquet")
    write_manifest(path, entries)
    return files, schema, path, rng, entries


def test_planning_tiers_agree(spark, fuzz_manifest):
    files, schema, path, rng, entries = fuzz_manifest
    index = MemberStats(entries)  # built once, reused by every filter
    by_path = {f["path"]: f for f in files}

    def stats_by_name(f):
        return {n: ColumnStats(min=s["min"], max=s["max"],
                               null_count=s["null_count"], value_count=s["value_count"],
                               nan_count=s.get("nan_count"))
                for n, s in f["stats"].items()}

    checked = 0
    for flt in _gen_filters(rng):
        drv = {e.file_path for e in prune_manifest_driver(path, flt, schema)}
        dist = {e.file_path for e in plan_distributed(spark, path, flt, schema)}
        cached = [e.file_path for e in prune_cached(index, flt, schema)]
        ref = {f["path"] for f in files if might_match(flt, stats_by_name(f))}
        truth = {f["path"] for f in files if _row_truth(flt, f)}

        assert truth <= drv, (flt, "driver tier dropped a matching file")
        assert truth <= dist, (flt, "distributed tier dropped a matching file")
        assert drv == ref, (flt, "driver tier != might_match reference")
        assert cached == [e.file_path for e in entries if e.file_path in ref], (
            flt, "cached-member tier != might_match reference")
        assert drv <= dist, (flt, "distributed pruned harder than driver")
        if _numeric_only(flt, schema):
            assert drv == dist, (flt, "numeric filter: tiers disagree",
                                 sorted(dist - drv)[:5], sorted(drv - dist)[:5])
        checked += len(files)
    assert checked >= 1000  # the task's bar: >=1k randomized case-pairs
