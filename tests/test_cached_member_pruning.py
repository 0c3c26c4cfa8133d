"""Cached-member pruning tier (table/planning.py ``MemberStats`` +
``prune_cached``): entry lists held in a table's manifest cache are pruned
through a lazily built columnar stats index and the shared vectorized
evaluator, with the exact ``might_match`` re-run on the survivors.

- equivalence: on randomized entry lists the tier keeps exactly the entries
  the per-entry ``might_match`` loop keeps, in the same order;
- cache behaviour: a warm point plan whose member skip lands on cached
  members reads no manifest or manifest list, and no cached view outlives
  the snapshot it was built for (CoW delete, ``refresh()``,
  ``rewrite_manifests``).
"""

from __future__ import annotations

import math
import random

import pytest

from go_iceberg_spark.bloom import bloom_build
from go_iceberg_spark.expr import (
    ALWAYS_TRUE,
    Expression,
    Op,
    and_,
    col,
    might_match,
    not_,
    or_,
)
from go_iceberg_spark.schema import (
    DOUBLE,
    FLOAT,
    INT,
    LONG,
    STRING,
    NestedField,
    Schema,
    StructType,
)
from go_iceberg_spark.table.metadata import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    DataFileEntry,
)
from go_iceberg_spark.table.planning import (
    MemberStats,
    _NotVectorizable,
    _stats_for_pruning,
    _vector_match,
    prune_cached,
)

SEED = 20261017
BIG = 2**53

SCHEMA = Schema(0, StructType((
    NestedField(1, "i", INT, False),
    NestedField(2, "l", LONG, False),
    NestedField(3, "d", DOUBLE, False),
    NestedField(4, "f", FLOAT, False),
    NestedField(5, "s", STRING, False),
)))
NUMERIC = ("i", "l", "d", "f")
FID = {f.name: f.field_id for f in SCHEMA.fields}


def _num(rng, name):
    """A bound or literal for a numeric column: small values mostly, with
    ints around and beyond 2^53 on the long column and the odd value of the
    other numeric kind (the bounds of imported files need not match the
    schema type)."""
    r = rng.random()
    if name == "l" and r < 0.2:
        return rng.choice([BIG - 1, BIG, BIG + 1, BIG + 2, -BIG - 1, -BIG, 2**63 - 1])
    if name in ("d", "f"):
        return rng.randint(-30, 30) if r < 0.1 else round(rng.uniform(-30, 30), 1)
    return rng.uniform(-30, 30) if r < 0.1 else rng.randint(-30, 30)


def _stats(rng, name):
    """Stats of one column of one file, or None when the file has none."""
    if rng.random() < 0.1:
        return None
    vc = rng.choice([None, 1, 5, 20])
    nc = rng.choice([None, 0, 0, 1, 3])
    if rng.random() < 0.1:  # all-null file
        return {"min": None, "max": None, "null_count": vc or 4, "value_count": vc or 4}
    if name == "s":
        a, b = sorted(rng.choice("abcmxyz") * rng.randint(1, 3) for _ in range(2))
    else:
        a, b = _num(rng, name), _num(rng, name)
        try:
            a, b = min(a, b), max(a, b)
        except TypeError:
            pass
    st = {"min": a, "max": b, "null_count": nc, "value_count": vc}
    r = rng.random()
    if r < 0.05:
        st["min"] = None
    elif r < 0.1:
        st["max"] = None
    elif r < 0.12 and name != "s":
        st["min"] = "7"  # mixed encoding: incomparable with numbers
    elif r < 0.14 and name in ("d", "f"):
        st["max"] = math.nan
    if name in ("d", "f"):
        # NaN counts: proven zero, counted, or absent (= unknown)
        n = rng.choice([0, 0, 2, None])
        if n is not None:
            st["nan_count"] = n
    lo, hi = st["min"], st["max"]
    kind = str if name == "s" else int
    if name in ("l", "s") and rng.random() < 0.4 \
            and type(lo) is kind and type(hi) is kind:
        vals = [lo, hi]
        if name == "l" and hi - lo < 100:
            vals += [rng.randint(lo, hi) for _ in range(3)]
        st["bloom"] = bloom_build(vals)
    return st


def _entries(rng, n):
    out = []
    for k in range(n):
        content = CONTENT_DATA
        if rng.random() < 0.05:
            content = rng.choice([CONTENT_POSITION_DELETES, CONTENT_EQUALITY_DELETES])
        stats = {FID[c]: s for c in FID if (s := _stats(rng, c)) is not None}
        out.append(DataFileEntry(
            content=content, file_path=f"data/f{k:05d}.parquet", file_format="parquet",
            spec_id=0, schema_id=0, record_count=10, file_size=100, partition={},
            column_stats=stats, sequence_number=1))
    return out


def _leaf(rng) -> Expression:
    c = rng.choice(NUMERIC + ("s",))
    if c == "s":
        v = rng.choice("abcmxyz") * rng.randint(1, 3)
        return rng.choice([
            col(c).eq(v), col(c).gt(v), col(c).lte(v), col(c).isin(v, "zz"),
            col(c).starts_with(v[:1]), col(c).is_null(), col(c).is_not_null(),
        ])
    v = _num(rng, c)
    if c in ("d", "f") and rng.random() < 0.05:
        v = math.nan
    shape = rng.random()
    if shape < 0.3:
        return col(c).eq(v)
    if shape < 0.55:
        return getattr(col(c), rng.choice(["lt", "lte", "gt", "gte"]))(v)
    if shape < 0.7:
        return col(c).isin(v, _num(rng, c), _num(rng, c))
    if shape < 0.8:
        return col(c).is_null() if rng.random() < 0.5 else col(c).is_not_null()
    if shape < 0.9:
        return col(c).not_eq(v)
    return col(c).eq(str(v))  # string literal on a numeric column


def _filter(rng, depth=0) -> Expression:
    r = rng.random()
    if depth >= 2 or r < 0.45:
        return _leaf(rng)
    kids = [_filter(rng, depth + 1) for _ in range(rng.randint(2, 3))]
    if r < 0.7:
        return and_(*kids)
    if r < 0.92:
        return or_(*kids)
    return not_(kids[0])


def _reference(entries, flt):
    return [e for e in entries
            if e.content != CONTENT_DATA or might_match(flt, _stats_for_pruning(e, SCHEMA))]


def test_cached_tier_equals_per_entry_might_match():
    rng = random.Random(SEED)
    vectorized = pruned = 0
    for _ in range(6):
        entries = _entries(rng, 300)
        index = MemberStats(entries)  # one index, reused by every filter
        for _ in range(120):
            flt = _filter(rng)
            want = _reference(entries, flt)
            got = prune_cached(index, flt, SCHEMA)
            assert [id(e) for e in got] == [id(e) for e in want], flt
            try:
                mask = _vector_match(flt, index, SCHEMA)
            except _NotVectorizable:
                continue
            vectorized += 1
            pruned += int((~mask & ~index.is_delete).sum())
    # a third of the 720 shapes at least take the vector prefilter (the
    # rest hold a string, NaN or beyond-2^53 leaf), and it must prune
    assert vectorized >= 240 and pruned > 10_000, (vectorized, pruned)


def test_cached_tier_edges():
    """Hand-picked cases at the edges the randomized sweep may miss."""
    def entry(lo, hi, **kw):
        st = {"min": lo, "max": hi, "null_count": 0, "value_count": 3, **kw}
        return DataFileEntry(
            content=CONTENT_DATA, file_path=f"data/{lo}-{hi}-{sorted(kw)}", file_format="parquet",
            spec_id=0, schema_id=0, record_count=3, file_size=1, partition={}, sequence_number=1,
            column_stats={FID["l"]: st, FID["d"]: {**st, "min": 0.0, "max": 1.0}})

    entries = [
        entry(BIG + 1, BIG + 5),            # rounds onto 2^53 in float64
        entry(-BIG - 5, -BIG - 1),
        entry(BIG - 3, BIG + 1),            # x > 2^53 holds only for the max
        entry(-BIG - 1, -BIG + 3),          # x < -2^53 holds only for the min
        entry(1, 9, bloom=bloom_build([1, 9])),
        entry(None, 4),
        entry(3, 3, nan_count=0),
        entry(1.5, 2.5),                    # float bounds on a long column
    ]
    index = MemberStats(entries)
    for flt in [col("l").eq(BIG), col("l").gt(BIG), col("l").lt(-BIG),
                col("l").gte(BIG + 1), col("l").eq(5), col("l").isin(5, 9),
                col("l").gt(2), col("d").gt(5.0), col("d").eq(math.nan),
                col("l").eq("3"), ALWAYS_TRUE, not_(col("l").eq(3))]:
        want = _reference(entries, flt)
        assert prune_cached(index, flt, SCHEMA) == want, flt
    # the bloom keeps only the entry whose bitmap holds 9
    assert [e.column_stats[FID["l"]]["min"]
            for e in prune_cached(index, col("l").eq(9), SCHEMA)] == [1, None]
    assert index.field(FID["l"]) is index.field(FID["l"])  # built once


# ---------------------------------------------------------------------------
# cache behaviour on a real table
# ---------------------------------------------------------------------------


def _member_table(spark, catalog, name, batches=4, per=30):
    """A table of ``batches`` appends over disjoint id ranges: one manifest
    member each, so a point filter keeps one member by its bounds."""
    from pyspark.sql import Row

    from go_iceberg_spark.schema import from_spark_schema

    catalog.create_namespace(("db",))
    proto = spark.createDataFrame([Row(id=0, v="x")])
    t = catalog.create_table(("db",), name, from_spark_schema(proto.schema))
    for b in range(batches):
        t.append(spark.createDataFrame(
            [Row(id=b * per + k, v=f"v{b}") for k in range(per)]).coalesce(1))
    return t


@pytest.fixture()
def io_counter(monkeypatch):
    """Counts every manifest and manifest-list read, whichever module's
    binding the caller goes through."""
    import go_iceberg_spark.table.metadata as M
    import go_iceberg_spark.table.scan as S
    import go_iceberg_spark.table.table as T

    calls = {"read_manifest": 0, "read_manifest_list": 0}

    def wrap(name, fn):
        def counted(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return counted

    for name in calls:
        counted = wrap(name, getattr(M, name))
        for mod in (M, S, T):
            if hasattr(mod, name):
                monkeypatch.setattr(mod, name, counted)
    return calls


def _plan(t, i):
    import go_iceberg_spark as gi

    return sorted(task.file.file_path for task in t.scan().filter(gi.eq("id", i)).plan_files())


def test_warm_point_plan_reads_no_manifest(spark, catalog, io_counter):
    import os

    t = _member_table(spark, catalog, "warm")
    t._manifest_cache.clear()
    for k in io_counter:
        io_counter[k] = 0
    cold = _plan(t, 45)
    assert io_counter["read_manifest_list"] == 1 and io_counter["read_manifest"] == 1
    list_path = os.path.join(t.location, t.current_snapshot().manifest_path)
    assert list_path not in t._manifest_cache  # the member-skip branch served it
    for k in io_counter:
        io_counter[k] = 0
    assert _plan(t, 45) == cold and len(cold) == 1
    assert _plan(t, 31) == cold  # same member, other id
    assert io_counter == {"read_manifest": 0, "read_manifest_list": 0}


def test_cached_views_never_serve_a_replaced_member(spark, catalog):
    """A CoW delete rewrites the member holding the deleted row's file; the
    next plan on the same handle must return the rewritten file, exactly as
    a freshly loaded table plans it — likewise after ``refresh()`` and
    ``rewrite_manifests``."""
    import go_iceberg_spark as gi
    from go_iceberg_spark.table.table import Table

    t = _member_table(spark, catalog, "stale")
    before = _plan(t, 45)
    _plan(t, 50)  # a second warm plan over the same member's views
    t.delete(gi.eq("id", 44))
    after = _plan(t, 45)
    assert after != before and not set(after) & set(before)
    assert after == _plan(Table.load(spark, t.location), 45)

    t.refresh()
    assert _plan(t, 45) == after
    t.rewrite_manifests()
    assert _plan(t, 45) == after == _plan(Table.load(spark, t.location), 45)
    assert sorted(r.id for r in t.scan().filter(gi.isin("id", 44, 45)).to_df().collect()) == [45]
