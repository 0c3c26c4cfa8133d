"""Scan planning over manifests at metadata scale.

The reference walks every manifest entry in a driver loop and stubs its
pruning hooks to always-true (reference: table/scan.go:101-190,
table/insert.go:255-266). That is fine at thousands of files and wrong at
millions. This module provides the three scale paths the scan builder picks
from (plus the snapshot-level short-circuit):

0. ``prune_cached`` — entry lists the table already holds in memory (its
   manifest cache: members and whole-snapshot sets up to the scan's
   ``_CACHE_ENTRY_LIMIT``). Each cached list gets a ``MemberStats`` index,
   built lazily per filter-referenced field and kept as long as the list:
   numpy arrays of presence, min, max, null, value and NaN counts. The
   vectorized evaluator ``_vector_match`` (the same one tier 1 runs over
   parquet columns) computes a conservative mask over it, and the exact
   ``might_match`` runs only on the mask's survivors, so results are those
   of the per-entry loop (bloom, NaN and mixed-encoding rules included) at
   numpy cost. With the table's cached manifest lists (member bounds
   already decoded), a warm point plan does no file I/O, no JSON parsing
   and no per-entry Python work: on perfbench ``table-metadata-20k`` (~5.5k
   cached entries left after the member skip, 4-core box) a point
   ``plan_files`` fell from 89 ms to 0.48 ms.
1. ``prune_manifest_driver`` — read the manifest parquet with pyarrow, decode
   bound values ONLY for filter-referenced fields, evaluate might-match per
   row, and materialize ``DataFileEntry`` objects for survivors only. At 100k
   entries this plans in well under a second vs several seconds for
   full-decode-then-filter.
2. ``plan_distributed`` — read the manifest AS a Spark DataFrame and prune
   with a Catalyst predicate built from the filter over the parallel-array
   stats columns (the manifest-as-analytic-data design the docstring in
   ``metadata.py`` promises). Used above ``DISTRIBUTED_THRESHOLD`` entries,
   where even a vectorized driver loop stops scaling; the collect returns
   only surviving entries (bounded by what the driver must hand to
   ``spark.read.parquet`` anyway).

All paths are conservative in exactly the way ``expr.might_match`` is: a
file is dropped only when its stats PROVE no row can match; anything
undecidable survives and the row-level filter finishes the job.

Manifest-level summaries (reference keeps per-manifest partition summaries,
spec/manifest.go:152-205): each snapshot stores aggregate column bounds over
its data files in ``summary["bounds"]`` (written at commit,
``summary_bounds``), so a scan whose filter contradicts the snapshot-wide
bounds skips reading the manifest entirely — the analogue of skipping a
manifest from the manifest list.
"""

from __future__ import annotations

import json
import math
import numbers
from typing import Any

from ..expr import ColumnStats, Expression, Op, might_match, referenced_columns
from ..schema import Schema
from .metadata import CONTENT_DATA, DataFileEntry, _entry_from_columns

# Above this many entries the driver loop is replaced by a Spark job over the
# manifest. r8 scale soak (synthetic 10k-1M-entry manifests, local[32],
# numbers in SOAK.md): the vectorized driver pruner runs ~2.6 µs/entry on a
# point filter at ~223 MB arrow per 1M entries, and the Spark job NEVER wins
# on wall time in this regime — survivors round-trip JVM→driver regardless,
# and a single member parquet caps split parallelism — so the tier exists
# for driver MEMORY and remote-storage I/O parallelism, not local compute.
# 500k keeps the driver-side arrow load near 115 MB (trivial for any
# realistic driver) while 10M-entry tables (extrapolated 2.2 GB + ~26 s
# single-threaded) clearly belong to the job tier. Member-level bounds skip
# (scan.py) is the first line of defense either way: a clustered
# manifest-list prunes 99/100 members on a point scan before ANY tier runs.
DISTRIBUTED_THRESHOLD = 500_000


def _fid_map(schema: Schema, flt: Expression) -> dict[int, str]:
    """field-id -> column-name for the filter-referenced columns."""
    out: dict[int, str] = {}
    for name in referenced_columns(flt):
        f = schema.find_field(name)
        if f is not None:
            out[f.field_id] = name
    return out


class _NotVectorizable(Exception):
    """Filter shape the numpy evaluator doesn't cover — fall back per-row."""


def _field_view(present, mins, maxs, nulls, vals, nans, float_bounds) -> dict:
    """The per-row arrays ``_vector_match`` reads for one field, derived
    once from a source's raw stats arrays (NaN = unknown everywhere; a NaN
    count of -1 = not collected) so that each filter leaf costs one to three
    numpy operations. Bounds are folded with the null and presence rules of
    ``expr.might_match``: a row without stats or without usable bounds gets
    (-inf, +inf) and survives every comparison, an all-null row gets
    (+inf, -inf) and survives none."""
    import numpy as np

    missing = ~present
    all_null = ~np.isnan(nulls) & ~np.isnan(vals) & (nulls >= vals)
    keep = missing | (~all_null & (np.isnan(mins) | np.isnan(maxs)))
    # a row may hold NaN (which sorts above every bound) unless its NaN
    # count is PROVEN zero; whether that matters depends on the column type
    nan_if_float = ~all_null & ~(nans == 0)
    return {
        "lo": np.where(keep, -np.inf, np.where(all_null, np.inf, mins)),
        "hi": np.where(keep, np.inf, np.where(all_null, -np.inf, maxs)),
        "null_keep": missing | np.isnan(nulls) | (nulls > 0),
        "not_null_keep": missing | ~all_null,
        "nan_if_float": nan_if_float,
        "nan_typed": nan_if_float & float_bounds,
    }


class _ManifestTableStats:
    """Stats source over a manifest parquet table: per-field row arrays
    extracted from the flattened list columns without converting the whole
    table."""

    def __init__(self, t):
        self.t = t
        self.n = t.num_rows
        self._fields: dict[int, dict] = {}

    def field(self, fid: int) -> dict:
        import numpy as np

        if fid in self._fields:
            return self._fields[fid]
        t, n = self.t, self.n
        fids_col = t.column("stats_fids").combine_chunks()
        off = np.asarray(fids_col.offsets)
        flat = np.asarray(fids_col.values)
        sel = np.flatnonzero(flat == fid)
        rows = np.searchsorted(off, sel, side="right") - 1

        def pick(name, decode):
            # row-indexed; NaN (= unknown) where the row has no stats entry
            out = np.full(n, np.nan)
            out[rows] = decode(t.column(name).combine_chunks().values.take(sel))
            return out

        def dec_num(arr):
            s = np.asarray(arr.to_pylist(), dtype=object)
            miss = s == "null"
            s = s.copy()
            s[miss] = "nan"
            out = s.astype(np.float64)
            out[miss] = np.nan
            return out

        def dec_int(arr):
            return arr.to_numpy(zero_copy_only=False).astype(np.float64)  # None -> nan

        present = np.zeros(n, dtype=bool)
        present[rows] = True
        a = self._fields[fid] = _field_view(
            present,
            pick("stats_min_json", dec_num),
            pick("stats_max_json", dec_num),
            pick("stats_null_counts", dec_int),
            pick("stats_value_counts", dec_int),
            # NaN counts: -1/absent = unknown (see metadata.MANIFEST_SCHEMA)
            (pick("stats_nan_counts", dec_int)
             if "stats_nan_counts" in t.column_names else np.full(n, -1.0)),
            # JSON-encoded bounds: the schema type alone decides float-ness
            False,
        )
        return a


def _as_float(v) -> float:
    """A numeric bound as float64; NaN (= unknown, never prunes) for None,
    strings and anything else ``might_match`` could not order against a
    numeric literal."""
    if isinstance(v, numbers.Real):
        try:
            return float(v)
        except OverflowError:
            pass
    return math.nan


def _count(v) -> float:
    return math.nan if v is None else float(v)


class MemberStats:
    """Stats source over one cached, immutable entry list (a manifest
    member, or a snapshot's whole entry set): the same per-field arrays
    ``_ManifestTableStats`` yields, built lazily from the entries' decoded
    stats the first time a filter references the field, then reused by
    every later plan. Lives in the table's manifest cache beside the entry
    list it indexes (``table.ManifestCache.stats_index``)."""

    def __init__(self, entries: list[DataFileEntry]):
        import numpy as np

        self.entries = entries
        self.n = len(entries)
        self.is_delete = np.fromiter((e.content != CONTENT_DATA for e in entries),
                                     dtype=bool, count=self.n)
        self._fields: dict[int, dict] = {}

    def field(self, fid: int) -> dict:
        import numpy as np

        if fid in self._fields:
            return self._fields[fid]
        n = self.n
        present = np.zeros(n, dtype=bool)
        # NaN-initialized: unknown min/max/counts for rows without an entry
        mins, maxs, nulls, vals, nans = (np.full(n, np.nan) for _ in range(5))
        float_bounds = np.zeros(n, dtype=bool)
        for i, e in enumerate(self.entries):
            s = e.column_stats.get(fid)
            if s is None:
                continue
            lo, hi = s.get("min"), s.get("max")
            present[i] = True
            mins[i], maxs[i] = _as_float(lo), _as_float(hi)
            # might_match treats a file as NaN-capable when either bound
            # is a Python float, whatever the schema type says
            float_bounds[i] = isinstance(lo, float) or isinstance(hi, float)
            nulls[i] = _count(s.get("null_count"))
            vals[i] = _count(s.get("value_count"))
            nans[i] = _count(s.get("nan_count"))
        a = self._fields[fid] = _field_view(present, mins, maxs, nulls, vals, nans,
                                            float_bounds)
        return a


def _vector_match(flt: Expression, src, schema: Schema):
    """Vectorized might-match over a stats source (``_ManifestTableStats``
    or ``MemberStats``); mirrors expr.might_match node for node, returning a
    boolean row mask (possibly an array the source keeps: never write to
    it). Raises _NotVectorizable for string-typed bounds or ops numpy can't
    express (the per-row fallback covers those)."""
    import numpy as np

    def field_view(col: str):
        f = schema.find_field(col)
        if f is None:
            raise _NotVectorizable(col)
        prim = getattr(f.type, "name", None)
        if prim not in ("int", "long", "float", "double", "date", "time",
                        "timestamp", "timestamptz", "boolean"):
            raise _NotVectorizable(f"{col}: {prim}")  # string/binary bounds
        return src.field(f.field_id), prim in ("float", "double")

    def build(e: Expression):
        op = e.op
        if op is Op.ALWAYS_TRUE or op is Op.NOT:
            return np.ones(src.n, dtype=bool)  # NOT: conservative, as expr.might_match
        if op is Op.ALWAYS_FALSE:
            return np.zeros(src.n, dtype=bool)
        if op is Op.AND or op is Op.OR:
            if not e.children:
                return np.full(src.n, op is Op.AND)
            out = build(e.children[0])
            for c in e.children[1:]:
                out = (out & build(c)) if op is Op.AND else (out | build(c))
            return out

        a, is_float = field_view(e.column)
        if op is Op.IS_NULL:
            return a["null_keep"]
        if op is Op.NOT_NULL:
            return a["not_null_keep"]

        if op in (Op.EQ, Op.GT, Op.GTE, Op.LT, Op.LTE, Op.IN):
            values = e.values if op is Op.IN else (e.value,)
            if not all(isinstance(v, numbers.Real) for v in values):
                # a string literal would float() fine ("5") yet never order
                # against numeric bounds in might_match (TypeError -> keep)
                raise _NotVectorizable(f"non-numeric literal for {e.column}")
            fvals = [float(v) for v in values]
            if any(math.isnan(v) for v in fvals):
                # NaN literals need expr.might_match's NaN ordering rules
                raise _NotVectorizable(f"NaN literal for {e.column}")
            if any(abs(v) >= 2.0**53 for v in fvals):
                # from 2^53 on, float64 rounding of a bound can tie the
                # literal (2^53 + 1 -> 2^53) and flip a strict comparison —
                # use the exact per-row path instead
                raise _NotVectorizable(f"literal beyond float64 precision for {e.column}")
            lo, hi = a["lo"], a["hi"]
            if op is Op.EQ or op is Op.IN:
                if not fvals:
                    return np.zeros(src.n, dtype=bool)
                out = (lo <= fvals[0]) & (hi >= fvals[0])
                for v in fvals[1:]:
                    out = out | ((lo <= v) & (hi >= v))
                return out
            v = fvals[0]
            if op is Op.LT:
                return lo < v
            if op is Op.LTE:
                return lo <= v
            # high-side prunes on float columns are only legal with a PROVEN
            # zero nan count: NaN rows sort above every bound (expr.py NaN
            # guard)
            may_nan = a["nan_if_float"] if is_float else a["nan_typed"]
            return ((hi > v) if op is Op.GT else (hi >= v)) | may_nan

        raise _NotVectorizable(str(op))  # NOT_EQ, NOT_IN, STARTS_WITH...

    return build(flt)


def prune_cached(index: MemberStats, flt: Expression, schema: Schema) -> list[DataFileEntry]:
    """Entries of a cached list that survive ``might_match``, delete
    entries always kept, in list order. The vectorized mask is only a
    conservative prefilter (it never drops an entry ``might_match`` keeps);
    the exact ``might_match`` still runs on its survivors, so bloom, NaN and
    mixed-encoding rules decide exactly as the per-entry loop does. A
    filter the vector evaluator rejects takes that loop over every entry."""
    import numpy as np

    entries = index.entries
    if flt.op is Op.ALWAYS_TRUE:
        return list(entries)
    try:
        mask = _vector_match(flt, index, schema)
    except _NotVectorizable:
        cand = entries
    else:
        cand = [entries[i] for i in np.flatnonzero(mask | index.is_delete).tolist()]
    return [e for e in cand
            if e.content != CONTENT_DATA or might_match(flt, _stats_for_pruning(e, schema))]


def prune_manifest_driver(path: str, flt: Expression, schema: Schema) -> list[DataFileEntry]:
    """Pruned driver-side read: bound values are decoded only for
    filter-referenced fields (vectorized via numpy over the flattened stats
    arrays when the filter is numeric), and only surviving rows become
    DataFileEntry objects. Delete-content entries always survive — they are
    pair-matched to data files later."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    if "stats_json" in t.column_names:  # legacy blob manifests: no lazy path
        d = t.to_pydict()
        entries = [_entry_from_columns(d, i) for i in range(t.num_rows)]
        return [
            e for e in entries
            if e.content != CONTENT_DATA or might_match(flt, _stats_for_pruning(e, schema))
        ]

    content = t.column("content").to_numpy()
    is_data = content == CONTENT_DATA
    try:
        match = _vector_match(flt, _ManifestTableStats(t), schema)
    except _NotVectorizable:
        match = _perrow_match(flt, t, schema)
    keep = np.flatnonzero(~is_data | match)
    d = t.take(keep).to_pydict()
    return [_entry_from_columns(d, i) for i in range(len(keep))]


def _perrow_match(flt: Expression, t, schema: Schema):
    """Per-row might-match over minimal stats (only filter columns decoded);
    covers filter shapes the vectorized evaluator rejects."""
    import numpy as np

    needed = _fid_map(schema, flt)
    n = t.num_rows
    fids_l = t.column("stats_fids").to_pylist()
    mins_l = t.column("stats_min_json").to_pylist()
    maxs_l = t.column("stats_max_json").to_pylist()
    nulls_l = t.column("stats_null_counts").to_pylist()
    vals_l = t.column("stats_value_counts").to_pylist()
    nans_l = (t.column("stats_nan_counts").to_pylist()
              if "stats_nan_counts" in t.column_names else None)
    out = np.zeros(n, dtype=bool)
    for i in range(n):
        stats: dict[str, ColumnStats] = {}
        for j, fid in enumerate(fids_l[i]):
            name = needed.get(fid)
            if name is not None:
                nan_ct = nans_l[i][j] if nans_l is not None else None
                stats[name] = ColumnStats(
                    min=json.loads(mins_l[i][j]),
                    max=json.loads(maxs_l[i][j]),
                    null_count=nulls_l[i][j],
                    value_count=vals_l[i][j],
                    nan_count=nan_ct if nan_ct is not None and nan_ct >= 0 else None,
                )
        out[i] = might_match(flt, stats)
    return out


def _stats_for_pruning(entry: DataFileEntry, schema: Schema) -> dict[str, ColumnStats]:
    """Column-name-keyed stats view for ``might_match`` (names resolved from
    field ids against the given schema, so renames don't break pruning)."""
    out: dict[str, ColumnStats] = {}
    for fid, s in entry.column_stats.items():
        f = schema.find_field_by_id(fid)
        if f is None:
            continue
        out[f.name] = ColumnStats(
            min=s.get("min"), max=s.get("max"), null_count=s.get("null_count"),
            value_count=s.get("value_count"), bloom=s.get("bloom"),
            nan_count=s.get("nan_count"),
        )
    return out


# ---------------------------------------------------------------------------
# Distributed planning: Catalyst predicate over the stats arrays
# ---------------------------------------------------------------------------

_NUMERIC_CAST = {
    "int": "long", "long": "long", "float": "double", "double": "double",
    "date": "long", "timestamp": "long", "timestamptz": "long", "time": "long",
    "boolean": "long",
}


def _stats_predicate(flt: Expression, schema: Schema):
    """Catalyst might-match predicate over the manifest's parallel-array
    stats columns. Conservative: anything it cannot express (NOT subtrees,
    string-typed bounds, missing stats) evaluates TRUE so the file survives.
    Mirrors expr.might_match's numeric branch exactly."""
    from pyspark.sql import functions as F

    TRUE = F.lit(True)

    def bound(fid: int, which: str):
        pos = F.array_position(F.col("stats_fids"), F.lit(fid)).cast("int")
        raw = F.when(pos > 0, F.element_at(F.col(f"stats_{which}_json"), pos))
        # JSON-encoded None is the STRING "null" — map it to SQL NULL before
        # any ANSI cast sees it. Latent crash pre-r6: a NaN-only float file
        # has absent bounds but null_count < value_count, so the all_null
        # short-circuit no longer guards the cast.
        return F.when(raw != F.lit("null"), raw)

    def counts(fid: int):
        pos = F.array_position(F.col("stats_fids"), F.lit(fid)).cast("int")
        nulls = F.when(pos > 0, F.element_at(F.col("stats_null_counts"), pos))
        vals = F.when(pos > 0, F.element_at(F.col("stats_value_counts"), pos))
        return nulls, vals

    def build(e: Expression):
        if e.op is Op.ALWAYS_TRUE:
            return TRUE
        if e.op is Op.ALWAYS_FALSE:
            return F.lit(False)
        if e.op is Op.AND:
            out = TRUE
            for c in e.children:
                out = out & build(c)
            return out
        if e.op is Op.OR:
            out = F.lit(False)
            for c in e.children:
                out = out | build(c)
            return out
        if e.op is Op.NOT:
            return TRUE  # might-match of NOT is conservative (expr.py:348)

        f = schema.find_field(e.column) if e.column else None
        if f is None:
            return TRUE
        fid = f.field_id
        nulls, vals = counts(fid)

        if e.op is Op.IS_NULL:
            return nulls.isNull() | (nulls > 0)
        if e.op is Op.NOT_NULL:
            return vals.isNull() | nulls.isNull() | (vals > nulls)

        cast_t = _NUMERIC_CAST.get(getattr(f.type, "name", None))
        if cast_t is None:
            return TRUE  # string/binary bounds: driver path prunes these
        _vals = [e.value] if e.op is not Op.IN else list(e.values)
        if any(isinstance(v, float) and v != v for v in _vals):
            return TRUE  # NaN literal: expr.might_match's NaN rules; row
            # filter finishes the job (conservative, never prunes)
        lo = bound(fid, "min").cast(cast_t)
        hi = bound(fid, "max").cast(cast_t)
        # all-null file: comparisons never match (expr.py:362)
        all_null = nulls.isNotNull() & vals.isNotNull() & (nulls == vals) & (vals > 0)
        no_bounds = lo.isNull() | hi.isNull()
        if getattr(f.type, "name", None) in ("float", "double"):
            # high-side prunes need a PROVEN-zero nan count — NaN rows sort
            # above every bound and bounds exclude NaN (expr.py NaN guard)
            pos = F.array_position(F.col("stats_fids"), F.lit(fid)).cast("int")
            nan_ct = F.when(pos > 0, F.element_at(F.col("stats_nan_counts"), pos))
            may_nan = nan_ct.isNull() | (nan_ct != 0)
        else:
            may_nan = F.lit(False)

        def cmp(pred):
            return ~all_null & (no_bounds | pred)

        if e.op in (Op.EQ, Op.IN):
            anyhit = F.lit(False)
            for v in _vals:
                lv = F.lit(v).cast(cast_t)
                anyhit = anyhit | ((lo <= lv) & (lv <= hi))
            return cmp(anyhit)
        if e.op is Op.GT:
            return cmp((hi > F.lit(e.value).cast(cast_t)) | may_nan)
        if e.op is Op.GTE:
            return cmp((hi >= F.lit(e.value).cast(cast_t)) | may_nan)
        if e.op is Op.LT:
            return cmp(lo < F.lit(e.value).cast(cast_t))
        if e.op is Op.LTE:
            return cmp(lo <= F.lit(e.value).cast(cast_t))
        return TRUE  # NOT_IN, STARTS_WITH, ... — row filter finishes the job

    return build(flt)


def _bucket_partition_pred(flt: Expression, specs, schema: Schema, bucket_fn: str = "spark"):
    """Catalyst predicate over ``partition_json`` mirroring the planner's
    driver-side bucket check (scan._bucket_partition_might_match) for
    top-level AND chains: an EQ/IN literal on a bucket[N] source keeps only
    rows whose recorded bucket can contain it — so at the distributed tier
    bucket pruning happens IN the Spark job and the driver never collects
    the full survivor list of a hashed layout. Conservative: entries whose
    spec lacks the field (json key absent → NULL) are kept; a partition
    field name reused across specs with DIFFERENT bucket definitions emits
    no condition; non-EQ/IN shapes emit no condition. Returns None when no
    constraint applies."""
    from pyspark.sql import functions as F

    from ..expr import Op
    from .write import _BUCKET_RE, bucket_for_literal

    # (name -> (n, source_id)) only where consistent across ALL specs.
    # A name is unsafe not just when two specs disagree on the bucket
    # definition, but also when ANY spec defines it with a NON-bucket
    # transform (e.g. identity): those entries' partition_json holds a
    # non-NULL non-ordinal value, and comparing it against bucket ordinals
    # would silently prune live files.
    defs: dict[str, tuple[int, int]] = {}
    clash: set[str] = set()
    for spec in specs:
        for pf in spec.fields:
            m = _BUCKET_RE.match(pf.transform)
            if not m:
                clash.add(pf.name)
                continue
            d = (int(m.group(1)), pf.source_id)
            if pf.name in defs and defs[pf.name] != d:
                clash.add(pf.name)
            defs[pf.name] = d
    leaves = flt.children if flt.op is Op.AND else (flt,)
    conds = []
    for leaf in leaves:
        if leaf.op not in (Op.EQ, Op.IN) or not leaf.column:
            continue
        for name, (n, source_id) in defs.items():
            if name in clash:
                continue
            src = schema.find_field_by_id(source_id)
            if src is None or src.name != leaf.column:
                continue
            vals = [leaf.value] if leaf.op is Op.EQ else list(leaf.values)
            buckets = [bucket_for_literal(v, n, src.type, bucket_fn=bucket_fn) for v in vals]
            if any(b is None for b in buckets):
                continue
            j = F.get_json_object(F.col("partition_json"), f"$.{name}")
            conds.append(j.isNull() | j.isin([str(b) for b in set(buckets)]))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def plan_distributed(spark, path: str | list[str], flt: Expression, schema: Schema,
                     specs=(), bucket_fn: str = "spark") -> list[DataFileEntry]:
    """Prune a huge manifest (or manifest-list members) with a Spark job:
    filter the entry DataFrame by the stats predicate, collect only
    survivors, build entries from them."""
    from pyspark.sql import functions as F

    paths = path if isinstance(path, list) else [path]
    # mergeSchema: member manifests are immutable and REUSED across snapshots,
    # so one list can mix pre-bloom members (no stats_blooms column) with new
    # ones. Without merging, inference from one member either drops the bloom
    # column or yields rows where the whole stats_blooms array is null.
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    if "stats_json" in df.columns:  # legacy manifest: no array columns
        out: list[DataFileEntry] = []
        for p in paths:
            out.extend(prune_manifest_driver(p, flt, schema))
        return out
    pred = _stats_predicate(flt, schema)
    if specs:
        bp = _bucket_partition_pred(flt, specs, schema, bucket_fn=bucket_fn)
        if bp is not None:
            pred = pred & bp
    rows = df.filter((F.col("content") != CONTENT_DATA) | pred).collect()
    cols = {name: [r[name] for r in rows] for name in df.columns}
    return [_entry_from_columns(cols, i) for i in range(len(rows))]


# ---------------------------------------------------------------------------
# Snapshot-level bounds summary (manifest-list-level pruning analogue)
# ---------------------------------------------------------------------------


def summary_bounds(entries: list[DataFileEntry]) -> str:
    """Aggregate per-field bounds over data entries, JSON-encoded for the
    snapshot summary. None bounds poison the aggregate for that side (a file
    without a min could hold anything below the others' min)."""
    agg: dict[int, dict[str, Any]] = {}
    for e in entries:
        if e.content != CONTENT_DATA:
            continue
        for fid, s in e.column_stats.items():
            a = agg.setdefault(fid, {"min": s.get("min"), "max": s.get("max"), "seen": False})
            if a["seen"]:
                mn, mx = s.get("min"), s.get("max")
                try:
                    a["min"] = None if (mn is None or a["min"] is None) else min(a["min"], mn)
                    a["max"] = None if (mx is None or a["max"] is None) else max(a["max"], mx)
                except TypeError:
                    a["min"] = a["max"] = None
            else:
                a["seen"] = True
    return json.dumps({str(fid): {"min": a["min"], "max": a["max"]} for fid, a in agg.items()})


def merge_summary_bounds(bounds_jsons: list[str]) -> str:
    """Merge per-member bounds summaries into the snapshot-level summary
    (r13): a commit already computes ``summary_bounds`` once per written
    member (``_member_dict``), so the snapshot-wide aggregate is a merge of
    those JSON dicts — O(members x fields) instead of a second
    O(live entries) python pass per commit. Identical result by
    associativity of min/max with the same None-poisoning: a field absent
    from a member contributes nothing, exactly as its entries contributed
    nothing to the global pass."""
    agg: dict[str, dict[str, Any]] = {}
    for bj in bounds_jsons:
        for fid_s, mm in json.loads(bj).items():
            a = agg.get(fid_s)
            if a is None:
                agg[fid_s] = {"min": mm.get("min"), "max": mm.get("max")}
                continue
            mn, mx = mm.get("min"), mm.get("max")
            try:
                a["min"] = None if (mn is None or a["min"] is None) else min(a["min"], mn)
                a["max"] = None if (mx is None or a["max"] is None) else max(a["max"], mx)
            except TypeError:
                a["min"] = a["max"] = None
    return json.dumps(agg)


def decode_bounds(bounds_json: str) -> dict[int, ColumnStats] | None:
    """field id -> bounds-only ColumnStats of a bounds summary; None when
    the summary does not parse (it then prunes nothing)."""
    try:
        bounds = json.loads(bounds_json)
    except (TypeError, ValueError):
        return None
    return {int(fid_s): ColumnStats(min=b.get("min"), max=b.get("max"))
            for fid_s, b in bounds.items()}


def bounds_might_match(bounds: dict[int, ColumnStats] | None, flt: Expression,
                       schema: Schema) -> bool:
    """Check the filter against decoded aggregate bounds (``decode_bounds``);
    None bounds always match."""
    if bounds is None:
        return True
    stats = {}
    for fid, cs in bounds.items():
        f = schema.find_field_by_id(fid)
        if f is not None:
            stats[f.name] = cs
    return might_match(flt, stats)


def summary_might_match(bounds_json: str, flt: Expression, schema: Schema) -> bool:
    """Check the filter against snapshot-wide bounds; False means NO file in
    the snapshot can match, so planning skips the manifest read entirely."""
    return bounds_might_match(decode_bounds(bounds_json), flt, schema)
