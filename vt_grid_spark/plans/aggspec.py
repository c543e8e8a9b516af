"""Aggregation spec -> Catalyst aggregate expressions.

The reference configures per-layer reducers by name
(``{layer: {field: reducerName}}``, /root/reference/bin/vt-grid:30-44,
resolved from geojson-polygon-aggregate at lib/aggregate.js:18-25) and
applies them once per (cell, feature).  Here a spec compiles to a list of
``F.agg`` expressions, and — crucially for the pyramid — each reducer knows
its *rollup* form so level z-1 composes from level z's partials (the
manual count→sum pattern of README.md:66-74, generalized).

:data:`REDUCERS` is the ONE definition of every reducer: its partial
columns, base-level expressions, merge kind and finalizer.  Everything
else is derived from it — ``compile_aggs``, ``compile_rollup_aggs``,
``finalize_columns``, the rollup input contract (``partial_columns``) and
the salting decision (``is_holistic``).  A merge kind (sum, min, max,
union, kmv, hist) has two executors with one meaning, as the tile math has
Spark text and numpy twins: ``_MERGES`` builds the Catalyst aggregate that
Spark's rollups and merges run (``rollup_ancestors``: a Spark level, the
in-memory pyramid and the delta chain; ``merge_cells``), and
``_ARROW_MERGES`` runs the same merge on a level collected to the driver
(``merge_arrow``, the build tail), reproducing Spark's NaN, null and
array-order rules exactly.  Adding a reducer means adding one table entry;
a new merge kind needs both executors.

Custom reducers (reference lib/aggregate.js:26-36) are Python callables
run via applyInPandas — see operators/custom_reduce.py.
postAggregations (lib/aggregate-cells.js:96-101) are withColumn hooks
applied after the agg.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from vt_grid_spark.functions.sqltext import bq

# KMV hash domain: 60 uniform bits from md5 (same derivation the dedup
# and simhash operators use, so DuckDB mirrors it exactly)
KMV_DOMAIN = 1 << 60


@dataclass
class AggSpec:
    """One output field: reducer applied to an input field.

    out       — output column name (stable across all pyramid levels)
    reducer   — one of VALID_REDUCERS
    field     — input column (ignored for count/totalArea)
    weight    — weight column for area-weighted reducers (1.0 for every
                row when unset; polygon clip's ``area`` column is the
                clipped part's spherical area)
    k         — sketch size for kmvDistinct (k smallest hashes kept)
    buckets/width/quantiles — histQuantile configuration: the cell value
                is a ``buckets``-long array of counts over linear bins of
                ``width`` (power of 2 — keeps v/width exact in binary FP
                so Spark and DuckDB bucket identically); finalize emits a
                ``<out>_pNN`` lower-bound column per requested quantile.
                ALGEBRAIC (sum-mergeable) unlike union/kmvDistinct, so it
                is skew-immune via map-side partials — bounded state per
                cell where an exact percentile would collect-and-sort.

    ``kmvDistinct`` is the engine's mergeable distinct-count sketch
    (k-minimum-values, Bar-Yossef et al. 2002): the cell value is the k
    smallest distinct 60-bit md5 hashes of the field, so the rollup merge
    (k smallest of the children's unions) is EXACT — kmv(A ∪ B) ==
    merge(kmv(A), kmv(B)) — and the whole pyramid of sketches is
    deterministic and DuckDB-oracle-checkable, unlike HLL registers.
    Estimate: exact size below k, else (k-1) * DOMAIN / kth_smallest.
    """

    out: str
    reducer: str
    field: str | None = None
    weight: str | None = None
    k: int = 64
    buckets: int = 32
    width: float = 64.0
    quantiles: tuple = (0.5, 0.95)

    def __post_init__(self):
        if self.reducer not in VALID_REDUCERS:
            raise ValueError(
                f"unknown reducer {self.reducer!r}; valid: {sorted(VALID_REDUCERS)}"
                " (reference rejects unknown names the same way, bin/vt-grid:39-41)")
        if self.reducer == "histQuantile":
            # power-of-2 width: v / width is then EXACT in binary floating
            # point for every v, so the bucket assignment is bit-identical
            # across Spark and DuckDB (an inexact division could flip a
            # boundary value into the neighboring bucket in one engine)
            w = self.width
            if w <= 0 or (w != int(w) and 1.0 / w != int(1.0 / w)) or \
                    (int(max(w, 1.0 / w)) & (int(max(w, 1.0 / w)) - 1)):
                raise ValueError(
                    f"histQuantile width must be a power of 2, got {w!r}")


# the reference's CLI aggregation-string pattern 'layer:func(field)'
# (/root/reference/bin/vt-grid:33)
_AGG_STRING_RE = re.compile(r"([^:]+):([^(]+)\((.*)\)")


def parse_agg_strings(args: list[str]) -> dict[str, list[AggSpec]]:
    """Parse vt-grid CLI aggregation strings into per-layer specs.

    Mirrors /root/reference/bin/vt-grid:30-44: each string is
    ``layer:func(field)``; the output property is named after the field
    (``aggregations[layer][fieldName] = fn``); unknown reducer names raise
    (bin/vt-grid:39-41 — here via AggSpec validation).  ``count()`` with an
    argument names the output count column, like the reference's
    ``count(outField)`` reducer signature."""
    out: dict[str, list[AggSpec]] = {}
    for s in args:
        m = _AGG_STRING_RE.search(s)
        if not m:
            raise ValueError(
                f"bad aggregation string {s!r}: expected 'layer:func(field)'"
                " (reference bin/vt-grid:33)")
        layer, fn, fieldname = m.group(1), m.group(2), m.group(3)
        spec = AggSpec(out=fieldname or fn, reducer=fn,
                       field=fieldname or None)
        out.setdefault(layer, []).append(spec)
    return out


def _w(spec: AggSpec) -> Column:
    return F.col(spec.weight) if spec.weight else F.lit(1.0)


def _kmv_base(s: AggSpec) -> list[Column]:
    h = F.expr(f"cast(conv(substring(md5(cast({bq(s.field)} as string)),"
               f" 1, 15), 16, 10) as bigint)")
    return [F.slice(F.array_sort(F.collect_set(h)), 1, s.k)]


def _hist_base(s: AggSpec) -> list[Column]:
    # fixed linear-bucket histogram as an array<bigint> of length
    # ``buckets``: bucket = clamp(floor(v / width)).  EXACTLY mergeable
    # (rollup = elementwise sum), deterministic, and DuckDB-oracle-checkable
    # — the per-cell quantile sketch a 100 TB pyramid needs where
    # collect-and-sort cannot run (percentile resolution = width, bounded
    # state = buckets).  One F.expr over generated SQL text instead of ~8
    # Column constructors per bucket (each a py4j round trip): the
    # 32-bucket default cost ~0.2 s of pure DRIVER time per compile_aggs
    # call.  CASE mirrors when/otherwise exactly and repr() round-trips the
    # width double, so bucketing is bit-identical (oracle + merge-proof
    # tests green).
    b = (f"cast(least({s.buckets - 1}, greatest(0, "
         f"floor({bq(s.field)} / {s.width!r}D))) as int)")
    return [F.expr("array(" + ",".join(
        f"sum(cast(CASE WHEN {b} = {i} THEN 1 ELSE 0 END as long))"
        for i in range(s.buckets)) + ")")]


def _kmv_estimate(s: AggSpec) -> dict[str, Column]:
    kth = F.element_at(F.col(s.out), s.k)
    return {f"{s.out}_est": F.when(
        F.size(s.out) < s.k, F.size(s.out).cast("double")
    ).otherwise(
        F.round(F.lit(float(s.k - 1)) * F.lit(float(KMV_DOMAIN)) / kth, 4))}


def _hist_quantiles(s: AggSpec) -> dict[str, Column]:
    # q-quantile lower bound: first bucket whose cumulative count reaches
    # ceil(q * total), reported as bucket_lo = idx * width.  Integer cumsums
    # + an exact ceil comparison — deterministic, mirrored in the DuckDB
    # oracle (whose per-prefix list_sum is the same monotone cumsum, so
    # first-match == min-match).  Linear: ONE running-sum fold carrying
    # (run, pos, hit) finds the index — a per-prefix re-sum was
    # O(buckets^2) per row.  The threshold is hoisted through a
    # single-element transform (nested higher-order lambdas capture outer
    # variables) so the total fold runs once, not once per element.
    col = bq(s.out)
    total = f"aggregate({col}, 0L, (a, x) -> a + x)"
    return {f"{s.out}_p{int(round(q * 100))}": F.expr(
        f"cast(transform(array(ceil({q!r} * {total})), t -> "
        f"aggregate({col}, "
        f"named_struct('run', 0L, 'pos', 0, 'hit', -1), "
        f"(a, x) -> named_struct("
        f"'run', a.run + x, 'pos', a.pos + 1, "
        f"'hit', CASE WHEN a.hit >= 0 THEN a.hit "
        f"WHEN a.run + x >= t THEN a.pos ELSE -1 END), "
        f"a -> a.hit))[0] * {s.width!r} as double)")
        for q in s.quantiles}


@dataclass(frozen=True)
class Reducer:
    """One reducer, defined once.

    partials — suffixes of the stored columns, each named ``out + suffix``
    base     — spec -> base-level aggregate expressions, one per partial
    merge    — the combiner every partial rolls up with (a key of _MERGES);
               each is a commutative monoid, so level z-1 is built from
               level z's partials
    finalize — spec -> presentation columns derived from the partials
    """

    partials: tuple[str, ...]
    base: Callable[[AggSpec], list[Column]]
    merge: str
    finalize: Callable[[AggSpec], dict[str, Column]] | None = None


_MERGES: dict[str, Callable[[AggSpec, str], Column]] = {
    "sum": lambda s, c: F.sum(c),
    "min": lambda s, c: F.min(c),
    "max": lambda s, c: F.max(c),
    # children carry sorted arrays; flatten + re-distinct
    "union": lambda s, c: F.array_sort(F.array_distinct(
        F.flatten(F.collect_list(c)))),
    # k smallest of the union of children's k-smallest — exact
    "kmv": lambda s, c: F.slice(F.array_sort(F.array_distinct(
        F.flatten(F.collect_list(c)))), 1, s.k),
    # elementwise sum of the children's bucket arrays — exact; generated
    # SQL text for the same py4j-latency reason as the base-level compile
    "hist": lambda s, c: F.expr("array(" + ",".join(
        f"sum(element_at({bq(c)}, {i + 1}))" for i in range(s.buckets)) + ")"),
}


def _by_group(g: np.ndarray, col, agg: str) -> pa.ChunkedArray:
    """One pyarrow hash aggregate of ``col`` per group id ``g`` (ascending
    and contiguous, so the single-threaded output is in group order)."""
    return (pa.table({"g": g, "c": col}).group_by("g", use_threads=False)
            .aggregate([("c", agg)]).column(f"c_{agg}"))


def _arrow_min(s: AggSpec, col, g: np.ndarray, n: int):
    # pyarrow skips NaN (an all-NaN group gives +inf); Spark's min is NaN
    # only when every non-null input is NaN
    if not pa.types.is_floating(col.type):
        return _by_group(g, col, "min")
    nan = pc.is_nan(col)
    low = _by_group(g, pc.if_else(nan, pa.scalar(None, col.type), col), "min")
    all_nan = pc.and_(pc.is_null(low), pc.fill_null(_by_group(g, nan, "any"), False))
    return pc.if_else(all_nan, pa.scalar(float("nan"), col.type), low)


def _arrow_max(s: AggSpec, col, g: np.ndarray, n: int):
    # Spark's max is NaN when any input is NaN (NaN sorts above +inf)
    if not pa.types.is_floating(col.type):
        return _by_group(g, col, "max")
    any_nan = pc.fill_null(_by_group(g, pc.is_nan(col), "any"), False)
    return pc.if_else(any_nan, pa.scalar(float("nan"), col.type),
                      _by_group(g, col, "max"))


def _arrow_union(s: AggSpec, col, g: np.ndarray, n: int, k: int | None = None):
    # flatten (a null array contributes nothing, as in collect_list), one
    # of each (g, value) -- NaN and null are one group each, as in
    # array_distinct -- sorted ascending with nulls last (array_sort)
    parent = pc.list_parent_indices(col).to_numpy()
    t = (pa.table({"g": g[parent], "v": pc.list_flatten(col)})
         .group_by(["g", "v"], use_threads=False).aggregate([]))
    t = t.take(pc.sort_indices(t, [("g", "ascending"), ("v", "ascending")],
                               null_placement="at_end"))
    owner = t["g"].to_numpy()
    if k is not None:  # kmv: the k smallest of each group
        keep = np.arange(len(owner)) - np.searchsorted(owner, owner) < k
        t, owner = t.filter(keep), owner[keep]
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(np.bincount(owner, minlength=n), out=offsets[1:])
    return pa.ListArray.from_arrays(offsets, t["v"].combine_chunks())


def _arrow_hist(s: AggSpec, col, g: np.ndarray, n: int):
    # per-bucket sum; a bucket that no child fills is null, as Spark's sum
    # over nulls alone is
    parent = pc.list_parent_indices(col).to_numpy()
    pos = np.arange(len(parent)) - np.searchsorted(parent, parent)
    inside = pos < s.buckets
    sums = (pa.table({"cell": (g[parent] * s.buckets + pos)[inside],
                      "v": pc.list_flatten(col).filter(pa.array(inside))})
            .group_by("cell", use_threads=False).aggregate([("v", "sum")]))
    at = np.full(n * s.buckets, -1, np.int64)
    at[sums["cell"].to_numpy()] = np.arange(sums.num_rows)
    values = sums["v_sum"].combine_chunks().take(pa.array(at, mask=at < 0))
    return pa.ListArray.from_arrays(
        np.arange(0, n * s.buckets + 1, s.buckets, dtype=np.int32), values)


# the driver-side executor of the same combiners, for a level collected as
# Arrow (the build tail): each reproduces its _MERGES entry exactly
_ARROW_MERGES: dict[str, Callable] = {
    "sum": lambda s, c, g, n: _by_group(g, c, "sum"),
    "min": _arrow_min,
    "max": _arrow_max,
    "union": _arrow_union,
    "kmv": lambda s, c, g, n: _arrow_union(s, c, g, n, k=s.k),
    "hist": _arrow_hist,
}

REDUCERS: dict[str, Reducer] = {
    "count": Reducer(("",), lambda s: [F.count(F.lit(1))], "sum"),
    "sum": Reducer(("",), lambda s: [F.sum(s.field)], "sum"),
    "min": Reducer(("",), lambda s: [F.min(s.field)], "min"),
    "max": Reducer(("",), lambda s: [F.max(s.field)], "max"),
    "mean": Reducer(
        ("__cnt", "__sum"),
        lambda s: [F.count(s.field).cast("double"), F.sum(s.field)], "sum",
        lambda s: {s.out: F.col(f"{s.out}__sum") / F.col(f"{s.out}__cnt")}),
    # README.md:49-61
    "areaWeightedMean": Reducer(
        ("__w", "__wv"),
        lambda s: [F.sum(_w(s)), F.sum(_w(s) * F.col(s.field))], "sum",
        lambda s: {s.out: F.col(f"{s.out}__wv") / F.col(f"{s.out}__w")}),
    "areaWeightedSum": Reducer(
        ("",), lambda s: [F.sum(_w(s) * F.col(s.field))], "sum"),
    "totalArea": Reducer(("",), lambda s: [F.sum(_w(s))], "sum"),
    # README.md:101,154
    "union": Reducer(
        ("",), lambda s: [F.array_sort(F.collect_set(s.field))], "union"),
    "kmvDistinct": Reducer(("",), _kmv_base, "kmv", _kmv_estimate),
    "histQuantile": Reducer(("",), _hist_base, "hist", _hist_quantiles),
}

VALID_REDUCERS = frozenset(REDUCERS)


def partial_columns(specs: list[AggSpec]) -> list[str]:
    """The stored aggregate columns of ``specs``, in compile order: what a
    rollup or merge reads.  Plain strings, no Column construction."""
    return [s.out + p for s in specs for p in REDUCERS[s.reducer].partials]


def is_holistic(specs: list[AggSpec]) -> bool:
    """True when any spec's merge keeps a cell's values (union, kmv) rather
    than a fixed-size summary: a hot cell's rows then meet in one task, so
    rollups of these specs salt."""
    return any(REDUCERS[s.reducer].merge in ("union", "kmv") for s in specs)


def count_column(specs: list[AggSpec]) -> str | None:
    """Output column of the first ``count`` spec (the per-cell point
    count the hot-key bookkeeping reads), or None."""
    return next((s.out for s in specs if s.reducer == "count"), None)


def compile_aggs(specs: list[AggSpec]) -> list[Column]:
    """Base-level aggregate expressions (features -> cells).

    Partial-friendly reducers (mean, areaWeightedMean) emit their partials
    as ``<out>__cnt/<out>__sum/<out>__w/<out>__wv`` so every pyramid level
    can recompute the final value AND keep composing upward.
    """
    out: list[Column] = []
    for s in specs:
        r = REDUCERS[s.reducer]
        out += [e.alias(s.out + p)
                for p, e in zip(r.partials, r.base(s), strict=True)]
    return out


def compile_rollup_aggs(specs: list[AggSpec]) -> list[Column]:
    """Level z -> z-1 aggregate expressions over the partial columns.

    Reads ``spec.out`` (and ``out__*`` partials), NOT ``spec.field``:
    rollup input is by contract the output of :func:`compile_aggs`, where
    the base-level ``field`` has already been folded into ``out``.
    ``rollup_ancestors`` validates the input frame against this contract."""
    return [_MERGES[REDUCERS[s.reducer].merge](s, s.out + p).alias(s.out + p)
            for s in specs for p in REDUCERS[s.reducer].partials]


def merge_arrow(cells: pa.Table, x: np.ndarray, y: np.ndarray,
                specs: list[AggSpec]) -> pa.Table:
    """:func:`compile_rollup_aggs` run on the driver: the rows of ``cells``
    (an Arrow table of partial columns) grouped on the non-negative integer
    keys ``x, y`` (one per row, below 2^32), each partial merged by its
    kind's Arrow executor.  Output: x, y (int64), the partial columns,
    not null where Spark's merge is never null (an array merge); sorted by
    (x, y)."""
    key = (x.astype(np.int64) << 32) | y.astype(np.int64)
    order = np.argsort(key, kind="stable")
    key = key[order]
    first = np.ones(len(key), bool)
    first[1:] = key[1:] != key[:-1]
    g, n = np.cumsum(first) - 1, int(first.sum())
    cols = [pa.array(key[first] >> 32), pa.array(key[first] & 0xFFFFFFFF)]
    fields = [pa.field("x", pa.int64()), pa.field("y", pa.int64())]
    for s in specs:
        kind = REDUCERS[s.reducer].merge
        for p in REDUCERS[s.reducer].partials:
            col = cells[s.out + p].combine_chunks().take(order)
            cols.append(_ARROW_MERGES[kind](s, col, g, n))
            fields.append(pa.field(s.out + p, cols[-1].type,
                                   nullable=kind not in ("union", "kmv", "hist")))
    return pa.table(cols, schema=pa.schema(fields))


def finalize_columns(specs: list[AggSpec]) -> dict[str, Column]:
    """Presentation values derived from partials (applied per level when
    exporting; partial columns stay in the table for the next rollup)."""
    out: dict[str, Column] = {}
    for s in specs:
        fin = REDUCERS[s.reducer].finalize
        if fin is not None:
            out.update(fin(s))
    return out
