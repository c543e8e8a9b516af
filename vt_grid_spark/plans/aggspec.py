"""Aggregation spec -> Catalyst aggregate expressions.

The reference configures per-layer reducers by name
(``{layer: {field: reducerName}}``, /root/reference/bin/vt-grid:30-44,
resolved from geojson-polygon-aggregate at lib/aggregate.js:18-25) and
applies them once per (cell, feature).  Here a spec compiles to a list of
``F.agg`` expressions, and — crucially for the pyramid — each reducer knows
its *rollup* form so level z-1 composes from level z's partials (the
manual count→sum pattern of README.md:66-74, generalized):

  count       -> base F.count(1)            rollup F.sum(cnt)
  sum         -> F.sum(v)                   F.sum(sum_v)
  min/max     -> F.min/max(v)               F.min/max
  mean        -> partials (cnt, sum)        summed partials, mean = sum/cnt
  areaWeightedMean -> partials (w_sum, wv_sum)  summed partials (README.md:49-61)
  areaWeightedSum  -> F.sum(w*v)            F.sum
  totalArea   -> F.sum(w)                   F.sum
  union       -> sorted collect_set         flatten+re-distinct (README.md:101,154)
  histQuantile-> linear-bucket count array  elementwise sum (exact merge);
                 finalize reads p50/p95 off the cumulative counts

:func:`compile_rollup_aggs` is the ONE definition of every reducer's merge
rule: the per-level rollup (``rollup_level``), the batched pyramid tail
(``rollup_ancestors``, all small upper levels in one aggregation) and the
incremental merge (``merge_cells``) all aggregate with its combiners.

Custom reducers (reference lib/aggregate.js:26-36) are Python callables
run via applyInPandas — see operators/custom_reduce.py.
postAggregations (lib/aggregate-cells.js:96-101) are withColumn hooks
applied after the agg.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from vt_grid_spark.functions.sqltext import bq

VALID_REDUCERS = {
    "count", "sum", "min", "max", "mean",
    "areaWeightedMean", "areaWeightedSum", "totalArea", "union",
    "kmvDistinct", "histQuantile",
}

# KMV hash domain: 60 uniform bits from md5 (same derivation the dedup
# and simhash operators use, so DuckDB mirrors it exactly)
KMV_DOMAIN = 1 << 60


@dataclass
class AggSpec:
    """One output field: reducer applied to an input field.

    out       — output column name (stable across all pyramid levels)
    reducer   — one of VALID_REDUCERS
    field     — input column (ignored for count/totalArea)
    weight    — weight column for area-weighted reducers (defaults to the
                cell's spherical area at the base level; 1.0 for points)
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


@dataclass
class CompiledAggs:
    exprs: list[Column]
    finalize: dict[str, Column] = field(default_factory=dict)
    post: dict[str, Callable[[], Column]] = field(default_factory=dict)


def _w(spec: AggSpec) -> Column:
    return F.col(spec.weight) if spec.weight else F.lit(1.0)


def compile_aggs(specs: list[AggSpec]) -> list[Column]:
    """Base-level aggregate expressions (features -> cells).

    Partial-friendly reducers (mean, areaWeightedMean) emit their partials
    as ``<out>__cnt/<out>__sum/<out>__w/<out>__wv`` so every pyramid level
    can recompute the final value AND keep composing upward.
    """
    out: list[Column] = []
    for s in specs:
        if s.reducer == "count":
            out.append(F.count(F.lit(1)).alias(s.out))
        elif s.reducer == "sum":
            out.append(F.sum(s.field).alias(s.out))
        elif s.reducer == "min":
            out.append(F.min(s.field).alias(s.out))
        elif s.reducer == "max":
            out.append(F.max(s.field).alias(s.out))
        elif s.reducer == "mean":
            out.append(F.count(s.field).cast("double").alias(f"{s.out}__cnt"))
            out.append(F.sum(s.field).alias(f"{s.out}__sum"))
        elif s.reducer == "areaWeightedMean":
            out.append(F.sum(_w(s)).alias(f"{s.out}__w"))
            out.append(F.sum(_w(s) * F.col(s.field)).alias(f"{s.out}__wv"))
        elif s.reducer == "areaWeightedSum":
            out.append(F.sum(_w(s) * F.col(s.field)).alias(s.out))
        elif s.reducer == "totalArea":
            out.append(F.sum(_w(s)).alias(s.out))
        elif s.reducer == "union":
            out.append(F.array_sort(F.collect_set(s.field)).alias(s.out))
        elif s.reducer == "kmvDistinct":
            h = F.expr(f"cast(conv(substring(md5(cast({s.field} as string)),"
                       f" 1, 15), 16, 10) as bigint)")
            out.append(F.slice(F.array_sort(F.collect_set(h)), 1, s.k)
                       .alias(s.out))
        elif s.reducer == "histQuantile":
            # fixed linear-bucket histogram as an array<bigint> of length
            # ``buckets``: bucket = clamp(floor(v / width)).  EXACTLY
            # mergeable (rollup = elementwise sum), deterministic, and
            # DuckDB-oracle-checkable — the per-cell quantile sketch a
            # 100 TB pyramid needs where collect-and-sort cannot run
            # (percentile resolution = width, bounded state = buckets).
            # one F.expr over generated SQL text instead of ~8 Column
            # constructors per bucket (each a py4j round trip): the
            # 32-bucket default cost ~0.2 s of pure DRIVER time per
            # compile_aggs call.  CASE mirrors when/otherwise exactly and
            # repr() round-trips the width double, so bucketing is
            # bit-identical (oracle + merge-proof tests green).
            b = (f"cast(least({s.buckets - 1}, greatest(0, "
                 f"floor({bq(s.field)} / {s.width!r}D))) as int)")
            out.append(F.expr("array(" + ",".join(
                f"sum(cast(CASE WHEN {b} = {i} THEN 1 ELSE 0 END as long))"
                for i in range(s.buckets)) + ")").alias(s.out))
    return out


def compile_rollup_aggs(specs: list[AggSpec]) -> list[Column]:
    """Level z -> z-1 aggregate expressions over the partial columns.

    Reads ``spec.out`` (and ``out__*`` partials), NOT ``spec.field``:
    rollup input is by contract the output of :func:`compile_aggs`, where
    the base-level ``field`` has already been folded into ``out``.
    ``rollup_level`` validates the input frame against this contract."""
    out: list[Column] = []
    for s in specs:
        if s.reducer in ("count", "sum", "areaWeightedSum", "totalArea"):
            out.append(F.sum(s.out).alias(s.out))
        elif s.reducer == "min":
            out.append(F.min(s.out).alias(s.out))
        elif s.reducer == "max":
            out.append(F.max(s.out).alias(s.out))
        elif s.reducer == "mean":
            out.append(F.sum(f"{s.out}__cnt").alias(f"{s.out}__cnt"))
            out.append(F.sum(f"{s.out}__sum").alias(f"{s.out}__sum"))
        elif s.reducer == "areaWeightedMean":
            out.append(F.sum(f"{s.out}__w").alias(f"{s.out}__w"))
            out.append(F.sum(f"{s.out}__wv").alias(f"{s.out}__wv"))
        elif s.reducer == "union":
            # children carry sorted arrays; flatten + re-distinct
            out.append(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(s.out)))).alias(s.out)
            )
        elif s.reducer == "kmvDistinct":
            # k smallest of the union of children's k-smallest — exact
            out.append(
                F.slice(F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list(s.out)))), 1, s.k).alias(s.out)
            )
        elif s.reducer == "histQuantile":
            # elementwise sum of the children's bucket arrays — exact
            # merge; generated SQL text for the same py4j-latency reason
            # as the base-level compile (one F.expr vs 4/bucket)
            out.append(F.expr("array(" + ",".join(
                f"sum(element_at({bq(s.out)}, {i + 1}))"
                for i in range(s.buckets)) + ")").alias(s.out))
    return out


def finalize_columns(specs: list[AggSpec]) -> dict[str, Column]:
    """Presentation values derived from partials (applied per level when
    exporting; partial columns stay in the table for the next rollup)."""
    out: dict[str, Column] = {}
    for s in specs:
        if s.reducer == "mean":
            out[s.out] = F.col(f"{s.out}__sum") / F.col(f"{s.out}__cnt")
        elif s.reducer == "areaWeightedMean":
            out[s.out] = F.col(f"{s.out}__wv") / F.col(f"{s.out}__w")
        elif s.reducer == "kmvDistinct":
            kth = F.element_at(F.col(s.out), s.k)
            out[f"{s.out}_est"] = F.when(
                F.size(s.out) < s.k, F.size(s.out).cast("double")
            ).otherwise(
                F.round(F.lit(float(s.k - 1)) * F.lit(float(KMV_DOMAIN)) / kth, 4))
        elif s.reducer == "histQuantile":
            # q-quantile lower bound: first bucket whose cumulative count
            # reaches ceil(q * total), reported as bucket_lo = idx * width.
            # Integer cumsums + an exact ceil comparison — deterministic,
            # mirrored in the DuckDB oracle (whose per-prefix list_sum is
            # the same monotone cumsum, so first-match == min-match).
            # Linear: ONE running-sum fold carrying (run, pos, hit) finds
            # the index — a per-prefix re-sum was O(buckets^2) per row.
            # The threshold is hoisted through a single-element transform
            # (nested higher-order lambdas capture outer variables) so
            # the total fold runs once, not once per element.
            total = f"aggregate({s.out}, 0L, (a, x) -> a + x)"
            for q in s.quantiles:
                name = f"{s.out}_p{int(round(q * 100))}"
                out[name] = F.expr(
                    f"cast(transform(array(ceil({q!r} * {total})), t -> "
                    f"aggregate({s.out}, "
                    f"named_struct('run', 0L, 'pos', 0, 'hit', -1), "
                    f"(a, x) -> named_struct("
                    f"'run', a.run + x, 'pos', a.pos + 1, "
                    f"'hit', CASE WHEN a.hit >= 0 THEN a.hit "
                    f"WHEN a.run + x >= t THEN a.pos ELSE -1 END), "
                    f"a -> a.hit))[0] * {s.width!r} as double)")
    return out
