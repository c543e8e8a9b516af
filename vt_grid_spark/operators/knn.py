"""kNN cell lookup (north_rule operator; reference analogue is the
hasProgeny neighborhood machinery, /root/reference/lib/tile-util.js).

Two physical strategies:

  * ``knn_bruteforce`` — queries × points cross join (queries broadcast),
    exact distance, per-query top-k via a salted two-phase aggregation
    (r6; parallelism |Q| x salt_buckets instead of |Q|).  O(|Q|·|P|) but
    fully distributed over P; right when |Q| is small.  SQL-expressible →
    this is the oracle-checked variant.

  * ``knn_cells`` — the scale path: both sides encoded at a zoom; each
    query joins only points in its cell's square ring neighborhood, with
    the (query, ring-cell) candidate relation built as DataFrame ops
    (explode over the ring offsets — NO driver loop, queries stay a
    DataFrame of any size).  Distances are refined exactly and a query's
    ring answer is kept only when it PROVES itself: at least k candidates
    AND the kth distance strictly inside the ring's guaranteed safety
    radius (the distance from the query point to the nearest ring
    boundary — any point outside the ring is at least that far away).
    Queries that can't prove k neighbors escalate to brute force, so the
    operator is EXACT; at production scale the escalation set is a
    vanishing fraction and the ring/zoom are tuned so rings hold >> k.

Distance: plain squared-degree distance (dlat² + dlon², no cos(lat)
scale) — a single fused column expression, bit-identical across engines
and in the DuckDB oracle.  Ties broken by point id.  The safety-radius
proof uses the same metric: the longitude bound is the circular arc
distance to the ring edge, which lower-bounds the plain |dlon| of any
excluded point, so the escalation test is conservative under
antimeridian wrap too.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq
from vt_grid_spark.operators.encode import encode_points

_INF = float("inf")
_INF_SQL = "CAST('Infinity' AS DOUBLE)"


def _d2(qlon, qlat, plon, plat):
    dlat = qlat - plat
    dlon = qlon - plon
    return dlat * dlat + dlon * dlon


def knn_bruteforce(points: DataFrame, queries: DataFrame, k: int,
                   point_id: str = "url", query_id: str = "qid",
                   salt_buckets: int = 64) -> DataFrame:
    """Exact kNN, queries broadcast. Output: (qid, rank, point_id, d2).

    Two-phase salted top-k (r6): the r5 window form partitioned the
    |Q| x |P| cross join by query id alone, so a 4-query brute pass
    sorted 2M rows in 4 tasks while the other 28 cores idled.  Phase 1
    takes each (query, salt)'s top-k — the salt is a deterministic hash
    of the point id (never rand(); guide §2.5 retry rule) — giving
    |Q| x salt_buckets parallel groups; phase 2 merges the
    salt_buckets * k survivors per query.  The struct sort (d2 asc, id
    asc) is the window's exact order, so rows and ranks are identical."""
    q = queries.select(
        F.col(query_id),
        F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"),
    )
    cand = points.crossJoin(F.broadcast(q)).withColumn(
        "d2", _d2(F.col("_qlon"), F.col("_qlat"), F.col("lon"), F.col("lat"))
    )
    salt = F.pmod(F.xxhash64(F.col(point_id)), F.lit(salt_buckets))
    part = (
        cand.groupBy(F.col(query_id), salt.alias("_s"))
        .agg(F.slice(F.array_sort(F.collect_list(F.struct("d2", point_id))),
                     1, k).alias("_top"))
    )
    merged = (
        part.select(query_id, F.explode("_top").alias("_t"))
        .groupBy(query_id)
        .agg(F.slice(F.array_sort(F.collect_list("_t")), 1, k).alias("_top"))
    )
    return (
        merged.select(query_id, F.posexplode("_top").alias("_pos", "_t"))
        .select(query_id, (F.col("_pos") + 1).alias("rank"),
                F.col(f"_t.{point_id}").alias(point_id),
                F.col("_t.d2").alias("d2"))
    )


def _ring_boundary_d2_sql(z: int, ring: int) -> str:
    """SQL text: squared safety radius for a query encoded at (_qx, _qy).

    The ring guarantees every point whose cell lies outside it is at least
    ``min(edge distances)`` away in the plain-degree metric:

      * lon sides — circular arc distance from _qlon to the ring's west /
        east edge (pmod 360 handles antimeridian wrap; plain |dlon| of any
        point is >= its circular distance, so this is a lower bound);
        +inf when the ring covers the full x extent;
      * lat sides — distance to the ring's north / south edge; +inf when
        the ring is clamped at the top/bottom tile row (encode clamps
        out-of-range latitudes INTO those rows, so nothing exists beyond).

    Emitted as ONE generated SQL string (the :mod:`sqltext` twins keep the
    double arithmetic textually identical to the Column builders) instead
    of ~20 nested Column constructors: each python-side constructor is a
    py4j round trip, and this expression is rebuilt at every escalation
    level of every knn_cells call — measured ~0.1 s of pure driver time
    per level on this box.
    """
    n_tiles = 1 << z
    if 2 * ring + 1 >= n_tiles:
        d_west = d_east = _INF_SQL
    else:
        west = sq.tile_lon_sql(f"(_qx - {ring})", z)
        east = sq.tile_lon_sql(f"(_qx + {ring + 1})", z)
        d_west = f"pmod(_qlon - {west}, 360.0D)"
        d_east = f"pmod({east} - _qlon, 360.0D)"
    nlat = sq.tile_lat_sql(f"(_qy - {ring})", z)
    slat = sq.tile_lat_sql(f"(_qy + {ring + 1})", z)
    d_north = (f"(CASE WHEN _qy - {ring} <= 0 THEN {_INF_SQL} "
               f"ELSE {nlat} - _qlat END)")
    d_south = (f"(CASE WHEN _qy + {ring} >= {n_tiles - 1} THEN {_INF_SQL} "
               f"ELSE _qlat - {slat} END)")
    b = f"least({d_west}, {d_east}, {d_north}, {d_south})"
    return f"({b}) * ({b})"


def unpersist_knn(df: DataFrame, blocking: bool = False) -> None:
    """Release the cached escalation-seam frames a top-level
    :func:`knn_cells` call pinned.  Call AFTER the result is materialized
    (collected / written) — in a long-lived session repeated knn_cells
    calls would otherwise accumulate cached blocks until the block
    manager evicts them."""
    for f in getattr(df, "_knn_persisted", []):
        f.unpersist(blocking)


def knn_cells(points: DataFrame, queries: DataFrame, k: int, z: int = 7,
              ring: int = 1, point_id: str = "url", query_id: str = "qid",
              broadcast_threshold: int = 100_000,
              rering_steps: int = 2,
              stats: dict | None = None,
              _small_q: bool | None = None,
              _persisted: list | None = None,
              _n_q: int | None = None,
              _enc_p: DataFrame | None = None) -> DataFrame:
    """Cell-bucketed EXACT kNN: ring candidates + safety-radius-verified
    top-k, bounded re-ring escalation, brute-force only for the residue.

    Fully distributed: candidate cells come from an explode over the ring
    offsets — no collect.  The (query, ring-cell) candidate relation is
    broadcast only while the query side is provably small
    (``broadcast_threshold`` queries, probed with a short-circuiting
    ``limit(n+1).count()``); above that it reaches the point table by a
    shuffle-hash join on (x, y), so an arbitrarily large query DataFrame
    degrades to a shuffle instead of killing the driver.  Queries the ring
    cannot PROVE (fewer than k candidates, or the kth distance not strictly
    inside the ring's safety radius) escalate ``rering_steps`` times with a
    doubled-plus-one ring before the final brute-force pass — the
    escalation set shrinks geometrically, so brute force only ever sees a
    vanishing residue.  Default 2 re-rings: measured at 200k queries x
    500k points (z8), one re-ring left a 1.8k-query residue whose
    |residue| x |P| brute cross-join cost ~100 s; the second re-ring
    (ring=7, trivially cheap candidates) collapses it — 127 s -> 29 s warm.

    Escalation is ADAPTIVE: each level counts its actual unproven residue
    (an O(level-output) job against the already-persisted seam — the
    level would have been materialized by the final action anyway).
    Residue 0 returns immediately — no wider ring, no brute scan (the
    common dense-corpus tiny-|Q| case: measured |Q|=4 at sf0.1, the
    3-blind-level plan cost 8.5 s vs ~4 s with the early exit).  A
    non-empty residue ALWAYS re-rings while steps remain — a brute pass
    windows |residue| x |P| rows (one giant sorted partition per query),
    which a wider-ring scan beats at any corpus size (measured 350 s
    brute-first vs 18 s re-ring-first at a 37.5k-query sparse case, and
    127 s -> 29 s from the second re-ring level at 200k x 500k).

    NOTE: this operator runs EAGER jobs at call time (the broadcast-size
    probe's ``limit(n+1).count()``, and one residue count per escalation
    level); if ``queries`` is an expensive derived DataFrame, cache it
    first.  The result pins the per-level escalation-seam caches;
    release them after materializing with :func:`unpersist_knn`.
    """
    track: list = [] if _persisted is None else _persisted
    n_tiles = 1 << z
    # persist the encoded point table at the TOP level: every escalation
    # level joins the same (x, y)-encoded points at the same zoom, and the
    # r5 shape re-evaluated the full upstream point pipeline (scan /
    # generator + encode) once per level plus once for the brute tail.
    # Size is |P| x a few columns, distributed, spills to disk; released
    # with the seams by unpersist_knn.
    if _enc_p is None:
        enc_p = encode_points(points, z, with_quadkey=False) \
            .select(point_id, "lon", "lat", "x", "y").persist()
        track.append(enc_p)
    else:
        enc_p = _enc_p

    q = encode_points(queries, z, with_quadkey=False).selectExpr(
        sq.bq(query_id), "lon AS _qlon", "lat AS _qlat", "x AS _qx", "y AS _qy",
    ).withColumn("_bd2", F.expr(_ring_boundary_d2_sql(z, ring)))

    # (query, ring-cell) candidate relation — explode over the (2r+1)^2
    # neighbor offsets, x wrapping, y clamped (tilemath.neighbors semantics).
    # When the ring spans MORE than the full x extent (reachable via the
    # 1->3->7->15 re-ring recursion at small z), pmod would emit the same
    # (query, x, y) cell from several dx offsets — duplicate candidates
    # would then occupy several top-k ranks and inflate the _n >= k proof.
    # Enumerate each wrapped x column exactly once instead (no distinct
    # shuffle needed; the safety radius already reads +inf here).
    if 2 * ring + 1 > n_tiles:
        dxs = range(n_tiles)
    else:
        dxs = range(-ring, ring + 1)
    # one F.expr over a generated SQL literal instead of (2r+1)^2 nested
    # F.struct(F.lit, F.lit) calls: each python-side constructor is a py4j
    # round trip, and at the 1->3->7 escalation ladder the three offset
    # arrays alone cost ~1.2 s of pure DRIVER time per knn_cells call
    # (225 structs at ring 7); the parsed expression tree is identical
    # (int literals, same field names — equality tested element-wise).
    offsets = "array(" + ",".join(
        f"struct({dx} as dx,{dy} as dy)"
        for dx in dxs for dy in range(-ring, ring + 1)) + ")"
    cells = (
        q.selectExpr("*", f"explode({offsets}) AS _o")
        .selectExpr(
            sq.bq(query_id), "_qlon", "_qlat", "_bd2",
            f"pmod(_qx + _o.dx, {n_tiles}) AS x",
            "_qy + _o.dy AS y",
        )
        .where(f"y >= 0 AND y < {n_tiles}")
    )
    # CELL-level safety-radius prune (r6): a ring cell whose nearest
    # possible point is already outside the query's safety radius can
    # contribute no candidate that survives the row-level d2 < _bd2
    # filter — drop the (query, cell) row before the join, so its points
    # are never probed at all.  The bound is a strict LOWER bound on any
    # contained point's d2: the lon term is the circular arc distance to
    # the cell's lon interval (plain |dlon| >= circular, and a
    # pole-clamped point's latitude lies beyond the cell's lat interval,
    # so the interval distance under-estimates there too) — conservative
    # under antimeridian wrap and clamping, therefore proven/escalation
    # sets are byte-identical.  Typically kills the far-side ring cells
    # (the radius is the distance to the NEAREST ring edge).
    _cw = sq.tile_lon_sql("x", z)
    _ce = sq.tile_lon_sql("(x + 1)", z)
    _cn = sq.tile_lat_sql("y", z)
    _cs = sq.tile_lat_sql("(y + 1)", z)
    _dlon = (f"(CASE WHEN _qlon >= {_cw} AND _qlon <= {_ce} THEN 0.0D "
             f"ELSE least(pmod({_cw} - _qlon, 360.0D), "
             f"pmod(_qlon - {_ce}, 360.0D)) END)")
    _dlat = f"greatest(0.0D, {_cs} - _qlat, _qlat - {_cn})"
    cells = cells.where(
        f"({_dlon}) * ({_dlon}) + ({_dlat}) * ({_dlat}) < _bd2")

    # size gate: limit(n+1).count() stops scanning past the threshold, so
    # the probe is O(threshold) regardless of |Q|; probed once at the top
    # level only (recursion receives the decision via _small_q).  When the
    # probe comes back under the threshold it IS the exact |Q|, which the
    # residue arithmetic below reuses — no second count job.
    n_q = None
    if _small_q is None:
        if broadcast_threshold > 0:
            probe = queries.limit(broadcast_threshold + 1).count()
            small_q = probe <= broadcast_threshold
            if small_q:
                n_q = probe
        else:
            small_q = False
        if n_q is None:
            # one count of the query frame (callers cache expensive query
            # plans per the docstring); each recursion level inherits its
            # |Q| from the parent's residue, so this runs once per call
            n_q = queries.count()
    else:
        small_q = _small_q
        n_q = _n_q
    cells_j = F.broadcast(cells) if small_q else cells.hint("shuffle_hash")

    # safety-radius PREFILTER (r6): a candidate with d2 >= _bd2 can never
    # sit in a PROVEN query's top-k — proof demands the kth distance
    # strictly inside the radius, so if >= k candidates survive this
    # filter they are exactly the unfiltered top-k (any dropped row has
    # strictly larger d2, and equal-d2 rows fall on the same side), and
    # if fewer survive the query was unproven either way.  Identical
    # proven rows AND identical escalation set, but the filter runs in
    # the join stage BEFORE the per-query exchange+sort — measured ~3x
    # fewer rows through the window at the 200k x 500k bench point
    # (ring area vs inscribed safety circle).
    cand = enc_p.join(cells_j, ["x", "y"]).withColumn(
        "d2", _d2(F.col("_qlon"), F.col("_qlat"), F.col("lon"), F.col("lat"))
    ).where(F.col("d2") < F.col("_bd2"))

    # per-query top-k as ONE hash aggregation (r6): collect the surviving
    # candidates per query, array_sort the (d2, id) structs — the struct
    # field order IS the window's (d2 asc, id asc) tie-break — and slice
    # the first k.  Replaces the r5 Exchange+Sort+rank-Window+two-more-
    # Window chain: no total sort of the multi-million-row candidate
    # relation, just an O(c log c) sort of each query's own c candidates
    # (c ~ tens post-prefilter).  Verified row-identical against the
    # window form at the 200k x 500k bench point.
    #
    # keep a query's ring answer only when it is PROVEN: >= k candidates
    # and the kth distance strictly inside the safety radius — otherwise a
    # true neighbor could hide just outside the ring (the adversarial
    # sparse-cell case in tests/test_spatial.py).  With the prefilter the
    # kth-distance check is implied (every kept candidate is inside the
    # radius), but it stays as a cheap belt-and-braces guard.
    agg = cand.groupBy(query_id).agg(
        F.slice(F.array_sort(F.collect_list(F.struct("d2", point_id))),
                1, k).alias("_top"),
        F.count(F.lit(1)).alias("_n"),
        F.min("_bd2").alias("_bd2"),
    )
    proven = (
        agg.where((F.col("_n") >= k)
                  & (F.element_at("_top", k)["d2"] < F.col("_bd2")))
        .select(query_id, F.posexplode("_top").alias("_pos", "_t"))
        .select(query_id, (F.col("_pos") + 1).alias("rank"),
                F.col(f"_t.{point_id}").alias(point_id),
                F.col("_t.d2").alias("d2"))
    )
    # persist: `proven` feeds BOTH the output union and the escalation
    # anti-join; without it each escalation level re-evaluates the whole
    # scan+join+window subtree of every level above it (~2x per level).
    # Size is bounded by the operator's own output (|Q| * k rows),
    # distributed, spills to disk — never driver-resident.  The handle is
    # tracked so unpersist_knn can release it post-materialization.
    proven = proven.persist()
    track.append(proven)

    # escalate the rest (includes queries with an empty ring, which never
    # reach topk).  ADAPTIVE with arithmetic residue (r6): counting
    # `proven` materializes this level into the persisted seam (work the
    # final action needed anyway), and because a proven query contributes
    # EXACTLY k rows (rank <= k filtered on _n >= k), the residue is
    # |Q| - count(proven)/k — the r5 shape instead ran a
    # distinct+anti-join job per level just to count it, then re-evaluated
    # the same anti-join inside the next level's materialization.  The
    # anti-join is still built (lazily) to FEED the escalation, but now
    # executes once, fused into the next level's own job.  Residue 0 means
    # DONE (skip both the wider ring and the brute scan of P); >0 always
    # prefers a wider ring while steps remain, because the brute fallback
    # windows |residue| x |P| rows in one sorted partition per query
    # (measured: 350 s brute-first vs 18 s re-ring-first at a 37.5k-query
    # sparse case).
    import time as _time

    t0 = _time.perf_counter()
    n_proven_rows = proven.count()
    if n_proven_rows % k:
        raise AssertionError(
            f"proven must hold exactly k={k} rows per proven query, got "
            f"{n_proven_rows} rows — the _n >= k window filter changed?")
    n_esc = n_q - n_proven_rows // k
    if stats is not None:
        stats.setdefault("levels", []).append(
            {"ring": ring, "n_q": n_q, "residue": n_esc,
             "level_wall": round(_time.perf_counter() - t0, 3)})
    esc_q = queries.join(
        proven.select(query_id).distinct(), query_id, "left_anti")
    if n_esc == 0:
        rest = None
    elif rering_steps > 0:
        # re-evaluate the caller's broadcast gate with the EXACT residue
        # (r6): once the escalation set shrinks under broadcast_threshold
        # the next level's ring-cell relation is broadcast — the same
        # driver-safety contract the top level applies (the small-|Q|
        # path already broadcasts grown rings), and it sidesteps (x, y)
        # join skew entirely because the persisted point table stays on
        # its natural partitions (measured 44 s -> 6 s on a ring-7 level
        # whose queries ring a 100k-point hot cell, and it drops both
        # join exchanges on the quiet bench shape).
        esc_small = small_q or (broadcast_threshold > 0
                                and n_esc <= broadcast_threshold)
        rest = knn_cells(points, esc_q, k, z=z, ring=2 * ring + 1,
                         point_id=point_id, query_id=query_id,
                         broadcast_threshold=broadcast_threshold,
                         rering_steps=rering_steps - 1, stats=stats,
                         _small_q=esc_small, _persisted=track, _n_q=n_esc,
                         _enc_p=enc_p)
    else:
        # brute tail reads the persisted encoded table too (it carries
        # the id + lon/lat the cross join needs) instead of re-running
        # the raw point pipeline one more time
        rest = knn_bruteforce(enc_p.select(point_id, "lon", "lat"),
                              esc_q, k,
                              point_id=point_id, query_id=query_id)
    out = proven if rest is None else proven.unionByName(rest)
    if _persisted is None:  # top level: expose handles for unpersist_knn
        out._knn_persisted = track
    return out
