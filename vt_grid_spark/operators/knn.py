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
    Queries that can't prove k neighbors escalate to a wider ring
    (1 -> 3 -> 7), then to brute force, so the operator is EXACT; at
    production scale the escalation set is a vanishing fraction and the
    ring/zoom are tuned so rings hold >> k.  A call runs one size probe
    plus ONE job per ring level: an eager checkpoint of one row per query
    (so ``query_id`` must be unique), observed for its residue.

    A ring level joins in one of two forms, chosen from counts the call
    already has (the size probe for ring 1, the previous level's residue
    after it):

      * the cell form — each query's ring cells meet the point table on
        (x, y), by broadcast while the level has at most
        ``broadcast_threshold`` queries, else by shuffle-hash join, and
        the candidates are regrouped by query in an exchange of their own
        (a broadcast outer join cannot keep the queries' side, so a
        candidate-less query gets its row through a union);
      * the query-cell form, for a shuffle level with at least one query
        per cell (n_q >= 4^z) — each point goes to every query cell whose
        ring holds it, the queries left-join it on their own cell, and
        the per-query top-k reuses that join's partitioning.  It shuffles
        |P|·(2r+1)² + |Q| rows instead of |Q|·(2r+1)² cell rows, |P| and
        the candidates, so it is the smaller once queries fill the cells.

    Both forms give the same rows.

A point or query with a null or NaN coordinate has no distance: such a
point is never a neighbour, and such a query gets no row (``knn_cells``
drops it before ring 1, so it never escalates).

Distance: plain squared-degree distance (dlat² + dlon², no cos(lat)
scale) — a single fused column expression, bit-identical across engines
and in the DuckDB oracle.  Ties broken by point id.  The safety-radius
proof uses the same metric: the longitude bound is the circular arc
distance to the ring edge, which lower-bounds the plain |dlon| of any
excluded point, so the escalation test is conservative under
antimeridian wrap too.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq

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
    asc) is the window's exact order, so rows and ranks are identical.

    A point with a null or NaN coordinate is never a neighbour, and a
    query with one gets no row."""
    q = queries.select(
        F.col(query_id),
        F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"),
    )
    # a null or NaN coordinate on either side gives a null or NaN d2: such
    # a pair is no candidate (a null d2 would sort FIRST in the struct sort)
    cand = points.crossJoin(F.broadcast(q)).withColumn(
        "d2", _d2(F.col("_qlon"), F.col("_qlat"), F.col("lon"), F.col("lat"))
    ).where("nanvl(d2, NULL) IS NOT NULL")
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
        west = sq.tile_lon_sql(f"(_qx - {ring})", z, double=True)
        east = sq.tile_lon_sql(f"(_qx + {ring + 1})", z, double=True)
        d_west = f"pmod(_qlon - {west}, 360.0D)"
        d_east = f"pmod({east} - _qlon, 360.0D)"
    nlat = sq.tile_lat_sql(f"(_qy - {ring})", z, double=True)
    slat = sq.tile_lat_sql(f"(_qy + {ring + 1})", z, double=True)
    d_north = (f"(CASE WHEN _qy - {ring} <= 0 THEN {_INF_SQL} "
               f"ELSE {nlat} - _qlat END)")
    d_south = (f"(CASE WHEN _qy + {ring} >= {n_tiles - 1} THEN {_INF_SQL} "
               f"ELSE _qlat - {slat} END)")
    b = f"least({d_west}, {d_east}, {d_north}, {d_south})"
    return f"({b}) * ({b})"


def unpersist_knn(df: DataFrame, blocking: bool = False) -> None:
    """Release what a :func:`knn_cells` call pinned: the persisted
    encoded point table and each ring level's checkpoint.  Call AFTER the
    result is materialized (collected / written) — in a long-lived
    session repeated knn_cells calls would otherwise accumulate blocks
    until the block manager evicts them.  A checkpoint's
    ``storageLevel`` reads NONE, so its blocks are freed through the
    checkpointed RDD the frame's ``LogicalRDD`` scans."""
    for f in getattr(df, "_knn_persisted", []):
        f.unpersist(blocking)
    for f in getattr(df, "_knn_checkpoints", []):
        f._jdf.logicalPlan().rdd().unpersist(blocking)


def _ring_level(enc_p: DataFrame, q: DataFrame, k: int, z: int, ring: int,
                point_id: str, query_id: str, join: str) -> DataFrame:
    """One ring level as one frame of ONE row per query of ``q``
    (query_id, _qlon, _qlat, _qx, _qy): the query, its top-k ring
    candidates ``_top``, their count ``_n``, its squared safety radius
    ``_bd2`` and ``_ok``, whether the ring PROVES the answer.

    ``join`` is the level's form.  ``"broadcast"`` and ``"shuffle_hash"``
    send each query's ring cells to the point table (broadcast or
    shuffle-hash join on the cell) and regroup the candidates by query;
    ``"query_cell"`` sends each point to every query cell whose ring holds
    it, joins the queries on their own cell and groups them where the
    join left them.  Same rows either way."""
    n_tiles = 1 << z
    qid, pid = sq.bq(query_id), sq.bq(point_id)
    q = q.selectExpr("*", f"{_ring_boundary_d2_sql(z, ring)} AS _bd2")

    # ring offsets, x wrapping, y clamped (tilemath.neighbors semantics).
    # When the ring spans MORE than the full x extent (reachable via the
    # 1->3->7 escalation at small z), pmod would emit the same
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

    # safety-radius PREFILTER (r6): a candidate with d2 >= _bd2 can never
    # sit in a PROVEN query's top-k — proof demands the kth distance
    # strictly inside the radius, so if >= k candidates survive this
    # filter they are exactly the unfiltered top-k (any dropped row has
    # strictly larger d2, and equal-d2 rows fall on the same side), and
    # if fewer survive the query was unproven either way.  Identical
    # proven rows AND identical escalation set, but the filter runs in
    # the join stage, before any per-query grouping — measured ~3x fewer
    # rows through it at the 200k x 500k bench point (ring area vs
    # inscribed safety circle).  A point with a null or NaN coordinate
    # fails it (NaN sorts above every double), so it is never a candidate.
    d2 = "(_qlat - lat) * (_qlat - lat) + (_qlon - lon) * (_qlon - lon)"  # _d2 as SQL

    # per-query top-k as ONE hash aggregation (r6): collect the surviving
    # candidates per query, array_sort the (d2, id) structs — the struct
    # field order IS the (d2 asc, id asc) tie-break — and slice the first
    # k: an O(c log c) sort of each query's own c candidates, no total
    # sort of the candidate relation.  A query whose ring holds no
    # candidate keeps its row with a null _c (which collect_list and count
    # skip), so the next level reads its unproven rows straight from this
    # frame, with no anti-join against the queries.
    top = (f"slice(array_sort(collect_list(_c)), 1, {k}) AS _top",
           "count(_c) AS _n", "min(_bd2) AS _bd2")
    if join == "query_cell":
        # (point, query-cell) relation: the query cells whose ring holds
        # the point's cell are (pmod(x - dx), y - dy) over the same
        # offsets.  It costs |P| x (2r+1)^2 rows, against the cell form's
        # |Q| x (2r+1)^2 cell rows plus the candidates it regroups, so
        # knn_cells takes it once there is about one query per cell.  The
        # left join keeps a candidate-less query, its ON clause holds the
        # prefilter, and the aggregate reuses the join's hash partitioning
        # on (_qx, _qy): no candidate exchange, no union, one query scan.
        # A sort-merge join: a whole call at 200k queries x 500k points
        # (z 8, 4 cores) ran 3.86-4.27 s with it, 4.19-4.37 s with a
        # shuffle-hash join building the points and 4.41-5.61 s building
        # the queries; the same order held at 2k x 10k (z 4).
        pts = (
            enc_p.selectExpr("*", f"explode({offsets}) AS _o")
            .selectExpr(pid, "lon", "lat", f"pmod(x - _o.dx, {n_tiles}) AS _px",
                        "y - _o.dy AS _py")
            .where(f"_py >= 0 AND _py < {n_tiles}")
        )
        grouped = (
            q.hint("merge")
            .join(pts, F.expr(f"_qx = _px AND _qy = _py AND {d2} < _bd2"), "left")
            .selectExpr(qid, "_qlon", "_qlat", "_qx", "_qy", "_bd2",
                        f"CASE WHEN _px IS NOT NULL THEN "
                        f"struct({d2} AS d2, {pid}) END AS _c")
            .groupBy(query_id, "_qx", "_qy").agg(*map(F.expr, (
                "max(_qlon) AS _qlon", "max(_qlat) AS _qlat", *top)))
        )
    else:
        # (query, ring-cell) candidate relation — explode over the offsets
        cells = (
            q.selectExpr("*", f"explode({offsets}) AS _o")
            .selectExpr(
                qid, "_qlon", "_qlat", "_bd2",
                f"pmod(_qx + _o.dx, {n_tiles}) AS x",
                "_qy + _o.dy AS y",
            )
        )
        # CELL-level safety-radius prune (r6): a ring cell whose nearest
        # possible point is already outside the query's safety radius can
        # contribute no candidate that survives the row-level d2 < _bd2
        # filter — drop the (query, cell) row before the join, so its
        # points are never probed at all.  The bound is a strict LOWER
        # bound on any contained point's d2: the lon term is the circular
        # arc distance to the cell's lon interval (plain |dlon| >=
        # circular, and a pole-clamped point's latitude lies beyond the
        # cell's lat interval, so the interval distance under-estimates
        # there too) — conservative under antimeridian wrap and clamping,
        # therefore proven/escalation sets are byte-identical.  Typically
        # kills the far-side ring cells (the radius is the distance to the
        # NEAREST ring edge).
        _cw = sq.tile_lon_sql("x", z, double=True)
        _ce = sq.tile_lon_sql("(x + 1)", z, double=True)
        _cn = sq.tile_lat_sql("y", z, double=True)
        _cs = sq.tile_lat_sql("(y + 1)", z, double=True)
        _dlon = (f"(CASE WHEN _qlon >= {_cw} AND _qlon <= {_ce} THEN 0.0D "
                 f"ELSE least(pmod({_cw} - _qlon, 360.0D), "
                 f"pmod(_qlon - {_ce}, 360.0D)) END)")
        _dlat = f"greatest(0.0D, {_cs} - _qlat, _qlat - {_cn})"
        cells = cells.where(f"y >= 0 AND y < {n_tiles} AND "
                            f"({_dlon}) * ({_dlon}) + ({_dlat}) * ({_dlat}) < _bd2")
        cells_j = F.broadcast(cells) if join == "broadcast" \
            else cells.hint("shuffle_hash")
        cand = enc_p.join(cells_j, ["x", "y"]).where(f"{d2} < _bd2") \
            .selectExpr(qid, f"struct({d2} AS d2, {pid}) AS _c")
        # each query also contributes one candidate-less row carrying its
        # coordinates and radius, so a query whose ring holds no point
        # still gets its row
        grouped = (
            cand.unionByName(q, allowMissingColumns=True)
            .groupBy(query_id).agg(*map(F.expr, (
                "max(_qlon) AS _qlon", "max(_qlat) AS _qlat",
                "max(_qx) AS _qx", "max(_qy) AS _qy", *top)))
        )

    # keep a query's ring answer only when it is PROVEN: >= k candidates
    # and the kth distance strictly inside the safety radius — otherwise a
    # true neighbor could hide just outside the ring (the adversarial
    # sparse-cell case in tests/test_spatial.py).  With the prefilter the
    # kth-distance check is implied (every kept candidate is inside the
    # radius), but it stays as a cheap belt-and-braces guard.
    return grouped.selectExpr(
        "*", f"CASE WHEN _n >= {k} THEN "
             f"element_at(_top, {k}).d2 < _bd2 ELSE false END AS _ok")


def knn_cells(points: DataFrame, queries: DataFrame, k: int, z: int = 7,
              ring: int = 1, point_id: str = "url", query_id: str = "qid",
              broadcast_threshold: int = 100_000,
              rering_steps: int = 2,
              stats: dict | None = None) -> DataFrame:
    """Cell-bucketed EXACT kNN: ring candidates + safety-radius-verified
    top-k, bounded re-ring escalation, brute-force only for the residue.
    ``query_id`` must be unique: each level keeps one row per query id.

    Fully distributed: candidate cells come from an explode over the ring
    offsets — no collect.  The (query, ring-cell) candidate relation is
    broadcast only while the query side is provably small
    (``broadcast_threshold`` queries); above that it reaches the point
    table by a shuffle-hash join on (x, y), so an arbitrarily large query
    DataFrame degrades to a shuffle instead of killing the driver.  A
    shuffle level with at least one query per cell (n_q >= 4^z) takes the
    query-cell form instead (module docstring): the points reach the
    queries' cells, with no per-query candidate exchange.  Ring 1 decides
    from a short-circuiting size probe,
    ``limit(min(max(broadcast_threshold, 4^z), 2^31 - 2) + 1).count()``
    (O(max(threshold, cells)) rows whatever |Q|; the cap keeps the limit
    an int, so at z >= 16 no level takes the query-cell form), and each
    later level from the previous level's observed residue.

    Queries the ring cannot PROVE (fewer than k candidates, or the kth
    distance not strictly inside the ring's safety radius) escalate
    ``rering_steps`` times with a doubled-plus-one ring (1 -> 3 -> 7)
    before the final brute-force pass
    — the escalation set shrinks geometrically, so brute force only ever
    sees a vanishing residue.  Default 2 re-rings: measured at 200k
    queries x 500k points (z8), one re-ring left a 1.8k-query residue
    whose |residue| x |P| brute cross-join cost ~100 s; the second
    re-ring (ring=7, trivially cheap candidates) collapses it — 127 s ->
    29 s warm.

    Jobs: the size probe, then ONE job per ring level — an eager
    ``localCheckpoint`` of the level's one row per query, whose
    ``observe`` metrics give the level's query count, its residue and
    the proven row count on the same job.  The next level (or the brute
    tail) reads the checkpoint's unproven rows, already encoded.  Residue
    0 returns immediately — no wider ring, no brute scan (the common
    dense-corpus tiny-|Q| case: measured |Q|=4 at sf0.1, the
    3-blind-level plan cost 8.5 s vs ~4 s with the early exit).  A
    non-empty residue ALWAYS re-rings while steps remain — a brute pass
    sorts |residue| x |P| rows, which a wider-ring scan beats at any
    corpus size (measured 350 s brute-first vs 18 s re-ring-first at a
    37.5k-query sparse case).  Once the residue is under
    ``broadcast_threshold`` the next level broadcasts its candidate
    relation, which sidesteps (x, y) join skew (measured 44 s -> 6 s on a
    ring-7 level whose queries ring a 100k-point hot cell).

    ``stats`` (optional dict) receives one ``{"ring", "n_q", "residue",
    "join"}`` record per level, ``join`` being the level's form:
    ``"broadcast"`` or ``"shuffle_hash"`` (the cell form) or
    ``"query_cell"``.  A query with a null or NaN coordinate is dropped
    before ring 1, so ``n_q`` does not count it.

    NOTE: this operator runs these jobs at call time; if ``queries`` is
    an expensive derived DataFrame, cache it first.  The result pins the
    encoded point table and the level checkpoints; release them after
    materializing with :func:`unpersist_knn`.
    """
    # persist the encoded point table: every level joins the same
    # (x, y)-encoded points at the same zoom, and the brute tail reads it
    # too, instead of re-running the upstream point pipeline (scan /
    # generator + encode) each time.  Size is |P| x a few columns,
    # distributed, spills to disk; released by unpersist_knn.  Both sides
    # are encoded with the generated-SQL twins of vf.tile_x / vf.tile_y
    # (bit-identical, tests/test_sqlfuncs.py) in one selectExpr each: the
    # Column builders cost a py4j round trip per node, ~70 ms of driver
    # time per frame on 4 cores.
    qid, pid = sq.bq(query_id), sq.bq(point_id)
    enc_p = points.selectExpr(
        pid, "lon", "lat", f"{sq.tile_x_sql('lon', z, double=True)} AS x",
        f"{sq.tile_y_sql('lat', z, double=True)} AS y").persist()
    # size probe: limit(n+1).count() stops scanning past n, so it is
    # O(max(threshold, cells)) regardless of |Q|; n stays inside the int
    # range Dataset.limit takes (z >= 16 has more cells than that, and no
    # level there takes the query-cell form)
    n_cells = 4 ** z
    cap = min(max(broadcast_threshold, n_cells), 2 ** 31 - 2)
    n_q = queries.limit(cap + 1).count()
    # a query with a null or NaN coordinate has no cell and no distance:
    # it gets no row, so it never escalates
    q = queries.where("nanvl(lon, NULL) IS NOT NULL AND "
                      "nanvl(lat, NULL) IS NOT NULL").selectExpr(
        qid, "lon AS _qlon", "lat AS _qlat",
        f"{sq.tile_x_sql('lon', z, double=True)} AS _qx",
        f"{sq.tile_y_sql('lat', z, double=True)} AS _qy")
    levels: list = []
    for step in range(rering_steps + 1):
        # ring 1 decides from the probe, a later level from the residue the
        # previous one observed (n_q never grows, so a broadcast level is
        # never followed by a shuffle one)
        if broadcast_threshold > 0 and n_q <= broadcast_threshold:
            join = "broadcast"
        elif n_q >= n_cells:
            join = "query_cell"
        else:
            join = "shuffle_hash"
        obs = Observation()
        lvl = _ring_level(enc_p, q, k, z, ring, point_id, query_id, join) \
            .observe(obs, *map(F.expr, (
                "count(1) AS n_q", "count_if(_ok) AS n_ok",
                "sum(CASE WHEN _ok THEN size(_top) END) AS rows"))) \
            .localCheckpoint(eager=True)
        levels.append(lvl)
        m = {key: v or 0 for key, v in obs.get.items()}  # empty: sum is null
        if m["rows"] != m["n_ok"] * k:
            raise AssertionError(
                f"a proven query must hold exactly k={k} rows, got "
                f"{m['rows']} rows for {m['n_ok']} proven queries — the "
                "_n >= k proof changed?")
        n_esc = m["n_q"] - m["n_ok"]
        if stats is not None:
            stats.setdefault("levels", []).append(
                {"ring": ring, "n_q": m["n_q"], "residue": n_esc, "join": join})
        q = lvl.where("NOT _ok").selectExpr(qid, "_qlon", "_qlat", "_qx", "_qy")
        if n_esc == 0 or step == rering_steps:
            break
        n_q = n_esc
        ring = 2 * ring + 1

    parts = [
        lvl.where("_ok")
        .selectExpr(qid, "posexplode(_top) AS (_pos, _t)")
        .selectExpr(qid, "_pos + 1 AS rank", f"_t.{pid} AS {pid}", "_t.d2 AS d2")
        for lvl in levels
    ]
    if n_esc:
        # the brute tail reads the persisted encoded table too (it carries
        # the id + lon/lat the cross join needs)
        parts.append(knn_bruteforce(
            enc_p.select(point_id, "lon", "lat"),
            q.selectExpr(qid, "_qlon AS lon", "_qlat AS lat"),
            k, point_id=point_id, query_id=query_id))
    out = functools.reduce(DataFrame.unionByName, parts)
    out._knn_persisted = [enc_p]
    out._knn_checkpoints = levels
    return out
