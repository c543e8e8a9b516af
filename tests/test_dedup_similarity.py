"""Dedup + similarity: LSH recall vs exact baselines, multimodal
byte-identity invariant."""

import numpy as np
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_dedup_keeps_min_id(spark):
    from vt_grid_spark.operators.dedup import exact_dedup

    docs = _docs(spark).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000)
    out = exact_dedup(docs.unionByName(dups)).collect()
    dup_groups = [r for r in out if r.n_dups > 0]
    assert len(dup_groups) == 50
    assert all(r.keep_id < 1_000_000 for r in dup_groups)
    # total docs conserved: keepers + dups
    assert sum(r.n_dups + 1 for r in out) == 550


def test_minhash_lsh_recall_vs_exact(spark):
    from vt_grid_spark.operators.dedup import minhash_dup_pairs, ngram_jaccard_pairs

    docs = _docs(spark)
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    lsh = {(r.id_a, r.id_b) for r in minhash_dup_pairs(docs, threshold=0.8).collect()}
    assert lsh <= exact  # refine step guarantees no false positives
    # at jac >= 0.8 with 4 bands of 4 the detection probability per pair is
    # 1-(1-0.8^4)^4 ~ 0.88; on this corpus demand >= 60% recall
    if exact:
        assert len(lsh) / len(exact) >= 0.6


def test_simhash_near_dups_close(spark):
    from vt_grid_spark.operators.dedup import simhash64

    docs = _docs(spark)
    sims = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    # identical text -> identical simhash
    two = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 777)
    again = simhash64(docs.limit(1).unionByName(two)).collect()
    assert again[0].simhash == again[1].simhash
    assert len(sims) == 500


def _dup_corpus(spark):
    docs = _docs(spark).select("doc_id", "text")
    near = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"))
    exact = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
    return docs.unionByName(near).unionByName(exact)


def test_simhash_pairs_pigeonhole_exact(spark):
    """The r+1-band pigeonhole split has recall 1.0 by construction:
    simhash_dup_pairs must equal the brute-force all-pairs Hamming filter."""
    import itertools

    from vt_grid_spark.operators.dedup import simhash64, simhash_dup_pairs

    corpus = _dup_corpus(spark)
    sigs = {r.doc_id: r.simhash for r in simhash64(corpus).collect()}
    mask = (1 << 64) - 1
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        if bin((sigs[a] ^ sigs[b]) & mask).count("1") <= 3:
            want.add((a, b))
    got = {(r.id_a, r.id_b) for r in simhash_dup_pairs(corpus, r=3).collect()}
    assert got == want
    assert len(want) >= 20  # exact copies alone guarantee hamming-0 pairs


def test_simhash_uses_all_64_bits(spark):
    """Signatures must spread over the full signed-long range (the r1
    16-bit version capped at 2^16 — VERDICT 'What's wrong' #3)."""
    from vt_grid_spark.operators.dedup import simhash64

    vals = [r.simhash for r in simhash64(_docs(spark)).collect()]
    assert any(v < 0 for v in vals)          # sign bit (bit 63) in use
    assert any(v > (1 << 32) for v in vals)  # high half in use


def test_ann_lsh_recall(spark):
    from vt_grid_spark.operators.similarity import ann_cosine_topk, cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = [float(v) for v in emb.where(F.col("vec_id") == 0).collect()[0].embedding]
    exact = [r.vec_id for r in cosine_topk(emb, qv, 10).collect()]
    approx = [r.vec_id for r in
              ann_cosine_topk(emb, qv, 10, dim=64, n_planes=8, probe_hamming=2).collect()]
    # vec 0 itself (cos=1) must be found; recall@10 >= 0.5 with 2-probe
    assert exact[0] == 0 and approx[0] == 0
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_topk_recall_and_partition(spark):
    """IVF-flat: the deterministic pivot assignment partitions the corpus
    (every row lands in exactly one of n_cells), the query's own vector
    is always found (same assignment function on both sides), and 4-of-16
    probes keep useful recall@10 vs brute force."""
    from vt_grid_spark.operators.similarity import (cosine_topk, ivf_assign,
                                                    ivf_topk)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assigned = ivf_assign(emb, dim=64, n_cells=16)
    counts = {r.ivf_cell: r.n for r in
              assigned.groupBy("ivf_cell").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == emb.count()  # total partition, no drops
    assert len(counts) >= 8  # pivots genuinely spread the corpus

    qv = [float(v) for v in emb.where(F.col("vec_id") == 0).collect()[0].embedding]
    exact = [r.vec_id for r in cosine_topk(emb, qv, 10).collect()]
    approx = [r.vec_id for r in
              ivf_topk(emb, qv, 10, dim=64, n_cells=16, n_probe=4).collect()]
    assert exact[0] == 0 and approx[0] == 0  # self always in its own cell
    assert len(set(exact) & set(approx)) >= 4
    # probing ALL cells degenerates to exact brute force
    full = [r.vec_id for r in
            ivf_topk(emb, qv, 10, dim=64, n_cells=16, n_probe=16).collect()]
    assert full == exact


def test_ann_pairs_recall_vs_bruteforce(spark):
    """Batch ANN pair join: exact refine means zero false positives; the
    4-table x 8-plane bucketing must recall nearly all cos>=0.9 pairs
    (per-pair hit prob ~0.99 at cos 0.98)."""
    from vt_grid_spark.operators.similarity import ann_cosine_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", dbl.alias("ve"))
    near = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(dbl, lambda x: x + F.lit(0.02)).alias("ve"))
    corpus = base.unionByName(near)

    rows = corpus.collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.ve for r in rows], dtype=np.float64)
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = np.round(mn @ mn.T, 6)
    iu, ju = np.triu_indices(len(ids), 1)
    hits = cos[iu, ju] >= 0.9
    want = {tuple(sorted((int(ids[i]), int(ids[j]))))
            for i, j in zip(iu[hits], ju[hits])}

    got = {(r.id_a, r.id_b)
           for r in ann_cosine_pairs(corpus, dim=64, threshold=0.9,
                                     vec_col="ve").collect()}
    assert got <= want          # exact refine: no false positives
    assert len(want) >= 40      # the injected near-dups are really there
    assert len(got) / len(want) >= 0.9


def test_cosine_matches_numpy(spark):
    from vt_grid_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    q = mat[ids == 0][0]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(zip(-np.round(cos, 6), ids))[:10]
    want = [int(i) for _, i in order]
    got = [r.vec_id for r in cosine_topk(emb, q.tolist(), 10).collect()]
    assert got == want


def test_html_features_byte_identity(spark):
    """north_rule invariant: extracted text byte-identical per url."""
    from vt_grid_spark.operators.multimodal import html_features
    from vt_grid_spark.sources import pages

    corpus = pages.pages_df(spark, 500)
    feats = html_features(corpus).select("url", "text_extracted")
    joined = corpus.join(feats, "url")
    bad = joined.where(F.col("text_extracted") != F.col("text")).count()
    assert bad == 0
    assert joined.count() == 500


def test_quality_and_lang_sane(spark):
    from vt_grid_spark.operators.textops import with_lang_id, with_quality

    docs = _docs(spark)
    q = with_quality(docs).collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in q)
    assert all(r.n_tokens >= r.n_ws_tokens for r in q)
    l = with_lang_id(docs).collect()
    # corpus is english-ish word soup with 'the'/'a' present
    en = sum(1 for r in l if r.lang_pred == "en")
    assert en > 250


def test_gopher_rules_on_adversarial_junk(spark):
    """Gopher/C4 gates on hand-built junk: each failure mode trips exactly
    the rule built for it, and a clean document passes everything
    (VERDICT r2 'Next round' #8)."""
    from vt_grid_spark.operators.textops import with_gopher_quality

    good = ("A quick brown fox jumped over the lazy dog near "
            "the big river bank. " * 5).strip()
    docs = [
        (0, good),
        (1, "\n".join(f"- item number {i} in the list" for i in range(20))),
        (2, "\n".join(f"this line about the topic trails off number {i} ..."
                      for i in range(10))),
        (3, "The same exact line of text here.\n" * 20),
        (4, "too short."),
        (5, "# tag " * 60),
        (6, "12345 67890 " * 30),
        (7, "pneumonoultramicroscopicsilico volcanoconiosistermino " * 30),
        (8, good + " var x = {a: 1}"),
        (9, "Lorem ipsum dolor sit amet."),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.doc_id: r for r in with_gopher_quality(df).collect()}

    assert rows[0].gopher_pass and rows[0].c4_pass
    assert not rows[1].gopher_pass and rows[1].bullet_line_frac > 0.9
    assert not rows[2].gopher_pass and rows[2].ellipsis_line_frac > 0.3
    assert not rows[3].gopher_pass and rows[3].dup_line_frac > 0.3
    assert not rows[4].gopher_pass and rows[4].n_words < 50
    assert not rows[5].gopher_pass and rows[5].symbol_word_ratio > 0.1
    assert not rows[6].gopher_pass and rows[6].alpha_word_frac < 0.8
    assert not rows[6].gopher_pass and rows[6].gopher_stop_hits == 0
    assert not rows[7].gopher_pass and rows[7].mean_word_len > 10.0
    assert rows[8].has_brace and not rows[8].c4_pass
    assert rows[9].has_lorem and not rows[9].c4_pass


def test_lang_id_five_languages(spark):
    """Extended stopword lists: each language's text lands on its own
    label despite heavy romance-language stopword overlap; lowercasing
    counts capitalized stopwords."""
    from vt_grid_spark.operators.textops import with_lang_id

    docs = [
        (0, "The THE the cat and a dog in the house for it is fun."),
        (1, "der Hund und die Katze ist ein Tier mit den anderen im Haus"),
        (2, "le chat est dans la maison et les enfants sont pour la paix sur un banc"),
        (3, "el perro y la casa es una cosa que por con para del como se no su al"),
        (4, "il cane e la casa è una cosa che per con del non si al da come più anche di"),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "it", 5: "unknown"}
    hits = {r.doc_id: r.hits_en for r in with_lang_id(df).collect()}
    assert hits[0] >= 8  # THE/The lowercased into the count


def test_bmp_wav_video_roundtrips():
    """Real multimodal decoders: encode -> decode is exact for BMP (incl.
    row padding), WAV (PCM16), and the frame stream; resize picks the
    nearest-neighbor source pixels."""
    from vt_grid_spark.operators import multimodal as mm

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(13, 17, 3)).astype("uint8")  # odd w -> padding
    assert np.array_equal(mm.decode_bmp(mm.encode_bmp(px)), px)

    s = rng.randint(-30000, 30000, size=777).astype("int16")
    sr, s2 = mm.decode_wav(mm.encode_wav(s, 12345))
    assert sr == 12345 and np.array_equal(s2, s)

    frames = [rng.randint(0, 256, size=(6, 8, 3)).astype("uint8") for _ in range(5)]
    vid = mm.encode_video(frames)
    got = list(mm.iter_video_frames(vid))
    assert [i for i, _ in got] == [0, 1, 2, 3, 4]
    assert all(np.array_equal(mm.decode_bmp(b), f) for (_, b), f in zip(got, frames))

    small = mm.resize_nearest(px, 4, 4)
    ys = (np.arange(4) * 13) // 4
    xs = (np.arange(4) * 17) // 4
    assert np.array_equal(small, px[np.ix_(ys, xs)])


def test_decode_image_stub_still_raises():
    """Compressed codecs remain an honest stub."""
    import pytest as _pytest

    from vt_grid_spark.operators.multimodal import decode_image

    with _pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff")  # JPEG magic


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's defining property: two documents sharing a substring of
    length >= k+w-1 (= 8 here) must share at least one fingerprint."""
    from vt_grid_spark.operators.textops import winnow_fingerprints

    common = "the quick brown fox jumps over"
    docs = spark.createDataFrame(
        [(1, "aaa " + common + " bbb"),
         (2, "cc " + common + " dddd ee"),
         (3, "totally unrelated text here zz")],
        "doc_id long, text string")
    s: dict = {}
    for r in winnow_fingerprints(docs).collect():
        s.setdefault(r.doc_id, set()).add(r.fp)
    assert s[1] & s[2]
    assert len(s[3]) > 0


def test_hot_bucket_cap_bounds_band_join_flood(spark):
    """A planted 10^4-doc identical-boilerplate bucket must never reach the
    band self-join when max_bucket is set: without the cap the join
    materializes ~4 bands * 10^8 /2 pair rows before any filter; with it
    the join input is exactly the non-hot docs' band rows.  Pairs among
    distinct docs are unaffected; the drop is auditable."""
    from vt_grid_spark.operators.dedup import (cap_hot_buckets,
                                               minhash_bands,
                                               minhash_dup_pairs,
                                               minhash_signatures,
                                               oversized_buckets,
                                               simhash_dup_pairs)

    n_hot = 10_000
    hot = spark.range(n_hot).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate navigation footer text").alias("text"))
    pair = spark.createDataFrame(
        [(100_001, "alpha beta gamma delta epsilon zeta"),
         (100_002, "alpha beta gamma delta epsilon zeta!"),
         (100_003, "completely unrelated content here")],
        "doc_id long, text string")
    corpus = hot.unionByName(pair)

    # the join INPUT is provably bounded: after the cap only the 3
    # non-hot docs' band rows remain (4 bands each)
    bands = minhash_bands(minhash_signatures(corpus))
    kept = cap_hot_buckets(bands, ["band", "band_hash"], max_bucket=100)
    assert kept.count() == 3 * 4
    # and the drop-log names the hot buckets (4 bands, 10^4 docs each)
    dropped = oversized_buckets(bands, ["band", "band_hash"], 100).collect()
    assert len(dropped) == 4 and all(r.n == n_hot for r in dropped)

    out = minhash_dup_pairs(corpus, threshold=0.5,
                            max_bucket=100).collect()
    ids = {(r.id_a, r.id_b) for r in out}
    assert (100_001, 100_002) in ids
    assert all(a >= 100_000 and b >= 100_000 for a, b in ids)

    out2 = simhash_dup_pairs(corpus, r=3, max_bucket=100).collect()
    ids2 = {(r.id_a, r.id_b) for r in out2}
    assert (100_001, 100_002) in ids2
    assert all(a >= 100_000 and b >= 100_000 for a, b in ids2)


def test_ngram_prefix_filter_exact_and_reduces_postings(spark):
    """Prefix-filtered ngram_jaccard_pairs must equal the brute posting
    join exactly, while its posting-join input (prefix rows) is strictly
    smaller — in particular a corpus-wide hot shingle present in every doc
    must fall out of the prefixes."""
    from vt_grid_spark.operators.dedup import (ngram_jaccard_pairs,
                                               ngram_prefix_postings,
                                               shingles_col)

    # every text shares the hot trigram source "zqx" via the suffix
    texts = [
        (1, "alpha beta gamma zqx"),
        (2, "alpha beta gamma zqx!"),
        (3, "delta epsilon eta zqx"),
        (4, "delta epsilon eta zqx?"),
        (5, "totally different words zqx"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    brute = {(r.id_a, r.id_b, r.jac) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, prefix_filter=False).collect()}
    fast = {(r.id_a, r.id_b, r.jac) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, prefix_filter=True).collect()}
    assert fast == brute and brute  # identical, non-empty

    all_rows = docs.select(
        F.explode(shingles_col("text")).alias("sh")).count()
    pref = ngram_prefix_postings(docs, threshold=0.5)
    pref_rows = pref.count()
    assert pref_rows < all_rows
    # the universal shingle "zqx" (df = 5 = all docs) is in no prefix
    assert pref.where(F.col("sh") == "zqx").count() == 0


def test_ngram_length_filter_lossless_and_reduces_candidates(spark):
    """PPJoin length companion: a short and a long doc sharing a rare
    prefix shingle can never reach Jaccard >= t (min/max < t), so the
    length filter must drop that candidate BEFORE the exact refine —
    strictly fewer candidates, identical final output (VERDICT r4 #7)."""
    from vt_grid_spark.operators.dedup import (ngram_candidate_pairs,
                                               ngram_jaccard_pairs)

    # docs 1 and 3 share the "!!!" shingles, which sort near the FRONT of
    # both docs' (df, sh) prefix orders (df=2 like everything else around
    # them, '!' sorts before letters) — so (1, 3) is a real prefix-join
    # candidate that only the length filter can kill: doc 3 is ~25x
    # longer, min/max size ratio far below t=0.5.  Doc 4 duplicates doc
    # 3's filler body so the filler shingles also have df=2 (a df=1 tail
    # would push the shared shingle out of doc 3's prefix).
    filler = " ".join(f"filler{i:03d}word" for i in range(40))
    texts = [
        (1, "!!! alpha beta gamma"),
        (2, "alpha beta gamma zzzz"),
        (3, "!!! " + filler),
        (4, filler),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    unfiltered = {(r.id_a, r.id_b) for r in ngram_candidate_pairs(
        docs, threshold=0.5, length_filter=False).collect()}
    filtered = {(r.id_a, r.id_b) for r in ngram_candidate_pairs(
        docs, threshold=0.5, length_filter=True).collect()}
    assert filtered < unfiltered  # strict reduction
    assert (1, 3) in unfiltered and (1, 3) not in filtered
    assert (1, 2) in filtered  # the true near-dup pair survives

    brute = {(r.id_a, r.id_b, r.jac) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, prefix_filter=False).collect()}
    fast = {(r.id_a, r.id_b, r.jac) for r in ngram_jaccard_pairs(
        docs, threshold=0.5, prefix_filter=True).collect()}
    assert fast == brute and brute  # lossless under the length filter


def test_decontaminate_overlap_flags_excerpts(spark):
    """An eval doc that is an excerpt of a training doc must be flagged
    with shared >= the excerpt's shingle count; unrelated docs stay
    unflagged; max_train_df drops boilerplate-only overlaps."""
    from vt_grid_spark.operators.dedup import decontaminate_overlap

    import pytest

    boiler = "COMMON LICENSE HEADER TEXT BLOCK!"  # shared by every train doc
    uniq = ["the quick brown fox jumps over the lazy dog near the river bank",
            "pack my box with five dozen liquor jugs before the night train",
            "how vexingly quick daft zebras jump across the frozen meadow"]
    train = spark.createDataFrame(
        [(i, boiler + " " + t) for i, t in enumerate(uniq)],
        "train_id long, text string")
    evals = spark.createDataFrame(
        [(100, uniq[0][8:40]),      # excerpt of train 0 -> flagged
         (101, "completely different eval prompt about astronomy facts"),
         (102, boiler)],            # boilerplate-only overlap
        "eval_id long, text string")

    got = {(r.train_id, r.eval_id): r.shared
           for r in decontaminate_overlap(train, evals, k=20,
                                          min_shared=3).collect()}
    assert (0, 100) in got and got[(0, 100)] >= 10
    assert not any(e == 101 for _, e in got)
    assert {(t, 102) for t in range(3)} <= set(got)  # boiler hits all 3

    # boilerplate cap: shingles in every train doc (df=3) fall out with
    # max_train_df=2, so only the true excerpt pair survives
    capped = {(r.train_id, r.eval_id)
              for r in decontaminate_overlap(train, evals, k=20, min_shared=3,
                                             max_train_df=2).collect()}
    assert capped == {(0, 100)}

    with pytest.raises(ValueError, match="distinct column names"):
        decontaminate_overlap(train.withColumnRenamed("train_id", "doc_id"),
                              evals.withColumnRenamed("eval_id", "doc_id"),
                              train_id="doc_id", eval_id="doc_id")


def test_dedup_clusters_transitive_chain(spark):
    """A~B, B~C (A and C never paired) must land in ONE cluster with the
    min id as representative; disjoint components stay separate; a long
    chain converges within max_iter rounds of hash-min propagation."""
    from vt_grid_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),                 # chain -> cluster rep 1
         (10, 11),                       # separate component -> rep 10
         (20, 21), (21, 22), (20, 22)],  # triangle -> rep 20
        "id_a long, id_b long")
    got = {(r.doc_id, r.cluster_rep)
           for r in dedup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    labels = {r.doc_id: r.cluster_rep
              for r in dedup_clusters(chain, max_iter=15).collect()}
    assert set(labels.values()) == {0} and len(labels) == 13


def test_dedup_clusters_star_one_job_per_round(spark):
    """The convergence fingerprint must ride the localCheckpoint
    materialization via observe — ONE Spark job per star round, not a
    checkpoint job plus a separate fingerprint collect (VERDICT r4 #3).
    Audited with a job group + statusTracker; AQE is disabled for the
    audit so actions and jobs stay 1:1."""
    from vt_grid_spark.operators.dedup import dedup_clusters

    sc = spark.sparkContext
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a long, id_b long")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("cc-job-audit", "star CC one-job-per-round audit")
    try:
        stats = {}
        out = dedup_clusters(chain, stats=stats,
                             small_graph_edges=0)  # audit the distributed path
        n_rows = out.count()
        jobs = sc.statusTracker().getJobIdsForGroup("cc-job-audit")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert n_rows == 41
    rounds = stats["rounds"]
    assert rounds >= 2  # a 40-chain takes several star rounds
    # 3 setup jobs (raw ckpt, edges ckpt+observed fp, nodes ckpt)
    # + 1 job per round (ckpt+observed fp) + the final count() action
    assert len(jobs) == 3 + rounds + 1, (sorted(jobs), rounds)


def test_dedup_clusters_star_equals_hashmin_and_beats_diameter(spark):
    """The large-star/small-star CC must agree with the independently
    implemented hash-min propagation (the test reference) on a random
    graph, and must converge on a 300-node chain within rounds where
    hash-min's O(diameter) propagation cannot (it raises past
    max_iter=20)."""
    import random

    import pytest
    from hashmin_reference import dedup_clusters_hashmin

    from vt_grid_spark.operators.dedup import dedup_clusters

    rng = random.Random(42)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    star = {(r.doc_id, r.cluster_rep)
            for r in dedup_clusters(df, small_graph_edges=0).collect()}
    hm = {(r.doc_id, r.cluster_rep)
          for r in dedup_clusters_hashmin(df).collect()}
    assert star == hm and star

    # r6 small-graph fast path (driver union-find) must agree with BOTH
    # distributed implementations on the same graph, and must flag itself
    stats = {}
    fast = {(r.doc_id, r.cluster_rep)
            for r in dedup_clusters(df, stats=stats).collect()}
    assert fast == star
    assert stats.get("small_graph") is True and stats.get("rounds") == 0

    # a doc whose only pair is a SELF-pair must still get a label (itself)
    # from both algorithms AND the driver fast path — dropping it would
    # silently remove the doc from a keep-one-per-cluster decision
    selfp = spark.createDataFrame([(5, 5), (1, 2)], "id_a long, id_b long")
    for name, cc in (("star", lambda g: dedup_clusters(g, small_graph_edges=0)),
                     ("star_small_graph",
                      lambda g: dedup_clusters(g, small_graph_edges=10)),
                     ("hashmin", dedup_clusters_hashmin)):
        got = {(r.doc_id, r.cluster_rep) for r in cc(selfp).collect()}
        assert got == {(1, 1), (2, 1), (5, 5)}, (name, got)

    chain = spark.createDataFrame([(i, i + 1) for i in range(300)],
                                  "id_a long, id_b long")
    labels = {r.doc_id: r.cluster_rep
              for r in dedup_clusters(chain, max_iter=20,
                                      small_graph_edges=0).collect()}
    assert set(labels.values()) == {0} and len(labels) == 301
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters_hashmin(chain, max_iter=20).collect()


def test_signatures_keep_null_and_empty_text_rows(spark):
    """r6 explode_outer edge: the codegen-aggregate signature rewrite must
    keep one output row per doc even when the text is NULL (NULL shingle
    array) or empty — the pre-r6 higher-order-function forms emitted NULL
    minhashes / simhash 0 for a NULL text and real values for ''."""
    from vt_grid_spark.operators.dedup import minhash_signatures, simhash64

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")],
        "doc_id long, text string")
    mh = {r.doc_id: r for r in minhash_signatures(df).collect()}
    assert set(mh) == {1, 2, 3}
    assert mh[2].mh_0 is None and mh[2].mh_15 is None
    assert mh[1].mh_0 is not None and mh[3].mh_0 is not None
    sh = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    assert set(sh) == {1, 2, 3}
    assert sh[2] == 0 and isinstance(sh[1], int)
