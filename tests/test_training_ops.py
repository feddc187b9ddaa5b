"""Training-data-pipeline operators: dedup (MinHash/SimHash/Jaccard),
similarity search, text stats, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from apt_bron_re_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight")
    rows = [
        (0, base),
        (1, base),                                 # exact dup of 0
        (2, base.replace("tonight", "today")),     # near dup of 0
        (3, "completely different text about spark shuffles and joins "
            "partitions caching executors memory spill"),
        (4, "yet another unrelated document mentioning streams windows "
            "watermarks state stores checkpoints triggers latency"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_minhash_candidates_finds_near_dup(docs):
    pairs = {(r.a_id, r.b_id): r.est_jaccard
             for r in dedup.minhash_candidates(docs).collect()}
    assert pairs[(0, 1)] == 1.0                  # identical signatures
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert (3, 4) not in pairs                   # unrelated docs don't collide


def test_minhash_deterministic(docs):
    s1 = {tuple(r.sig) for r in dedup.minhash_signatures(docs).collect()}
    s2 = {tuple(r.sig) for r in dedup.minhash_signatures(docs).collect()}
    assert s1 == s2


def test_near_dup_clusters_composition(spark, docs):
    """The near_dup_clusters query shape: LSH candidates -> Jaccard
    verify -> CC -> min-doc_id representative.  Docs 0/1/2 are one
    near-dup cluster (0 its representative); 3 and 4 never cluster."""
    from apt_bron_re_spark.operators.canonicalize import (
        connected_components as cc)
    cands = dedup.minhash_candidates(docs).select("a_id", "b_id")
    verified = dedup.ngram_jaccard_pairs(docs, cands, threshold=0.8)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    comp = cc(verified.select(pad("a_id").alias("src"),
                              pad("b_id").alias("dst")))
    rows = {int(r.id): (int(r.component), r.id == r.component)
            for r in comp.collect()}
    assert rows == {0: (0, True), 1: (0, False), 2: (0, False)}


def test_simhash_near_pairs(docs):
    sh = {r.doc_id: r.simhash60 for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[1]
    assert all(0 <= v < (1 << 60) for v in sh.values())
    pairs = {(r.a_id, r.b_id): r.hamming
             for r in dedup.simhash_near_pairs(docs, max_hamming=12).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 12
    assert (3, 4) not in pairs


def test_simhash_near_pairs_recall_guarantee(spark):
    """A pair at exactly max_hamming bits apart, with the differing bits
    scattered one-per-chunk so no wide chunk pair survives by luck, MUST be
    caught (pigeonhole: max_hamming+1 chunks)."""
    from apt_bron_re_spark.operators.dedup import _chunk_layout, simhash

    # Build two texts, then check the guarantee holds for their real
    # signatures; additionally verify the layout math directly.
    layout = _chunk_layout(9)
    assert sum(w for _, w in layout) == 60 and len(layout) == 9

    # Direct pigeonhole check on synthetic signatures via the operator's
    # own chunking: flip 8 bits spread across 8 different chunks.
    sig_a = (1 << 60) - 1
    flip_positions = [off for off, _ in layout[:8]]
    sig_b = sig_a
    for p in flip_positions:
        sig_b ^= (1 << p)
    # hamming = 8; chunk 9 (and only it) is identical -> candidate found
    docs = spark.createDataFrame(
        [(0, sig_a), (1, sig_b)], "doc_id long, simhash60 long")
    # reuse the operator's blocking by monkey-building chunks inline
    chunks_equal = [
        ((sig_a >> off) & ((1 << w) - 1)) == ((sig_b >> off) & ((1 << w) - 1))
        for off, w in layout
    ]
    assert any(chunks_equal), "pigeonhole guarantee violated"
    assert sum(1 for c in chunks_equal if not c) == 8


@pytest.mark.parametrize("budget", [3, 8])
def test_simhash_near_pairs_recall_at_budget(spark, budget):
    """The REAL blocking operator must catch a planted pair at exactly
    ``budget`` Hamming distance with the flipped bits scattered one per
    chunk (the adversarial placement for chunk blocking), at both the
    tuned default (3) and the old wide budget (8)."""
    from apt_bron_re_spark.operators.dedup import (_chunk_layout,
                                                   near_pairs_from_sigs)

    layout = _chunk_layout(budget + 1)
    sig_a = (1 << 60) - 1
    sig_b = sig_a
    for off, _w in layout[:budget]:      # flip 1 bit in each of `budget` chunks
        sig_b ^= (1 << off)
    sigs = spark.createDataFrame(
        [(0, sig_a), (1, sig_b), (2, 0)], "doc_id long, simhash60 long")
    pairs = {(r.a_id, r.b_id): r.hamming
             for r in near_pairs_from_sigs(sigs, budget).collect()}
    assert pairs.get((0, 1)) == budget
    # the all-zeros doc is ~60 bits from both: never a result
    assert all(k == (0, 1) for k in pairs)


def test_ngram_jaccard_verification(spark, docs):
    cands = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a_id long, b_id long")
    out = {(r.a_id, r.b_id): r.jaccard
           for r in dedup.ngram_jaccard_pairs(docs, cands, 0.5).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) in out and out[(0, 2)] >= 0.5
    assert (0, 3) not in out


def test_brute_force_topk(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        + [(4, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "q_id long, q_emb array<float>")
    top = similarity.brute_force_topk(vecs, queries, k=2).collect()
    assert [(r.vec_id, r.rnk) for r in top] == [(0, 1), (4, 2)]


def test_lsh_topk_matches_brute_force_top1(spark):
    # LSH with identical vectors in the same bucket must return the exact
    # match first.
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 7)], "q_id long, q_emb array<float>")
    top = similarity.lsh_topk(vecs, queries, dim=8, k=1).collect()
    assert top and top[0].vec_id == 0 and top[0].cos_sim == 1.0


def test_lsh_topk_recall_gate(spark):
    """OR-amplified LSH ANN must reach recall@10 >= 0.9 vs brute force on
    the sf0.01 embeddings — the hardest case (near-uniform vectors, 10th
    neighbour at cosine ~0.28)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = (emb.filter("vec_id < 5")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_emb")))
    dim = len(emb.select("embedding").first()[0])
    truth = {(r.q_id, r.vec_id)
             for r in similarity.brute_force_topk(emb, queries, k=10).collect()}
    approx = {(r.q_id, r.vec_id)
              for r in similarity.lsh_topk(emb, queries, dim=dim, k=10).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_ivf_topk_recall_gate_clustered(spark):
    """IVF with sampled centroids must reach recall@10 >= 0.9 vs brute
    force on a planted CLUSTERED corpus (IVF's intended regime: sampled
    centroids land inside clusters).  1000 vectors in 20 well-separated
    clusters; centroid_stride=51 (coprime with the cluster cycle, so the
    ~20 sampled centroids cover all clusters — 50 would alias onto 2)."""
    import numpy as np
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 32)) * 10.0
    vecs = []
    for i in range(1000):
        c = centers[i % 20]
        vecs.append((i, [float(x) for x in c + rng.normal(size=32)]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    queries = (emb.filter("vec_id < 5")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_emb")))
    truth = {(r.q_id, r.vec_id)
             for r in similarity.brute_force_topk(emb, queries, k=10).collect()}
    approx = {(r.q_id, r.vec_id)
              for r in similarity.ivf_topk(
                  emb, queries, k=10, centroid_stride=51, nprobe=3).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_embedding_near_pairs_finds_planted_dup(spark):
    """A planted near-duplicate (cosine ~0.99) must survive LSH candidate
    generation and exact verification; orthogonal fillers must not."""
    import numpy as np
    rng = np.random.default_rng(3)
    base = rng.normal(size=48)
    near = base + rng.normal(size=48) * 0.05
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    rows += [(i, [float(x) for x in rng.normal(size=48)])
             for i in range(2, 40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.a_id, r.b_id): r.cos_sim
           for r in similarity.embedding_near_pairs(
               emb, dim=48, threshold=0.9).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 0.9
    assert all(p == (0, 1) for p in got), got


def test_embedding_near_pairs_narrow_regime_keeps_band_join(spark):
    """The 16x10 default buckets (collision probability ~0.0155) over 600
    vectors: the call builds its plan without starting a Spark job (no
    count), plans the (tbl, bucket) band equi-join rather than the dense
    all-pairs kernel, and still finds a planted near-duplicate."""
    import re

    import numpy as np
    rng = np.random.default_rng(7)
    base = rng.normal(size=48)
    near = base + rng.normal(size=48) * 0.05
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    rows += [(i, [float(x) for x in rng.normal(size=48)])
             for i in range(2, 600)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sc = spark.sparkContext
    group = "narrow_near_pairs_build"
    sc.setJobGroup(group, group)
    try:
        out = similarity.embedding_near_pairs(emb, dim=48, threshold=0.9)
        started = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert started == []
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert re.search(r"Join \[tbl#\d+, bucket#\d+\]", plan), plan
    got = {(r.a_id, r.b_id): r.cos_sim for r in out.collect()}
    assert got.get((0, 1), 0.0) >= 0.9


def test_ivf_assign_deterministic_tie_break(spark):
    """Equal inner products assign to the SMALLEST centroid id (the
    engine-exact tie rule the DuckDB oracle mirrors)."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (25, [1.0, 0.0]),   # two identical centroids
         (7, [1.0, 0.0])],                    # ties with both
        "vec_id long, embedding array<float>")
    cent = (emb.filter("vec_id % 25 = 0")
            .select(F.col("vec_id").alias("c_id"),
                    similarity._quant(F.col("embedding")).alias("c_q")))
    got = {r.vec_id: r.c_id
           for r in similarity.ivf_assign(emb, cent).collect()}
    assert got[7] == 0 and got[0] == 0 and got[25] == 0


def test_textstats(docs):
    li = {r.doc_id: r for r in textstats.language_id(docs).collect()}
    assert li[0].pred_lang == "en"


def test_stratified_sample(spark):
    """Hash-threshold sampling: deterministic membership, threshold
    semantics exact per row, rates honored within hash variance, rate
    1.0 / 0.0 edge strata, and invariance under repartitioning (the
    no-RNG property df.sample does not have)."""
    import hashlib
    rows = [(i, "en" if i % 2 == 0 else "xx") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = textstats.stratified_sample(
        df, "doc_id", "lang", {"en": 0.5}, default_rate=0.1)
    got = {(r.doc_id, r.sample_bucket) for r in out.collect()}
    # exact oracle: same predicate in pure python
    want = set()
    for i, lang in rows:
        b = hashlib.md5(str(i).encode()).hexdigest()[:2]
        if b < ("80" if lang == "en" else "1a"):
            want.add((i, b))
    assert got == want
    n_en = sum(1 for i, b in got if i % 2 == 0)
    n_xx = len(got) - n_en
    assert abs(n_en / 1000 - 0.5) < 0.06        # 128/256 nominal
    assert abs(n_xx / 1000 - 26 / 256) < 0.04   # 0.1 -> 26/256 nominal
    # repartitioning must not change membership (no RNG/seed coupling)
    out2 = textstats.stratified_sample(
        df.repartition(7, "lang"), "doc_id", "lang",
        {"en": 0.5}, default_rate=0.1)
    assert {(r.doc_id, r.sample_bucket) for r in out2.collect()} == got
    # edge strata: 1.0 keeps every row ('g' sentinel), 0.0 keeps none
    full = textstats.stratified_sample(
        df, "doc_id", "lang", {"en": 1.0}, default_rate=0.0)
    kept = full.groupBy("lang").count().collect()
    assert {r.lang: r["count"] for r in kept} == {"en": 1000}


def test_fingerprint_shared_passages(docs):
    pairs = {(r.a_id, r.b_id) for r in
             textstats.shared_passage_pairs(docs, min_shared=1).collect()}
    assert (0, 1) in pairs
    assert (3, 4) not in pairs


def test_multimodal_features(spark):
    assets = multimodal.synth_assets(spark, 30)
    feats = multimodal.asset_features(assets)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic: same payload -> same sha/feature
    again = {r.asset_id: r.payload_sha
             for r in multimodal.asset_features(assets).collect()}
    assert all(again[r.asset_id] == r.payload_sha for r in rows)


def test_multimodal_malformed_payload_err_row(spark):
    """A malformed payload yields an err row, never a task failure."""
    from pyspark.sql import Row
    bad = spark.createDataFrame(
        [Row(asset_id=0, kind="image", payload=b"not a png", meta=None),
         Row(asset_id=1, kind="audio", payload=b"RIFFxxxx", meta=None)],
        multimodal.ASSET_SCHEMA)
    rows = {r.asset_id: r for r in multimodal.asset_features(bad).collect()}
    assert rows[0].err and "PNG" in rows[0].err
    assert rows[1].err is not None
    assert rows[0].feature == [0.0] * multimodal.N_FEATURES


def test_frame_sample_plan(spark):
    assets = multimodal.synth_assets(spark, 9)
    plan = multimodal.frame_sample_plan(assets, every_ms=5000)
    vids = assets.filter("kind = 'video'").count()
    assert plan.count() >= vids
    assert plan.groupBy("asset_id").count().count() == vids


def test_frame_features(spark):
    assets = multimodal.synth_assets(spark, 9)
    plan_n = multimodal.frame_sample_plan(assets, every_ms=5000).count()
    feats = multimodal.frame_features(assets, every_ms=5000).collect()
    assert len(feats) == plan_n
    assert all(len(r.feature) == 8 for r in feats)
    # deterministic per (asset, frame_ts); distinct frames -> distinct shas
    shas = {(r.asset_id, r.frame_ts_ms): r.frame_sha for r in feats}
    assert len(shas) == len(feats)
    again = {(r.asset_id, r.frame_ts_ms): r.frame_sha
             for r in multimodal.frame_features(assets, every_ms=5000).collect()}
    assert again == shas


def test_frame_features_reads_payload_once(spark):
    """Payload-read-once pin (round-4): the frame_features plan must carry
    the payload on the per-asset row (timestamp LIST attached) — no join
    or explode fans the video binary out per sampled frame.  Planted
    many-frame asset: one 40-frame video still yields one UDF input row."""
    frames = [multimodal._byte_stream(f"mf-{i}", 4 * 2 * 3)
              for i in range(40)]
    payload = multimodal.rawv_encode(frames, 4, 2, fps=10)
    from pyspark.sql import Row
    assets = spark.createDataFrame(
        [Row(asset_id=0, kind="video", payload=payload,
             meta=Row(width=4, height=2, duration_ms=4000,
                      mime="video/x-raw"))],
        multimodal.ASSET_SCHEMA)
    feats = multimodal.frame_features(assets, every_ms=100)
    plan = feats._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Explode" not in plan
    rows = feats.collect()
    # 41 sampled frames (0..4000 step 100), all decoded from ONE payload row
    assert len(rows) == 41
    assert all(r.err is None and len(r.feature) == 8 for r in rows)
    # frame indices really differ across timestamps (true per-frame decode)
    assert len({r.frame_sha for r in rows}) == 40


def test_frame_features_malformed_payload_err_rows(spark):
    """One bad video payload yields err rows (one per sampled timestamp),
    never a task failure — the asset_features guard, now on frames too."""
    from pyspark.sql import Row
    assets = spark.createDataFrame(
        [Row(asset_id=5, kind="video", payload=b"RAWVgarbage",
             meta=Row(width=4, height=2, duration_ms=2000,
                      mime="video/x-raw"))],
        multimodal.ASSET_SCHEMA)
    rows = multimodal.frame_features(assets, every_ms=1000).collect()
    assert len(rows) == 3          # ts 0, 1000, 2000
    assert all(r.err and r.feature == [0.0] * multimodal.N_FEATURES
               for r in rows)


def test_ivf_assign_matches_numpy_argmax(spark):
    """Property pin: ivf_assign == numpy integer-IP argmax with the
    smallest-centroid-id tie rule, on random vectors."""
    import numpy as np
    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(60, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    cent = (emb.filter("vec_id % 10 = 0")
            .select(F.col("vec_id").alias("c_id"),
                    similarity._quant(F.col("embedding")).alias("c_q")))
    got = {r.vec_id: r.c_id
           for r in similarity.ivf_assign(emb, cent).collect()}

    q = np.floor(vecs.astype(np.float32).astype(np.float64) * 1000 + 0.5)
    c_ids = [i for i in range(60) if i % 10 == 0]
    cq = q[c_ids]
    ips = q @ cq.T                              # exact integer grid
    for i in range(60):
        best = max(range(len(c_ids)),
                   key=lambda j: (ips[i, j], -c_ids[j]))
        assert got[i] == c_ids[best], (i, got[i], c_ids[best])
