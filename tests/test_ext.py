"""Extension-operator invariants beyond the oracle harness:
- minhash LSH result == exact jaccard result (recall proof at fixture SF)
- simhash: near-dup pairs have small hamming distance
- ivf_search recall vs brute force
- multimodal mapInPandas plumbing with stubbed decode
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from sparksync.ext import dedup, multimodal, similarity
from sparksync.source import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_minhash_equals_exact_jaccard(docs):
    exact = {tuple(r) for r in dedup.jaccard_pairs(docs, 0.8).collect()}
    lsh = {tuple(r) for r in dedup.minhash_dedup_pairs(docs, 0.8).collect()}
    assert exact == lsh
    assert len(exact) > 0  # fixtures contain planted near-dups


def test_simhash_close_on_near_dups(spark, docs):
    pairs = dedup.jaccard_pairs(docs, 0.9).select("d1", "d2")
    sh = dedup.simhash(docs)
    a = sh.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"))
    b = sh.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"))
    joined = pairs.join(a, "d1").join(b, "d2")
    ham = joined.select(
        F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("d")
    )
    rows = ham.collect()
    assert rows, "expected near-dup pairs"
    # >=0.9-jaccard docs should agree on the vast majority of simhash bits
    assert max(r["d"] for r in rows) <= 12


def test_ivf_recall(emb):
    brute = [r["neighbor_id"] for r in
             similarity.knn_brute(emb, query_id=0, k=10).orderBy("rnk").collect()]
    ivf = [r["neighbor_id"] for r in
           similarity.ivf_search(emb, query_id=0, k=10, nprobe=4).orderBy("rnk").collect()]
    # ANN with 4/8 clusters probed should keep most of the true top-10
    overlap = len(set(brute) & set(ivf))
    assert overlap >= 5, (brute, ivf)


def test_rp_lsh_params_occupancy_law():
    """rp_lsh_params encodes the measured sf1 scaling law
    (BASELINE.md): width grows ~log2(n) to hold expected bucket
    occupancy constant, reproducing the operator defaults at gate
    scale and keeping occupancy <= target at every decade."""
    from sparksync.ext.similarity import rp_lsh_params

    import pytest as _pytest

    # gate fixture scale (2,000 vectors) -> the operator defaults
    assert rp_lsh_params(2_000) == {
        "n_planes": 32,
        "n_bands": 4,
        "bucket_cap": 10_000,
    }
    # the sf1 probe's 20,000 vectors -> width 12 (occupancy ~4.9,
    # back under the target the defaults were tuned for)
    p = rp_lsh_params(20_000)
    assert p["n_planes"] == 48 and p["n_bands"] == 4
    # occupancy stays <= target across decades; width monotone in n
    prev = 0
    for n in (1_000, 10_000, 100_000, 10**7, 10**9):
        p = rp_lsh_params(n)
        width = p["n_planes"] // p["n_bands"]
        assert n / (1 << width) <= 8 or width == 8  # floor at 8 bits
        assert width >= prev
        prev = width
    # verify_budget passes through as the cap
    assert rp_lsh_params(10**6, verify_budget=64)["bucket_cap"] == 64
    with _pytest.raises(ValueError):
        rp_lsh_params(0)


def test_rp_lsh_production_defaults_auto_size(spark):
    """VERDICT r10 #1: n_planes=None (the production default) must
    resolve through rp_lsh_params at the ACTUAL corpus count — the law
    with a call site, not documentation. Asserted at two corpus sizes
    straddling the sizing knee (2k -> 32 planes, 20k -> 48), and that
    an explicit n_planes (the gate pin) bypasses the count entirely."""
    from sparksync.ext.similarity import _sized_lsh_params, rp_lsh_params

    small = spark.range(2_000).select(F.col("id").alias("vec_id"))
    big = spark.range(20_000).select(F.col("id").alias("vec_id"))
    for df, n in ((small, 2_000), (big, 20_000)):
        planes, cap = _sized_lsh_params(df, None, 4, 10_000)
        law = rp_lsh_params(n, n_bands=4, verify_budget=10_000)
        assert (planes, cap) == (law["n_planes"], law["bucket_cap"])
    assert _sized_lsh_params(big, None, 4, 10_000)[0] == 48
    # gate pin: explicit params pass through untouched, no count job
    assert _sized_lsh_params(big, 32, 4, 10_000) == (32, 10_000)
    # verify_budget flows through the auto path too
    assert _sized_lsh_params(big, None, 4, 64)[1] == 64


def test_rp_lsh_gate_path_unchanged_by_auto_sizing(emb):
    """The q32/q178 gate queries pin n_planes=32, so their output must
    be bit-identical to the pre-auto-sizing behavior — and at the gate
    fixture's corpus size the auto-sized default must ALSO coincide
    with 32 planes (the law reproduces the defaults at n <= 2048)."""
    n = emb.count()
    assert n <= 2048, "fixture grew past the sizing knee; re-pin this test"
    pinned = similarity.neardup_pairs_lsh(emb, top_n=5, n_planes=32).collect()
    auto = similarity.neardup_pairs_lsh(emb, top_n=5).collect()
    assert [tuple(r) for r in pinned] == [tuple(r) for r in auto]


def test_rp_lsh_finds_planted_neardups(spark, emb):
    """The fixture embeddings hold no true near-dups (top cosines ~0.5),
    so recall is tested on PLANTED ones: jittered copies of 10 vectors
    must pair with their originals through the banded LSH."""
    import math

    from pyspark.sql import functions as F

    base = emb.orderBy("vec_id").limit(10).collect()
    planted = []
    for r in base:
        v = list(r["embedding"])
        # deterministic ~2% jitter -> cosine stays ~0.98+
        jit = [x * (1.0 + 0.02 * math.sin(i + r["vec_id"])) for i, x in enumerate(v)]
        planted.append((100000 + r["vec_id"], jit, r["label"]))
    extra = spark.createDataFrame(
        planted, "vec_id long, embedding array<double>, label string"
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).unionByName(extra)
    pairs = {
        (r["d1"], r["d2"])
        for r in similarity.neardup_pairs_lsh(corpus, top_n=10).collect()
    }
    want = {(r["vec_id"], 100000 + r["vec_id"]) for r in base}
    assert len(pairs & want) >= 8, sorted(pairs)


def test_asof_join_semantics(spark):
    from sparksync.ext.asof import asof_join, sessionize

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 200, "b"), (2, 50, "c")], "k long, t long, who string"
    ).withColumn("t", F.timestamp_micros(F.col("t") * 1_000_000))
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 150, 20.0), (2, 60, 30.0)], "k long, t long, v double"
    ).withColumn("t", F.timestamp_micros(F.col("t") * 1_000_000))
    out = {
        r["who"]: r["asof_v"]
        for r in asof_join(left, right, "k", "t", "t", ["v"]).collect()
    }
    assert out == {"a": 10.0, "b": 20.0, "c": None}  # exact-ts matches; no future rows

    sess = sessionize(left, "k", "t", gap_minutes=1)
    got = {(r["who"], r["session_id"]) for r in sess.collect()}
    assert got == {("a", 1), ("b", 2), ("c", 1)}  # 100s gap > 1min splits


def test_multimodal_stub_plumbing(spark):
    import numpy as np

    bmp = multimodal.emit_bmp(np.zeros((4, 4, 3), dtype=np.uint8) + 200)
    rows = [
        (1, "image", b"fakejpegbytes", 8, 8),  # no codec: pseudo tier
        (2, "video", b"x" * 5000, 16, 16),
        (3, "image", None, 0, 0),
        (4, "image", bmp, 4, 4),  # decodable: MUST take the real path
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(df, fake=True).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len(b"fakejpegbytes")
    assert by_id[1]["status"] == "pseudo"
    assert len(by_id[1]["features"]) == multimodal.FEATURE_DIM
    assert by_id[3]["n_bytes"] == 0
    # a decodable payload NEVER gets pseudo-features (VERDICT r4 #5)
    assert by_id[4]["status"] == "decoded"
    assert abs(by_id[4]["features"][4] - 200 / 255) < 1e-6  # real mean_r
    # deterministic: same bytes -> same features
    feats2 = multimodal.extract_features(df, fake=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    # without fake opt-in, undecodable rows carry NULL features
    strict = {r["media_id"]: r for r in
              multimodal.extract_features(df).collect()}
    assert strict[1]["status"] == "unsupported"
    assert strict[1]["features"] is None
    assert strict[4]["status"] == "decoded"
    plan = multimodal.frame_sample_plan(df, every_n=2)
    assert plan.where("media_id = 2").count() == 3  # frames 0,2,4 of 5


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(10, "same"), (3, "same"), (7, "other")], "doc_id long, text string"
    )
    out = {(r["doc_id"], r["dup_count"]) for r in
           dedup.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {(3, 2), (7, 1)}


def test_simhash_pairs_overlap_jaccard(docs):
    """Hamming<=3 simhash pairs recover nearly all exact-Jaccard>=0.8
    pairs (both find the planted near-duplicates)."""
    jac = {(r["d1"], r["d2"]) for r in dedup.jaccard_pairs(docs, 0.8).collect()}
    sim = {(r["d1"], r["d2"]) for r in dedup.simhash_pairs(docs).collect()}
    assert jac, "fixture should contain near-duplicates"
    assert len(jac & sim) >= len(jac) * 0.7, (sorted(jac - sim), len(sim))
    assert all(r["hamming"] <= 3 for r in dedup.simhash_pairs(docs).collect())


def test_simhash_pairs_bucket_cap(docs):
    """With an absurdly small bucket_cap every bucket re-splits; the
    result must stay a subset of the uncapped pairs, and hamming-0 pairs
    (identical fingerprints agree on every band) must always survive."""
    uncapped = {(r["d1"], r["d2"]) for r in
                dedup.simhash_pairs(docs, bucket_cap=None).collect()}
    capped_rows = dedup.simhash_pairs(docs, bucket_cap=2).collect()
    capped = {(r["d1"], r["d2"]) for r in capped_rows}
    assert capped <= uncapped
    zero = {(r["d1"], r["d2"])
            for r in dedup.simhash_pairs(docs, bucket_cap=None).collect()
            if r["hamming"] == 0}
    assert zero <= capped
    # the overwhelmingly common case: a sane cap changes nothing
    assert {(r["d1"], r["d2"]) for r in
            dedup.simhash_pairs(docs, bucket_cap=10_000).collect()} == uncapped


def test_split_assign_deterministic(docs):
    from sparksync.ext import sampling

    s1 = sampling.split_assign(docs, "doc_id")
    s2 = sampling.split_assign(docs.repartition(7), "doc_id")
    m1 = {r["doc_id"]: r["split"] for r in s1.collect()}
    m2 = {r["doc_id"]: r["split"] for r in s2.collect()}
    # assignment is a pure function of id: partitioning must not matter
    assert m1 == m2
    from collections import Counter

    c = Counter(m1.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]
    # every row assigned, none dropped
    assert sum(c.values()) == docs.count()


def test_split_assign_validates():
    from sparksync.ext import sampling
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.split_assign(None, "id", {"a": 0.9, "b": 0.2})
    with _pytest.raises(ValueError):
        sampling._bucket("id", "md5", "s")


def test_stratified_sample_fractions(docs):
    from sparksync.ext import sampling

    kept = sampling.stratified_sample(
        docs, "lang", {"en": 1.0}, "doc_id", default_fraction=0.0
    )
    en_total = docs.where("lang = 'en'").count()
    assert kept.count() == en_total
    assert kept.where("lang <> 'en'").count() == 0


def test_interleave_weights(docs):
    from sparksync.ext import sampling

    a = docs.where("lang = 'en'")
    b = docs.where("lang <> 'en'")
    mixed = sampling.interleave([(a, 1.0), (b, 0.0)], "doc_id")
    assert mixed.count() == a.count()


def test_range_join_matches_inequality_join(spark):
    """Bucketized range join == the naive inequality join, including an
    interval shorter than / longer than the bucket."""
    from sparksync.ext import asof
    from sparksync.source import load_table

    li = (
        load_table(spark, SF_SMOKE, "lineitem")
        .where("l_returnflag = 'R'")
        .select("l_orderkey", "l_shipdate")
    )
    from pyspark.sql import functions as F

    for days, bucket_s in ((5, 30 * 86400), (90, 30 * 86400)):
        o = (
            load_table(spark, SF_SMOKE, "orders")
            .where("o_orderpriority = '1-URGENT'")
            .select(
                "o_orderkey",
                "o_orderdate",
                F.expr(f"o_orderdate + interval {days} days").alias("o_end"),
            )
        )
        fast = asof.range_join(li, o, "l_shipdate", "o_orderdate", "o_end", bucket_s)
        naive = li.join(
            o,
            (o["o_orderdate"] <= li["l_shipdate"]) & (li["l_shipdate"] < o["o_end"]),
        )
        got = {(r["o_orderkey"], r["l_orderkey"], r["l_shipdate"]) for r in fast.collect()}
        want = {(r["o_orderkey"], r["l_orderkey"], r["l_shipdate"]) for r in naive.collect()}
        assert got == want, (days, len(got), len(want))


def test_salted_join_and_distinct(spark):
    from pyspark.sql import functions as F

    from sparksync.ext import skew
    from sparksync.source import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderpriority")
    plain = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy(
        "o_orderpriority"
    ).count()
    salted = skew.salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), o, "o_orderkey", "l_partkey"
    ).groupBy("o_orderpriority").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}

    sd = skew.salted_distinct_count(li, "l_orderkey", "l_suppkey")
    pd_ = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("distinct_count")
    )
    assert {tuple(r) for r in sd.collect()} == {tuple(r) for r in pd_.collect()}


def test_salted_join_rejects_right_and_full(spark):
    """how='right'/'full' would multiply unmatched right rows by
    n_salts; salted_join must refuse them up front."""
    import pytest as _pytest

    from sparksync.ext import skew

    df = spark.range(3).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            skew.salted_join(df, df, "k", "k", how=how)


def test_connected_components_nonconvergence_raises(spark):
    """A chain graph whose diameter exceeds max_iter must raise (strict,
    default) or warn and return partial labels (strict=False) - never
    silently return wrong components."""
    import pytest as _pytest

    from sparksync.ext import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "d1 long, d2 long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, max_iter=1).collect()
    with _pytest.warns(UserWarning, match="did not converge"):
        partial = graph.connected_components(chain, max_iter=1, strict=False)
        assert partial.count() == 9
    # enough rounds: one component rooted at node 0
    full = graph.connected_components(chain, max_iter=10)
    assert {r["component"] for r in full.collect()} == {0}


def test_multimodal_resize_and_audio(spark):
    import numpy as np

    bmp = multimodal.emit_bmp(
        np.arange(64 * 64 * 3, dtype=np.uint32).reshape(64, 64, 3)
        .astype(np.uint8)
    )
    rows = [
        (1, "image", bmp, 64, 64),
        (2, "audio", b"a" * 9500, 0, 0),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    rz = {r["media_id"]: r for r in multimodal.resize(df, 16, 16).collect()}
    # decodable payload really resized; undecodable passes through with
    # its ORIGINAL bytes and metadata (resize delegates to resize_media)
    assert rz[1]["width"] == 16 and rz[1]["height"] == 16
    assert multimodal.parse_bmp(bytes(rz[1]["content"])).shape == (16, 16, 3)
    assert bytes(rz[2]["content"]) == b"a" * 9500
    assert rz[2]["width"] == 0 and rz[2]["height"] == 0
    # schema-stable: output re-enters extract_features unchanged
    again = multimodal.extract_features(
        multimodal.resize(df, 16, 16), fake=True
    )
    assert again.count() == 2
    chunks = multimodal.audio_chunk_plan(df, chunk_bytes=4000)
    got = [(r["chunk_index"], r["offset"]) for r in
           chunks.orderBy("chunk_index").collect()]
    assert got == [(0, 0), (1, 4000), (2, 8000)]


def test_ivf_train_improves_fit(emb):
    """Spherical k-means: mean cosine-to-assigned-centroid must improve
    over the untrained seed centroids, and search stays functional with
    trained centers."""
    from pyspark.sql import functions as F

    def inertia(cent):
        e = emb.select("vec_id", similarity._to_double(F.col("embedding")).alias("v"))
        c = cent if cent is not None else similarity._default_centroids(e, 8, "vec_id")
        scored = e.crossJoin(F.broadcast(c)).select(
            "vec_id", similarity.cosine(F.col("v"), F.col("cv")).alias("cos")
        )
        best = scored.groupBy("vec_id").agg(F.max("cos").alias("m"))
        return best.agg(F.avg("m")).collect()[0][0]

    base = inertia(None)
    trained = similarity.ivf_train(emb, n_centroids=8, n_iters=3)
    assert trained.count() == 8
    after = inertia(trained)
    assert after > base, (base, after)
    res = similarity.ivf_search(emb, query_id=0, k=10, nprobe=4, centroids=trained)
    assert res.count() == 10


def test_approx_distinct_close_to_exact(spark):
    from pyspark.sql import functions as F

    from sparksync.source import load_table

    e = load_table(spark, SF_SMOKE, "events")
    approx = {
        r["event_type"]: r["a"]
        for r in e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("a"))
        .collect()
    }
    exact = {
        r["event_type"]: r["x"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("x"))
        .collect()
    }
    for k, x in exact.items():
        assert abs(approx[k] - x) <= max(2, 0.05 * x), (k, approx[k], x)


def test_connected_components_multihop(spark):
    """Chains and separate components resolve transitively: A-B, B-C,
    C-D is ONE group labeled by its minimum, even though A never pairs
    with D directly."""
    from sparksync.ext import graph

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "d1 long, d2 long",
    )
    cached_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    got = {r["node"]: r["component"] for r in
           graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}
    # the loop's per-round checkpoints must all be released; only the
    # FINAL round's blocks may remain (they back the returned plan —
    # a truncated lineage cannot recompute). Compare against the
    # pre-call count: other suites may legitimately hold caches.
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= cached_before + 1


def test_ops_handle_empty_inputs(spark):
    """Every pipeline operator returns an empty (not crashing) result on
    an empty corpus — the degenerate partition every real run contains."""
    from pyspark.sql import functions as F

    from sparksync.ext import asof, graph, sampling, skew, textops
    from sparksync.source import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(0)
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(0)
    ev = load_table(spark, SF_SMOKE, "events").limit(0)
    assert dedup.exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert dedup.jaccard_pairs(docs).count() == 0
    assert dedup.minhash_dedup_pairs(docs).count() == 0
    assert dedup.simhash_pairs(docs).count() == 0
    assert similarity.neardup_pairs_lsh(emb).count() == 0
    assert textops.language_id(docs).count() == 0
    assert textops.token_counts(docs).count() == 0
    assert textops.repetition_stats(docs).count() == 0
    assert textops.boilerplate_ngrams(docs).count() == 0
    assert sampling.split_assign(docs, "doc_id").count() == 0
    assert skew.salted_distinct_count(ev, "event_type", "user_id").count() == 0
    assert asof.sessionize(ev, "user_id", "ts").count() == 0
    edges = spark.createDataFrame([], "d1 long, d2 long")
    assert graph.connected_components(edges).count() == 0


def test_knn_batch_matches_single(emb):
    """Batched kNN per-query results equal the single-query operator."""
    batch = similarity.knn_batch(emb, [0, 3], k=5)
    got0 = [(r["neighbor_id"], r["rnk"]) for r in
            batch.where("query_id = 0").orderBy("rnk").collect()]
    single0 = [(r["neighbor_id"], r["rnk"]) for r in
               similarity.knn_brute(emb, 0, k=5).orderBy("rnk").collect()]
    assert got0 == single0
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_repetition_stats_invariants(docs):
    """Duplicate ratios are in [0,1], a doc of all-identical tokens maxes
    the ratio, and a no-repeat doc scores 0 / keep=1."""
    from sparksync.ext import textops

    rows = {r["doc_id"]: r for r in textops.repetition_stats(docs).collect()}
    assert len(rows) == docs.count()
    for r in rows.values():
        assert 0.0 <= r["dup_token_ratio"] <= 1.0
        assert 0.0 <= r["dup_2gram_ratio"] <= 1.0
        assert r["uniq_tokens"] <= r["n_tokens"]
        assert r["uniq_2grams"] <= r["n_2grams"]

    crafted = docs.sparkSession.createDataFrame(
        [(1, "x x x x x x"), (2, "a b c d e f"), (3, "z")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textops.repetition_stats(crafted).collect()}
    assert got[1]["dup_token_ratio"] > 0.8 and got[1]["keep"] == 0
    assert got[2]["dup_token_ratio"] == 0.0 and got[2]["keep"] == 1
    # single token: no 2-grams, ratios well-defined (guarded sequence())
    assert got[3]["n_2grams"] == 0 and got[3]["dup_2gram_ratio"] == 0.0


def test_boilerplate_ngrams_counts_docs_not_occurrences(spark):
    """A shingle repeated inside ONE doc counts once; across docs it
    accumulates doc frequency."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [
            (1, "the end block the end block"),   # twice in one doc -> 1
            (2, "the end block appears here"),
            (3, "the end block again"),
            (4, "nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["gram"]: r["doc_freq"] for r in
           textops.boilerplate_ngrams(df, min_docs=3, top_k=10).collect()}
    assert got == {"the end block": 3}


def test_contamination_flags_and_broadcast_plan(spark):
    """Overlapping docs are flagged with the right overlap count and
    disjoint docs are not. Plan shape: the eval-set shingle join is
    broadcast (eval sets are small by construction), but the per-doc
    overlap aggregate joins back onto the doc spine WITHOUT a broadcast —
    its size is data-dependent (one row per contaminated doc) and could
    blow the broadcast limit on a dirty corpus."""
    from sparksync.ext import textops

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # shares 'alpha beta gamma'
            (2, "beta gamma delta epsilon"),    # shares 'beta gamma delta'
            (3, "zeta eta theta iota"),         # disjoint
            (4, "x y"),                         # too short for 3-grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    out = textops.contamination_flags(corpus, bench)
    # static plan, BEFORE execution: at runtime AQE may legitimately
    # promote the tiny test-sized shuffle joins to broadcasts, but the
    # *declared* plan must only ever broadcast the eval-set side
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    got = {r["doc_id"]: (r["n_overlap"], r["contaminated"]) for r in out.collect()}
    assert got == {1: (2, 1), 2: (2, 1), 3: (0, 0), 4: (0, 0)}


def test_temperature_sample(spark):
    """alpha=0.5 keeps the smallest stratum whole and downsamples the
    big one toward sqrt proportions; NULL strata survive (eqNullSafe
    join); the kept set is deterministic across calls."""
    from sparksync.ext import sampling

    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "small") for i in range(25)]
        + [(2000 + i, None) for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = sampling.temperature_sample(df, "source", "doc_id", alpha=0.5)
    by = {r["source"]: r["cnt"] for r in
          kept.groupBy("source").agg(__import__("pyspark").sql.functions
                                     .count("*").alias("cnt")).collect()}
    assert by.get("small") == 25 and by.get(None) == 25  # rate 1.0 strata
    # big: rate = sqrt(25/400) = 0.25 -> ~100 of 400 (hash-bucket exact,
    # not binomial; wide tolerance for bucket clumping)
    assert 60 <= by.get("big", 0) <= 140
    again = sampling.temperature_sample(df, "source", "doc_id", alpha=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # alpha=1 keeps everything (natural proportions, max rate everywhere)
    assert sampling.temperature_sample(df, "source", "doc_id", alpha=1.0).count() == 450
    # the rates side is broadcast; the spine is never shuffled for the join
    plan = kept._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_vocab_topk_matches_naive_window(spark):
    """The salted two-phase top-k must equal the naive single-window
    formulation exactly (same ordering: freq desc, token asc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(i, "a b c a b a", "en") for i in range(7)]
        + [(100 + i, "x y x z", "fr") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    got = textops.vocab_topk(df, k=2)
    naive = (
        df.select(F.col("lang"), F.explode(textops.tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.partitionBy("lang").orderBy(F.desc("freq"), F.col("tok")))
            .cast("long"),
        )
        .where(F.col("rnk") <= 2)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_hamming_pairs(spark):
    """Substitution distance within max_dist pairs up; different
    lengths, NULLs and far strings never pair; the banded candidate set
    loses nothing at this scale (verified against brute force)."""
    from pyspark.sql import functions as F

    from sparksync.ext import dedup

    df = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcxef"), (3, "abcxyf"), (4, "zzzzzz"),
         (5, "abc"), (6, None), (7, "abd"), (8, "abcdeg")],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, dedup.hamming_pairs(df, max_dist=2).collect()))
    # brute force over equal-length non-null pairs
    rows = [(r["doc_id"], r["text"]) for r in df.collect() if r["text"]]
    brute = []
    for i, (d1, s1) in enumerate(rows):
        for d2, s2 in rows[i + 1:]:
            if len(s1) == len(s2):
                dist = sum(a != b for a, b in zip(s1, s2))
                if dist <= 2:
                    brute.append(tuple(sorted((d1, d2))) + (dist,))
    assert got == sorted(brute)
    assert (1, 2, 1) in got and (5, 7, 1) in got


def test_hamming_pairs_bucket_cap_resplit(spark):
    """With a tiny bucket_cap the near-constant shared-prefix segment
    re-splits by the next segment: identical strings (dist 0) always
    survive, and no pair beyond max_dist ever appears."""
    from sparksync.ext import dedup

    # 30 strings sharing the first two segments; two exact dups
    rows = [(i, f"PFX-{i:03d}") for i in range(30)] + [(100, "PFX-001"), (101, "PFX-002")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = sorted(map(tuple, dedup.hamming_pairs(
        df, max_dist=1, bucket_cap=5).collect()))
    assert (1, 100, 0) in capped and (2, 101, 0) in capped
    assert all(d <= 1 for _, _, d in capped)
    uncapped = sorted(map(tuple, dedup.hamming_pairs(
        df, max_dist=1, bucket_cap=None).collect()))
    # re-splitting may drop cross-segment-boundary pairs but never adds
    assert set(capped) <= set(uncapped)


def test_redact_pii_synthetic(spark):
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call 12345678901 now"),
            (2, "no pii here, just 1234 and a-b"),
            (3, "two mails a@b.io c.d@e-f.org and 999999999"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.redact_pii(df).collect()}
    assert out[1]["clean_text"] == "contact <EMAIL> or call <NUM> now"
    assert out[1]["n_emails"] == 1 and out[1]["n_longnums"] == 1
    assert out[2]["clean_text"] == "no pii here, just 1234 and a-b"
    assert out[2]["n_emails"] == 0 and out[2]["n_longnums"] == 0
    assert out[3]["clean_text"] == "two mails <EMAIL> <EMAIL> and <NUM>"
    assert out[3]["n_emails"] == 2 and out[3]["n_longnums"] == 1


def test_quantized_knn_recall(emb):
    """int8 quantization must keep most of the brute-force top-10: the
    dequantized vectors' kNN is compared to the exact one."""
    dim = emb.select(F.size("embedding").alias("d")).first()["d"]
    stats = similarity.quantization_stats(emb)
    codes = similarity.quantize_embeddings(emb, stats=stats)
    recon = similarity.dequantize(codes, stats, dim=dim)
    brute = [r["neighbor_id"] for r in
             similarity.knn_brute(emb, query_id=0, k=10).collect()]
    quant = [r["neighbor_id"] for r in
             similarity.knn_brute(recon, query_id=0, k=10, vec_col="v").collect()]
    assert len(set(brute) & set(quant)) >= 8, (brute, quant)


def test_incremental_dedup_equals_exact_cross(docs):
    """LSH cross-pairs (new=odd ids vs corpus=even ids) must equal the
    exact-Jaccard pair set restricted to odd-even pairs."""
    exact = {
        (r["d1"], r["d2"], r["jacc"]) if r["d1"] % 2 == 1 else (r["d2"], r["d1"], r["jacc"])
        for r in dedup.jaccard_pairs(docs, 0.8).collect()
        if (r["d1"] % 2) != (r["d2"] % 2)
    }
    new = docs.where(F.col("doc_id") % 2 == 1)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    got = {
        (r["new_id"], r["corpus_id"], r["jacc"])
        for r in dedup.minhash_dedup_pairs_cross(new, corpus, 0.8).collect()
    }
    assert exact == got
    assert len(got) > 0


def test_pack_sequences_invariants(docs):
    """Packing: per-sequence fill never exceeds budget unless a single
    oversized doc owns the sequence; offsets are the running fill;
    output is a permutation of the input; rerun is deterministic."""
    from sparksync.ext import sampling

    budget = 800
    out = sampling.pack_sequences(
        docs, "doc_id", "n_chars", budget=budget, n_shards=4
    )
    rows = out.orderBy("shard", "seq_id", "doc_id").collect()
    assert {r["doc_id"] for r in rows} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    fills: dict[tuple, int] = {}
    ndocs: dict[tuple, int] = {}
    for r in rows:
        k = (r["shard"], r["seq_id"])
        assert r["offset"] == fills.get(k, 0), "offset must equal running fill"
        fills[k] = fills.get(k, 0) + r["n_chars"]
        ndocs[k] = ndocs.get(k, 0) + 1
    for k, fill in fills.items():
        assert fill <= budget or ndocs[k] == 1
    again = sampling.pack_sequences(
        docs, "doc_id", "n_chars", budget=budget, n_shards=4
    )
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))
    with pytest.raises(ValueError):
        sampling.pack_sequences(docs, "doc_id", "n_chars", budget=0)


def test_percentile_filter_modes(docs):
    """upper/lower partition the corpus (rows at the threshold appear in
    both); approx path runs; bad mode rejected; threshold broadcasts."""
    from sparksync.ext import sampling

    n = docs.count()
    upper = sampling.percentile_filter(docs, "n_chars", p=0.5, keep="upper")
    lower = sampling.percentile_filter(docs, "n_chars", p=0.5, keep="lower")
    nu, nl = upper.count(), lower.count()
    at_thr = upper.select("n_chars", "threshold").where(
        F.col("n_chars") == F.col("threshold")
    ).count()
    assert nu + nl == n + at_thr
    assert sampling.percentile_filter(docs, "n_chars", exact=False).count() > 0
    with pytest.raises(ValueError):
        sampling.percentile_filter(docs, "n_chars", keep="middle")
    plan = upper._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_gap_fill_dense_and_locf(spark):
    """The spine is gap-free per key and LOCF carries the last observed
    value across silent buckets."""
    from sparksync.ext import asof

    ev = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 03:20:00", 2.0),
            ("b", "2024-01-01 05:00:00", 7.0),
        ],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof.gap_fill(ev, "k", "ts", "v", unit="hour").orderBy("k", "bucket")
    rows = out.collect()
    a = [r for r in rows if r["k"] == "a"]
    assert len(a) == 4, "hours 00..03 inclusive"
    assert [r["observed"] for r in a] == [True, False, False, True]
    assert [r["value_ffill"] for r in a] == [1.0, 1.0, 1.0, 2.0]
    b = [r for r in rows if r["k"] == "b"]
    assert len(b) == 1 and b[0]["value_ffill"] == 7.0


def test_span_dedup_global_uniqueness(docs):
    """Every span in the rebuilt corpus is globally unique, totals are
    conserved, and fully-deduplicated docs come back empty not missing."""
    from sparksync.ext import dedup as dd

    out = dd.span_dedup(docs, span_tokens=3).cache()
    assert out.count() == docs.count()
    respans = out.where(F.col("n_kept") > 0).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_kept") - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice(
                        F.split(F.col("new_text"), " "), i * 3 + 1, 3
                    ),
                    " ",
                ),
            )
        ).alias("span")
    )
    total = respans.count()
    assert total == respans.select("span").distinct().count()
    assert total == out.agg(F.sum("n_kept")).collect()[0][0]
    kept_le = out.where(F.col("n_kept") > F.col("n_spans")).count()
    assert kept_le == 0
    out.unpersist()


def test_key_skew_stats_known_counts(spark):
    """Constructed frame with known counts: shares and skew factors are
    exact, heaviest key first, ties break by key."""
    from sparksync.ext import skew as sk

    rows = [("hot",)] * 6 + [("warm",)] * 2 + [("cold",)] * 2 + [("cool",)] * 2
    df = spark.createDataFrame(rows, "k string")
    out = sk.key_skew_stats(df, "k", top_k=3).collect()
    assert [r["k"] for r in out] == ["hot", "cold", "cool"]
    assert out[0]["cnt"] == 6 and out[0]["total_rows"] == 12
    assert out[0]["n_keys"] == 4
    assert out[0]["share"] == 0.5
    assert out[0]["skew_factor"] == 2.0
    plan_df = sk.key_skew_stats(df, "k", top_k=3)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_collocations_pmi_and_shape(spark):
    """Constructed corpus with one true collocation: it ranks first,
    counts are right, and the top-k is TakeOrderedAndProject."""
    from sparksync.ext import textops as tx

    docs = spark.createDataFrame(
        [(i, "new york is big and new york is busy plus a b") for i in range(3)]
        + [(9, "a york new b is")],
        "doc_id long, text string",
    )
    out = tx.collocations(docs, min_count=3, top_k=20)
    rows = out.collect()
    # PMI of (new york): 6 bigram occurrences, 'new' and 'york' 7 each
    got = [r for r in rows if (r["w1"], r["w2"]) == ("new", "york")][0]
    n_uni = 3 * 12 + 5
    n_bi = 3 * 11 + 4
    assert got["c_xy"] == 6
    assert got["pmi"] == (6.0 * n_uni * n_uni) / (n_bi * 7.0 * 7.0)
    # ranked by pmi desc, rnk sequential from 1 — rare-pair PMI ('big
    # and', 3-of-3 occurrences) correctly outranks the frequent pair
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    assert rows[0][0:2] == ("big", "and") or (rows[0]["w1"], rows[0]["w2"]) == ("big", "and")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_filtered_knn_prunes_candidates(emb, spark):
    """Neighbors come only from the allowed set, and equal brute-force
    kNN run on the pre-filtered corpus."""
    from sparksync.ext import similarity as sim

    allowed = emb.where(F.col("vec_id") % 3 == 1).select(
        F.col("vec_id").alias("doc_id")
    )
    got = sim.filtered_knn(emb, allowed, query_id=0, k=5).collect()
    allow = {r["doc_id"] for r in allowed.collect()}
    assert all(r["neighbor_id"] in allow for r in got)
    manual = sim.knn_brute(
        emb.join(
            allowed.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        ).unionByName(emb.where(F.col("vec_id") == 0)),
        query_id=0,
        k=5,
    ).collect()
    assert [(r["neighbor_id"], r["rnk"]) for r in got] == [
        (r["neighbor_id"], r["rnk"]) for r in manual
    ]


def test_normalize_by_group_invariants(spark):
    """Per-group z-scores sum to ~0 and minmax spans [0,1]; degenerate
    groups (single row, constant metric) get NULL z / 0.0 minmax."""
    from sparksync.ext import features

    rows = (
        [("a", i, 10 + i) for i in range(5)]
        + [("solo", 100, 7)]
        + [("const", 200 + i, 42) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "g string, id long, m long")
    out = features.normalize_by_group(df, "g", "m").collect()
    a = [r for r in out if r["g"] == "a"]
    assert abs(sum(r["zscore"] for r in a)) < 1e-12
    assert min(r["minmax"] for r in a) == 0.0
    assert max(r["minmax"] for r in a) == 1.0
    solo = [r for r in out if r["g"] == "solo"][0]
    assert solo["zscore"] is None and solo["minmax"] == 0.0
    const = [r for r in out if r["g"] == "const"]
    assert all(r["zscore"] is None and r["minmax"] == 0.0 for r in const)


def test_normalize_by_group_nulls_and_big_values(spark):
    """ADVICE-r3 hardening: NULL-group rows survive the stats join-back
    (null-safe equality), and an int metric above sqrt(2^31) no longer
    overflows the sum-of-squares (squared in long, decimal-accumulated)."""
    from sparksync.ext import features

    rows = [(None, 1, 100_000), (None, 2, 200_000), ("g", 3, 100_000)]
    df = spark.createDataFrame(rows, "g string, id long, m int")
    out = features.normalize_by_group(df, "g", "m").collect()
    assert len(out) == 3  # null-group rows kept
    nulls = sorted(
        (r for r in out if r["g"] is None), key=lambda r: r["id"]
    )
    # exact z for n=2: +/- 1/sqrt(2) * ... -> symmetric, sums to 0
    assert abs(nulls[0]["zscore"] + nulls[1]["zscore"]) < 1e-12
    assert nulls[0]["zscore"] < 0 < nulls[1]["zscore"]
    assert (nulls[0]["minmax"], nulls[1]["minmax"]) == (0.0, 1.0)


def test_rarity_score_bounds(spark):
    """mean_freq is bounded by [1, corpus token count]; a doc of unique
    gibberish scores lower than a doc of corpus-common tokens."""
    from sparksync.ext import textops

    rows = [
        (1, "the cat sat"),
        (2, "the dog sat"),
        (3, "zxqv wvut"),  # unique tokens -> freq 1 each
        (4, ""),  # tokenless -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.rarity_score(df).collect()}
    assert 4 not in out
    assert out[3]["mean_freq"] == 1.0
    assert out[1]["mean_freq"] > out[3]["mean_freq"]
    assert out[1]["n_tokens"] == 3 and out[1]["sum_freq"] == 2 + 1 + 2


def test_budget_mix_respects_budget_and_determinism(spark):
    """Per-group cumulative tokens never exceed the budget; groups
    without a budget drop; two runs agree row-for-row."""
    from sparksync.ext import sampling

    rows = [(i, "web" if i % 2 else "wiki", "tok " * (i % 7 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"web": 50, "wiki": 30}
    out = sampling.budget_mix(df, "source", budgets, "doc_id").collect()
    assert out, "budget admitted nothing"
    per_group_max = {}
    for r in out:
        assert r["cum_tokens"] <= budgets[r["source"]]
        per_group_max[r["source"]] = max(
            per_group_max.get(r["source"], 0), r["cum_tokens"]
        )
    # the cut is tight: adding any one more doc (min 1 token) may fit,
    # but the admitted total is within budget for every group
    assert set(per_group_max) == {"web", "wiki"}
    again = sampling.budget_mix(df, "source", budgets, "doc_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_centroid_outliers_flags_planted_outlier(spark):
    """A vector pointing away from its label's tight cluster must rank
    as the #1 outlier; centroids are exact decimal sums."""
    from sparksync.ext import similarity

    dim = 4
    cluster = [(i, [1.0, 0.0, 0.0, 0.0], 7) for i in range(10)]
    outlier = [(99, [-1.0, 0.0, 0.0, 0.0], 7)]
    df = spark.createDataFrame(
        cluster + outlier, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.centroid_outliers(df, top_n=3).collect()
    assert out[0]["vec_id"] == 99 and out[0]["rnk"] == 1

    cent = similarity.label_centroids(df).collect()
    assert len(cent) == 1 and len(cent[0]["centroid"]) == dim
    # exact decimal mean: (10*1 + (-1))/11
    assert abs(cent[0]["centroid"][0] - 9.0 / 11.0) < 1e-15


def test_merge_cdc_semantics(spark):
    """Update wins, delete removes, insert lands, and a same-key
    insert-then-delete (seq-ordered) nets out to absence."""
    from sparksync.compare import merge_cdc

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1),
            (3, None, "D", 2),
            (9, "new", "I", 3),
            (10, "flash", "I", 4),
            (10, None, "D", 5),
            (11, None, "D", 6),  # delete of a missing key: no-op
        ],
        "id long, val string, op string, seq long",
    )
    out = {(r["id"], r["val"]) for r in
           merge_cdc(target, changes, ["id"], seq_col="seq").collect()}
    assert out == {(1, "a2"), (2, "b"), (9, "new")}
    # without seq: every change row is latest; op alone decides
    out2 = {(r["id"], r["val"]) for r in merge_cdc(
        target,
        spark.createDataFrame([(2, None, "D")], "id long, val string, op string"),
        ["id"],
    ).collect()}
    assert out2 == {(1, "a"), (3, "c")}


def test_char_ngram_profile_counts(spark):
    """Trigram counts are exact and per-language; short texts drop."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "aaab", "x"), (2, "aaa", "x"), (3, "zz", "y")],
        "doc_id long, text string, lang string",
    )
    out = {(r["lang"], r["gram"]): (r["freq"], r["rnk"])
           for r in textops.char_ngram_profile(df, n=3, k=5).collect()}
    # "aaab" -> aaa, aab ; "aaa" -> aaa ; "zz" too short
    assert out[("x", "aaa")] == (2, 1)
    assert out[("x", "aab")] == (1, 2)
    assert not any(lang == "y" for lang, _ in out)


def test_multimodal_features_feed_ann_pipeline(spark):
    """End-to-end plumbing: REAL-decoded media features (BMP payloads
    through the pure-numpy codec, FEATURE_DIM-wide) flow straight into
    the similarity operators — brute kNN over extracted features and
    centroid outliers over the same — proving the multimodal schema
    composes with the ANN surface without adapters."""
    import numpy as np

    from sparksync.ext import multimodal, similarity

    rows = [
        (
            i,
            "image",
            multimodal.emit_bmp(
                np.full((4, 4, 3), [10 * i, 255 - 10 * i, (i * 37) % 256],
                        dtype=np.uint8)
            ),
            4,
            4,
        )
        for i in range(20)
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(media)
    assert feats.where("status <> 'decoded'").count() == 0
    emb = feats.select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"),
        F.lit(0).alias("label"),
    )
    knn = similarity.knn_brute(emb, query_id=0, k=5).collect()
    assert len(knn) == 5 and all(r["neighbor_id"] != 0 for r in knn)
    out = similarity.centroid_outliers(emb, top_n=3).collect()
    assert len(out) == 3 and out[0]["rnk"] == 1


def test_chunk_documents_windows(spark):
    """Exact window math: 10 tokens, chunk 4, overlap 1 -> starts at
    token 1,4,7 (step 3), windows [1-4],[4-7],[7-10]; coverage is total;
    a short doc yields one whole-doc chunk; empty docs drop."""
    from sparksync.ext import sampling

    text = " ".join(f"t{i}" for i in range(1, 11))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    out = sampling.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_text"] for r in c1] == [
        "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"
    ]
    assert all(r["n_tokens"] == 4 for r in c1)
    assert [r["chunk_text"] for r in by_doc[2]] == ["a b"]
    assert 3 not in by_doc
    with pytest.raises(ValueError):
        sampling.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_hamming_join_cross_table(spark):
    """Exact semantics vs hand-computed pairs: equal length required,
    dist counts substitutions, max_dist enforced, NULLs never match;
    results match a brute-force Python cross check."""
    from sparksync.ext import dedup

    l = spark.createDataFrame(
        [(1, "abcd"), (2, "zzzz"), (3, "abc"), (4, None)],
        "doc_id long, text string",
    )
    r = spark.createDataFrame(
        [(10, "abcx"), (11, "abcd"), (12, "abff"), (13, "ab")],
        "doc_id long, text string",
    )
    got = {(row["left_id"], row["right_id"]): row["dist"]
           for row in dedup.hamming_join(l, r, col="text", max_dist=2).collect()}
    assert got == {(1, 10): 1, (1, 11): 0, (1, 12): 2}
    # tiny bucket_cap: dist-0 pairs always survive the re-split
    capped = {(row["left_id"], row["right_id"])
              for row in dedup.hamming_join(l, r, col="text", max_dist=2,
                                            bucket_cap=1).collect()}
    assert (1, 11) in capped
    assert capped <= set(got)


def test_filter_report_consistent_with_components(spark, docs):
    """The inlined report must agree flag-for-flag with language_id,
    quality_score, and repetition_stats — and plan ZERO exchanges."""
    from sparksync.ext import textops

    rep = {r["doc_id"]: r for r in textops.corpus_filter_report(docs).collect()}
    lang = {r["doc_id"]: r["pred_lang"] for r in textops.language_id(docs).collect()}
    qual = {r["doc_id"]: r["keep"] for r in textops.quality_score(docs).collect()}
    reps = {r["doc_id"]: r["keep"] for r in textops.repetition_stats(docs).collect()}
    for d, r in rep.items():
        assert r["is_en"] == (1 if lang[d] == "en" else 0), d
        assert r["q_keep"] == qual[d], d
        assert r["rep_keep"] == reps[d], d
        assert r["keep"] == (r["is_en"] and r["q_keep"] and r["rep_keep"]), d
        if r["keep"]:
            assert r["reason"] is None
    plan = textops.corpus_filter_report(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_kmv_distinct_accuracy_and_exactness(spark):
    """KMV: exact when distinct <= k; within ~25% of truth (k=64 ->
    ~12.5% stderr) when estimating; deterministic across runs."""
    from sparksync.ext import skew

    rows = [("small", i % 10) for i in range(200)] + [
        ("big", i * 7919) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r["grp"]: r["n_distinct"]
           for r in skew.approx_distinct_kmv(df, "grp", "v", k=64).collect()}
    assert out["small"] == 10  # <= k -> exact
    assert abs(out["big"] - 5000) / 5000 < 0.25, out["big"]
    again = {r["grp"]: r["n_distinct"]
             for r in skew.approx_distinct_kmv(df, "grp", "v", k=64).collect()}
    assert out == again


def test_signature_table_roundtrip_equals_inline(spark, docs, tmp_path):
    """Write the signature table to parquet, read it back, run the
    banded tail from storage: results must equal minhash_dedup_pairs
    computed inline — the once-per-snapshot signature economics."""
    from sparksync.ext import dedup

    sig_path = str(tmp_path / "signatures.parquet")
    dedup.minhash_signature_table(docs).write.parquet(sig_path)
    sig = spark.read.parquet(sig_path)
    arrs = dedup.shingle_arrays(docs)
    from_store = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_pairs_from_signatures(sig, arrs, 0.8).collect()
    }
    inline = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_dedup_pairs(docs, 0.8).collect()
    }
    assert from_store == inline and len(inline) > 0


def test_round4_ops_handle_empty_input(spark):
    """Every round-4 operator degrades to an empty (or identity) result
    on an empty input instead of raising — the edge a scheduled
    pipeline hits on a quiet day."""
    from sparksync.compare import merge_cdc
    from sparksync.ext import dedup, sampling, similarity, skew, textops

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert textops.rarity_score(docs).count() == 0
    assert textops.char_ngram_profile(docs).count() == 0
    assert textops.corpus_filter_report(docs).count() == 0
    assert sampling.budget_mix(docs, "lang", {"en": 10}, "doc_id").count() == 0
    assert sampling.chunk_documents(docs).count() == 0
    assert similarity.centroid_outliers(emb).count() == 0
    assert skew.approx_distinct_kmv(docs, "lang", "doc_id").count() == 0
    assert dedup.hamming_join(docs, docs, col="text").count() == 0
    target = spark.createDataFrame([(1, "a")], "id long, val string")
    empty_changes = spark.createDataFrame([], "id long, val string, op string, seq long")
    got = {(r["id"], r["val"]) for r in
           merge_cdc(target, empty_changes, ["id"], seq_col="seq").collect()}
    assert got == {(1, "a")}  # empty change batch is identity


def test_ivf_batch_recall_vs_brute(emb):
    """Batched IVF (nprobe=4/8) keeps most of the exact batched top-10
    for every query in the batch — same bar as the single-query test."""
    qids = [0, 5, 9]
    brute = {}
    for r in similarity.knn_batch(emb, qids, k=10).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf = {}
    for r in similarity.ivf_search_batch(emb, qids, k=10, nprobe=4).collect():
        ivf.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in qids:
        overlap = len(brute[q] & ivf.get(q, set()))
        assert overlap >= 5, (q, sorted(brute[q]), sorted(ivf.get(q, set())))


def test_minhash_cap_prunes_template_corpus(spark):
    """The hot-bucket re-split must do real work on the corpus shape it
    was built for: many DISTINCT docs sharing a dominant template (so
    whole bands collide — including the NEXT band, so level 1 alone
    cannot bound it) with small unique tails. With a tight cap the
    candidate-pair set (threshold=0.0 exposes it through the public
    API) must shrink to ~cap-bounded quadratic work, stay a subset of
    uncapped, and the jaccard-1.0 recall floor must hold exactly:
    planted verbatim duplicates survive BOTH re-split levels (identical
    signatures -> identical band keys and identical sigall).

    History: before round 7's level-2 shatter this test asserted 80% of
    j>=0.85 pairs survive cap=20 on an every-bucket-hot corpus — which
    only passed because the single-level re-split FAILED to split (the
    next band collides too), i.e. the cap did no bounding at all. The
    skew stress fixture (test_skew_stress.py) exposed that; the recall
    trade inside doubly-hot buckets is now real and documented."""
    from pyspark.sql import functions as F

    from sparksync.ext import dedup

    template = " ".join(f"tmpl{i}" for i in range(30))
    base = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(template + " "),
            F.concat_ws(
                " ",
                F.concat(F.lit("u"), F.col("id")),
                F.concat(F.lit("v"), F.col("id")),
            ),
        ).alias("text"),
    )
    # plant verbatim duplicates of the first 20 docs (recall floor)
    dups = base.where("doc_id < 20").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups)
    uncapped = {
        (r["d1"], r["d2"]): r["jacc"]
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.0, bucket_cap=None
        ).collect()
    }
    capped = {
        (r["d1"], r["d2"]): r["jacc"]
        for r in dedup.minhash_dedup_pairs(
            docs, threshold=0.0, bucket_cap=20
        ).collect()
    }
    assert set(capped) <= set(uncapped)
    # the cap now BOUNDS: candidate work collapses from all-pairs to
    # signature-multiplicity groups
    assert len(capped) < 0.05 * len(uncapped), (len(capped), len(uncapped))
    # jaccard-1.0 floor: every planted verbatim pair survives
    for i in range(20):
        assert (i, i + 1000) in capped, f"verbatim dup {i} lost to the cap"


def test_funnel_conversion_ordering(spark):
    """Strict first-occurrence ordering: a user who purchases BEFORE
    clicking does not count at the purchase step; counts are monotone
    non-increasing down the funnel."""
    from pyspark.sql import functions as F

    from sparksync.ext.asof import funnel_conversion

    rows = [
        # u1: view(1) click(2) purchase(3) -> full funnel
        (1, "view", 1), (1, "click", 2), (1, "purchase", 3),
        # u2: purchase(1) view(2) click(3) -> stops at click
        (2, "purchase", 1), (2, "view", 2), (2, "click", 3),
        # u3: view only
        (3, "view", 5),
        # u4: never viewed -> counts nowhere
        (4, "click", 1), (4, "purchase", 2),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, t long"
    ).withColumn("ts", F.timestamp_micros(F.col("t") * 1_000_000))
    out = {r["step"]: r["n_users"] for r in funnel_conversion(
        ev, ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}


# ---------------------------------------------------------------- round-4b ops


def test_pps_sample_expected_size_and_bias(docs):
    from sparksync.ext import sampling

    out = sampling.pps_sample(docs, "n_chars", k=100).cache()
    n = out.count()
    # Poisson PPS: |S| ~ Binomial-ish around k; 4-sigma envelope
    assert 60 <= n <= 140, n
    # determinism: the same call selects the same ids
    again = sampling.pps_sample(docs, "n_chars", k=100)
    assert {r.doc_id for r in out.collect()} == {
        r.doc_id for r in again.collect()
    }
    # size bias: sampled mean weight should exceed the corpus mean
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = out.agg(F.avg("weight")).first()[0]
    assert sample_mean > corpus_mean
    out.unpersist()


def test_pagerank_star_graph(spark):
    from sparksync.ext import graph

    # star: everyone links to "hub"; hub links to one spoke
    edges = spark.createDataFrame(
        [(f"u{i}", "hub") for i in range(10)] + [("hub", "u0")],
        "src string, dst string",
    )
    pr = {r.node: r.rank for r in graph.pagerank(edges, n_iters=3).collect()}
    assert pr["hub"] == max(pr.values())
    # u0 gets the hub's whole mass; other spokes only teleport
    assert pr["u0"] > pr["u1"]
    assert pr["u1"] == pr["u9"]  # symmetric spokes tie exactly (integer math)


def test_cms_overestimates_never_underestimate(spark):
    from sparksync.ext import skew

    rows = [("a",)] * 500 + [("b",)] * 100 + [(f"x{i}",) for i in range(300)]
    df = spark.createDataFrame(rows, "v string")
    out = skew.heavy_hitters_cms(df, "v", k=5, width=64).collect()
    by_val = {r.value: r for r in out}
    assert by_val["a"].exact_count == 500
    assert out[0].value == "a"  # true heaviest ranks first
    for r in out:
        assert r.est_count >= r.exact_count  # CMS one-sided error


def test_negative_pairs_invariants(docs):
    from sparksync.ext import sampling

    q = docs.where(F.col("source") == "src0")
    out = sampling.negative_pairs(q, docs, k=5).cache()
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in per_q)
    assert out.where(F.col("neg_id") == F.col("query_id")).count() == 0
    # every query got negatives (corpus >> k)
    assert len(per_q) == q.count()
    out.unpersist()


def test_source_overlap_self_similarity(spark):
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "a"),
            (2, "the quick brown fox jumps", "b"),
            (3, "a completely different sentence here", "c"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r.grp_a, r.grp_b): r
        for r in textops.source_overlap(df).collect()
    }
    assert rows[("a", "b")].jaccard == 1.0  # identical shingle sets
    assert ("a", "c") not in rows or rows[("a", "c")].inter == 0


def test_time_rollup_grains_consistent(spark):
    from sparksync.ext import asof

    ev = load_table(spark, SF_SMOKE, "events")
    out = asof.time_rollup(ev).cache()
    tot = ev.where(F.col("value").isNotNull()).count() + ev.where(
        F.col("value").isNull()
    ).count()
    by_grain = {
        r.grain: r.c
        for r in out.groupBy("grain").agg(F.sum("cnt").alias("c")).collect()
    }
    # every grain partitions the full event set
    assert by_grain == {"hour": tot, "day": tot, "week": tot}
    # coarser grain -> fewer buckets
    n = {r.grain: r.c for r in out.groupBy("grain").count().withColumnRenamed("count", "c").collect()}
    assert n["week"] <= n["day"] <= n["hour"]
    out.unpersist()


def test_event_transitions_probabilities_sum_to_one(spark):
    from sparksync.ext import asof

    out = asof.event_transitions(load_table(spark, SF_SMOKE, "events"))
    sums = out.groupBy("prev_type").agg(F.sum("prob").alias("s")).collect()
    for r in sums:
        assert abs(r.s - 1.0) < 1e-9, r


def test_mad_outliers_robust_to_planted_extreme(spark):
    from sparksync.ext import features

    rows = [(i, "g", 10.0) for i in range(50)] + [(99, "g", 10_000.0)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = features.mad_outliers(df, "grp", "v", "id").collect()
    # the single extreme value is flagged; the tight cluster is not
    assert [r.id for r in out] == [99]


def test_sampled_quantiles_track_exact(spark):
    from sparksync.ext import skew

    ev = load_table(spark, SF_SMOKE, "events")
    out = {r.event_type: r for r in skew.sampled_quantiles(
        ev, "event_type", "value", "event_id", rate=0.5
    ).collect()}
    exact = {r.event_type: r for r in ev.groupBy("event_type").agg(
        F.expr("percentile(cast(value as double), 0.5)").alias("p50")
    ).collect()}
    for t, r in out.items():
        # half-sample median lands near the true median
        assert abs(r.p50 - exact[t].p50) < 0.35 * (abs(exact[t].p50) + 1), t


def test_inverted_index_postings_consistent(docs):
    from sparksync.ext import textops

    idx = textops.inverted_index(docs, min_df=1).cache()
    r = idx.orderBy(F.desc("doc_freq")).first()
    # postings length == doc_freq; coll_freq >= doc_freq
    assert len(r.postings) == r.doc_freq
    assert r.coll_freq >= r.doc_freq
    assert r.postings == sorted(r.postings)
    # max_df valve drops the most common token
    capped = textops.inverted_index(docs, min_df=1, max_df=r.doc_freq - 1)
    assert capped.where(F.col("token") == r.token).count() == 0
    idx.unpersist()


def test_histogram_covers_all_rows(spark):
    from sparksync.ext import features

    ev = load_table(spark, SF_SMOKE, "events")
    h = features.histogram_by_group(ev, "event_type", "value", nbins=10).cache()
    n_rows = ev.where(F.col("value").isNotNull()).count()
    assert h.agg(F.sum("cnt")).first()[0] == n_rows
    bins = h.select("bin").distinct().collect()
    assert all(0 <= r.bin <= 9 for r in bins)
    # bin edges tile the range: max(bin_hi) - min(bin_lo) spans the data
    for g in h.select("event_type").distinct().collect():
        rows = h.where(F.col("event_type") == g.event_type).collect()
        lo = min(r.bin_lo for r in rows)
        hi = max(r.bin_hi for r in rows)
        assert hi > lo
    h.unpersist()


def test_scd2_intervals_tile_per_key(spark):
    from sparksync.compare import scd2_history

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts"
    )
    h = scd2_history(ev, ["user_id"], "ts", "event_id").cache()
    # exactly one current version per user
    cur = h.where("is_current").groupBy("user_id").count().collect()
    assert all(r["count"] == 1 for r in cur)
    # intervals never overlap: valid_to of one == valid_from of next
    assert h.where("valid_to < valid_from").count() == 0
    assert h.count() == ev.count()
    h.unpersist()


def test_equidepth_buckets_balanced(spark):
    from sparksync.ext import features

    ev = load_table(spark, SF_SMOKE, "events")
    out = features.equidepth_buckets(
        ev, "event_type", "value", "event_id", nbuckets=4
    ).collect()
    per_grp = {}
    for r in out:
        per_grp.setdefault(r.event_type, []).append(r)
    for g, rows in per_grp.items():
        counts = [r.cnt for r in rows]
        assert max(counts) - min(counts) <= 1, (g, counts)  # ntile balance
        # bucket edges are monotone
        ordered = sorted(rows, key=lambda r: r.bucket)
        for a, b in zip(ordered, ordered[1:]):
            assert a.hi <= b.lo or abs(a.hi - b.lo) < 1e-12


def test_exact_corr_matches_builtin(spark):
    from sparksync.ext import features

    li = load_table(spark, SF_SMOKE, "lineitem")
    ours = {
        r.l_returnflag: r.corr
        for r in features.exact_corr(
            li, "l_returnflag", "l_quantity", "l_extendedprice"
        ).collect()
    }
    builtin = {
        r.l_returnflag: r.c
        for r in li.groupBy("l_returnflag")
        .agg(F.corr("l_quantity", "l_extendedprice").alias("c"))
        .collect()
    }
    for k, v in ours.items():
        assert abs(v - builtin[k]) < 1e-9, k  # same statistic, exact path


def test_group_split_never_straddles(docs):
    from sparksync.ext import sampling

    out = sampling.group_split_assign(docs, "source")
    per_src = (
        out.groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .collect()
    )
    assert all(r.k == 1 for r in per_src)  # leakage-safe by construction
    assert out.select("split").distinct().count() >= 2  # multiple splits used


def test_rank_normalize_bounds_and_order(docs):
    from sparksync.ext import features

    out = features.rank_normalize(docs, "source", "n_chars", "doc_id")
    mm = out.agg(F.min("pct_rank"), F.max("pct_rank")).first()
    assert mm[0] == 0.0 and mm[1] == 1.0
    # longer doc never ranks below a shorter one within its source
    bad = (
        out.alias("a")
        .join(out.alias("b"), "source")
        .where(
            (F.col("a.n_chars") > F.col("b.n_chars"))
            & (F.col("a.pct_rank") < F.col("b.pct_rank"))
        )
        .count()
    )
    assert bad == 0


def test_rolling_deviation_flags_planted_jump(spark):
    from sparksync.ext import asof
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + datetime.timedelta(minutes=i), 10.0 + (1000.0 if i == 7 else 0.0))
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = asof.rolling_deviation(df, "user_id", "ts", "event_id", "value").collect()
    assert [r.event_id for r in out] == [7]  # only the planted jump fires


def test_media_features_real_decode(spark):
    """REAL multimodal decode end to end: PCM WAV and 24-bit BMP parse
    with pure numpy/struct inside mapInPandas; corrupt and compressed
    payloads classify instead of killing the batch."""
    import math
    import struct as st

    import numpy as np

    from sparksync.ext import multimodal as mm

    sr = 8000
    t = np.arange(sr) / sr
    pcm = (np.sin(2 * np.pi * 440 * t) * 0.5 * 32767).astype("<i2").tobytes()
    wav = (
        b"RIFF" + st.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + st.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + st.pack("<I", len(pcm)) + pcm
    )
    img = np.zeros((10, 20, 3), dtype=np.uint8)
    img[:, :, 0] = 200  # red-dominant
    bmp = mm.emit_bmp(img)
    rows = [
        (1, "audio", bytearray(wav), None, None),
        (2, "image", bytearray(bmp), 20, 10),
        (3, "image", bytearray(b"BM" + b"\x00" * 10), None, None),  # corrupt
        (4, "image", bytearray(b"\x89PNG----"), None, None),  # unsupported
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r for r in mm.media_features(df).collect()}
    assert out[1].status == "decoded"
    assert abs(out[1].duration_s - 1.0) < 1e-9
    assert abs(out[1].rms - 0.5 / math.sqrt(2)) < 0.01
    assert out[2].status == "decoded"
    assert (out[2].img_width, out[2].img_height) == (20, 10)
    assert out[2].mean_r == 200.0 and out[2].mean_b == 0.0
    assert out[3].status == "corrupt"
    assert out[4].status == "unsupported"

    # REAL resize round-trips through the BMP codec with new dimensions
    resized = {
        r.media_id: r for r in mm.resize_media(df, 8, 4).collect()
    }
    again = mm.parse_bmp(bytes(resized[2].content))
    assert again.shape == (4, 8, 3)
    assert (again[:, :, 0] == 200).all()
    # non-BMP payloads pass through untouched — bytes AND metadata
    # (width/height must never claim dimensions the payload lacks)
    assert bytes(resized[1].content) == wav
    assert resized[1].width is None and resized[1].height is None
    assert resized[3].width is None  # corrupt BMP: passthrough, no claim
    # a zero-sample-rate WAV classifies corrupt instead of killing the batch
    import struct as st2
    bad_sr = (
        b"RIFF" + st2.pack("<I", 36) + b"WAVE"
        + b"fmt " + st2.pack("<IHHIIHH", 16, 1, 1, 0, 0, 2, 16)
        + b"data" + st2.pack("<I", 0)
    )
    row = mm.media_features(
        spark.createDataFrame([(9, "audio", bytearray(bad_sr), None, None)], mm.MEDIA_SCHEMA)
    ).first()
    assert row.status == "corrupt"


def test_kmv_overlap_tracks_exact(spark):
    from sparksync.ext import skew

    ev = load_table(spark, SF_SMOKE, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "purchase")
    r = skew.kmv_overlap(a, b, "user_id", k=64).first()
    ua = {x.user_id for x in a.select("user_id").distinct().collect()}
    ub = {x.user_id for x in b.select("user_id").distinct().collect()}
    true_j = len(ua & ub) / len(ua | ub)
    # sketch estimates land within the usual ~1/sqrt(k) envelope
    assert abs(r.jaccard_est - true_j) < 0.25, (r.jaccard_est, true_j)
    assert abs(r.union_est - len(ua | ub)) / len(ua | ub) < 0.35
    assert abs(r.intersection_est - len(ua & ub)) <= max(
        10, 0.5 * len(ua & ub)
    )


def test_round4b_ops_handle_empty_input(spark):
    """q90-q108 operators degrade to empty/identity on an empty input
    instead of raising — same discipline as the earlier rounds."""
    from sparksync.compare import scd2_history
    from sparksync.ext import asof, features, graph, sampling, skew, textops

    docs = spark.createDataFrame(
        [], "doc_id long, text string, source string, n_chars long"
    )
    ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, event_type string,"
        " value double"
    )
    edges = spark.createDataFrame([], "src string, dst string")
    assert sampling.pps_sample(docs, "n_chars", 10).count() == 0
    assert sampling.negative_pairs(docs, docs, k=3).count() == 0
    assert sampling.group_split_assign(docs, "source").count() == 0
    assert graph.pagerank(edges, n_iters=2).count() == 0
    assert skew.heavy_hitters_cms(docs, "text", k=5).count() == 0
    assert skew.sampled_quantiles(ev, "event_type", "value", "event_id").count() == 0
    assert skew.kmv_overlap(docs, docs, "doc_id").first().union_est == 0
    assert textops.source_overlap(docs).count() == 0
    assert textops.inverted_index(docs, min_df=1).count() == 0
    assert asof.time_rollup(ev).count() == 0
    assert asof.event_transitions(ev).count() == 0
    assert asof.rolling_deviation(ev, "user_id", "ts", "event_id", "value").count() == 0
    assert scd2_history(ev, ["user_id"], "ts", "event_id").count() == 0
    assert features.mad_outliers(ev, "event_type", "value", "event_id").count() == 0
    assert features.histogram_by_group(ev, "event_type", "value").count() == 0
    assert features.equidepth_buckets(ev, "event_type", "value", "event_id").count() == 0
    assert features.exact_corr(ev, "event_type", "value", "user_id").count() == 0
    assert features.rank_normalize(docs, "source", "n_chars", "doc_id").count() == 0


# ---------------------------------------------------------------- round 4c


def test_global_rank_matches_single_window(spark):
    """Two-phase global_rank == a plain global row_number, ties broken
    by the id tiebreak, across enough rows to span range partitions."""
    import duckdb

    from sparksync.ext import features

    rows = [(i, (i * 37) % 11) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        (r.id, r.rank)
        for r in features.global_rank(df, ["v", "id"], n_parts=8).collect()
    }
    want = {
        (rid, rnk)
        for rid, rnk in duckdb.sql(
            "select id, row_number() over (order by v, id) from "
            "(select unnest(range(500)) id, unnest(range(500)) * 37 % 11 v)"
        ).fetchall()
    }
    assert got == want


def test_ntile_from_rank_matches_sql_ntile(spark):
    """ntile_from_rank replicates SQL NTILE's split rule exactly for
    every (n, k) shape: n below / equal / above / non-divisible by k."""
    import duckdb

    from sparksync.ext import features

    for n in (1, 3, 5, 7, 12, 50, 53):
        for k in (1, 4, 5, 7):
            df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "r long")
            got = dict(
                df.select(
                    "r",
                    features.ntile_from_rank(
                        F.col("r"), F.lit(n).cast("long"), k
                    ).alias("t"),
                ).collect()
            )
            want = dict(
                duckdb.sql(
                    f"select r, ntile({k}) over (order by r) from "
                    f"(select unnest(range(1, {n + 1})) r)"
                ).fetchall()
            )
            assert got == want, (n, k)


def test_ntile_from_rank_exact_at_scale(spark):
    """ADVICE r14 regression: the decimal(38,6) HALF_UP rounding of
    Spark's decimal division went off-by-one once a tile held >~2e6
    rows (n=8000004, k=4, rank=2000002 read tile 1, SQL says 2). The
    expression is pure, so probe it with literal (rank, n) pairs —
    including counts beyond 2^53 where double arithmetic also fails —
    against the Python-exact NTILE split rule."""
    from sparksync.ext import features

    def py_ntile(rank, n, k):
        q, r0 = divmod(n, k)
        big = r0 * (q + 1)
        if rank <= big:
            return (rank + q) // (q + 1)
        return r0 + (rank - big + q - 1) // q

    cases = []
    for n, k in [
        (8_000_004, 4),          # the live-verified r14 failure shape
        (10_000_001, 3),
        (2**53 + 37, 7),         # beyond double-exact territory
        (2**60 + 11, 5),
        (9_223_372_036_854_775_806, 9),  # near long max
        (9_223_372_036_854_775_806, 2),  # rank-big+g-1 exceeds long max
    ]:
        q = n // k
        for rank in {min(n, max(1, r))
                     for r in (1, q, q + 1, q + 2, 2 * q + 1, 2 * q + 2,
                               n - 1, n, n // 2, n // 2 + 1)}:
            cases.append((rank, n, k, py_ntile(rank, n, k)))
    df = spark.createDataFrame(
        [(r, n, k) for r, n, k, _ in cases], "r long, n long, k int"
    )
    for k in sorted({k for _, _, k, _ in cases}):
        got = {
            (row.r, row.n): row.t
            for row in df.filter(F.col("k") == k).select(
                "r", "n",
                features.ntile_from_rank(F.col("r"), F.col("n"), k).alias("t"),
            ).collect()
        }
        for rank, n, kk, want in cases:
            if kk == k:
                assert got[(rank, n)] == want, (rank, n, k)


def test_pareto_front_planted(spark):
    """Planted frontier: duplicates collapse, dominated points drop,
    ties on one axis resolve by strict dominance on the other."""
    from sparksync.ext import features

    pts = [(0.0, 10.0), (1.0, 5.0), (2.0, 4.0), (3.0, 3.0), (10.0, 0.0),
           (2.0, 6.0), (5.0, 5.0), (3.0, 3.0), (1.0, 5.0), (4.0, 3.0)]
    df = spark.createDataFrame(pts, "x double, y double")
    got = {(r.x, r.y) for r in features.pareto_front_2d(df, "x", "y").collect()}
    assert got == {(0.0, 10.0), (1.0, 5.0), (2.0, 4.0), (3.0, 3.0), (10.0, 0.0)}


def test_cooccurrence_lift_counts(spark):
    """Pair counts ignore quantity blowup (distinct first), min_pairs
    prunes singletons, and lift is pair*N/(ca*cb)."""
    from sparksync.ext import features

    rows = [(1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"), (3, "a"),
            (3, "c"), (4, "b")]
    df = spark.createDataFrame(rows, "g long, item string")
    out = features.cooccurrence_lift(df, "g", "item").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.item_a, r.item_b, r.pair_cnt) == ("a", "b", 2)
    assert r.lift == (2.0 * 4.0) / (3.0 * 3.0)


def test_last_touch_inherits_and_defaults(spark):
    """First-ever purchase attributes to (none); later purchases
    inherit the latest preceding non-purchase even across an
    intervening purchase."""
    from datetime import datetime

    from sparksync.ext import asof

    ts = lambda m: datetime(2026, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, 1, ts(0), "purchase"),
        (1, 2, ts(1), "click"),
        (1, 3, ts(2), "purchase"),
        (1, 4, ts(3), "purchase"),
        (2, 5, ts(0), "view"),
        (2, 6, ts(1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    got = {r.event_id: r.attributed for r in
           asof.last_touch(df, "user_id", "ts", "event_id", "event_type", "purchase").collect()}
    assert got == {1: "(none)", 3: "click", 4: "click", 6: "view"}


def test_session_paths_order_and_gaps(spark):
    """Paths render in (ts, id) order — equal timestamps break by id —
    and a >30-min gap splits the session into two paths."""
    from datetime import datetime

    from sparksync.ext import asof

    t0 = datetime(2026, 1, 1)
    rows = [
        (1, 2, t0, "b"),
        (1, 1, t0, "a"),                      # same ts: id order => a>b
        (1, 3, datetime(2026, 1, 1, 1), "c"),  # 60-min gap: new session
        (2, 4, t0, "a"),
        (2, 5, datetime(2026, 1, 1, 0, 1), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, event_type string")
    got = {(r.path, r.n_sessions) for r in
           asof.session_paths(df, "user_id", "ts", "event_id", "event_type").collect()}
    assert got == {("a>b", 2), ("c", 1)}


def test_vocab_coverage_exact_small(spark):
    """Known frequencies: top-10 over a 3-token vocabulary covers
    everything; the curve's covered counts are exact."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "x y z")], "doc_id long, text string"
    )
    out = {r.k: r for r in textops.vocab_coverage(df, "text").collect()}
    assert out[10].vocab_size == 3
    assert out[10].total_tokens == 7
    assert out[10].covered_tokens == 7
    assert out[10].coverage == 1.0


def test_rfm_tiles_order(spark):
    """With exactly 5 customers and k=5 every tile is a distinct rank:
    tile 1 = most recent / most frequent / highest spend."""
    from datetime import date

    from sparksync.ext import features

    rows = []
    for cust, (d, n, amt) in enumerate(
        [(1, 5, 100.0), (2, 4, 200.0), (3, 3, 300.0), (4, 2, 400.0), (5, 1, 500.0)]
    ):
        rows += [(cust, date(2026, 1, d), amt / n) for _ in range(n)]
    df = spark.createDataFrame(rows, "cust long, d date, amt double")
    out = {r.cust: r for r in
           features.rfm_segments(df, "cust", "d", "amt").collect()}
    assert [out[c].r_tile for c in range(5)] == [5, 4, 3, 2, 1]
    assert [out[c].f_tile for c in range(5)] == [1, 2, 3, 4, 5]
    assert [out[c].m_tile for c in range(5)] == [5, 4, 3, 2, 1]
    assert out[0].segment == "515"
    assert out[0].recency_days == 4 and out[4].recency_days == 0


def test_round4c_ops_handle_empty_input(spark):
    """q111-q116 operators degrade to empty results on empty input."""
    from sparksync.ext import asof, features, textops

    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, event_type string"
    )
    orders = spark.createDataFrame([], "c long, d date, amt double")
    pts = spark.createDataFrame([], "x double, y double")
    assert features.global_rank(orders, ["amt", "c"]).count() == 0
    assert features.rfm_segments(orders, "c", "d", "amt").count() == 0
    assert features.pareto_front_2d(pts, "x", "y").count() == 0
    assert features.cooccurrence_lift(orders, "c", "amt").count() == 0
    assert asof.last_touch(ev, "user_id", "ts", "event_id", "event_type", "x").count() == 0
    assert asof.session_paths(ev, "user_id", "ts", "event_id", "event_type").count() == 0
    assert textops.vocab_coverage(docs).count() == 0


def test_kmeans_step_moves_to_cluster_means(spark):
    """Two planted clusters, two seed vectors (ids 0/1) one in each:
    a single Lloyd step lands each centroid on its cluster's exact
    (quantized) mean."""
    import math

    rows = [
        (0, [1.0, 0.0]), (2, [1.0, 0.2]), (4, [1.0, -0.2]),
        (1, [0.0, 1.0]), (3, [0.2, 1.0]), (5, [-0.2, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r.centroid_id, r.dim): r for r in
           similarity.kmeans_step(df, n_centroids=2).collect()}
    assert all(out[key].n_members == 3 for key in out)
    assert math.isclose(out[(0, 0)].new_val, 1.0)
    assert math.isclose(out[(0, 1)].new_val, 0.0, abs_tol=1e-9)
    assert math.isclose(out[(1, 0)].new_val, 0.0, abs_tol=1e-9)
    assert math.isclose(out[(1, 1)].new_val, 1.0)


def test_kmeans_step_empty_input(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.kmeans_step(emb).count() == 0


def test_bm25_ln_ranks_rarity_and_saturation(spark):
    """Standard-ln BM25: a doc matching the RARE term outranks a doc
    stuffed with the common one (idf), and tf saturates (k1) so 10x
    repetition does not give 10x score."""
    from sparksync.ext import textops

    rows = [
        (1, "rare common filler filler"),
        (2, "common common common common common common common common"),
        (3, "common filler filler filler"),
        (4, "filler filler filler filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.score for r in
           textops.bm25_topk(df, ["rare", "common"], k=10).collect()}
    assert 4 not in out  # no matching term -> excluded
    assert out[1] > out[2] > out[3]
    assert out[2] < 3 * out[3]  # saturation: 8x tf nowhere near 8x score
    with pytest.raises(ValueError):
        textops.bm25_topk(df, [])


def test_snapshots_at_cutoffs(spark):
    """State-at-T semantics: an insert visible at its own cutoff,
    netted out by a later delete at a later cutoff; early cutoffs see
    the base row untouched."""
    from sparksync.compare import snapshots_at

    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    ch = spark.createDataFrame(
        [(2, "b2", "U", 5), (3, "c", "I", 6), (3, None, "D", 7)],
        "id long, v string, op string, seq long",
    )
    out = {}
    for r in snapshots_at(base, ch, ["id"], seqs=[4, 6, 7]).collect():
        out.setdefault(r.snap_seq, {})[r.id] = r.v
    assert out[4] == {1: "a", 2: "b"}
    assert out[6] == {1: "a", 2: "b2", 3: "c"}
    assert out[7] == {1: "a", 2: "b2"}


def test_editdist1_pairs_planted(spark):
    """Substitution, deletion, duplicate found; distance-2 pair is not;
    empty strings survive the variant generation."""
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "ab"), (4, "abc"), (5, "xyz"), (6, "")],
        "id long, s string",
    )
    got = sorted((r.id_a, r.id_b, r.dist) for r in
                 dedup.editdist1_pairs(df, "s", "id").collect())
    assert got == [(1, 2, 1), (1, 3, 1), (1, 4, 0), (2, 3, 1), (2, 4, 1),
                   (3, 4, 1)]


def test_round4d_ops_handle_empty_input(spark):
    from sparksync.compare import snapshots_at
    from sparksync.ext import textops

    docs = spark.createDataFrame([], "doc_id long, text string")
    base = spark.createDataFrame([], "id long, v string")
    ch = spark.createDataFrame([], "id long, v string, op string, seq long")
    assert textops.bm25_topk(docs, ["x"]).count() == 0
    assert snapshots_at(base, ch, ["id"], seqs=[1]).count() == 0
    assert dedup.editdist1_pairs(base, "v", "id").count() == 0


def test_bpe_pairs_weighted_by_word_freq(spark):
    """Pair counts weight by word frequency and overlapping pairs all
    count: 'aaa' x2 -> aa counts 4; single-char words drop."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "aaa ab a"), (2, "aaa x")], "doc_id long, text string"
    )
    got = {r.pair: r.cnt for r in
           textops.bpe_pair_counts(df, "text").collect()}
    assert got == {"aa": 4, "ab": 1}  # 'a' and 'x' have no pairs


def test_next_event_pairs_strict_context(spark):
    """Events with fewer than ctx predecessors drop; context renders
    oldest-first."""
    from datetime import datetime

    from sparksync.ext import asof

    rows = [(1, i, datetime(2026, 1, 1, 0, i), t)
            for i, t in enumerate(["a", "b", "c", "d", "e"])]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {r.event_id: (r.context, r.label) for r in
           asof.next_event_pairs(df, "user_id", "ts", "event_id",
                                 "event_type").collect()}
    assert got == {3: ("a>b>c", "d"), 4: ("b>c>d", "e")}


def test_round4e_more_ops_handle_empty_input(spark):
    from sparksync.ext import asof, textops

    docs = spark.createDataFrame([], "doc_id long, text string")
    ev = spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, event_type string"
    )
    assert textops.bpe_pair_counts(docs).count() == 0
    assert asof.next_event_pairs(ev, "user_id", "ts", "event_id",
                                 "event_type").count() == 0


def test_embedding_profile_nan_handling(spark):
    """NaNs count in n_nan and are excluded from min/max/mean."""
    rows = [(1, [1.0, float("nan")]), (2, [3.0, 2.0]), (3, [2.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.dim: r for r in
           similarity.embedding_profile(df).collect()}
    assert out[0].n == 3 and out[0].n_nan == 0
    assert out[0].vmin == 1.0 and out[0].vmax == 3.0 and out[0].mean_val == 2.0
    assert out[1].n == 3 and out[1].n_nan == 1
    assert out[1].vmin == 2.0 and out[1].vmax == 4.0 and out[1].mean_val == 3.0


def test_entity_resolution_transitive(spark):
    """ed<=1 chains merge transitively: abc~abd~abdd form one entity
    under the chain's min id; unrelated records stay singletons."""
    from sparksync.ext import graph

    df = spark.createDataFrame(
        [(10, "abc"), (11, "abd"), (12, "abdd"), (13, "zzz")],
        "id long, name string",
    )
    pairs = dedup.editdist1_pairs(df, "name", "id").select("id_a", "id_b")
    comp = graph.connected_components(pairs, src="id_a", dst="id_b")
    ent = {r.node: r.component for r in comp.collect()}
    assert ent == {10: 10, 11: 10, 12: 10}  # 13 is a singleton, absent


def test_weighted_median_planted(spark):
    """Weighted median is the smallest value whose cumulative weight
    reaches half the total — dominated by the heavy row, not the row
    count."""
    from sparksync.ext import features

    rows = [("g", 1.0, 1.0, 1), ("g", 2.0, 1.0, 2), ("g", 100.0, 10.0, 3),
            ("h", 5.0, 1.0, 4)]
    df = spark.createDataFrame(rows, "g string, v double, w double, id long")
    out = {r.g: r for r in
           features.weighted_median(df, "g", "v", "w", "id").collect()}
    assert out["g"].wmedian == 100.0 and out["g"].total_weight == 12.0
    assert out["h"].wmedian == 5.0


def test_rank_ties_included(spark):
    """RANK-based top-k keeps every row tied at a qualifying rank (and
    skips ranks after a tie), unlike ROW_NUMBER."""
    rows = [("b", 1, 9.0), ("b", 2, 9.0), ("b", 3, 8.0), ("b", 4, 8.0),
            ("b", 5, 7.0), ("b", 6, 6.0)]
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "p_brand string, p_partkey long, p_retailprice double")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    out = (df.withColumn("rnk", F.rank().over(w).cast("long"))
             .where(F.col("rnk") <= 3).collect())
    # ranks: 9.0->1,1  8.0->3,3  7.0->5 (skipped past 3): four rows pass
    assert sorted(r.p_partkey for r in out) == [1, 2, 3, 4]


def test_ma_crossover_planted(spark):
    """A value series that dips then rallies emits exactly one
    crossover event, at the rally."""
    from datetime import datetime

    from pyspark.sql import Window

    vals = [10, 10, 10, 10, 10, 10, 2, 2, 2, 30, 30, 30]
    rows = [(1, i, datetime(2026, 1, 1, 0, i), float(v))
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ma = lambda w: (F.sum(F.col("value").cast("decimal(12,2)")).over(w)  # noqa: E731
                    .cast("double") / F.count(F.lit(1)).over(w).cast("double"))
    base = df.select(
        "event_id",
        ma(wb.rowsBetween(-2, 0)).alias("ma_s"),
        ma(wb.rowsBetween(-5, 0)).alias("ma_l"),
        F.count(F.lit(1)).over(wb.rowsBetween(-5, 0)).alias("_nl"),
    ).withColumn("_x", F.when(F.col("_nl") == 6,
                              (F.col("ma_s") > F.col("ma_l")).cast("int")))
    hits = (base.withColumn("_px", F.lag("_x").over(
                Window.orderBy("event_id")))
            .where((F.col("_x") == 1) & (F.col("_px") == 0)).collect())
    assert [r.event_id for r in hits] == [9]  # the first rally tick


def test_media_features_png_decode(spark):
    """PNG decodes for real (stdlib zlib + numpy unfilter) inside the
    same mapInPandas path: features, resize re-emitting valid PNG, and
    CRC-broken payloads classifying corrupt."""
    import numpy as np

    from sparksync.ext import multimodal as mm

    img = np.zeros((6, 8, 3), dtype=np.uint8)
    img[:, :, 1] = 77  # green-dominant
    png = mm.emit_png(img)
    broken = bytearray(png)
    broken[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    rows = [
        (1, "image", bytearray(png), 8, 6),
        (2, "image", broken, None, None),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r for r in mm.media_features(df).collect()}
    assert out[1].status == "decoded"
    assert (out[1].img_width, out[1].img_height) == (8, 6)
    assert out[1].mean_g == 77.0 and out[1].mean_r == 0.0
    assert out[2].status == "corrupt"

    resized = {r.media_id: r for r in mm.resize_media(df, 4, 3).collect()}
    again = mm.parse_png(bytes(resized[1].content))
    assert again.shape == (3, 4, 3) and (again[:, :, 1] == 77).all()
    assert (resized[1].width, resized[1].height) == (4, 3)
    assert bytes(resized[2].content) == bytes(broken)  # corrupt: passthrough
    assert resized[2].width is None


def _gif_lzw_encode(idx, mcs):
    """Real (compressing) GIF LZW encoder for the test: grows the
    dictionary and bumps the code width one slot AHEAD of the decoder
    (encoder emits with the width the decoder will have when reading),
    i.e. width++ when next_code reaches 2^width + 1."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {(i,): i for i in range(clear)}
    nxt = end + 1
    width = mcs + 1
    acc = nbits = 0
    out = bytearray()

    def put(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    buf = (idx[0],)
    for p in idx[1:]:
        cand = buf + (p,)
        if cand in table:
            buf = cand
            continue
        put(table[buf])
        if nxt < 4096:
            table[cand] = nxt
            nxt += 1
            if nxt - 1 == (1 << width) and width < 12:
                width += 1
        buf = (p,)
    put(table[buf])
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_lzw_growth_path_decodes(spark):
    """A genuinely COMPRESSED LZW stream (dictionary growth across a
    code-width boundary) decodes to the original pixels — the path the
    uncompressed emit_gif never exercises."""
    import struct as st

    import numpy as np

    from sparksync.ext import multimodal as mm

    rng = np.random.default_rng(11)
    # 4-color palette, long runs -> heavy dict growth; 4000 px crosses
    # the width-3 (8) and width-4 (16) ... boundaries many times over
    idx = rng.integers(0, 4, 4000).tolist()
    mcs = 2
    payload = _gif_lzw_encode(idx, mcs)
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    w, h = 80, 50
    gif = bytearray()
    gif += b"GIF89a" + st.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0) + pal
    gif += b"\x2c" + st.pack("<HHHHB", 0, 0, w, h, 0)
    gif.append(mcs)
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        gif.append(len(chunk))
        gif += chunk
    gif += b"\x00\x3b"
    a = mm.parse_gif(bytes(gif))
    pal_arr = np.frombuffer(pal, dtype=np.uint8).reshape(4, 3)
    want = pal_arr[np.asarray(idx, dtype=int).reshape(h, w)]
    assert (a == want).all()


def test_media_features_gif_decode(spark):
    """GIF rides the same media paths: features, resize keeping the
    palette, truncated streams classify corrupt."""
    import numpy as np

    from sparksync.ext import multimodal as mm

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:, :, 2] = 99  # blue-dominant
    gif = mm.emit_gif(img)
    rows = [
        (1, "image", bytearray(gif), 6, 4),
        (2, "image", bytearray(gif[:20]), None, None),  # truncated
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r for r in mm.media_features(df).collect()}
    assert out[1].status == "decoded"
    assert (out[1].img_width, out[1].img_height) == (6, 4)
    assert out[1].mean_b == 99.0 and out[1].mean_r == 0.0
    assert out[2].status == "corrupt"

    resized = {r.media_id: r for r in mm.resize_media(df, 3, 2).collect()}
    again = mm.parse_gif(bytes(resized[1].content))
    assert again.shape == (2, 3, 3) and (again[:, :, 2] == 99).all()


def test_jpeg_codec_roundtrip_quality(spark):
    """Baseline JPEG decodes for real: solid color reconstructs within
    1 LSB, a smooth gradient within 1 LSB at q95, 4:2:0 exercises the
    chroma-upsample path, and mislabeled/truncated streams raise."""
    import numpy as np
    import pytest as pt

    from sparksync.ext import jpeg as J

    solid = np.full((20, 28, 3), [120, 60, 200], dtype=np.uint8)
    for ss in ("444", "420"):
        d = J.parse_jpeg(J.emit_jpeg(solid, quality=92, subsampling=ss))
        assert np.abs(d.astype(int) - solid.astype(int)).max() <= 1, ss
    x = np.linspace(0, 255, 33)
    grad = np.stack([np.tile(x, (21, 1))] * 3, axis=-1).astype(np.uint8)
    d = J.parse_jpeg(J.emit_jpeg(grad, quality=95))
    assert np.abs(d.astype(int) - grad.astype(int)).max() <= 2
    # a baseline stream MISLABELED as SOF2 is rejected (its 0..63 scan
    # is illegal progressive spectral selection), not mis-decoded
    b = bytearray(J.emit_jpeg(solid))
    sof = b.find(b"\xff\xc0")
    b[sof + 1] = 0xC2
    with pt.raises(ValueError, match="spectral selection"):
        J.parse_jpeg(bytes(b))
    with pt.raises(ValueError):
        J.parse_jpeg(J.emit_jpeg(solid)[:40])


def test_jpeg_progressive_matches_baseline_exactly(spark):
    """Progressive (SOF2) decode is real, not stubbed: the 6-scan
    progressive encoder carries the same quantized coefficients as the
    baseline encoder, entropy coding is lossless, so decoded pixels
    must be BIT-IDENTICAL across the two scan structures — on solid,
    gradient, checkerboard, and seeded-noise images across qualities
    AND both 4:4:4 and 4:2:0 (the web's dominant progressive layout:
    four-luma-block interleaved DC MCUs + true-dim subsampled chroma
    AC scans; the noise cases drive EOB runs, ZRL-in-refinement, and
    buffered correction bits through the AC refinement scan)."""
    import numpy as np
    import pytest as pt

    from sparksync.ext import jpeg as J

    rng = np.random.default_rng(7)
    x = np.linspace(0, 255, 33)
    cases = [
        np.full((20, 28, 3), [120, 60, 200], dtype=np.uint8),
        np.stack([np.tile(x, (21, 1))] * 3, axis=-1).astype(np.uint8),
        rng.integers(0, 256, (24, 17, 3), dtype=np.int64).astype(np.uint8),
        (np.indices((16, 16)).sum(axis=0) % 2 * 255).astype(np.uint8)[
            ..., None
        ].repeat(3, -1),
    ]
    for img in cases:
        for q in (30, 75, 92):
            for ss in ("444", "420"):
                base = J.parse_jpeg(J.emit_jpeg(img, quality=q, subsampling=ss))
                prog = J.parse_jpeg(
                    J.emit_progressive_jpeg(img, quality=q, subsampling=ss)
                )
                assert np.array_equal(base, prog), (img.shape, q, ss)
    # truncated progressive raises, like truncated baseline
    pb = J.emit_progressive_jpeg(cases[0])
    with pt.raises(ValueError):
        J.parse_jpeg(pb[: len(pb) // 2])


def test_media_features_progressive_jpeg(spark):
    """Progressive JPEG bytes ride the standard media path end to end:
    media_features classifies them as decodable images with correct
    dimensions and means (not 'unsupported' — the round-7 stub is
    gone)."""
    import numpy as np

    from sparksync.ext import jpeg as J, multimodal

    img = np.full((12, 9, 3), [200, 40, 90], dtype=np.uint8)
    pb = J.emit_progressive_jpeg(img, quality=92)
    feats = J.jpeg_features(pb)
    assert (feats["img_width"], feats["img_height"]) == (9, 12)
    assert abs(feats["mean_r"] - 200) <= 2
    df = spark.createDataFrame(
        [(1, "image", bytearray(pb), 9, 12)],
        "media_id long, kind string, content binary, width long, height long",
    )
    rows = multimodal.media_features(df).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert (r["img_width"], r["img_height"]) == (9, 12)


def test_media_features_jpeg_decode(spark):
    """JPEG rides the same media paths: features within codec
    tolerance, resize re-emitting valid baseline JPEG."""
    import numpy as np

    from sparksync.ext import multimodal as mm
    from sparksync.ext.jpeg import emit_jpeg, parse_jpeg

    img = np.full((16, 24, 3), [200, 30, 90], dtype=np.uint8)
    jpg = emit_jpeg(img, quality=92)
    rows = [(1, "image", bytearray(jpg), 24, 16)]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.media_features(df).first()
    assert out.status == "decoded"
    assert (out.img_width, out.img_height) == (24, 16)
    assert abs(out.mean_r - 200) <= 2 and abs(out.mean_g - 30) <= 2

    resized = mm.resize_media(df, 8, 6).first()
    again = parse_jpeg(bytes(resized.content))
    assert again.shape == (6, 8, 3)
    assert np.abs(again.astype(int) - [200, 30, 90]).max() <= 3


def test_media_features_mjpeg_video(spark):
    """Video decodes for real: MJPEG-in-AVI container walk, per-frame
    JPEG decode, frame extraction exploding every n-th frame as a
    binary row that feeds straight back into media_features."""
    import numpy as np

    from sparksync.ext import multimodal as mm
    from sparksync.ext.jpeg import emit_jpeg, parse_jpeg

    frames = [
        emit_jpeg(
            np.full((16, 16, 3), [(i * 50) % 256, 100, 50], dtype=np.uint8),
            quality=92,
        )
        for i in range(6)
    ]
    avi = mm.emit_avi_mjpeg(frames, fps=12.0, width=16, height=16)
    rows = [
        (1, "video", bytearray(avi), 16, 16),
        (2, "video", bytearray(avi[:30]), None, None),  # truncated
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {r.media_id: r for r in mm.media_features(df).collect()}
    assert out[1].status == "decoded"
    # fps rides the container's integer microseconds-per-frame
    assert out[1].n_frames == 6 and abs(out[1].fps - 12.0) < 0.01
    assert (out[1].img_width, out[1].img_height) == (16, 16)
    assert out[2].status == "corrupt"

    # every-2nd-frame extraction: 3 rows, decodable, right frames
    fr = mm.mjpeg_frames(df, every_n=2).collect()
    assert [(r.media_id, r.frame_index) for r in fr] == [(1, 0), (1, 2), (1, 4)]
    img2 = parse_jpeg(bytes(fr[1].frame))
    assert abs(int(img2[0, 0, 0]) - 100) <= 2  # frame 2: r = 100
    # WAV rows are untouched by the AVI dispatch (both are RIFF)
    sr = 8000
    import struct as st
    pcm = (np.zeros(sr)).astype("<i2").tobytes()
    wav = (b"RIFF" + st.pack("<I", 36 + len(pcm)) + b"WAVE"
           + b"fmt " + st.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
           + b"data" + st.pack("<I", len(pcm)) + pcm)
    wrow = mm.media_features(
        spark.createDataFrame([(9, "audio", bytearray(wav), None, None)],
                              mm.MEDIA_SCHEMA)
    ).first()
    assert wrow.status == "decoded" and wrow.sample_rate == sr


def test_global_cumsum_matches_single_window(spark):
    """Two-phase global_cumsum == a plain global running sum across
    range partitions, on an exact integer column."""
    import duckdb

    from sparksync.ext import features

    rows = [(i, ((i * 31) % 7) - 3) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {(r.id, r.cum) for r in
           features.global_cumsum(df, ["id"], "v", n_parts=8).collect()}
    want = {(i, c) for i, c in duckdb.sql(
        "select id, sum(v) over (order by id rows between unbounded preceding"
        " and current row) from (select unnest(range(400)) id,"
        " (unnest(range(400)) * 31 % 7) - 3 v)").fetchall()}
    assert got == want


def test_max_concurrency_planted(spark):
    """Three overlapping single-session users peak at 3; touching
    sessions (start == another's end) count concurrent (+1 sorts
    first)."""
    from datetime import datetime

    from sparksync.ext import asof

    t = lambda m: datetime(2026, 3, 1, 10, m)  # noqa: E731
    rows = [
        (1, t(0)), (1, t(10)),          # u1: 10:00-10:10
        (2, t(5)), (2, t(15)),          # u2: 10:05-10:15 (overlap u1)
        (3, t(8)),                      # u3: instant at 10:08 (peak=3)
        (4, t(10)), (4, t(20)),         # u4 starts exactly at u1's end
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = asof.max_concurrency(df, "user_id", "ts").collect()
    assert len(out) == 1
    assert out[0].max_concurrent == 3 and out[0].n_sessions == 4


def test_triangle_count_planted(spark):
    """A 4-clique has 4 triangles (3 per node); a pendant edge adds
    none; duplicate/reversed edges dedupe."""
    from sparksync.ext import graph

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
             (4, 5),                                          # pendant
             (2, 1), (1, 2)]                                  # dups
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {r.node: r.triangles for r in graph.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # 5 is triangle-free
    empty = spark.createDataFrame([], "d1 long, d2 long")
    assert graph.triangle_count(empty).count() == 0


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment ~1.0,
    Jaccard far below threshold — the pair only the containment
    operator finds; direction names the contained side."""
    quote = "alpha beta gamma delta epsilon zeta"
    long_doc = quote + " " + " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    jac = dedup.jaccard_pairs(df, threshold=0.8).collect()
    assert jac == []
    cont = dedup.containment_pairs(df, threshold=0.9).collect()
    assert len(cont) == 1
    assert cont[0].containment == 1.0 and cont[0].direction == "d1"


def test_extract_matches_order_and_empty(spark):
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "aaaaa bb ccccc bb aaaaa"), (2, "x")], "doc_id long, text string"
    )
    got = [(r.doc_id, r.occurrence, r.match) for r in
           textops.extract_matches(df, "[a-z]{5,}").orderBy(
               "doc_id", "occurrence").collect()]
    assert got == [(1, 0, "aaaaa"), (1, 1, "ccccc"), (1, 2, "aaaaa")]


def test_latest_state_ring_buffer(spark):
    """Newest-first order, capped at n, ties broken by id descending."""
    from datetime import datetime

    from sparksync.ext import asof

    t = lambda m: datetime(2026, 1, 1, 0, m)  # noqa: E731
    rows = [(1, i, t(i), c) for i, c in enumerate("abcdefg")]
    rows += [(2, 10, t(0), "x"), (2, 11, t(0), "y")]  # same ts
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r.user_id: r for r in
           asof.latest_state(df, "user_id", "ts", "event_id", "event_type",
                             n=5).collect()}
    assert out[1].recent == ["g", "f", "e", "d", "c"]
    assert out[1].n_recent == 5 and out[1].last_ts == t(6)
    assert out[2].recent == ["y", "x"]  # id desc at equal ts


def test_source_drift_identical_and_disjoint(spark):
    """A source matching the corpus distribution has L1 ~0 relative to
    a disjoint-vocabulary source, whose distance approaches the max
    of 2."""
    from sparksync.ext import textops

    rows = [(1, "a", "x y"), (2, "a", "x y"),
            (3, "b", "q r"), (4, "b", "q r")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r.l1_distance for r in
           textops.source_drift_l1(df).collect()}
    # each source holds half the corpus with disjoint vocab:
    # L1 = sum |p_s - p| = 4*(1/4) within + 4*(1/4) missing = 1.0 each
    assert out["a"] == 1.0 and out["b"] == 1.0

    same = spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "x y")], "doc_id long, source string, text string"
    )
    out2 = {r.source: r.l1_distance for r in
            textops.source_drift_l1(same).collect()}
    assert out2["a"] == 0.0 and out2["b"] == 0.0


def test_ks_statistic_shifted_vs_same(spark):
    """Identical samples give D=0; disjoint ranges give D=1; a partial
    shift lands strictly between."""
    from sparksync.ext import features

    def mk(vals_a, vals_b):
        rows = [("A", float(v), i) for i, v in enumerate(vals_a)]
        rows += [("B", float(v), 1000 + i) for i, v in enumerate(vals_b)]
        return spark.createDataFrame(rows, "g string, v double, id long")

    same = features.ks_statistic(
        mk([1, 2, 3, 4], [1, 2, 3, 4]), "g", "v", "id", "A", "B"
    ).first()
    assert same.d_stat == 0.0
    disjoint = features.ks_statistic(
        mk([1, 2, 3], [10, 11, 12]), "g", "v", "id", "A", "B"
    ).first()
    assert disjoint.d_stat == 1.0
    shift = features.ks_statistic(
        mk([1, 2, 3, 4], [3, 4, 5, 6]), "g", "v", "id", "A", "B"
    ).first()
    assert 0.0 < shift.d_stat < 1.0 and shift.d_stat == 0.5


# ---------------------------------------------------------------- round 5


def test_extract_matches_quote_and_backslash_pattern(spark):
    """Patterns containing quotes/backslashes ride the column-based
    regexp_extract_all (ADVICE r4: the old interpolated F.expr string
    broke — or injected — on a single quote)."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "it's a don't and a 1+2=3")], "doc_id long, text string"
    )
    got = [
        (r.occurrence, r.match)
        for r in textops.extract_matches(df, r"[a-z]'[a-z]+")
        .orderBy("occurrence")
        .collect()
    ]
    assert got == [(0, "t's"), (1, "n't")]
    digits = [
        r.match
        for r in textops.extract_matches(df, r"\d\+\d").collect()
    ]
    assert digits == ["1+2"]


def test_ks_and_drift_accumulate_in_decimal(spark):
    """The exact cross-products (c_a*n_b etc.) must aggregate in
    decimal(38,0): long*long silently wraps near 2^63 at 100 TB group
    sizes (ADVICE r4). Pin the type in the optimized plan."""
    from sparksync.ext import features, textops

    ks = features.ks_statistic(
        spark.createDataFrame(
            [("A", 1.0, 1), ("B", 2.0, 2)], "g string, v double, id long"
        ),
        "g", "v", "id", "A", "B",
    )
    assert "decimal(38,0)" in ks._jdf.queryExecution().optimizedPlan().toString()

    drift = textops.source_drift_l1(
        spark.createDataFrame([(1, "a", "x y")],
                              "doc_id long, source string, text string")
    )
    assert (
        "decimal(38,0)"
        in drift._jdf.queryExecution().optimizedPlan().toString()
    )


def test_pin_registry_caps_and_releases(spark):
    """global_rank/global_cumsum pins are FIFO-capped and releasable
    (ADVICE r4: unbounded MEMORY_AND_DISK accumulation in long-lived
    sessions)."""
    from sparksync.ext import _materialize, features

    _materialize.release_pinned()
    assert _materialize._PINNED == []
    # repeat calls on the SAME plan share one cache entry: the registry
    # must refresh recency, not grow (a duplicate row would make
    # eviction of the old row unpersist the new pin too)
    same = spark.createDataFrame([(i, i % 7) for i in range(50)],
                                 "id long, v long")
    for _ in range(3):
        features.global_rank(same, ["v", "id"], n_parts=4).count()
    assert len(_materialize._PINNED) == 1
    # distinct plans: FIFO cap evicts the oldest MATERIALIZED pin
    for j in range(_materialize._PIN_CAP + 3):
        df = spark.createDataFrame([(i, i % 7) for i in range(40 + j)],
                                   "id long, v long")
        features.global_rank(df, ["v", "id"], n_parts=4).count()
    assert len(_materialize._PINNED) == _materialize._PIN_CAP
    _materialize.release_pinned()
    assert _materialize._PINNED == []


def test_minhash_cross_persisted_signature_table(spark, tmp_path):
    """The real 100 TB incremental-dedup operating mode (VERDICT r4
    #7): write minhash_signature_table to parquet once per corpus
    snapshot, then admit a new batch via minhash_dedup_pairs_cross
    READING the persisted table — pair parity with the from-scratch
    path, and the plan must not re-tokenize the corpus on the banding
    side (its only shingle work is the candidate-pruned verify
    arrays). Runs at sf0.1 so the banded join has real bucket
    occupancy."""
    from sparksync.ext import _materialize, dedup
    from sparksync.source import load_table

    _materialize.release_pinned()
    sf = "/root/testdata/sf0.1"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where("doc_id % 5 != 0")
    new = docs.where("doc_id % 5 = 0")

    sig_path = str(tmp_path / "corpus_sig.parquet")
    dedup.minhash_signature_table(corpus).write.parquet(sig_path)
    sig = spark.read.parquet(sig_path)

    persisted = dedup.minhash_dedup_pairs_cross(new, corpus, corpus_sig=sig)
    scratch = dedup.minhash_dedup_pairs_cross(new, corpus)
    got = {(r.new_id, r.corpus_id) for r in persisted.collect()}
    want = {(r.new_id, r.corpus_id) for r in scratch.collect()}
    assert got == want and len(got) > 0

    # plan: exactly one DISTINCT signature-aggregate subtree (the NEW
    # side; toString reprints cached-plan definitions at every
    # InMemoryTableScan, so dedupe by content) — the corpus banding
    # path reads the parquet signature table instead of re-tokenizing
    def sig_aggs(df):
        plan = df._jdf.queryExecution().sparkPlan().toString()
        return {
            ln.strip().lstrip(":+- *(0123456789) ")
            for ln in plan.splitlines()
            if "partial_min((" in ln
        }

    assert len(sig_aggs(persisted)) == 1
    assert len(sig_aggs(scratch)) == 2  # from-scratch pays both sides
    # the corpus banding side scans the signature parquet (h0..h63
    # columns appear in a scan's ReadSchema; path text gets truncated)
    plan = persisted._jdf.queryExecution().sparkPlan().toString()
    assert any(
        "h0" in ln and "parquet" in ln
        for ln in plan.splitlines()
        if "Scan" in ln or "Relation" in ln
    )
    _materialize.release_pinned()


def test_ols_by_group_exact_line(spark):
    """Points exactly on y = 2x + 3 recover slope 2.0 / intercept 3.0
    bit-exactly; a zero-variance group drops."""
    from sparksync.ext import features

    rows = [("a", x, 2 * x + 3) for x in range(10)]
    rows += [("flat", 5, 1), ("flat", 5, 2), ("flat", 5, 3)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r.g: r for r in features.ols_by_group(df, "g", "x", "y").collect()}
    assert set(out) == {"a"}
    assert out["a"].slope == 2.0 and out["a"].intercept == 3.0
    assert out["a"].n == 10


def test_cumulative_and_new_returning_daily(spark):
    from datetime import datetime

    from sparksync.ext import asof

    t = lambda d, h=0: datetime(2026, 1, d, h)  # noqa: E731
    rows = [  # u1 on days 1,2; u2 on day 2; u3 on day 3
        (1, t(1)), (1, t(2)), (2, t(2)), (2, t(2, 5)), (3, t(3)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    cum = {str(r.day): (r.new_keys, r.cum_distinct) for r in
           asof.cumulative_distinct_daily(df, "user_id", "ts").collect()}
    assert cum == {"2026-01-01": (1, 1), "2026-01-02": (1, 2),
                   "2026-01-03": (1, 3)}
    nvr = {str(r.day): (r.active, r.new_keys, r.returning_keys) for r in
           asof.new_vs_returning_daily(df, "user_id", "ts").collect()}
    assert nvr == {"2026-01-01": (1, 1, 0), "2026-01-02": (2, 1, 1),
                   "2026-01-03": (1, 1, 0)}


def test_time_weighted_average_exact(spark):
    """Value 10 held 30 s then value 40 held 10 s -> TWAP 17.5; the
    final observation drops (no successor)."""
    from datetime import datetime

    from sparksync.ext import asof

    rows = [
        ("g", datetime(2026, 1, 1, 0, 0, 0), 10, 1),
        ("g", datetime(2026, 1, 1, 0, 0, 30), 40, 2),
        ("g", datetime(2026, 1, 1, 0, 0, 40), 99, 3),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v long, id long")
    r = asof.time_weighted_average(df, "g", "ts", "v", "id").first()
    assert r.n_intervals == 2 and r.total_seconds == 40
    assert r.twap == (10 * 30 + 40 * 10) / 40  # == 17.5


def test_vocab_growth_and_novelty(spark):
    from sparksync.ext import textops

    docs = spark.createDataFrame(
        [(0, "a b c"), (100, "a b d"), (200, "a b c")],
        "doc_id long, text string",
    )
    curve = {r.docs_ingested: r.vocab_size for r in
             textops.vocab_growth_curve(docs, every=100).collect()}
    assert curve == {0: 3, 100: 4}  # doc 200 introduces nothing -> no row
    nov = {r.doc_id: r for r in textops.ngram_novelty(docs).collect()}
    # docs 0/200 share their single shingle 'a b c'; doc 100 is unique
    assert nov[0].novelty == 0.0 and nov[200].novelty == 0.0
    assert nov[100].novelty == 1.0 and nov[100].n_shingles == 1


def test_near_dup_cluster_keeper_transitive(spark):
    """A~B~C collapse to ONE cluster with ONE keeper (the highest
    quality, tie -> smallest id); the unrelated doc keeps itself."""
    from sparksync.ext import _materialize, dedup

    _materialize.release_pinned()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, 50),
        (2, base + " lambda", 80),
        (3, base + " lambda mu", 80),
        (4, "totally different words with no overlap at all here now", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {r.doc_id: r for r in
           dedup.near_dup_cluster_keeper(df, "n_chars", threshold=0.7).collect()}
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].n_members == 3
    # quality tie 80 between ids 2 and 3 -> smaller id kept
    assert (out[1].kept, out[2].kept, out[3].kept) == (0, 1, 0)
    assert out[4].cluster_id == 4 and out[4].kept == 1 and out[4].n_members == 1
    _materialize.release_pinned()


def test_zone_map_pruning_audit(spark):
    from sparksync.compare import pruning_audit, zone_map_stats

    rows = [(i, i // 10 * 100) for i in range(40)]  # buckets 0..3 hold v=0,100,200,300
    df = spark.createDataFrame(rows, "k long, v long")
    stats = zone_map_stats(df, "k", 10, "v")
    s = {r.bucket: r for r in stats.collect()}
    assert len(s) == 4 and s[0].v_min == 0 and s[3].v_max == 300
    audit = pruning_audit(stats, "v", 100, 150).first()
    assert audit.n_buckets == 4 and audit.prunable_buckets == 3
    assert audit.rows_total == 40 and audit.rows_skipped == 30
    assert audit.skip_fraction == 0.75


def test_shard_balance_and_bloom_audit(spark):
    from sparksync.ext import sampling, skew

    docs = spark.createDataFrame(
        [(i, 10 + i) for i in range(200)], "doc_id long, n_chars long"
    )
    shards = sampling.shard_balance_audit(docs, "doc_id", "n_chars", n_shards=4)
    rows = shards.collect()
    assert len(rows) == 4
    assert sum(r.n_rows for r in rows) == 200
    assert abs(sum(r.row_share for r in rows) - 1.0) < 1e-12
    # portable hash: assignment is stable across calls
    again = {r.shard: r.n_rows for r in
             sampling.shard_balance_audit(docs, "doc_id", "n_chars",
                                          n_shards=4).collect()}
    assert again == {r.shard: r.n_rows for r in rows}

    # bloom: membership via a 64-bit-word bitmap; zero false NEGATIVES
    # by construction; duplicates in the probe count per-row
    build = spark.createDataFrame([(i,) for i in range(5)], "k long")
    probe = spark.createDataFrame(
        [(i % 20,) for i in range(100)], "k long"
    )
    audit = skew.bloom_semi_join_audit(probe, build, "k", "k",
                                       m_bits=64, k=3).first()
    assert audit.n_probe == 100
    assert audit.n_true_match == 25  # keys 0..4, five occurrences each
    assert audit.n_bloom_pass >= audit.n_true_match  # no false negatives
    assert audit.false_positives == audit.n_bloom_pass - audit.n_true_match


def test_join_forecast_and_salting_model(spark):
    from sparksync.ext import skew

    a = spark.createDataFrame(
        [(1,)] * 10 + [(2,)] * 2 + [(3,)] * 1, "k long"
    )
    b = spark.createDataFrame([(1,)] * 5 + [(2,)] * 4, "k long")
    fc = {r.key: r for r in
          skew.join_size_forecast(a, b, "k", "k", top_k=5).collect()}
    assert fc[1].out_rows == 50 and fc[2].out_rows == 8
    assert fc[1].total_out == 58 and 3 not in fc  # no match -> no row
    assert abs(fc[1].share - 50 / 58) < 1e-15
    # the forecast equals the realized join size
    assert a.join(b, "k").count() == 58

    m = skew.salting_effectiveness(a, "k", n_salts=4).first()
    assert m.max_key_rows == 10 and m.post_salt_max == 3  # ceil(10/4)
    assert m.n_keys == 3 and m.rows_total == 13
    assert m.speedup == 10 / 3


def test_partial_agg_merge_identity(spark):
    """Merged day-grain partials == a direct month aggregate, exactly
    (the algebraic-MV identity)."""
    from datetime import datetime

    from sparksync.compare import merge_partials, partial_daily_aggregates

    rows = [
        ("a", datetime(2026, 1, 1), 10), ("a", datetime(2026, 1, 2), 30),
        ("a", datetime(2026, 2, 1), 7), ("b", datetime(2026, 1, 15), 5),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v long")
    daily = partial_daily_aggregates(df, "g", "ts", "v")
    merged = {(r.g, str(r.period)): (r.cnt, r.sum, r.min, r.max)
              for r in merge_partials(daily, "g", "month").collect()}
    assert merged == {
        ("a", "2026-01-01"): (2, 40, 10, 30),
        ("a", "2026-02-01"): (1, 7, 7, 7),
        ("b", "2026-01-01"): (1, 5, 5, 5),
    }


def test_reference_percentile_merge_trick(spark):
    """Probe values calibrate against the reference exactly, including
    ties (inclusive <=) and values outside the reference range."""
    from sparksync.ext import features

    ref = spark.createDataFrame([(v,) for v in (10, 20, 20, 30)], "v long")
    probe = spark.createDataFrame(
        [(1, 5), (2, 20), (3, 25), (4, 99)], "id long, v long"
    )
    out = {r.id: r.pct for r in
           features.reference_percentile(probe, ref, "v", "id").collect()}
    assert out == {1: 0.0, 2: 0.75, 3: 0.75, 4: 1.0}


def test_clustering_coefficient_triangle_plus_tail(spark):
    """A triangle with one pendant edge: the apex has degree 3 and one
    closed wedge of three -> 1/3; triangle corners are fully closed;
    the pendant has degree 1 -> 0.0."""
    from sparksync.ext import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "d1 long, d2 long"
    )
    out = {r.node: r for r in
           graph.clustering_coefficient(edges).collect()}
    assert out[1].coefficient == 1.0 and out[2].coefficient == 1.0
    assert out[3].degree == 3 and out[3].coefficient == 1 / 3
    assert out[4].degree == 1 and out[4].coefficient == 0.0


def test_encoding_profile_flags(spark):
    from sparksync.ext import textops

    docs = spark.createDataFrame(
        [(1, "plain ascii text"), (2, "café au lait"),
         (3, "bad � bytes"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.encoding_profile(docs).collect()}
    assert out[1].flag_ok == 1 and out[1].non_ascii == 0
    assert out[2].non_ascii == 1 and out[2].replacement_chars == 0
    assert out[3].replacement_chars == 1 and out[3].flag_ok == 0
    assert out[4].ascii_ratio == 1.0 and out[4].flag_ok == 1


def test_quantile_error_audit_bounds(spark):
    """Every profile quantile's measured rank error is a valid
    fraction, and at rate=1.0 (sample == population) the p50 edge's
    error is small by construction."""
    from sparksync.ext import skew

    rows = [("g", float(i), i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "g string, value double, id long")
    out = skew.quantile_error_audit(df, "g", "value", "id", rate=1.0).collect()
    assert {r.p for r in out} == {0.25, 0.5, 0.75, 0.95}
    for r in out:
        assert 0.0 <= r.rank_error <= 0.01 and r.n_rows == 100


def test_props_struct_single_pass_parse(spark):
    """from_json schema-declared parse (the single-pass scale path)
    agrees with the ad-hoc get_json_object path on the same column,
    and the parse stays JVM-side (no Python in the plan)."""
    from sparksync.ext import jsonops

    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    both = jsonops.props_struct(jsonops.extract_k(ev))
    assert both.filter(F.col("k") != F.col("props_s.k")).count() == 0
    assert "Python" not in both._jdf.queryExecution().executedPlan().toString()


def test_with_tokens_matches_token_counts(spark):
    """with_tokens' array length equals token_counts' ws_tokens column
    on the same documents (one tokenizer, two surfaces)."""
    from sparksync.ext import textops

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    t = textops.with_tokens(docs).select("doc_id", F.size("toks").alias("n"))
    s = textops.token_counts(docs).select("doc_id", "ws_tokens")
    assert t.join(s, "doc_id").filter(F.col("n") != F.col("ws_tokens")).count() == 0


def test_pin_registry_stays_bounded(spark):
    """Cache-pin hygiene (VERDICT r5 #7): repeated calls to the
    pin-heavy operators (rfm_segments pins 3 per call; the minhash
    band pin adds one) keep the JVM's persistent-RDD registry bounded
    — the FIFO cap actually evicts materialized pins — and
    release_pinned() drains everything sparksync pinned."""
    from sparksync.ext import _materialize, dedup, features
    from sparksync.source import load_table

    _materialize.release_pinned()
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()

    orders = load_table(spark, SF_SMOKE, "orders").limit(500)
    docs2 = load_table(spark, SF_SMOKE, "documents").limit(200)
    for _ in range(8):  # 8 * 3 pins from rfm + 8 minhash band pins > cap
        features.rfm_segments(
            orders, "o_custkey", "o_orderdate", "o_totalprice"
        ).write.format("noop").mode("overwrite").save()
        dedup.minhash_dedup_pairs(docs2).write.format("noop").mode(
            "overwrite"
        ).save()
    assert len(_materialize._PINNED) <= _materialize._PIN_CAP
    assert jsc.getPersistentRDDs().size() <= base + _materialize._PIN_CAP
    _materialize.release_pinned()
    assert len(_materialize._PINNED) == 0


def test_pin_eviction_spares_unmaterialized(spark):
    """ADVICE r5 (medium): the FIFO eviction must NOT silently
    unpersist a pin whose plan has never run — for global_rank the
    persist is correctness-critical until the first action. Pin
    _PIN_CAP+4 never-materialized relations: all must survive the
    soft cap; materialize the oldest and pin once more: the
    materialized one is the eviction victim."""
    from pyspark import StorageLevel

    from sparksync.ext import _materialize

    _materialize.release_pinned()
    dfs = [
        spark.range(100 + i).withColumnRenamed("id", "v")
        for i in range(_materialize._PIN_CAP + 4)
    ]
    for d in dfs:
        _materialize._pin(d)
    # nothing materialized -> soft cap keeps every pin alive
    assert len(_materialize._PINNED) == _materialize._PIN_CAP + 4
    assert all(d.storageLevel != StorageLevel.NONE for d in dfs)

    oldest = _materialize._PINNED[0][0]
    oldest.count()  # materialize only the oldest
    _materialize._pin(spark.range(7).withColumnRenamed("id", "w"))
    assert oldest.storageLevel.useMemory is False  # evicted
    assert all(
        d is oldest or d.storageLevel.useMemory for d in dfs
    )  # the un-materialized pins all survived
    _materialize.release_pinned()


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_release_frees_pinned_persisted_and_checkpointed(spark):
    """_release frees a DataFrame's blocks now, whichever kind holds
    them: a pin (and its registry row), a caller-owned persist, and a
    local checkpoint, whose blocks live on the RDD under its plan."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    base = _persistent_rdd_ids(spark)
    pinned = _materialize._pin(spark.range(50).withColumnRenamed("id", "p"))
    persisted = _materialize._persist(spark.range(55).withColumnRenamed("id", "q"))
    ckpt = _materialize._checkpoint(spark.range(60).withColumnRenamed("id", "c"))
    assert pinned.count() == 50 and persisted.count() == 55
    added = _persistent_rdd_ids(spark) - base
    assert len(added) == 3
    assert any(d is pinned for d, _ in _materialize._PINNED)
    for df in (pinned, persisted, ckpt):
        _materialize._release(df)
    assert added.isdisjoint(_persistent_rdd_ids(spark))
    assert not any(d is pinned for d, _ in _materialize._PINNED)


def test_lsh_scored_pairs_cache_released_by_release_pinned(spark):
    """The projected (id, v, cells) relation _lsh_scored_pairs caches is
    owned by the pin registry: after calls on distinct inputs,
    release_pinned() leaves no persistent RDD behind."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    base = _persistent_rdd_ids(spark)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    for i in range(3):
        similarity._lsh_scored_pairs(emb.where(f"vec_id % 3 != {i}")).count()
    assert _persistent_rdd_ids(spark) - base
    _materialize.release_pinned()
    assert _persistent_rdd_ids(spark) - base == set()


def test_join_forecast_overflow_raises_loudly(spark):
    """ADVICE r5: a forecast beyond 2^63-1 output rows must raise, not
    silently NULL. 4e9 x 4e9 rows per key overflows int64; the checked
    cast has to surface it."""
    from sparksync.ext import skew

    big = spark.range(1).select(
        F.lit(1).alias("k"), F.lit(4_000_000_000).alias("n")
    )
    a = big.selectExpr("k", "explode(array_repeat(1, 1)) as _")  # 1 row key=1
    # fabricate the count tables directly: join_size_forecast's per-key
    # counts are longs, so drive the internal product via two synthetic
    # single-key tables with huge multiplicities is infeasible at test
    # scale — instead call the checked cast on an overflowing decimal.
    over = spark.range(1).select(
        (F.lit("99999999999999999999").cast("decimal(38,0)")).alias("v")
    )
    with pytest.raises(Exception, match="exceeds int64"):
        over.select(skew._checked_long(F.col("v"), "out_rows")).collect()
    ok = spark.range(1).select(
        F.lit("123").cast("decimal(38,0)").alias("v")
    )
    got = ok.select(skew._checked_long(F.col("v"), "out_rows").alias("o")).collect()
    assert got[0].o == 123


def test_stickiness_invariants(spark):
    """DAU <= WAU (the trailing window contains the day), ratio in
    (0, 1], and a synthetic everyone-active-daily corpus pins
    stickiness to exactly 1.0."""
    from sparksync.ext import asof

    rows = [
        (u, f"2024-01-{d:02d} 12:00:00")
        for u in ("a", "b", "c")
        for d in range(1, 15)
    ]
    df = spark.createDataFrame(rows, "u string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = asof.stickiness(df, "u", "ts", 7).collect()
    assert len(out) == 14
    for r in out:
        assert r.dau <= r.wau and 0.0 < r.stickiness <= 1.0
        assert r.stickiness == 1.0  # everyone active every day


def test_winsorized_stats_bounds(spark):
    """The winsorized mean sits inside [p_lo, p_hi], clip counts are
    sane, and a wild outlier moves the plain mean but barely the
    winsorized one."""
    from sparksync.ext import features

    rows = [("g", float(i)) for i in range(1, 100)] + [("g", 1_000_000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = features.winsorized_stats(df, "g", "v", 0.05, 0.95).collect()[0]
    assert r.n == 100 and 0 < r.n_clipped <= 10
    assert r.p_lo <= r.winsorized_mean <= r.p_hi
    assert r.winsorized_mean < 200  # the 1e6 outlier got clipped


def test_interarrival_histogram_buckets(spark):
    """Known gaps land in the right CASE buckets, microsecond-exact."""
    from sparksync.ext import asof

    base = 1_700_000_000
    rows = [
        ("t", "u", base + off, i)
        for i, off in enumerate([0, 1, 11, 71, 700, 5000, 100000])
    ]
    df = spark.createDataFrame(rows, "g string, u string, s long, id long").withColumn(
        "ts", F.col("s").cast("timestamp")
    )
    out = {r.bucket: r.n_gaps for r in
           asof.interarrival_histogram(df, "g", "u", "ts", "id").collect()}
    # gaps: 1s, 10s, 60s, 629s (<=1h), 4300s (<=1d), 95000s (>1d)
    assert out == {"<=1s": 1, "<=10s": 1, "<=1m": 1, "<=1h": 1,
                   "<=1d": 1, ">1d": 1}


def test_fk_completeness_matrix_orphans(spark):
    """A planted orphan and a NULL key are counted in the right
    columns; a clean FK reports zero orphans."""
    from sparksync.compare import fk_completeness_matrix

    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    child = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 99), (4, None)], "id long, fk long"
    )
    clean = spark.createDataFrame([(1, 1), (2, 2)], "id long, fk long")
    out = {
        r.fk_name: r
        for r in fk_completeness_matrix(
            [
                ("dirty", child, "fk", parent, "pk"),
                ("clean", clean, "fk", parent, "pk"),
            ]
        ).collect()
    }
    d = out["dirty"]
    assert (d.n_child, d.n_null_key, d.n_orphans) == (4, 1, 1)
    assert abs(d.orphan_share - 1 / 3) < 1e-12
    c = out["clean"]
    assert (c.n_orphans, c.orphan_share) == (0, 0.0)


def test_semantic_dedup_keeper_planted(spark):
    """Planted near-identical vectors collapse into one cluster with
    the highest-quality member kept; unrelated vectors stay singleton
    self-keepers."""
    import math

    from sparksync.ext import similarity

    def unit(seed, dim=64):
        vals = [math.sin(seed * 31 + i) for i in range(dim)]
        n = math.sqrt(sum(x * x for x in vals))
        return [x / n for x in vals]

    base = unit(1)
    near = [x + 0.001 * (i % 3) for i, x in enumerate(base)]
    rows = [
        (1, base), (2, near), (3, near),  # planted cluster {1,2,3}
        (4, unit(7)), (5, unit(13)),      # unrelated singletons
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    quality = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 5), (5, 5)], "vec_id long, quality long"
    )
    out = {r.vec_id: r for r in similarity.semantic_dedup_keeper(
        emb, quality, threshold=0.99, bucket_cap=None
    ).collect()}
    assert {out[i].cluster_id for i in (1, 2, 3)} == {1}
    assert out[2].kept == 1  # highest quality, smallest id among ties
    assert out[1].kept == 0 and out[3].kept == 0
    for i in (4, 5):
        assert out[i].cluster_id == i and out[i].kept == 1 and out[i].n_members == 1


def test_source_concentration_known_values(spark):
    """Hand-computable HHI: 4 docs from one source + 1 from another ->
    HHI = (16+1)/25, effective sources = 25/17, top share 0.8; a
    single-source group pins HHI to exactly 1.0."""
    from sparksync.ext import sampling

    rows = [("en", "a")] * 4 + [("en", "b")] + [("fr", "x")] * 3
    df = spark.createDataFrame(rows, "lang string, source string")
    out = {r.lang: r for r in
           sampling.source_concentration(df, "lang", "source").collect()}
    en = out["en"]
    assert (en.n_docs, en.n_sources) == (5, 2)
    assert en.top_share == 0.8 and en.hhi == 17 / 25
    assert abs(en.effective_sources - 25 / 17) < 1e-15
    fr = out["fr"]
    assert fr.hhi == 1.0 and fr.effective_sources == 1.0 and fr.n_sources == 1


def test_cross_source_dup_matrix_orients_pairs(spark):
    """Near-dup docs across two sources land in ONE unordered cell
    (least/greatest orientation), same-source dups on the diagonal."""
    from sparksync.ext import dedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text, "siteA"),
        (2, text, "siteB"),            # cross-source dup pair (1,2)
        (3, text + " extra", "siteB"),  # near-dup of both
        (4, "completely different words here nothing shared at all", "siteC"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.source_a, r.source_b): r.n_pairs
           for r in dedup.cross_source_dup_matrix(df, 0.6).collect()}
    assert out.get(("siteA", "siteB"), 0) >= 1
    assert ("siteB", "siteA") not in out  # oriented, never duplicated
    assert all(a <= b for a, b in out)


def test_benford_audit_conforming_vs_uniform(spark):
    """A Benford-conforming synthetic column scores a much lower chi2
    than a uniform-digit column, and n excludes values < 1."""
    from sparksync.ext import features

    conforming = []
    for d in range(1, 10):
        conforming += [("b", float(d * 100 + 7))] * int(
            round(1000 * features.BENFORD_P[d - 1])
        )
    uniform = [("u", float(d * 10 + 3)) for d in range(1, 10) for _ in range(111)]
    df = spark.createDataFrame(
        conforming + uniform + [("b", 0.5)], "g string, v double"
    )
    out = {r.g: r for r in features.benford_audit(df, "g", "v").collect()}
    assert out["b"].n == sum(
        int(round(1000 * p)) for p in features.BENFORD_P
    )  # the 0.5 row dropped
    assert out["b"].chi2 < 1.0 < out["u"].chi2
    assert 0.0 <= out["b"].max_abs_dev < out["u"].max_abs_dev <= 1.0


def test_lag1_autocorr_known_series(spark):
    """A strictly alternating daily volume gives strong negative
    autocorrelation; a constant series is NULL (zero variance)."""
    import datetime

    from sparksync.ext import features

    rows = []
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    for day in range(12):
        n = 10 if day % 2 == 0 else 2
        rows += [("alt", base + datetime.timedelta(days=day))] * n
        rows += [("flat", base + datetime.timedelta(days=day))] * 5
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r.g: r for r in features.lag1_autocorr(df, "g", "ts").collect()}
    assert out["alt"].n_pairs == 11 and out["alt"].autocorr < -0.9
    assert out["flat"].autocorr is None


def test_rrf_fuse_semantics(spark):
    """Shared ids sum both reciprocal terms and outrank single-list
    ids; absent-list ranks surface as NULL with a 0 contribution."""
    from sparksync.ext import similarity

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank_a long")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank_b long")
    out = {r.doc_id: r for r in similarity.rrf_fuse(a, b).collect()}
    assert out[2].fused_rank == 1  # in both lists
    assert out[2].rrf == 1.0 / 62 + 1.0 / 61
    assert out[4].rank_a is None and out[4].rrf == 1.0 / 62
    assert len(out) == 4


def test_minhash_recall_audit_full_and_sampled(spark, docs):
    """At gate SF the verified-LSH pair set equals the exact set:
    recall == precision == 1.0, missed == extra == 0; the sample_mod
    form audits the hash-sampled sub-corpus with the same invariant."""
    from sparksync.ext import dedup

    r = dedup.minhash_recall_audit(docs, 0.8).collect()[0]
    assert r.n_exact_pairs == r.n_lsh_pairs > 0
    assert r.n_missed == 0 and r.n_extra == 0
    assert r.recall == 1.0 and r.precision == 1.0

    s = dedup.minhash_recall_audit(docs, 0.8, sample_mod=2).collect()[0]
    assert 0 < s.n_docs < r.n_docs
    assert s.n_missed == 0 and s.precision == 1.0


def test_topk_with_other_shape(spark):
    """Exactly k+1 rows per group when a tail exists, residual sums the
    tail, groups without a tail emit no '(other)' row."""
    from sparksync.ext import sampling

    rows = [("g1", f"k{i % 5}") for i in range(50)] + [("g2", "only")] * 7
    df = spark.createDataFrame(rows, "g string, k string")
    out = sampling.topk_with_other(df, "g", "k", k=3).collect()
    g1 = sorted([r for r in out if r.g == "g1"], key=lambda r: r.rnk)
    assert len(g1) == 4 and g1[-1].k == "(other)" and g1[-1].rnk == 4
    assert sum(r.n_rows for r in g1) == 50
    g2 = [r for r in out if r.g == "g2"]
    assert len(g2) == 1 and g2[0].k == "only" and g2[0].n_rows == 7


def test_freshness_audit_staleness(spark):
    """The freshest group has staleness 0; an older group's staleness
    is the exact second gap to the corpus watermark, and window counts
    see only rows inside the trailing windows."""
    import datetime

    from sparksync.compare import freshness_audit

    wm = datetime.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        ("live", wm),
        ("live", wm - datetime.timedelta(hours=1)),
        ("live", wm - datetime.timedelta(days=3)),
        ("stale", wm - datetime.timedelta(days=10)),
        ("stale", wm - datetime.timedelta(days=30)),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r.g: r for r in freshness_audit(df, "g", "ts").collect()}
    assert out["live"].staleness_s == 0
    assert (out["live"].rows_1d, out["live"].rows_7d) == (2, 3)
    assert out["stale"].staleness_s == 10 * 86400
    assert (out["stale"].rows_1d, out["stale"].rows_7d) == (0, 0)


def test_tokenizer_fertility_known(spark):
    """Punctuation-heavy text fertilizes above 1.0; plain words sit at
    exactly 1.0 (one BPE-ish token per whitespace word)."""
    from sparksync.ext import textops

    rows = [
        (1, "plain words only here", "en"),
        (2, "hi! you're (not) done...", "pn"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in textops.tokenizer_fertility(df, "lang").collect()}
    assert out["en"].fertility == 1.0
    assert out["pn"].fertility > 1.5


# ---- round-8 invariant tests for the q188-q193 surface (VERDICT r7 #5:
# the round-7 additions shipped with no invariant tests at all) ----


def test_lsh_precision_audit_shares_and_flag(emb):
    """Shares are a probability distribution over bins, and
    above_threshold implements the documented LEFT-EDGE contract
    (1 iff the bin's entire range clears the threshold)."""
    rows = similarity.lsh_precision_audit(emb).collect()
    assert rows  # fixture produces candidates
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert r.n_pairs > 0
        assert r.above_threshold == (1 if r.cos_bin >= 0.4 else 0)


def test_charclass_profile_entropy_tolerance(docs):
    """The gated output carries exact counts + shares; the optional
    entropy column (ln-based, NOT oracle-hashed — 1-ulp JVM/libm
    divergence, VERDICT r7 #2) must agree with Python's libm recompute
    from the same shares to float tolerance, and the shares must
    partition 1."""
    import math

    from sparksync.ext import textops

    out = textops.charclass_entropy(docs, "source", include_entropy=True)
    for r in out.collect():
        shares = (r.letter_share, r.digit_share, r.space_share, r.other_share)
        assert abs(sum(shares) - 1.0) < 1e-12
        assert r.letters + r.digits + r.spaces + r.others == r.total_chars
        expect = -sum(p * math.log(p) for p in shares if p > 0)
        assert abs(r.entropy - expect) < 1e-9


def test_truncation_loss_fractions_bounded(docs):
    from sparksync.ext import textops

    for r in textops.truncation_loss(docs, "source").collect():
        assert 0 <= r.docs_truncated <= r.n_docs
        assert 0.0 <= r.doc_trunc_frac <= 1.0
        assert 0.0 <= r.token_loss_frac <= 1.0
        assert 0 <= r.tokens_lost <= r.total_tokens
        assert r.p50_tokens <= r.p95_tokens


def test_event_transitions_by_hour_consistency(spark):
    """Per-(hour, prev_type) probs sum to 1, hours are valid, and the
    hour slices PARTITION the all-day matrix: summing n over hours
    reproduces event_transitions' n exactly (same lag, same ordering
    — bucketing happens after the lag, so no transition is lost or
    double-counted at hour boundaries)."""
    from sparksync.ext import asof

    ev = load_table(spark, SF_SMOKE, "events")
    by_hour = asof.event_transitions_by_hour(ev).collect()
    assert by_hour
    sums: dict = {}
    pair_n: dict = {}
    for r in by_hour:
        assert 0 <= r.hour <= 23
        sums[(r.hour, r.prev_type)] = sums.get((r.hour, r.prev_type), 0.0) + r.prob
        pair_n[(r.prev_type, r.next_type)] = (
            pair_n.get((r.prev_type, r.next_type), 0) + r.n
        )
    for k, s in sums.items():
        assert abs(s - 1.0) < 1e-9, k
    all_day = {
        (r.prev_type, r.next_type): r.n
        for r in asof.event_transitions(ev).collect()
    }
    assert pair_n == all_day


def test_event_transitions_by_hour_negative_epoch(spark):
    """Pre-1970 timestamps get the correct wall-clock hour (ADVICE
    r8): `div` truncates toward zero, so 1969-12-31T23:30 naively
    lands in hour 0; the floor correction must put it in hour 23."""
    from sparksync.ext import asof

    ev = spark.createDataFrame(
        [
            ("u", "1969-12-31 23:30:00", 1, "a"),
            ("u", "1969-12-31 23:45:00", 2, "b"),  # source hour 23
            ("u", "1970-01-01 00:10:00", 3, "c"),  # source hour 23
            ("u", "1970-01-01 00:20:00", 4, "a"),  # source hour 0
        ],
        "user_id string, ts string, event_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r.hour, r.prev_type, r.next_type)
        for r in asof.event_transitions_by_hour(ev).collect()
    }
    assert got == {(23, "a", "b"), (23, "b", "c"), (0, "c", "a")}


def test_quantization_error_audit_bounds(emb):
    """MSE is nonnegative and bounded by the worst per-dim rounding
    error (half a quantization step of the widest dimension); the
    original-vs-dequantized cosine is a valid cosine and stays high on
    smooth embedding fixtures."""
    from sparksync.ext import similarity as sim

    vecs = {r.vec_id: r.embedding for r in emb.select("vec_id", "embedding").collect()}
    dim = len(next(iter(vecs.values())))
    ranges = [
        max(v[i] for v in vecs.values()) - min(v[i] for v in vecs.values())
        for i in range(dim)
    ]
    worst_step = max(ranges) / 255.0
    bound = (worst_step / 2) ** 2 * 1.000001 + 1e-18
    rows = sim.quantization_error_audit(emb).collect()
    assert len(rows) == len(vecs)
    for r in rows:
        assert 0.0 <= r.mse <= bound
        assert -1.0 - 1e-12 <= r.cos_orig_deq <= 1.0 + 1e-12


def test_chisq_independence_cells(docs):
    """Chi-square cells: contributions nonnegative and every expected
    count equals row_margin * col_margin / grand_total recomputed from
    the emitted observed cells (exact: margins over OBSERVED cells are
    the true margins, since zero-observed cells contribute nothing to
    a margin), and contribution = (o - e)^2 / e."""
    from sparksync.ext import features

    rows = features.chisq_independence(docs, "lang", "source").collect()
    assert rows
    n = sum(r.observed for r in rows)
    ra: dict = {}
    cb: dict = {}
    for r in rows:
        ra[r.a] = ra.get(r.a, 0) + r.observed
        cb[r.b] = cb.get(r.b, 0) + r.observed
    for r in rows:
        assert r.contribution >= 0.0
        expect = ra[r.a] * cb[r.b] / n
        assert abs(r.expected - expect) < 1e-9 * max(expect, 1.0), r
        contrib = (r.observed - r.expected) ** 2 / r.expected
        assert abs(r.contribution - contrib) < 1e-9 * max(contrib, 1.0), r


def test_hll_portable_accuracy_and_registers(spark):
    """The portable HLL estimate lands within the sketch's error band
    of the EXACT distinct count (m=256 -> ~6.5% standard error; assert
    4 sigma = 26%), and nonzero_registers is bounded by min(m, exact)."""
    from sparksync.ext import skew

    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = skew.approx_distinct_hll(ev, "event_type", "user_id").collect()
    assert {r.event_type for r in got} == set(exact)
    for r in got:
        n = exact[r.event_type]
        assert 1 <= r.nonzero_registers <= min(256, n)
        assert abs(r.hll_est - n) <= 0.26 * n, (r.event_type, r.hll_est, n)


def test_hll_portable_m64_accuracy(spark):
    """The parameterized register count (VERDICT r10 #5: q48 re-gated
    to the portable sketch at m=64): estimate within the wider error
    band (~13% standard error; assert 4 sigma = 52%), registers
    bounded by 64, and the m=64 and m=256 sketches agree with each
    other within their combined band."""
    from sparksync.ext import skew

    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    got = skew.approx_distinct_hll(ev, "event_type", "user_id", m=64).collect()
    assert {r.event_type for r in got} == set(exact)
    for r in got:
        n = exact[r.event_type]
        assert 1 <= r.nonzero_registers <= min(64, n)
        assert abs(r.hll_est - n) <= max(3, 0.52 * n), (r.event_type, r.hll_est, n)
    # non-power-of-two register counts are rejected, not mis-sketched
    import pytest as _pytest

    with _pytest.raises(ValueError):
        skew.hll_rank_base(100)


def test_hll_portable_exact_on_crafted(spark):
    """One group with ONE distinct value: exactly one register is hit,
    regardless of row multiplicity (the sketch sees values, not rows)."""
    from sparksync.ext import skew

    df = spark.createDataFrame(
        [("g", 7)] * 50, "grp string, v long"
    )
    rows = skew.approx_distinct_hll(df, "grp", "v").collect()
    assert len(rows) == 1
    assert rows[0].nonzero_registers == 1
    assert 0 < rows[0].hll_est < 3  # raw estimator near 1, never 0


def test_dedup_survivorship_consistency(spark, docs):
    """Per-source counters nest (dropped <= dup_members <= n_docs),
    n_docs totals the corpus, and the global dropped count equals the
    dedup_groups view's non-keeper count."""
    from sparksync.ext import dedup as dd
    from sparksync.ext.graph import dedup_groups

    out = dd.dedup_survivorship(docs).collect()
    assert sum(r.n_docs for r in out) == docs.count()
    for r in out:
        assert 0 <= r.dropped <= r.dup_members <= r.n_docs
        assert abs(r.drop_share - r.dropped / r.n_docs) < 1e-12
    groups = dedup_groups(dd.jaccard_pairs(docs, 0.8)).collect()
    dropped_global = sum(1 for g in groups if g.keep_id != g.doc_id)
    assert sum(r.dropped for r in out) == dropped_global
    assert sum(r.dup_members for r in out) == len(groups)


def test_cluster_size_histogram_consistency(spark, docs):
    """Histogram buckets partition the cluster set: every cluster has
    >= 2 docs, bucket doc counts are consistent with bucket sizes, and
    totals equal the dedup_groups member count."""
    from sparksync.ext import dedup as dd
    from sparksync.ext.graph import dedup_groups

    out = dd.dup_cluster_histogram(docs).collect()
    assert out
    lo = {"2": 2, "3-5": 3, "6-10": 6, ">10": 11}
    hi = {"2": 2, "3-5": 5, "6-10": 10, ">10": 10**9}
    for r in out:
        assert r.size_bucket in lo
        assert lo[r.size_bucket] * r.n_clusters <= r.n_docs
        assert r.n_docs <= hi[r.size_bucket] * r.n_clusters
    members = dedup_groups(dd.jaccard_pairs(docs, 0.8)).count()
    assert sum(r.n_docs for r in out) == members


def test_dedup_report_consistency(spark, docs):
    """The composed report's sections reproduce the standalone rollups
    bit-for-bit (same pair graph -> same numbers), and the topline is
    the exact sum of the survivorship rows — the report is composition,
    never a reimplementation that can drift."""
    from sparksync.ext import dedup as dd

    rows = dd.dedup_report(docs).collect()
    by_sec = {}
    for r in rows:
        by_sec.setdefault(r.section, []).append(r)

    surv = {r.source: r for r in dd.dedup_survivorship(docs).collect()}
    got_surv = {r.key_a: r for r in by_sec["survivorship"]}
    assert set(got_surv) == set(surv)
    for s, r in got_surv.items():
        assert (r.n1, r.n2, r.n3) == (
            surv[s].n_docs, surv[s].dup_members, surv[s].dropped
        )
        assert abs(r.share - surv[s].drop_share) < 1e-12

    (top,) = by_sec["topline"]
    assert top.key_a == "corpus"
    assert top.n1 == sum(r.n1 for r in by_sec["survivorship"])
    assert top.n2 == sum(r.n2 for r in by_sec["survivorship"])
    assert top.n3 == sum(r.n3 for r in by_sec["survivorship"])

    hist = {r.size_bucket: r for r in dd.dup_cluster_histogram(docs).collect()}
    got_hist = {r.key_a: r for r in by_sec["cluster_histogram"]}
    assert set(got_hist) == set(hist)
    for b, r in got_hist.items():
        assert (r.n1, r.n2) == (hist[b].n_clusters, hist[b].n_docs)

    xs = {
        (r.source_a, r.source_b): r.n_pairs
        for r in dd.cross_source_dup_matrix(docs).collect()
    }
    got_xs = {(r.key_a, r.key_b): r.n1 for r in by_sec["cross_source"]}
    assert got_xs == xs


def test_dedup_decision_report_synthetic(spark):
    """dedup_decision_report on a hand-built graph: keeper rows carry
    the max-quality decision (ties to smallest id), singletons
    self-keep, and the aggregate sections agree with a pure-Python
    replay of the same clusters — the keeper section is a first-class
    part of the one-job artifact, not a second pipeline."""
    from sparksync.ext import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "s1", 10, "x"),
            (2, "s1", 30, "x"),  # cluster {1,2,3}: keeper 2 (q=30)
            (3, "s2", 30, "x"),  # tie 30 vs 30 -> smaller id 2 wins
            (4, "s2", 7, "x"),   # singleton
            (5, "s1", 5, "x"),
            (6, "s2", 9, "x"),   # cluster {5,6}: keeper 6
        ],
        "doc_id long, source string, n_chars long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "d1 long, d2 long"
    )
    rows = dd.dedup_decision_report(docs, pairs).collect()
    by_sec = {}
    for r in rows:
        by_sec.setdefault(r.section, []).append(r)

    keep = {r.key_a: r for r in by_sec["keeper"]}
    assert set(keep) == {"1", "2", "3", "4", "5", "6"}
    # (cluster_id, quality, n_members, kept)
    expect = {
        "1": ("1", 10, 3, 0),
        "2": ("1", 30, 3, 1),
        "3": ("1", 30, 3, 0),
        "4": ("4", 7, 1, 1),
        "5": ("5", 5, 2, 0),
        "6": ("5", 9, 2, 1),
    }
    for k, (cid, q, nm, kept) in expect.items():
        r = keep[k]
        assert (r.key_b, r.n1, r.n2, r.n3) == (cid, q, nm, kept), k

    (top,) = by_sec["topline"]
    # 6 docs, 5 in clusters, 3 dropped by the min-id canonical rule
    assert (top.n1, top.n2, top.n3) == (6, 5, 3)
    surv = {r.key_a: (r.n1, r.n2, r.n3) for r in by_sec["survivorship"]}
    # min-id canonical keeps 1 and 5: s1 drops {2}, s2 drops {3, 6}
    assert surv == {"s1": (3, 3, 1), "s2": (3, 2, 2)}
    hist = {r.key_a: (r.n1, r.n2) for r in by_sec["cluster_histogram"]}
    assert hist == {"2": (1, 2), "3-5": (1, 3)}
    xs = {(r.key_a, r.key_b): r.n1 for r in by_sec["cross_source"]}
    assert xs == {("s1", "s1"): 1, ("s1", "s2"): 2}


def test_rollups_accept_supplied_pairs(spark, docs):
    """dedup_survivorship / dup_cluster_histogram with pairs= (the
    100 TB form: feed the LSH graph) equal their exact-Jaccard
    defaults at fixture SF, where LSH == exact is already proven."""
    from sparksync.ext import dedup as dd

    pairs = dd.minhash_dedup_pairs(docs, 0.8).localCheckpoint(eager=True)
    a = {tuple(r) for r in dd.dedup_survivorship(docs).collect()}
    b = {tuple(r) for r in dd.dedup_survivorship(docs, pairs=pairs).collect()}
    assert a == b
    a = {tuple(r) for r in dd.dup_cluster_histogram(docs).collect()}
    b = {tuple(r) for r in dd.dup_cluster_histogram(docs, pairs=pairs).collect()}
    assert a == b


def test_dedup_sharing_arg_guards(spark, docs):
    """The shared-pipeline arguments fail loudly on contract misuse:
    dedup_report with components but no pairs would silently run a
    second discovery whose graph may not match the supplied labels
    (raises instead); cluster_keeper_from_pairs needs pairs or
    components (neither raises)."""
    import pytest as pt

    from sparksync.ext import dedup as dd

    fake_comp = spark.createDataFrame([(1, 1)], "node long, component long")
    with pt.raises(ValueError, match="components requires pairs"):
        dd.dedup_report(docs, components=fake_comp)
    q = docs.select("doc_id", F.length("text").cast("long").alias("quality"))
    with pt.raises(ValueError, match="got neither"):
        dd.cluster_keeper_from_pairs(None, q, "doc_id")


def test_jaccard_pairs_max_df_hostile(spark):
    """Defense-in-depth cap (VERDICT r8 #2): a boilerplate shingle
    shared by EVERY doc — the sum(|posting|^2) blowup — is pruned from
    the join side when max_df is set, with a warning naming the bind;
    a planted true-dup pair whose overlap lives in rare shingles
    survives (computed jacc underestimates, so emitted pairs are a
    subset of the exact set: precision 1.0, recall documented)."""
    import pytest as pt

    from sparksync.ext import dedup as dd

    n = 120
    rows = [
        # every doc opens with the same 3 tokens -> ONE shingle with
        # document frequency n; the rest is per-doc-unique filler
        (i, f"hot1 hot2 hot3 u{i}a u{i}b u{i}c u{i}d u{i}e", "s")
        for i in range(n)
    ]
    # planted near-identical pair: long shared tail of rare shingles
    twin = "hot1 hot2 hot3 " + " ".join(f"tw{j}" for j in range(16))
    rows += [(n, twin, "s"), (n + 1, twin + " extra", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    with pt.warns(UserWarning, match="pruned 1 hot"):
        capped = dd.jaccard_pairs(df, 0.8, max_df=10).collect()
    got = {(r.d1, r.d2) for r in capped}
    assert got == {(n, n + 1)}  # the twins survive; no boilerplate pairs
    # subset-of-exact (precision 1.0) and underestimated jacc
    exact = {(r.d1, r.d2): r.jacc for r in dd.jaccard_pairs(df, 0.8).collect()}
    assert got <= set(exact)
    (twin_row,) = capped
    assert twin_row.jacc <= exact[(n, n + 1)] + 1e-12
    # unset cap keeps exact semantics (no warning path, identical set)
    assert set(exact) == {(n, n + 1)}
    # several hot shingles per doc (a 6-token boilerplate header): the
    # cap prunes all of them and still keeps exactly the twins
    n = 60
    rows = [
        (i, f"hot1 hot2 hot3 hot4 hot5 hot6 u{i}a u{i}b u{i}c u{i}d", "s")
        for i in range(n)
    ]
    rows += [(n, twin, "s"), (n + 1, twin + " extra", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    with pt.warns(UserWarning, match="pruned"):
        capped = {(r.d1, r.d2) for r in dd.jaccard_pairs(df, 0.8, max_df=10).collect()}
    assert capped == {(n, n + 1)}


def test_mp3_mp4_metadata_parsers(spark):
    """Round-8 metadata tier: MP3 frame-header walk and MP4 box walk
    parse real numbers from spec-valid synthesized containers, reject
    corrupt ones, and classify as status='metadata' (never 'decoded' —
    signal decode is honestly out of scope) through the full Spark
    media_features path."""
    import pytest as pt

    from sparksync.ext import multimodal as M

    m = M.parse_mp3(M.emit_mp3(40, 128, 44100, id3=b"t" * 33))
    assert m["n_frames"] == 40 and m["sample_rate"] == 44100
    assert abs(m["duration_s"] - 40 * 1152 / 44100) < 1e-9
    assert m["bitrate_kbps"] == 128.0
    m2 = M.parse_mp3(M.emit_mp3(10, 64, 22050))  # MPEG2 branch
    assert m2["n_frames"] == 10 and abs(
        m2["duration_s"] - 10 * 576 / 22050
    ) < 1e-9
    v = M.parse_mp4(M.emit_mp4(2.5, 640, 360))
    assert v["duration_s"] == 2.5 and (v["img_width"], v["img_height"]) == (
        640, 360,
    )
    assert v["handlers"] == ["vide"]
    a = M.parse_mp4(M.emit_mp4(1.25, 0, 0, handler=b"soun"))
    assert a["handlers"] == ["soun"] and a["img_width"] is None
    for bad in (M.emit_mp3(5)[:-3], b"\xff\xe3garbage"):
        with pt.raises(ValueError):
            M.parse_mp3(bad)
    with pt.raises(ValueError):
        M.parse_mp4(M.emit_mp4(1.0)[:20])
    rows = M.media_features(
        spark.createDataFrame(
            [
                (1, "audio", bytearray(M.emit_mp3(40))),
                (2, "video", bytearray(M.emit_mp4(2.5, 64, 36))),
                (3, "audio", bytearray(M.emit_mp3(8)[:-5])),
            ],
            "media_id long, kind string, content binary",
        )
    ).collect()
    by = {r.media_id: r for r in rows}
    assert by[1].status == "metadata" and by[1].sample_rate == 44100
    assert by[2].status == "metadata" and by[2].img_width == 64
    assert by[2].duration_s == 2.5
    assert by[3].status == "corrupt"
    feats = M.extract_features(
        spark.createDataFrame(
            [(1, "audio", bytearray(M.emit_mp3(40)))],
            "media_id long, kind string, content binary",
        )
    ).collect()
    assert feats[0].status == "metadata" and feats[0].features is not None


def test_zorder_key_interleave_inverse(spark):
    """zval decodes back to (bx, by) exactly (Morton interleave is a
    bijection), and buckets cover [0, 2^16)."""
    from pyspark.sql import functions as F

    from sparksync.ext import layout

    ev = load_table(spark, SF_SMOKE, "events")
    ysec = F.expr(
        "timestampdiff(SECOND, timestamp_ntz '1970-01-01 00:00:00', ts)"
    )
    rows = layout.zorder_key(ev, "user_id", ysec).select(
        "_bx", "_by", "zval"
    ).collect()
    assert rows
    for r in rows:
        assert 0 <= r._bx < 65536 and 0 <= r._by < 65536
        bx = by = 0
        for i in range(16):
            bx |= ((r.zval >> (2 * i)) & 1) << i
            by |= ((r.zval >> (2 * i + 1)) & 1) << i
        assert (bx, by) == (r._bx, r._by)


def test_zorder_beats_linear_on_2d_box(spark):
    """On a uniform 64x64 grid with 64-row files, a 2-D range box must
    skip strictly MORE rows under the z-order layout than under the
    linear-x layout (linear files span the full y range, so y-pruning
    never fires; z-order files are 2-D tiles) — the measured claim the
    layout audit exists to price."""
    from sparksync.ext import layout

    grid = spark.createDataFrame(
        [(x * 64 + y, x, y) for x in range(64) for y in range(64)],
        "id long, x long, y long",
    )
    out = {
        r.layout: r
        for r in layout.zorder_layout_audit(
            grid, "x", "y", "id", rows_per_file=64,
            box_pct=(25, 35, 30, 50),
        ).collect()
    }
    assert set(out) == {"linear_x", "zorder"}
    for r in out.values():
        assert r.n_files == 64
        assert r.rows_total == 64 * 64
        assert 0.0 <= r.skip_fraction <= 1.0
    assert out["zorder"].skip_fraction > out["linear_x"].skip_fraction


def test_write_zordered_roundtrip(spark, tmp_path):
    """write_zordered lays the rows out range-partitioned on the Morton
    key, drops the helper columns, and round-trips content exactly."""
    from pyspark.sql import functions as F

    from sparksync.sink import ParquetSink

    ev = load_table(spark, SF_SMOKE, "events")
    ysec = F.expr(
        "timestampdiff(SECOND, timestamp_ntz '1970-01-01 00:00:00', ts)"
    )
    sink = ParquetSink(spark, str(tmp_path))
    sink.write_zordered(ev, "ev_z", "user_id", ysec, n_files=4)
    back = sink.read("ev_z")
    assert set(back.columns) == set(ev.columns)
    assert back.count() == ev.count()
    a = {r.event_id for r in ev.select("event_id").collect()}
    b = {r.event_id for r in back.select("event_id").collect()}
    assert a == b


def test_zorder_key_overflow_guard_each_dimension(spark):
    """Each dimension trips the 2^46 range guard through its OWN
    bucket column (ADVICE r8): a y-range overflow must raise even for
    a caller that selects only _by and never touches _bx/zval."""
    import pytest as pt

    from sparksync.ext import layout

    wide_y = spark.createDataFrame(
        [(0, 0, 0), (1, 1, 1 << 47)], "id long, x long, y long"
    )
    for col in ("_bx", "_by"):
        with pt.raises(Exception, match="exceeds 2\\^46"):
            layout.zorder_key(wide_y, "x", "y").select(col).collect()
    wide_x = spark.createDataFrame(
        [(0, 0, 0), (1, 1 << 47, 1)], "id long, x long, y long"
    )
    for col in ("_bx", "_by"):
        with pt.raises(Exception, match="exceeds 2\\^46"):
            layout.zorder_key(wide_x, "x", "y").select(col).collect()


def _scan_metrics(df) -> dict:
    """Execute df and return the parquet scan node's SQL metrics —
    numOutputRows on the scan counts rows AFTER parquet row-group
    skipping (pushed min/max filters) and BEFORE Spark's row filter,
    so it measures exactly what zone maps saved."""
    df.collect()
    def leaves(p):
        try:
            n = p.children().size()
        except Exception:
            return [p]
        if n == 0:
            return [p]
        out = []
        for i in range(n):
            out += leaves(p.children().apply(i))
        return out
    for leaf in leaves(df._jdf.queryExecution().executedPlan()):
        if "Scan" in leaf.nodeName():
            vals, it = {}, leaf.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            return vals
    raise AssertionError("no scan node found")


def test_write_zordered_measured_pruning_matches_audit(spark, tmp_path):
    """The REAL pruning proof behind q198 (VERDICT r8 #4): write the
    grid as actual z-ordered parquet (write_zordered) and as a linear
    x-sort layout, run the audit's 2-D box predicate through a real
    Spark parquet scan, and read the scan node's numOutputRows — the
    rows that survived row-group min/max skipping. The z layout must
    skip strictly more than the linear one, and both measurements must
    match zorder_layout_audit's zone-map prediction, closing the loop
    from the audit's priced model to bytes a reader actually skips.
    (Written files carry one row group each, so row-group skipping ==
    file skipping here — the audit's unit.)"""
    from sparksync.ext import layout
    from sparksync.sink import ParquetSink

    grid = spark.createDataFrame(
        [(x * 64 + y, x, y) for x in range(64) for y in range(64)],
        "id long, x long, y long",
    )
    pred = {
        r.layout: r
        for r in layout.zorder_layout_audit(
            grid, "x", "y", "id", rows_per_file=64
        ).collect()
    }
    sink = ParquetSink(spark, str(tmp_path))
    sink.write_zordered(grid, "gz", "x", "y", n_files=64)
    grid.repartitionByRange(64, "x", "id").sortWithinPartitions(
        "x", "id"
    ).write.mode("overwrite").parquet(sink.path("glin"))

    # the audit's box_pct (25,35,30,50) of 2^16 cells in raw space:
    # bucket(v) = v*1024 -> x in [16,22], y in [20,32]
    box = "x between 16 and 22 and y between 20 and 32"
    measured = {}
    for name, table in (("zorder", "gz"), ("linear_x", "glin")):
        df = spark.read.parquet(sink.path(table)).where(box)
        assert df.count() == 7 * 13  # pruning never changes the answer
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "GreaterThanOrEqual(x,16)" in plan
        measured[name] = _scan_metrics(df)["numOutputRows"]

    assert measured["zorder"] < measured["linear_x"]
    for name in ("zorder", "linear_x"):
        want = pred[name].rows_scanned
        # repartitionByRange boundaries come from sampling, so allow
        # one file of wobble either side of the audit's exact-rank model
        assert abs(measured[name] - want) <= 2 * 64, (name, measured, want)


def test_zorder_audit_partitioning_invariant(spark):
    """The layout audit is a function of the DATA, not of the input's
    physical partitioning: a shuffled 13-partition copy of the grid
    must produce byte-identical audit rows (global_rank's two-phase
    rank is a total order; everything downstream is exact integer
    math). The determinism the oracle hash-match relies on."""
    from sparksync.ext import layout

    grid = spark.createDataFrame(
        [(x * 31 + y, x % 50, y % 40) for x in range(50) for y in range(40)],
        "id long, x long, y long",
    )
    a = {
        tuple(r)
        for r in layout.zorder_layout_audit(
            grid, "x", "y", "id", rows_per_file=100
        ).collect()
    }
    b = {
        tuple(r)
        for r in layout.zorder_layout_audit(
            grid.repartition(13), "x", "y", "id", rows_per_file=100
        ).collect()
    }
    assert a == b and len(a) == 2


def test_jpeg_restart_markers_roundtrip(spark):
    """Restart intervals (DRI/RSTn — the error-resilience layout real
    cameras emit) decode bit-identically to the marker-free stream, in
    BOTH baseline and progressive scan structures at both samplings;
    an out-of-sequence restart marker raises instead of desyncing."""
    import numpy as np
    import pytest as pt

    from sparksync.ext import jpeg as J

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (40, 52, 3)).astype(np.uint8)
    for ss in ("444", "420"):
        ref = J.parse_jpeg(J.emit_jpeg(img, quality=80, subsampling=ss))
        for dri in (1, 2, 5):
            b = J.parse_jpeg(
                J.emit_jpeg(img, quality=80, subsampling=ss,
                            restart_interval=dri)
            )
            p = J.parse_jpeg(
                J.emit_progressive_jpeg(img, quality=80, subsampling=ss,
                                        restart_interval=dri)
            )
            assert np.array_equal(ref, b), (ss, dri, "baseline")
            assert np.array_equal(ref, p), (ss, dri, "progressive")
    # corrupt the first restart marker's sequence number -> ValueError
    stream = bytearray(J.emit_jpeg(img, quality=80, restart_interval=2))
    i = stream.find(b"\xff\xd0")
    assert i > 0
    stream[i + 1] = 0xD3
    with pt.raises(ValueError, match="restart marker"):
        J.parse_jpeg(bytes(stream))


def test_jpeg_422_and_grayscale_paths(spark):
    """The decoder's remaining claimed layouts are driven by our own
    encoders: 4:2:2 (horizontal-only chroma subsampling — broadcast/
    camera default) decodes bit-identically between baseline and
    progressive scan structures, and a single-component grayscale
    stream decodes through the 1-component path into replicated
    channels within codec tolerance."""
    import numpy as np

    from sparksync.ext import jpeg as J

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (37, 45, 3)).astype(np.uint8)
    base = J.parse_jpeg(J.emit_jpeg(img, quality=85, subsampling="422"))
    prog = J.parse_jpeg(
        J.emit_progressive_jpeg(img, quality=85, subsampling="422")
    )
    rst = J.parse_jpeg(
        J.emit_progressive_jpeg(
            img, quality=85, subsampling="422", restart_interval=2
        )
    )
    assert np.array_equal(base, prog) and np.array_equal(base, rst)
    solid = np.full((20, 28, 3), [120, 60, 200], dtype=np.uint8)
    d = J.parse_jpeg(J.emit_jpeg(solid, quality=92, subsampling="422"))
    assert np.abs(d.astype(int) - solid.astype(int)).max() <= 1

    g = np.clip(
        np.outer(np.linspace(10, 240, 23), np.ones(31))
        + rng.normal(0, 3, (23, 31)),
        0, 255,
    ).astype(np.uint8)
    d = J.parse_jpeg(J.emit_gray_jpeg(g, quality=92))
    assert d.shape == (23, 31, 3)
    assert np.array_equal(d[..., 0], d[..., 1])
    assert np.array_equal(d[..., 1], d[..., 2])
    assert np.abs(d[..., 0].astype(int) - g.astype(int)).max() <= 12


def test_resize_media_accepts_progressive_jpeg(spark):
    """resize_media's documented contract for progressive inputs:
    decodes (via the SOF2 path), resizes, re-emits BASELINE bytes with
    updated metadata — the normalize-on-ingest shape."""
    import numpy as np

    from sparksync.ext import jpeg as J, multimodal

    img = np.full((24, 18, 3), [10, 200, 60], dtype=np.uint8)
    pb = J.emit_progressive_jpeg(img, quality=92)
    df = spark.createDataFrame(
        [(1, "image", bytearray(pb), 18, 24)],
        "media_id long, kind string, content binary, width int, height int",
    )
    rows = multimodal.resize_media(df, 9, 12).collect()
    assert len(rows) == 1
    out = bytes(rows[0].content)
    assert (rows[0].width, rows[0].height) == (9, 12)
    decoded = J.parse_jpeg(out)
    assert decoded.shape == (12, 9, 3)
    # re-emitted bytes are baseline (SOF0), not progressive
    assert out.find(b"\xff\xc0") > 0 and out.find(b"\xff\xc2") < 0


def test_ngram_lm_score_fixed_matches_reference(spark):
    """mode='fixed' (the q200 gate) is exact int64 fixed point end to
    end: every value — including the double score — must equal a
    pure-Python replay of the same add-one bigram LM bit-for-bit."""
    from collections import Counter

    from sparksync.ext import textops

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the cat"),
        (3, "zz qq zz qq zz"),
        (4, "the the the the"),
        (5, "single"),          # <2 tokens: no bigram evidence, excluded
        (6, ""),
        (7, "a b"),
    ]
    V, S = 4, 1 << 20
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_unk, r.n_bigrams, r.lm_surprisal)
        for r in textops.ngram_lm_score(
            df, vocab_k=V, mode="fixed", limit=10
        ).collect()
    }
    docs = {i: t.split() for i, t in rows if len(t.split()) >= 2}
    uni = Counter(t for ts in docs.values() for t in ts)
    vocab = set(sorted(uni, key=lambda t: (-uni[t], t))[:V])
    mapped = {
        i: [t if t in vocab else "<unk>" for t in ts] for i, ts in docs.items()
    }
    c12: Counter = Counter(
        p for ts in mapped.values() for p in zip(ts, ts[1:])
    )
    c1: Counter = Counter()
    for (w1, _), c in c12.items():
        c1[w1] += c
    veff = len(vocab) + 1
    assert set(got) == set(docs)
    for i, ts in mapped.items():
        sfp = sum(
            ((c1[w1] + veff) * S) // (c12[(w1, w2)] + 1)
            for w1, w2 in zip(ts, ts[1:])
        )
        n = len(ts)
        want = (n, sum(w == "<unk>" for w in ts), n - 1, sfp / ((n - 1) * S))
        assert got[i] == want, (i, got[i], want)


def test_ngram_lm_score_ln_perplexity_tolerance(spark):
    """mode='ln' (production) is true add-one bigram perplexity — libm
    ln/exp, so checked to relative tolerance against math (the q189
    include_entropy precedent), and it must rank documents in the same
    order as the corpus LM's real perplexity."""
    import math
    from collections import Counter

    from sparksync.ext import textops

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the cat"),
        (3, "zz qq zz qq zz"),
        (4, "the the the the"),
    ]
    V = 4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.lm_surprisal
        for r in textops.ngram_lm_score(
            df, vocab_k=V, mode="ln", limit=10
        ).collect()
    }
    docs = {i: t.split() for i, t in rows}
    uni = Counter(t for ts in docs.values() for t in ts)
    vocab = set(sorted(uni, key=lambda t: (-uni[t], t))[:V])
    mapped = {
        i: [t if t in vocab else "<unk>" for t in ts] for i, ts in docs.items()
    }
    c12: Counter = Counter(
        p for ts in mapped.values() for p in zip(ts, ts[1:])
    )
    c1: Counter = Counter()
    for (w1, _), c in c12.items():
        c1[w1] += c
    veff = len(vocab) + 1
    for i, ts in mapped.items():
        s = sum(
            -math.log((c12[(w1, w2)] + 1) / (c1[w1] + veff))
            for w1, w2 in zip(ts, ts[1:])
        )
        ppl = math.exp(s / (len(ts) - 1))
        assert abs(got[i] - ppl) / ppl < 1e-9, (i, got[i], ppl)


def test_ngram_lm_score_vocab_cap_bounds_model(docs):
    """The capped vocabulary is the 100 TB posture: with vocab_k=32
    every scored doc's tokens collapse onto <= 33 types, so the model
    the scoring join carries is bounded by 33^2 bigram types no matter
    the corpus size — and unk-heavy (rare-vocab) docs score as MORE
    surprising than pure-stopword ones."""
    from sparksync.ext import textops

    out = textops.ngram_lm_score(docs, vocab_k=32, mode="fixed", limit=500)
    rows = out.collect()
    assert rows, "sf0.001 documents must produce scored docs"
    for r in rows:
        assert r.n_bigrams == r.n_tokens - 1
        assert 0 <= r.n_unk <= r.n_tokens
        # mean reciprocal likelihood of an add-one LM is always >= 1
        assert r.lm_surprisal >= 1.0


def test_ngram_lm_score_overflow_guard(spark):
    """(c1 + V_eff) << scale_bits beyond int64 must raise with advice,
    not wrap — the guard is folded into the used term column so
    Catalyst can't prune it."""
    import pytest as pt

    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b a b a")], "doc_id long, text string"
    )
    with pt.raises(Exception, match="lower scale_bits"):
        textops.ngram_lm_score(df, mode="fixed", scale_bits=62).collect()


def test_ngram_lm_score_bad_mode(spark):
    import pytest as pt

    from sparksync.ext import textops

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pt.raises(ValueError, match="unknown mode"):
        textops.ngram_lm_score(df, mode="perplexity")


def test_ngram_lm_score_vocab_join_broadcast(docs):
    """The vocab membership join rides an explicit broadcast (vocab_k
    rows by construction), and the scoring pipeline never degenerates
    to a cartesian product."""
    from sparksync.ext import textops

    plan = textops.ngram_lm_score(
        docs, mode="fixed"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_winnow_fingerprints_match_reference(spark):
    """Spark winnowing == a pure-Python replay of Schleimer et al.'s
    definition (every w-window's min over the ordered k-gram hash
    stream, windows at positions 0..m-w, min-of-all for short docs),
    on crafted docs covering shared runs, exact dups, the k-token
    minimum, and too-short dropouts."""
    import hashlib

    from sparksync.ext import dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f g z"),
        (3, "p q r s t u v"),
        (4, "a b c"),
        (5, "a b"),
        (6, "a b c d e f g h i j"),
    ]
    k, w = 3, 4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict = {}
    for r in dedup.winnow_fingerprints(df, k, w).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    exp: dict = {}
    for i, t in rows:
        toks = t.split()
        if len(toks) < k:
            continue
        hs = [h60(" ".join(toks[j : j + k])) for j in range(len(toks) - k + 1)]
        exp[i] = {
            min(hs[p : p + w]) for p in range(max(len(hs) - w, 0) + 1)
        }
    assert got == exp


def test_winnow_guarantee_shared_run(spark):
    """The winnowing guarantee: two docs sharing a run of >= w + k - 1
    tokens MUST share at least one fingerprint, wherever the run sits
    and whatever surrounds it (position robustness — the property
    plain shingle sampling lacks)."""
    from sparksync.ext import dedup

    run = "r1 r2 r3 r4 r5 r6"  # w + k - 1 = 6 tokens
    rows = [
        (1, f"{run} tail1 tail2 tail3"),
        (2, f"lead1 lead2 lead3 lead4 lead5 lead6 lead7 {run}"),
        (3, "none of these tokens overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.d1, r.d2)
        for r in dedup.winnow_overlap_pairs(df, 3, 4, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_overlap_max_df_precision(spark):
    """max_df prunes hot fingerprints from the JOIN side only: every
    emitted pair survives with n_shared <= its uncapped value (the
    precision-1.0 contract), and the cap warns when it binds."""
    import pytest as pt

    from sparksync.ext import dedup

    # one boilerplate sentence in every doc + a genuine near-dup pair
    boiler = "subscribe to our newsletter for updates today"
    rows = [(i, f"{boiler} doc{i} filler{i}") for i in range(1, 7)] + [
        (7, "u1 u2 u3 u4 u5 u6 u7 u8"),
        (8, "u1 u2 u3 u4 u5 u6 u7 u9"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.d1, r.d2): r.n_shared
        for r in dedup.winnow_overlap_pairs(df, 3, 4, min_shared=1).collect()
    }
    with pt.warns(UserWarning, match="pruned"):
        capped = {
            (r.d1, r.d2): r.n_shared
            for r in dedup.winnow_overlap_pairs(
                df, 3, 4, min_shared=1, max_df=3
            ).collect()
        }
    assert set(capped) <= set(exact)
    for p, n in capped.items():
        assert n <= exact[p]
    assert (7, 8) in capped  # the genuine pair's fps are not boilerplate


def test_winnow_overlap_limit_two_phase(docs):
    """limit=N returns exactly the N top pairs by (n_shared desc, d1,
    d2) — same set as sorting the unlimited output — via the salted
    two-phase window (no global sort of the full pair set)."""
    from sparksync.ext import dedup

    full = sorted(
        (
            (-r.n_shared, r.d1, r.d2)
            for r in dedup.winnow_overlap_pairs(docs, min_shared=2).collect()
        )
    )[:10]
    lim = [
        (-r.n_shared, r.d1, r.d2)
        for r in dedup.winnow_overlap_pairs(docs, min_shared=2, limit=10)
        .orderBy(F.desc("n_shared"), "d1", "d2")
        .collect()
    ]
    assert lim == full


def test_winnow_guarantee_randomized(spark):
    """Randomized (seeded) winnowing-guarantee sweep in ONE Spark job:
    40 doc pairs with a shared run of exactly w + k - 1 random tokens
    planted at random offsets inside otherwise-disjoint random text —
    every pair must share >= 1 fingerprint, whatever the surroundings.
    Also the contrapositive sanity: token-disjoint docs share none."""
    import random

    from sparksync.ext import dedup

    rng = random.Random(90210)
    k, w = 3, 4
    rows = []
    want_pairs = []
    for p in range(40):
        run = [f"p{p}r{j}" for j in range(w + k - 1)]
        for side in (0, 1):
            did = p * 2 + side + 1
            n_lead = rng.randint(0, 8)
            n_tail = rng.randint(0, 8)
            toks = (
                [f"d{did}x{j}" for j in range(n_lead)]
                + run
                + [f"d{did}y{j}" for j in range(n_tail)]
            )
            rows.append((did, " ".join(toks)))
        want_pairs.append((p * 2 + 1, p * 2 + 2))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.d1, r.d2)
        for r in dedup.winnow_overlap_pairs(df, k, w, min_shared=1).collect()
    }
    for pair in want_pairs:
        assert pair in got, f"guarantee violated for {pair}"
    # disjoint-vocabulary docs never pair: every OTHER pairing shares
    # only its planted run partner
    assert got == set(want_pairs)


def test_shared_run_pairs_matches_python(spark):
    """shared_run_pairs equals a brute-force pure-Python longest
    common substring (token-level) scan on constructed docs covering
    the tricky shapes: a run longer than one k-gram, TWO disjoint
    runs in the same pair (n_runs=2), repeated grams inside one doc
    (multiple diagonals must not merge streaks), and a shared k-gram
    island shorter than min_run (excluded)."""
    from sparksync.ext import dedup as dd

    def brute_runs(t1, t2, k, min_run):
        a, b = t1.split(), t2.split()
        # all maximal shared runs via diagonal walk
        runs = []
        for d in range(-len(b), len(a) + 1):
            i, streak = max(0, d), 0
            while i < len(a) and i - d < len(b):
                if a[i] == b[i - d]:
                    streak += 1
                else:
                    if streak >= min_run:
                        runs.append(streak)
                    streak = 0
                i += 1
            if streak >= min_run:
                runs.append(streak)
        return (max(runs), len(runs)) if runs else None

    docs = [
        (1, "a b c d e f g h i j X k l m n o p q r s"),
        # doc 2: shares two disjoint runs with doc 1 (a..j = 10,
        # l..s = 8? make both >= min_run=8): a-j (10 tokens) and
        # k l m n o p q r s (9 tokens, note doc1 has X before k)
        (2, "a b c d e f g h i j Z Z k l m n o p q r s"),
        # doc 3: repeated block inside itself + shares a short island
        (3, "a b c d e a b c d e f g h i j"),
        # doc 4: shares only 6 tokens with doc 1 (< min_run=8)
        (4, "m n o p q r 1 2 3 4 5 6 7 8"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "d1 long, d2 long"
    )
    got = {
        (r.d1, r.d2): (r.longest_run, r.n_runs)
        for r in dd.shared_run_pairs(
            df, pairs, k=3, min_run=8
        ).collect()
    }
    want = {}
    texts = dict(docs)
    for d1, d2 in [(1, 2), (1, 3), (1, 4), (2, 3)]:
        br = brute_runs(texts[d1], texts[d2], 3, 8)
        if br:
            want[(d1, d2)] = br
    assert got == want and (1, 2) in got
    assert got[(1, 2)][1] == 2  # two disjoint runs
    assert (1, 4) not in got    # 6-token island < min_run


def test_shared_run_pairs_requires_k_window(spark):
    """Runs shorter than k produce no shared k-gram and are invisible
    by construction — min_run < k is a contract error the caller
    should catch via the winnowing guarantee (min_run >= w+k-1), and
    a run of EXACTLY k tokens is one gram = streak 1 = k tokens."""
    from sparksync.ext import dedup as dd

    df = spark.createDataFrame(
        [(1, "p q r s t u v w"), (2, "x y p q r z w v")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    got = dd.shared_run_pairs(df, pairs, k=3, min_run=3).collect()
    assert [(r.longest_run, r.n_runs) for r in got] == [(3, 1)]


def test_shared_run_degenerate_doc_guard(spark):
    """max_gram_freq (the max_df discipline for the run engine): two
    pathologically repetitive docs would otherwise cost
    occ(d1,h) x occ(d2,h) = O(len^2) match rows per gram hash. The
    guard prunes the degenerate (doc, gram) groups with a warning —
    the pair completes instantly and reports NO runs (repetition is
    repetition_stats' territory, not the run detector's), while a
    normal doc pair in the same corpus is untouched and a capless run
    on normal docs returns identical results."""
    import warnings as _w

    from sparksync.ext import dedup as dd

    degen = " ".join(["spam"] * 3000)
    normal1 = " ".join(f"t{i}" for i in range(40))
    normal2 = "x y " + " ".join(f"t{i}" for i in range(40)) + " z"
    df = spark.createDataFrame(
        [(1, degen), (2, degen), (3, normal1), (4, normal2)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "d1 long, d2 long")

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = {
            (r.d1, r.d2): (r.longest_run, r.n_runs)
            for r in dd.shared_run_pairs(
                df, pairs, k=3, min_run=8
            ).collect()
        }
    assert any("max_gram_freq" in str(w.message) for w in rec)
    # the degenerate pair is invisible; the normal 40-token run is
    # found exactly, unaffected by the cap
    assert got == {(3, 4): (40, 1)}
    # capless on the normal pair only: identical result
    uncapped = {
        (r.d1, r.d2): (r.longest_run, r.n_runs)
        for r in dd.shared_run_pairs(
            df,
            spark.createDataFrame([(3, 4)], "d1 long, d2 long"),
            k=3,
            min_run=8,
            max_gram_freq=None,
        ).collect()
    }
    assert uncapped == {(3, 4): (40, 1)}
    # trim shares the guard: the degenerate victim is left alone,
    # the normal victim loses exactly the shared 40 tokens
    trimmed = {
        r.doc_id: r.n_trimmed
        for r in dd.trim_shared_runs(df, pairs, k=3, min_run=8).collect()
    }
    assert trimmed == {1: 0, 2: 0, 3: 0, 4: 40}


def test_decontaminate_runs_cross_only_and_python_parity(spark):
    """decontaminate_runs flags ONLY (benchmark, train) overlaps:
    two identical TRAIN docs must not pair (that's dedup's job, and a
    bench x bench pair would be nonsense), run lengths equal the
    brute-force longest-common-run scan, min_shared=1 catches a pair
    sharing exactly one minimal qualifying run, and id namespaces
    can overlap (bench 1 and train 1 are different documents)."""
    from sparksync.ext import dedup as dd

    bench = spark.createDataFrame(
        [
            (1, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 tail1"),
            (2, "c1 c2 c3 c4 c5"),  # too short to contaminate anything
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains bench-1's 12-token run verbatim (exactly min_run)
            (1, "x1 x2 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 y1"),
            # identical twin of train doc 1 — must NOT appear paired
            # with it (cross-only), but contaminates bench 1 equally
            (7, "x1 x2 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 y1"),
            (9, "clean doc nothing shared here at all ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.bench_id, r.doc_id): (r.longest_run, r.n_runs)
        for r in dd.decontaminate_runs(
            train, bench, k=5, w=8, min_shared=1, min_run=12
        ).collect()
    }
    assert got == {(1, 1): (12, 1), (1, 7): (12, 1)}


def test_trim_shared_runs_matches_python(spark):
    """trim_shared_runs equals a pure-Python replay of the rule on
    constructed docs: the higher-id copy loses each shared run,
    OVERLAPPING victim spans merge (two runs sharing tokens must not
    double-count n_trimmed), docs with both roles (d1 in one pair, d2
    in another) keep where they're the smaller id and lose where
    they're the bigger, and empty/short/untouched docs pass through
    with n_trimmed=0."""
    from sparksync.ext import dedup as dd

    texts = {
        1: "a b c d e f g h i j k l",
        # shares a..l with doc 1 (loses it) AND m..t with doc 3 as the
        # SMALLER id (keeps it)
        2: "a b c d e f g h i j k l m1 m n o p q r s t",
        3: "z1 z2 m n o p q r s t z3",
        # overlapping victim spans: positions 2..13 (from doc 1's
        # a..l) and 8..19 overlap if doc 4 repeats i..l then a..d...
        # simpler: doc 4 carries a..l twice back to back sharing no
        # overlap, plus a short 5-token island from doc 1 (< min_run)
        4: "y1 a b c d e f g h i j k l a b c d e f g h i j k l y2",
        5: "",
        6: "lonely",
    }
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4)], "d1 long, d2 long"
    )
    k, min_run = 3, 8

    def brute_spans(victim, owner):
        a, b = texts[owner].split(), texts[victim].split()
        spans = []
        for d in range(-len(a), len(b) + 1):
            j, streak = max(0, d), 0
            while j < len(b) and j - d < len(a):
                if b[j] == a[j - d]:
                    streak += 1
                else:
                    if streak >= min_run:
                        spans.append((j - streak, j - 1))
                    streak = 0
                j += 1
            if streak >= min_run:
                spans.append((j - streak, j - 1))
        return spans

    cut = {i: [] for i in texts}
    for d1, d2 in [(1, 2), (2, 3), (1, 4)]:
        cut[d2] += brute_spans(d2, d1)
    want = {}
    for i, t in texts.items():
        ts = t.split()
        keep = [
            tok
            for p, tok in enumerate(ts)
            if not any(s <= p <= e for s, e in cut[i])
        ]
        want[i] = (len(ts), len(ts) - len(keep), " ".join(keep))

    got = {
        r.doc_id: (r.n_tokens, r.n_trimmed, r.new_text)
        for r in dd.trim_shared_runs(
            df, pairs, k=k, min_run=min_run
        ).collect()
    }
    assert got == want
    assert got[2][1] == 12  # lost a..l, kept m..t (smaller id vs 3)
    assert got[3][1] == 8   # lost m..t to doc 2
    assert got[4][1] == 24  # both copies of a..l cut
    assert got[5] == (0, 0, "") and got[6] == (1, 0, "lonely")


def test_lm_target_affinity_fixed_matches_reference(spark):
    """mode='fixed' (the q202 gate) replays a pure-Python DSIR-style
    two-model computation bit-for-bit: shared capped vocab, raw counts
    = all docs, target counts = flagged docs, per-bigram fixed-point
    reciprocal-likelihood difference."""
    from collections import Counter

    from sparksync.ext import textops

    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "en", "the cat sat on the rug"),
        (3, "en", "the dog sat on the mat"),
        (4, "de", "der hund sitzt auf der matte"),
        (5, "de", "die katze sitzt auf dem teppich"),
        (6, "de", "the cat sat on der matte"),
    ]
    V, S = 8, 1 << 20
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (r.is_target, r.n_bigrams, r.target_affinity)
        for r in textops.lm_target_affinity(
            df, F.col("lang") == "en", vocab_k=V, mode="fixed", limit=10
        ).collect()
    }
    docs = {i: t.split() for i, _, t in rows}
    tgt = {i: g == "en" for i, g, _ in rows}
    uni = Counter(t for ts in docs.values() for t in ts)
    vocab = set(sorted(uni, key=lambda t: (-uni[t], t))[:V])
    mapped = {
        i: [t if t in vocab else "<unk>" for t in ts] for i, ts in docs.items()
    }
    c12r: Counter = Counter()
    c12t: Counter = Counter()
    for i, ts in mapped.items():
        for pair in zip(ts, ts[1:]):
            c12r[pair] += 1
            if tgt[i]:
                c12t[pair] += 1
    c1r: Counter = Counter()
    c1t: Counter = Counter()
    for (w1, _), c in c12r.items():
        c1r[w1] += c
    for (w1, _), c in c12t.items():
        c1t[w1] += c
    veff = len(vocab) + 1
    for i, ts in mapped.items():
        n = len(ts) - 1
        sfp = sum(
            (((c1r[w1] + veff) * S) // (c12r[(w1, w2)] + 1))
            - (((c1t[w1] + veff) * S) // (c12t[(w1, w2)] + 1))
            for w1, w2 in zip(ts, ts[1:])
        )
        assert got[i] == (tgt[i], n, sfp / (n * S)), i
    # the separation the operator exists for: every target-language
    # doc outscores every pure other-language doc; the mixed doc sits
    # strictly between the two blocks
    en = [got[i][2] for i in (1, 2, 3)]
    de = [got[i][2] for i in (4, 5)]
    assert min(en) > got[6][2] > max(de)


def test_lm_target_affinity_ln_is_dsir_weight(spark):
    """mode='ln' (production) equals exp(mean ln(p_t/p_r)) — the
    length-normalized DSIR importance weight — to relative tolerance,
    and ranks docs identically to the fixed-point gate on clearly
    separated inputs."""
    import math
    from collections import Counter

    from sparksync.ext import textops

    rows = [
        (1, "en", "the cat sat on the mat"),
        (2, "de", "der hund sitzt auf der matte"),
        (3, "en", "the dog sat on the mat"),
    ]
    V = 6
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: r.target_affinity
        for r in textops.lm_target_affinity(
            df, F.col("lang") == "en", vocab_k=V, mode="ln", limit=10
        ).collect()
    }
    docs = {i: t.split() for i, _, t in rows}
    tgt = {i: g == "en" for i, g, _ in rows}
    uni = Counter(t for ts in docs.values() for t in ts)
    vocab = set(sorted(uni, key=lambda t: (-uni[t], t))[:V])
    mapped = {
        i: [t if t in vocab else "<unk>" for t in ts] for i, ts in docs.items()
    }
    c12r: Counter = Counter()
    c12t: Counter = Counter()
    for i, ts in mapped.items():
        for pair in zip(ts, ts[1:]):
            c12r[pair] += 1
            if tgt[i]:
                c12t[pair] += 1
    c1r: Counter = Counter()
    c1t: Counter = Counter()
    for (w1, _), c in c12r.items():
        c1r[w1] += c
    for (w1, _), c in c12t.items():
        c1t[w1] += c
    veff = len(vocab) + 1
    for i, ts in mapped.items():
        s = sum(
            math.log((c12t[(w1, w2)] + 1) / (c1t[w1] + veff))
            - math.log((c12r[(w1, w2)] + 1) / (c1r[w1] + veff))
            for w1, w2 in zip(ts, ts[1:])
        )
        w = math.exp(s / (len(ts) - 1))
        assert abs(got[i] - w) / w < 1e-9, (i, got[i], w)
    assert got[1] > got[2] and got[3] > got[2]


def test_lm_target_affinity_bad_mode(spark):
    import pytest as pt

    from sparksync.ext import textops

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pt.raises(ValueError, match="unknown mode"):
        textops.lm_target_affinity(df, F.lit(True), mode="ratio")


def test_lm_and_winnow_giant_doc_stress(spark):
    """The skew point of both LM scoring and winnowing is the per-doc
    window (one doc = one task): a 50k-token document — orders of
    magnitude past the corpus median — must flow through both
    operators with exact per-doc accounting, alongside a normal
    corpus. (The model/vocab stages are doc-size-free: counts with
    map-side combine.)"""
    import random

    from sparksync.ext import dedup, textops

    rng = random.Random(424242)
    giant = " ".join(rng.choice("aa bb cc dd ee ff gg hh".split())
                     for _ in range(50_000))
    rows = [(0, giant)] + [
        (i, f"w{i} x{i} y{i} z{i} w{i} x{i}") for i in range(1, 201)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    out = {
        r.doc_id: r
        for r in textops.ngram_lm_score(
            df, vocab_k=8, mode="fixed", limit=300
        ).collect()
    }
    assert out[0].n_tokens == 50_000 and out[0].n_bigrams == 49_999
    assert out[0].n_unk == 0   # its 8 types fill the top-8 exactly
    assert len(out) == 201
    # per-doc rare tokens all collapse to <unk> -> bounded model
    assert all(out[i].n_unk == out[i].n_tokens for i in range(1, 201))

    fps = dedup.winnow_fingerprints(df, k=3, w=4)
    n_giant = fps.where(F.col("doc_id") == 0).count()
    # winnowing density: expected ~2/(w+1) SELECTIONS per position,
    # but over a tiny 8-token alphabet the distinct-hash count
    # saturates far lower; the bound that matters is that the
    # fingerprint SET stays a small fraction of positions
    assert 0 < n_giant < 50_000 * 2 / (4 + 1)


def test_lm_target_affinity_empty_target_degenerates(spark):
    """With NO doc matching the target predicate the target model is
    all-smoothing: every bigram's p_t = 1/(c1_t=0 + V_eff), so the
    affinity must be finite, computed, and <= 0 in fixed mode (the
    raw model can only predict better than pure smoothing)."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i + 1) % 5} tok{(i + 2) % 5}") for i in range(30)],
        "doc_id long, text string",
    )
    rows = textops.lm_target_affinity(
        df, F.lit(False), vocab_k=8, mode="fixed", limit=50
    ).collect()
    assert len(rows) == 30
    for r in rows:
        assert not r.is_target
        assert r.target_affinity <= 0.0


def test_lm_score_against_model_self_consistency(docs):
    """Scoring a corpus against a model built FROM that corpus with
    the same frozen vocab reproduces ngram_lm_score bit-for-bit in
    fixed mode — the external-model path and the self-trained path
    are the same math, so a drained streaming model can never score
    differently from the batch scorer."""
    from collections import Counter

    from sparksync.ext import textops

    uni: Counter = Counter()
    for r in docs.select("text").collect():
        uni.update(t for t in r.text.split() if t)
    vocab = sorted(uni, key=lambda t: (-uni[t], t))[:512]
    counts = textops.lm_bigram_counts(docs, vocab)
    ext = {
        tuple(r)
        for r in textops.lm_score_against_model(
            docs, counts, vocab, mode="fixed"
        ).collect()
    }
    self_trained = {
        tuple(r)
        for r in textops.ngram_lm_score(docs, mode="fixed").collect()
    }
    assert ext == self_trained and len(ext) == 20


def test_lm_score_against_model_held_out_drift(spark):
    """The drift-monitor shape: docs full of bigrams the model never
    saw (left-join zero-fill + add-one smoothing) score finite and
    strictly MORE surprising than in-distribution docs."""
    from sparksync.ext import textops

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta alpha beta") for i in range(10)],
        "doc_id long, text string",
    )
    vocab = ["alpha", "beta", "delta", "gamma"]
    counts = textops.lm_bigram_counts(train, vocab)
    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta alpha beta"),   # in-distribution
         (101, "zz qq rr ss tt uu")],                  # all-unseen
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lm_surprisal
        for r in textops.lm_score_against_model(
            probe, counts, vocab, mode="fixed", limit=10
        ).collect()
    }
    assert got[101] > got[100] > 0
    ppl = {
        r.doc_id: r.lm_surprisal
        for r in textops.lm_score_against_model(
            probe, counts, vocab, mode="ln", limit=10
        ).collect()
    }
    assert ppl[101] > ppl[100] >= 1.0


def test_lm_score_against_model_dedupes_vocab(spark, monkeypatch):
    """A vocab with one token listed twice scores exactly like the
    clean list on both mapping paths: duplicates must neither inflate
    V_eff nor, on the broadcast-join path, multiply bigram rows."""
    from sparksync.ext import textops

    train = spark.createDataFrame(
        [(i, "alpha beta gamma delta alpha beta") for i in range(10)],
        "doc_id long, text string",
    )
    vocab = ["alpha", "beta", "delta", "gamma"]
    counts = textops.lm_bigram_counts(train, vocab)
    probe = spark.createDataFrame(
        [(100, "alpha beta gamma delta alpha beta"),
         (101, "beta zz beta alpha qq")],
        "doc_id long, text string",
    )

    def score(v):
        return {
            tuple(r)
            for r in textops.lm_score_against_model(
                probe, counts, v, mode="fixed", limit=10
            ).collect()
        }

    for threshold in (textops.LM_VOCAB_JOIN_THRESHOLD, 0):
        monkeypatch.setattr(textops, "LM_VOCAB_JOIN_THRESHOLD", threshold)
        clean = score(vocab)
        assert len(clean) == 2, threshold
        assert score(vocab[:2] + ["beta"] + vocab[2:]) == clean, threshold


def test_lm_score_against_model_rejects_unk_in_vocab(spark):
    """'<unk>' is the out-of-vocabulary sentinel: a vocab that lists it
    literally would merge real '<unk>' tokens with unknown ones in the
    model lookup and in n_unk, so the entry contract refuses it."""
    from sparksync.ext import textops

    docs = spark.createDataFrame(
        [(1, "alpha beta <unk> alpha")], "doc_id long, text string"
    )
    counts = textops.lm_bigram_counts(docs, ["alpha", "beta"])
    with pytest.raises(ValueError, match="<unk>"):
        textops.lm_score_against_model(docs, counts, ["alpha", "<unk>", "beta"])


def test_lm_score_against_model_branch_parity_large_vocab(docs, monkeypatch):
    """Round 16: the large-vocab (broadcast-join) branch derives
    (n_tokens, n_unk) from the fused bigram types + a last-token
    membership join instead of a second full tokenize+explode corpus
    pass. Both branches must emit ROW-IDENTICAL output for the same
    >threshold vocabulary (mode='fixed' is exact int64 arithmetic, so
    set equality is bit equality); padding the vocab with tokens that
    never occur exercises the join-miss '<unk>' mapping and keeps the
    real mapping identical across branches. One real token is dropped
    from the vocab so unk rows exist mid-doc AND at doc ends."""
    from collections import Counter

    from sparksync.ext import textops

    uni: Counter = Counter()
    for r in docs.select("text").collect():
        uni.update(t for t in r.text.split() if t)
    real = sorted(uni, key=lambda t: (-uni[t], t))
    vocab = real[:-1] + [
        f"__pad{i}__"
        for i in range(textops.LM_VOCAB_JOIN_THRESHOLD + 8 - (len(real) - 1))
    ]
    assert len(vocab) > textops.LM_VOCAB_JOIN_THRESHOLD

    counts = textops.lm_bigram_counts(docs, vocab)
    big = {
        tuple(r)
        for r in textops.lm_score_against_model(
            docs, counts, vocab, mode="fixed", limit=50
        ).collect()
    }
    monkeypatch.setattr(
        textops, "LM_VOCAB_JOIN_THRESHOLD", len(vocab) + 1
    )
    small = {
        tuple(r)
        for r in textops.lm_score_against_model(
            docs, counts, vocab, mode="fixed", limit=50
        ).collect()
    }
    assert big == small and len(big) > 0
    # the fused stats must include unk evidence (the dropped real
    # token occurs somewhere) or the case proves nothing
    assert any(r[2] > 0 for r in big)  # n_unk column


def test_lm_score_against_model_seen_context_unseen_bigram(spark):
    """The LEFT join's distinguishing case: a NOVEL continuation of a
    FREQUENT in-vocab context. c1(w) must come from the context table
    joined on w ALONE — riding it on the (w, w2) model row zero-fills
    it for unseen bigrams, turning p into 1/V_eff instead of
    1/(c1+V_eff) and under-reporting exactly the drift signal this
    monitor exists to catch. Asserted bit-for-bit against a pure-
    Python replay of the fixed-point math."""
    from sparksync.ext import textops

    train = spark.createDataFrame(
        [(0, "a b a b")], "doc_id long, text string"
    )
    vocab = ["a", "b"]
    counts = textops.lm_bigram_counts(train, vocab)
    # model: c12(a,b)=2, c12(b,a)=1 -> c1(a)=2, c1(b)=1; V_eff=3
    c12 = {(r.w, r.w2): r.cnt for r in counts.collect()}
    assert c12 == {("a", "b"): 2, ("b", "a"): 1}

    def replay(text: str, scale_bits: int = 20) -> float:
        toks = text.split()
        c1 = {"a": 2, "b": 1}
        veff = len(vocab) + 1
        total = nb = 0
        for w, w2 in zip(toks, toks[1:]):
            total += ((c1.get(w, 0) + veff) << scale_bits) // (
                c12.get((w, w2), 0) + 1
            )
            nb += 1
        return total / (nb << scale_bits)

    probe = spark.createDataFrame(
        [(1, "a a"),        # (a,a): unseen bigram, SEEN context a
         (2, "a a b a"),    # mix of unseen (a,a) and seen (a,b),(b,a)
         (3, "zz a b zz")], # unseen context edges around a seen bigram
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lm_surprisal
        for r in textops.lm_score_against_model(
            probe, counts, vocab, mode="fixed", limit=10
        ).collect()
    }
    # doc 1 is the regression pin: ((2+3)<<20)//(0+1) -> 5.0 exactly,
    # NOT the zero-filled 3.0
    assert got[1] == 5.0
    assert got[1] == replay("a a")
    assert got[2] == replay("a a b a")
    # zz maps to <unk>: genuinely-unseen context stays zero-filled
    assert got[3] == replay("<unk> a b <unk>")


def test_lm_fixed_vs_ln_mode_relationship(spark, docs):
    """VERDICT r9 #6 asked for top-k ID-set agreement between
    mode='fixed' (the oracle-checked gate) and mode='ln' (production)
    — MEASURED, that premise is FALSE: fixed is the arithmetic mean of
    per-bigram reciprocal likelihoods, ln the geometric mean, and
    AM vs GM are different summaries, not monotone transforms of each
    other (top-20 overlap on the sf0.01 fixture: q200 7, q202 15,
    q203 9 of 20 — a doc with one extreme bigram dominates the AM far
    more than the GM). What IS provable and tested here: (a) the
    AM-GM inequality per doc — ln surprisal <= fixed surprisal for
    EVERY document, both scorers, since both summarize the same
    positive 1/p values (the fixed-point floor-div undershoots by
    < 2^-20, covered by the epsilon); (b) equality exactly when the
    per-bigram probabilities are uniform (synthetic single-bigram-type
    doc); (c) a documented overlap floor so silent future divergence
    (a real mode bug, not the AM/GM gap) still fails loudly."""
    from collections import Counter

    from sparksync.ext import textops

    n_docs = docs.count()

    def by_id(df):
        return {r.doc_id: r.lm_surprisal for r in df.collect()}

    fx = by_id(textops.ngram_lm_score(docs, mode="fixed", limit=n_docs))
    ln = by_id(textops.ngram_lm_score(docs, mode="ln", limit=n_docs))
    assert set(fx) == set(ln) and len(fx) > 0
    for d in fx:
        assert ln[d] <= fx[d] + 1e-5, (d, ln[d], fx[d])

    train = docs.where(F.col("source") != "src0")
    uni: Counter = Counter()
    for r in train.select("text").collect():
        uni.update(t for t in r.text.split() if t)
    vocab = sorted(uni, key=lambda t: (-uni[t], t))[:512]
    counts = textops.lm_bigram_counts(train, vocab)
    fx = by_id(
        textops.lm_score_against_model(
            docs, counts, vocab, mode="fixed", limit=n_docs
        )
    )
    ln = by_id(
        textops.lm_score_against_model(
            docs, counts, vocab, mode="ln", limit=n_docs
        )
    )
    assert set(fx) == set(ln) and len(fx) > 0
    for d in fx:
        assert ln[d] <= fx[d] + 1e-5, (d, ln[d], fx[d])

    # uniform per-bigram probabilities -> AM == GM exactly: one
    # repeated bigram type means every term is the same 1/p
    one = spark.createDataFrame(
        [(0, "a a a a a")], "doc_id long, text string"
    )
    fx1 = textops.lm_score_against_model(
        one, counts, vocab, mode="fixed", limit=5
    ).collect()[0]
    ln1 = textops.lm_score_against_model(
        one, counts, vocab, mode="ln", limit=5
    ).collect()[0]
    assert abs(fx1.lm_surprisal - ln1.lm_surprisal) < 1e-6

    # overlap floors (measured 7/15/9 at sf0.01): the modes are
    # correlated summaries; a collapse below these floors means a mode
    # broke, not that AM and GM drifted
    def ids(df):
        return {r.doc_id for r in df.collect()}

    assert (
        len(
            ids(textops.ngram_lm_score(docs, mode="fixed"))
            & ids(textops.ngram_lm_score(docs, mode="ln"))
        )
        >= 5
    )
    assert (
        len(
            ids(
                textops.lm_target_affinity(
                    docs, F.col("lang") == "en", mode="fixed"
                )
            )
            & ids(
                textops.lm_target_affinity(
                    docs, F.col("lang") == "en", mode="ln"
                )
            )
        )
        >= 10
    )


def test_lm_bigram_counts_vocab_mapping_auto_switch(spark, docs):
    """VERDICT r9 #3: above LM_VOCAB_JOIN_THRESHOLD the '<unk>'
    mapping flips from the literal-array scan to broadcast hash joins
    (O(1) probes per token instead of O(|vocab|) comparisons). Both
    shapes must produce identical counts — proven against a pure-
    Python replay on the same vocab — and the plan must actually
    switch (BroadcastHashJoin present above the threshold, absent
    below)."""
    from collections import Counter

    from sparksync.ext import textops

    uni: Counter = Counter()
    for r in docs.select("text").collect():
        uni.update(t for t in r.text.split() if t)
    real = sorted(uni, key=lambda t: (-uni[t], t))[:64]
    # pad past the threshold with tokens that never occur: the mapping
    # outcome is identical, so the two plan shapes must agree exactly
    big_vocab = real + [
        f"__pad{i}__"
        for i in range(textops.LM_VOCAB_JOIN_THRESHOLD + 8 - len(real))
    ]
    assert len(big_vocab) > textops.LM_VOCAB_JOIN_THRESHOLD

    small = textops.lm_bigram_counts(docs, real)
    big = textops.lm_bigram_counts(docs, big_vocab)
    assert (
        "BroadcastHashJoin"
        not in small._jdf.queryExecution().sparkPlan().toString()
    )
    assert (
        "BroadcastHashJoin"
        in big._jdf.queryExecution().sparkPlan().toString()
    )

    vs = set(real)
    want: Counter = Counter()
    for r in docs.select("text").collect():
        ts = [t if t in vs else "<unk>" for t in r.text.split() if t]
        if len(ts) >= 2:
            want.update(zip(ts, ts[1:]))
    got_small = {(r.w, r.w2): r.cnt for r in small.collect()}
    got_big = {(r.w, r.w2): r.cnt for r in big.collect()}
    assert got_small == got_big == dict(want) and len(want) > 0

    # the scorer shares the switch: above the threshold its mapping
    # and scoring must replay bit-for-bit against pure Python (veff
    # rides the vocab LENGTH, so the small-vocab run is not comparable
    # — the replay is the ground truth here)
    n_docs = docs.count()
    got = {
        r.doc_id: (r.n_tokens, r.n_unk, r.n_bigrams, r.lm_surprisal)
        for r in textops.lm_score_against_model(
            docs, big, big_vocab, mode="fixed", limit=n_docs
        ).collect()
    }
    c12 = {(r.w, r.w2): r.cnt for r in big.collect()}
    c1: Counter = Counter()
    for (w, _), c in c12.items():
        c1[w] += c
    veff = len(big_vocab) + 1
    scale = 1 << 20
    want2 = {}
    for r in docs.select("doc_id", "text").collect():
        ts = [t for t in r.text.split() if t]
        if len(ts) < 2:
            continue
        ms = [t if t in vs else "<unk>" for t in ts]
        total = 0
        for w, w2 in zip(ms, ms[1:]):
            total += ((c1.get(w, 0) + veff) * scale) // (
                c12.get((w, w2), 0) + 1
            )
        nb = len(ms) - 1
        want2[r.doc_id] = (
            len(ms),
            sum(1 for t in ms if t == "<unk>"),
            nb,
            total / (nb * scale),
        )
    assert got == want2 and len(got) > 0


def test_lm_vocab_census_matches_python(docs):
    """The frozen-vocabulary census equals a pure-Python census over
    the same population (docs with >= 2 tokens — bigram evidence),
    ranks by (freq desc, token asc), and is deterministic under
    repartitioning (the salted two-phase top-k is a total order)."""
    from collections import Counter

    from sparksync.ext import textops

    uni: Counter = Counter()
    for r in docs.select("text").collect():
        ts = [t for t in r.text.split() if t]
        if len(ts) >= 2:
            uni.update(ts)
    want = sorted(uni, key=lambda t: (-uni[t], t))[:64]
    got = [
        (r.tok, r.freq)
        for r in textops.lm_vocab_census(docs, vocab_k=64)
        .orderBy("rnk")
        .collect()
    ]
    assert [t for t, _ in got] == want
    assert all(f == uni[t] for t, f in got)
    again = [
        r.tok
        for r in textops.lm_vocab_census(docs.repartition(13), vocab_k=64)
        .orderBy("rnk")
        .collect()
    ]
    assert again == want


def test_run_oracles_mirror_gram_cap(spark, tmp_path):
    """ADVICE r10 #1: the q205/q206/q207 DuckDB oracles must share
    _run_streaks' max_gram_freq=64 degenerate-doc cap, or a corpus
    document repeating one k-gram >64 times diverges the gate. This
    crafts exactly that corpus — a degenerate twin pair (196
    occurrences of the same 5-gram each) plus a normal 40-token
    shared run and a planted bench/train contamination — writes it as
    a documents.parquet fixture dir, and asserts the registered gate
    query and its oracle agree row-for-row on BOTH q205 and q207.
    Without the oracle-side cap the degenerate pair appears in the
    oracle only (run length 200) and this test fails."""
    import duckdb as _duckdb

    from sparksync import queries as Q

    run = " ".join(f"r{i}" for i in range(40))
    rows = [
        (1, " ".join(["spam"] * 200), "en", "src0", 0),
        (2, " ".join(["spam"] * 200), "en", "src1", 0),
        (3, "a1 a2 " + run + " a3", "en", "src1", 0),
        (4, "z9 " + run + " z8 z7", "en", "src2", 0),
        # bench doc sharing a 20-token verbatim run with docs 3 and 4
        (5, " ".join(f"r{i}" for i in range(20)), "en", "src0", 0),
    ]
    pdf = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).toPandas()
    d = str(tmp_path)
    con = _duckdb.connect()
    con.register("docs_pdf", pdf)
    con.execute(
        f"copy (select * from docs_pdf order by doc_id) to '{d}/documents.parquet'"
    )
    con.execute(
        f"create view documents as select * from '{d}/documents.parquet'"
    )
    import warnings as _w

    for qname in (
        "q205_shared_runs",
        "q207_decontaminate",
        "q208_decontaminate_trim",
        "q209_self_trim_repeats",
    ):
        with _w.catch_warnings():
            # the degenerate pair MUST trip the engine's cap warning;
            # swallow it so the parity assert is the test's verdict
            _w.simplefilter("ignore")
            got = sorted(
                tuple(r) for r in Q.QUERIES[qname](spark, d).collect()
            )
        want = sorted(tuple(r) for r in con.sql(Q.ORACLES[qname]).fetchall())
        assert got == want, (qname, got, want)
        assert got, qname  # the planted normal runs are found
        if qname == "q208_decontaminate_trim":
            # the removal form: the degenerate TRAIN twin passes
            # through UNTRIMMED in both engines (its grams are capped
            # out of the match join on both sides)
            trims = {r[0]: r[2] for r in got}
            assert trims[2] == 0, got
        elif qname == "q209_self_trim_repeats":
            # within-doc form: the degenerate docs' self-repeats are
            # capped out in both engines (repetition_stats territory)
            trims = {r[0]: r[2] for r in got}
            assert trims[1] == 0 and trims[2] == 0, got
        else:
            # the degenerate twin pair is pruned from BOTH engines
            flat = {v for t in got for v in t}
            assert 200 not in flat, (qname, got)
    con.close()


def test_decontaminate_runs_preserves_id_dtypes(spark):
    """ADVICE r10 #2: decontaminate_runs namespaces ids through
    'b:'/'t:' strings internally; the output must come back in each
    input's ORIGINAL dtype — string/UUID keys included, not just
    integral ids silently cast to long (which made them NULL)."""
    from sparksync.ext import dedup as dd

    run12 = " ".join(f"b{i}" for i in range(12))
    bench = spark.createDataFrame(
        [("bench-uuid-01", run12 + " tail")],
        "qid string, text string",
    )
    train = spark.createDataFrame(
        [
            ("train-uuid-77", "x1 x2 " + run12 + " y1"),
            ("train-uuid-99", "clean doc nothing shared here at all ok"),
        ],
        "tid string, text string",
    )
    out = dd.decontaminate_runs(
        train, bench, min_run=12, id_col="tid", bench_id_col="qid"
    )
    assert dict(out.dtypes) == {
        "bench_id": "string",
        "tid": "string",
        "longest_run": "bigint",
        "n_runs": "bigint",
    }
    got = {(r.bench_id, r.tid): r.longest_run for r in out.collect()}
    assert got == {("bench-uuid-01", "train-uuid-77"): 12}
    # integral ids still come back integral (the historical contract)
    benchl = spark.createDataFrame([(5, run12 + " tail")], "doc_id long, text string")
    trainl = spark.createDataFrame(
        [(9, "x1 x2 " + run12 + " y1")], "doc_id long, text string"
    )
    outl = dd.decontaminate_runs(trainl, benchl, min_run=12)
    assert dict(outl.dtypes)["bench_id"] == "bigint"
    assert {(r.bench_id, r.doc_id) for r in outl.collect()} == {(5, 9)}


def test_lm_bigram_counts_dedupes_vocab_both_paths(spark, monkeypatch):
    """ADVICE r10 #3: a caller-supplied vocab with duplicates must not
    multiply bigram rows in the large-vocab broadcast-join path (the
    small-vocab array path was immune) — both paths dedupe at entry
    and produce identical counts."""
    from sparksync.ext import textops

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b a b")], "doc_id long, text string"
    )
    vocab = ["a", "b", "a", "b", "a"]  # duplicates on purpose
    want = {
        (r.w, r.w2): r.cnt
        for r in textops.lm_bigram_counts(df, ["a", "b"]).collect()
    }
    arr = {
        (r.w, r.w2): r.cnt
        for r in textops.lm_bigram_counts(df, vocab).collect()
    }
    monkeypatch.setattr(textops, "LM_VOCAB_JOIN_THRESHOLD", 1)
    joined = {
        (r.w, r.w2): r.cnt
        for r in textops.lm_bigram_counts(df, vocab).collect()
    }
    assert arr == want
    assert joined == want


def test_decontaminate_trim_matches_python(spark):
    """decontaminate_trim (X204/q208) equals a pure-Python replay of
    the removal rule on constructed docs: every >= min_run-token
    verbatim benchmark span is cut from the TRAINING copy, spans from
    DIFFERENT benchmark docs island-merge on the victim (overlapping
    quotes never double-trim), untouched docs pass through verbatim
    with n_trimmed=0, and the benchmark side never appears in the
    output. Also: trim_shared_runs is unchanged by the round-11
    _trim_by_spans extraction (regression leg)."""
    from sparksync.ext import dedup as dd

    b1 = [f"b{i}" for i in range(12)]          # bench doc 1's run
    b2 = [f"c{i}" for i in range(14)]          # bench doc 2's run
    bench = spark.createDataFrame(
        [(100, " ".join(b1) + " tailA"), (200, " ".join(b2) + " tailB")],
        "doc_id long, text string",
    )
    # train doc 1: quotes b1 at positions 2..13 and b2 at 10..23 —
    # wait, overlapping islands need overlapping spans: build doc 1 so
    # the two quoted runs OVERLAP via a shared suffix/prefix layout:
    # tokens 0..1 filler, 2..13 = b1, 14..27 = b2 (adjacent, distinct
    # islands), and train doc 2 embeds b1 twice with a 1-token gap so
    # its two spans stay separate islands from the SAME bench doc.
    t1 = ["x0", "x1"] + b1 + b2 + ["y1"]
    t2 = ["z0"] + b1 + ["gap"] + b1
    t3 = ["clean", "doc", "nothing", "shared", "here", "ok"]
    train = spark.createDataFrame(
        [(1, " ".join(t1)), (2, " ".join(t2)), (3, " ".join(t3))],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_trimmed, r.new_text)
        for r in dd.decontaminate_trim(train, bench, min_run=12).collect()
    }
    # pure-Python replay: cut the maximal shared spans
    assert set(out) == {1, 2, 3}  # every train doc, no bench doc
    assert out[1] == (
        len(t1),
        len(b1) + len(b2),
        "x0 x1 y1",
    )
    assert out[2] == (len(t2), 2 * len(b1), "z0 gap")
    assert out[3] == (len(t3), 0, " ".join(t3))
    # adjacent-but-not-overlapping spans in doc 1 merged/not is
    # indistinguishable in token count; force a TRUE overlap: one
    # train doc embedding b2 where a 13-token window of it also
    # repeats, so two runs overlap on the victim
    tov = b2[:13] + ["mid"] + b2  # run A = 0..12 (13 toks), run B = 14..27
    train_ov = spark.createDataFrame(
        [(9, " ".join(tov))], "doc_id long, text string"
    )
    out_ov = {
        r.doc_id: (r.n_trimmed, r.new_text)
        for r in dd.decontaminate_trim(
            train_ov, bench, min_run=12
        ).collect()
    }
    assert out_ov[9] == (len(tov) - 1, "mid")
    # regression leg: trim_shared_runs still trims the higher-id twin
    docs = spark.createDataFrame(
        [(1, " ".join(b1)), (2, " ".join(b1))], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    trimmed = {
        r.doc_id: (r.n_trimmed, r.new_text)
        for r in dd.trim_shared_runs(docs, pairs, min_run=12).collect()
    }
    assert trimmed == {1: (0, " ".join(b1)), 2: (len(b1), "")}


def test_self_trim_repeats_matches_python(spark):
    """self_trim_repeats (X205/q209) on constructed docs: n-fold
    repeats keep exactly the first occurrence, periodic stutter
    collapses to one period, a clean doc passes through verbatim, and
    spans repeated from DIFFERENT earlier positions island-merge."""
    from sparksync.ext import dedup as dd

    run = [f"r{i}" for i in range(10)]
    docs = {
        # 3-fold repeat of a 10-token span with separators
        1: run + ["sep1"] + run + ["sep2"] + run,
        # periodic stutter: 'x y' * 6 -> one period survives
        2: ["x", "y"] * 6,
        # token stutter: 'batch' * 5 -> one token survives
        3: ["batch"] * 5,
        # clean doc
        4: [f"c{i}" for i in range(15)],
        # repeat with the copy OVERLAPPING new content boundaries:
        # first 6 tokens repeat later, last 6 tokens also repeat later,
        # the two victim spans adjacent
        5: run[:6] + ["mid"] + run[:6] + run[4:10] + ["tail"],
    }
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_trimmed, r.new_text)
        for r in dd.self_trim_repeats(df, k=2, min_run=3).collect()
    }
    assert got[1] == (32, 20, " ".join(run) + " sep1 sep2")
    assert got[2] == (12, 10, "x y")
    assert got[3] == (5, 4, "batch")
    assert got[4] == (15, 0, " ".join(docs[4]))
    # doc 5: tokens 7..12 repeat run[:6] (seen at 0..5), tokens
    # 13..18 = run[4:10] — r4 r5 already seen at 4..5 and again at
    # 11..12; the maximal repeated span covers 13..18 only if r4..r9
    # appeared earlier contiguously — r6..r9 did NOT appear earlier,
    # so only the r4 r5 prefix (2 tokens < min_run 3 at k=2 ->
    # streak of 1 match = run 2) stays. Verify against brute force:
    toks = docs[5]
    K, MIN_RUN = 2, 3
    from collections import defaultdict

    grams = defaultdict(list)
    for i in range(len(toks) - K + 1):
        grams[tuple(toks[i:i + K])].append(i)
    diag = defaultdict(list)
    for g, ps in grams.items():
        for a in ps:
            for b in ps:
                if a < b:
                    diag[b - a].append(b)
    cut = set()
    for js in diag.values():
        js = sorted(set(js))
        s = prev = js[0]
        for j in js[1:] + [None]:
            if j is not None and j == prev + 1:
                prev = j
                continue
            if prev - s + K >= MIN_RUN:
                cut.update(range(s, s + (prev - s + K)))
            if j is not None:
                s = prev = j
    kept = [t for p, t in enumerate(toks) if p not in cut]
    assert got[5] == (len(toks), len(cut), " ".join(kept))


def test_lsh_auto_sizing_preserves_explicit_uncapped(spark, emb):
    """code-review r11: an EXPLICIT bucket_cap=None (documented as 'no
    hot-bucket re-split') must survive the auto-sized default path —
    rp_lsh_params' own verify_budget=None default would silently
    re-cap at 10,000. Uncapped + auto-sized planes must reproduce the
    uncapped + pinned-32-plane pair set at gate scale (the sizing law
    reproduces 32 planes for n <= 2048), and the n_vectors hint must
    skip the count without changing the result."""
    from sparksync.ext import similarity as sim

    n_planes, cap = sim._sized_lsh_params(emb, None, 4, None)
    assert cap is None
    assert n_planes == 32  # the law at gate scale reproduces 32
    n_planes_h, cap_h = sim._sized_lsh_params(
        emb, None, 4, None, n_vectors=emb.count()
    )
    assert (n_planes_h, cap_h) == (n_planes, cap)
    # capped default still sizes the cap
    _, cap_d = sim._sized_lsh_params(emb, None, 4, 10_000)
    assert cap_d == 10_000
    # end-to-end: uncapped auto == uncapped pinned at this corpus size
    auto = {
        tuple(r)
        for r in sim.neardup_pairs_lsh(
            emb, top_n=5, bucket_cap=None
        ).collect()
    }
    pinned = {
        tuple(r)
        for r in sim.neardup_pairs_lsh(
            emb, top_n=5, n_planes=32, bucket_cap=None
        ).collect()
    }
    assert auto == pinned and auto


def test_cluster_keeper_string_ids_and_fractional_quality(spark):
    """code-review r11: the keeper rule must work for string/UUID ids
    (the old -id tie-break was numeric-only) and must rank FRACTIONAL
    quality scores (the old long cast truncated [0,1] scores to 0,
    degenerating 'highest quality wins' to 'smallest id wins')."""
    from sparksync.ext import dedup as dd

    pairs = spark.createDataFrame(
        [("doc-b", "doc-c"), ("doc-c", "doc-a")], "d1 string, d2 string"
    )
    quality = spark.createDataFrame(
        [("doc-a", 0.91), ("doc-b", 0.95), ("doc-c", 0.10), ("solo", 0.5)],
        "doc_id string, quality double",
    )
    out = {
        r.doc_id: (r.cluster_id, r.quality, r.n_members, r.kept)
        for r in dd.cluster_keeper_from_pairs(
            pairs, quality, "doc_id"
        ).collect()
    }
    # doc-b has the highest fractional quality -> keeper; the long
    # cast would have tied everyone at 0 and kept doc-a instead
    assert out["doc-b"][3] == 1 and out["doc-a"][3] == 0 and out["doc-c"][3] == 0
    assert out["doc-b"][2] == 3
    assert out["solo"] == ("solo", 0.5, 1, 1)
    # quality keeps the caller's dtype
    assert dict(
        dd.cluster_keeper_from_pairs(pairs, quality, "doc_id").dtypes
    )["quality"] == "double"
    # tie on quality -> smallest STRING id wins
    qtie = spark.createDataFrame(
        [("doc-a", 1.0), ("doc-b", 1.0), ("doc-c", 1.0)],
        "doc_id string, quality double",
    )
    out2 = {
        r.doc_id: r.kept
        for r in dd.cluster_keeper_from_pairs(pairs, qtie, "doc_id").collect()
    }
    assert out2 == {"doc-a": 1, "doc-b": 0, "doc-c": 0}


def test_signatures_stale_partner_no_phantom_pair(spark, docs, tmp_path):
    """code-review r11: when the persisted signature snapshot names a
    candidate whose partner has since been deleted from the corpus
    (or edited below the shingle minimum), the pair group has ONE
    shingle row — min_by and max_by would both return the same doc's
    array and emit a phantom jacc=1.0 self-comparison. Such one-sided
    candidates must be dropped."""
    from sparksync.ext import dedup

    sig_path = str(tmp_path / "sig_stale.parquet")
    dedup.minhash_signature_table(docs).write.parquet(sig_path)
    sig = spark.read.parquet(sig_path)
    inline = {
        (r["d1"], r["d2"])
        for r in dedup.minhash_dedup_pairs(docs, 0.8).collect()
    }
    assert inline  # fixtures contain planted near-dups
    # delete every pair's d2 side from the fresh corpus
    gone = {d2 for _, d2 in inline}
    arrs = dedup.shingle_arrays(
        docs.where(~F.col("doc_id").isin(*gone))
    )
    survived = {
        (r["d1"], r["d2"], r["jacc"])
        for r in dedup.minhash_pairs_from_signatures(sig, arrs, 0.0).collect()
    }
    # no pair may involve a deleted doc, and in particular no phantom
    # jacc=1.0 row for a (present, deleted) candidate
    for d1, d2, jacc in survived:
        assert d1 not in gone and d2 not in gone, (d1, d2, jacc)


def test_asof_join_latest_row_carries_its_nulls(spark):
    """code-review r11: the as-of fill must take the latest right ROW
    verbatim — a NULL inside it stays NULL (per-column ignorenulls
    returned a stale older value), and multiple right_vals must never
    mix columns from different right rows."""
    from sparksync.ext.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 15)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, 10, 5, "a"), (1, 20, None, "b")],
        "k long, rts long, v long, s string",
    )
    out = {
        r.lts: (r.asof_v, r.asof_s)
        for r in asof_join(left, right, "k", "lts", "rts", ["v", "s"]).collect()
    }
    # at lts=100 the latest right row is (20, v=NULL, s='b'): v must be
    # NULL (not the stale 5) and s must be 'b' from the SAME row
    assert out[100] == (None, "b"), out
    # at lts=15 the latest right row is (10, v=5, s='a')
    assert out[15] == (5, "a"), out
    # equal-(key, ts) right rows fill deterministically across reruns
    right_tie = spark.createDataFrame(
        [(1, 10, 1, "x"), (1, 10, 2, "y")],
        "k long, rts long, v long, s string",
    )
    fills = {
        tuple(
            (r.asof_v, r.asof_s)
            for r in asof_join(
                left, right_tie.repartition(n), "k", "lts", "rts", ["v", "s"]
            ).orderBy("lts").collect()
        )
        for n in (1, 3, 7)
    }
    assert len(fills) == 1  # same answer at any physical layout
    assert fills.pop() == ((2, "y"), (2, "y"))  # struct-order winner


def test_sampling_null_and_edge_hardening(spark):
    """code-review r11 hardening pack: NULL ids bucket to 0 (train, not
    the eval slice; kept, not dropped), temperature_sample keeps >= 1
    bucket for arbitrarily large sources, NULL text counts 0 tokens in
    budget_mix (never -1), pack_sequences raises an actionable error on
    NULL costs, chunk_documents rejects negative overlap, interleave
    rejects an empty source list."""
    import pytest as _pytest

    from sparksync.ext import sampling as sp

    # NULL id -> bucket 0 -> first split under knuth (was: last split)
    df = spark.createDataFrame(
        [(None, "x"), (7, "y")], "doc_id long, text string"
    )
    splits = {
        r.text: r.split
        for r in sp.split_assign(
            df, "doc_id", {"train": 0.5, "test": 0.5}, method="knuth"
        ).collect()
    }
    assert splits["x"] == "train"
    # NULL id kept by stratified_sample when the stratum keeps anything
    strat = sp.stratified_sample(
        df.withColumn("lang", F.lit("en")), "lang", {"en": 0.5},
        "doc_id", method="knuth",
    )
    assert None in {r.doc_id for r in strat.collect()}
    # temperature: a source 100,000x the smallest keeps >= 1 bucket
    big = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"), F.lit("big").alias("src")
    )
    small = spark.createDataFrame([(10_000_001, "small")], "doc_id long, src string")
    # force the rate below 1/BUCKETS by faking counts via alpha=0 and
    # a tiny corpus won't reach 10000x; instead check the clamp
    # directly on the computed keep threshold
    rates = (
        sp.temperature_sample(
            big.unionByName(small), "src", "doc_id", alpha=0.0
        )
        .groupBy("src")
        .count()
        .collect()
    )
    assert {r.src for r in rates} >= {"small"}  # smallest always kept
    # budget_mix: NULL text admits as a 0-token doc, never decrements
    bm = sp.budget_mix(
        spark.createDataFrame(
            [(1, "a", "w1 w2 w3"), (2, "a", None), (3, "a", "w4 w5")],
            "doc_id long, source string, text string",
        ),
        "source",
        {"a": 100},
        "doc_id",
        method="knuth",
    ).collect()
    toks = {r.doc_id: r.n_tokens for r in bm}
    assert toks.get(2, 0) == 0 and all(v >= 0 for v in toks.values())
    cums = [r.cum_tokens for r in sorted(bm, key=lambda r: r.cum_tokens)]
    assert cums == sorted(cums) and cums[0] >= 0
    # pack_sequences: NULL cost -> actionable error, not int(NaN)
    with _pytest.raises(ValueError, match="NULL/NaN cost"):
        sp.greedy_pack([3.0, float("nan")], 10)
    # chunk_documents: negative overlap is rejected
    with _pytest.raises(ValueError, match="overlap must be >= 0"):
        sp.chunk_documents(df, chunk_tokens=8, overlap=-1)
    # interleave: empty sources is a clean error
    with _pytest.raises(ValueError, match="non-empty"):
        sp.interleave([], "doc_id")


def test_cluster_keeper_null_quality_loses(spark):
    """ADVICE r12: NULL quality negated is NULL, and NULLs sort FIRST
    in Spark struct ordering — so before the coalesce fix a member
    with a missing score WON the keeper election and every scored
    duplicate was dropped. NULL-quality rows must lose to any real
    score; an all-NULL cluster falls back to the smallest id."""
    from sparksync.ext import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "d1 long, d2 long"
    )
    quality = spark.createDataFrame(
        [(1, 4.0), (2, None), (3, 10.0)], "doc_id long, quality double"
    )
    out = {
        r.doc_id: r.kept
        for r in dd.cluster_keeper_from_pairs(pairs, quality, "doc_id").collect()
    }
    assert out == {1: 0, 2: 0, 3: 1}, out  # quality=10 wins, NULL loses
    # all-NULL cluster: deterministic fallback to the smallest id
    qnull = spark.createDataFrame(
        [(1, None), (2, None), (3, None)], "doc_id long, quality double"
    )
    out2 = {
        r.doc_id: r.kept
        for r in dd.cluster_keeper_from_pairs(pairs, qnull, "doc_id").collect()
    }
    assert out2 == {1: 1, 2: 0, 3: 0}, out2


def test_asof_join_exotic_right_val_names_and_types(spark):
    """ADVICE r12: the typed null struct is built from DataType objects,
    not a DDL string — right_vals names needing backticks (spaces,
    dots, hyphens) must work; and a MapType right value (not orderable,
    so the struct tie-break is illegal) must fall back to the hash
    surrogate instead of raising."""
    from pyspark.sql import Row

    from sparksync.ext.asof import asof_join

    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    # column names with a space and a hyphen: DDL simpleString cannot
    # express these; the StructField path can
    right = spark.createDataFrame(
        [(1, 10, 7, "x")], "k long, rts long, `v al` long, `s-col` string"
    )
    out = asof_join(left, right, "k", "lts", "rts", ["v al", "s-col"]).collect()
    assert out[0]["asof_v al"] == 7 and out[0]["asof_s-col"] == "x"
    # MapType right value: orderable-struct tie-break would throw
    # AnalysisException; the hash-surrogate fallback must fill it
    rmap = spark.createDataFrame(
        [Row(k=1, rts=10, m={"a": 1})],
        "k long, rts long, m map<string,long>",
    )
    out2 = asof_join(left, rmap, "k", "lts", "rts", ["m"]).collect()
    assert out2[0]["asof_m"] == {"a": 1}


def test_trim_family_until_fixpoint(spark):
    """VERDICT r11 #3: single-pass trim computes cuts against the
    ORIGINAL stream, so a cut can splice a NEW qualifying span.
    until_fixpoint must iterate to convergence (these fixtures need
    exactly 2 cutting passes), keep the contract (n_tokens original,
    n_trimmed cumulative, new_text final), and warn when the cap
    stops it early."""
    import pytest as _pytest

    from sparksync.ext import dedup as dd

    # self-trim: cutting the repeated 'd e f' splices a second 'p q r'
    doc = spark.createDataFrame(
        [(1, "d e f p q r x p q d e f r")], "doc_id long, text string"
    )
    one = dd.self_trim_repeats(doc, k=2, min_run=3).first()
    assert (one.n_trimmed, one.new_text) == (3, "d e f p q r x p q r")
    fix = dd.self_trim_repeats(
        doc, k=2, min_run=3, until_fixpoint=True
    ).first()
    assert (fix.n_tokens, fix.n_trimmed, fix.new_text) == (
        13, 6, "d e f p q r x"
    )
    # idempotence at the fixpoint: re-trimming the output cuts nothing
    again = dd.self_trim_repeats(
        spark.createDataFrame([(1, fix.new_text)], "doc_id long, text string"),
        k=2, min_run=3,
    ).first()
    assert again.n_trimmed == 0
    # cap reached while still cutting -> capped iterate + warning
    with _pytest.warns(UserWarning, match="fixpoint not reached"):
        capped = dd.self_trim_repeats(
            doc, k=2, min_run=3, until_fixpoint=True, max_passes=2
        ).first()
    assert capped.n_trimmed == 6  # both passes ran; cap hit at verify
    # decontaminate-trim: cutting bench1's 'a b c' splices bench2's
    # 'u v w' -> the whole training doc is contamination
    bench = spark.createDataFrame(
        [(10, "a b c"), (11, "u v w")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [(1, "u v a b c w")], "doc_id long, text string"
    )
    onep = dd.decontaminate_trim(train, bench, k=2, w=2, min_run=3).first()
    assert (onep.n_trimmed, onep.new_text) == (3, "u v w")
    fixp = dd.decontaminate_trim(
        train, bench, k=2, w=2, min_run=3, until_fixpoint=True
    ).first()
    assert (fixp.n_tokens, fixp.n_trimmed, fixp.new_text) == (6, 6, "")
    # pair-keyed trim: cutting 'd e f' from the higher-id copy splices
    # 'p q r', shared with the (unchanged) owner -> second pass
    docs2 = spark.createDataFrame(
        [(1, "s t d e f p q r"), (2, "p q d e f r")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    fx = {
        r.doc_id: (r.n_tokens, r.n_trimmed, r.new_text)
        for r in dd.trim_shared_runs(
            docs2, pairs, k=2, min_run=3, until_fixpoint=True
        ).collect()
    }
    assert fx[1] == (8, 0, "s t d e f p q r")  # owner untouched
    assert fx[2] == (6, 6, "")


def test_connected_components_n_edges_contract(spark, monkeypatch):
    """`n_edges` means "edges is already materialized": a
    localCheckpoint'ed pair graph handed in with its row count is read
    as is (no edge pin), the same graph passed as a lazy plan without
    it is pinned exactly once, and the labels are identical — on the
    driver-local path and on the distributed loop (a 16-chain runs
    past a lineage-truncation round)."""
    from sparksync.ext import _materialize, graph

    pins = []
    real_pin = _materialize._pin

    def counting_pin(df):
        pins.append(df)
        return real_pin(df)

    monkeypatch.setattr(_materialize, "_pin", counting_pin)
    rows = [(i, i + 1) for i in range(1, 16)] + [(40, 41), (41, 42)]
    lazy = spark.createDataFrame(rows, "d1 long, d2 long")
    ckpt = lazy.localCheckpoint(eager=True)
    for cap in (1 << 16, 0):
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", cap)
        pins.clear()
        got_ckpt = {
            tuple(r)
            for r in graph.connected_components(
                ckpt, n_edges=len(rows)
            ).collect()
        }
        assert len(pins) == 0, cap
        got_lazy = {
            tuple(r) for r in graph.connected_components(lazy).collect()
        }
        assert len(pins) == 1, cap
        assert got_ckpt == got_lazy, cap
        assert {c for _, c in got_lazy} == {1, 40}
    _materialize.release_pinned()


def test_connected_components_local_path_parity(spark, monkeypatch):
    """Round-15 size switch: graphs at or below _CC_LOCAL_MAX_EDGES are
    resolved by the driver-local propagation twin (_local_components).
    The two paths must be interchangeable row-for-row — same labels on
    multi-round graphs (long AND string ids), same strict
    non-convergence contract — and the switch must respect the cap."""
    import random

    import pytest

    from sparksync.ext import graph

    rnd = random.Random(41)
    long_edges = [
        (rnd.randrange(60), rnd.randrange(60)) for _ in range(80)
    ] + [(1, 2), (2, 3), (3, 4), (100, 101)]
    str_edges = [(f"d{a:03d}", f"d{b:03d}") for a, b in long_edges]
    by_schema = {}
    for rows, schema in (
        (long_edges, "d1 long, d2 long"),
        (str_edges, "d1 string, d2 string"),
    ):
        edges = spark.createDataFrame(rows, schema)
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", 1 << 16)
        local = {
            (r.node, r.component)
            for r in graph.connected_components(edges).collect()
        }
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", 0)
        dist = {
            (r.node, r.component)
            for r in graph.connected_components(edges).collect()
        }
        assert local == dist
        by_schema[schema] = dist
    # strict non-convergence raises on BOTH paths (6-chain, 1 round =
    # 2 hops < the 5 needed); strict=False returns partial labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "d1 long, d2 long"
    )
    for cap in (1 << 16, 0):
        monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", cap)
        with pytest.raises(RuntimeError, match="did not converge"):
            graph.connected_components(chain, max_iter=1).collect()
    # a graph just OVER the cap takes the distributed path: cap at
    # n_edges-1 and assert _local_components is never entered
    monkeypatch.setattr(graph, "_CC_LOCAL_MAX_EDGES", len(long_edges) - 1)
    def boom(*a, **kw):  # pragma: no cover
        raise AssertionError("local path entered above the cap")
    monkeypatch.setattr(graph, "_local_components", boom)
    edges = spark.createDataFrame(long_edges, "d1 long, d2 long")
    assert {
        (r.node, r.component)
        for r in graph.connected_components(edges).collect()
    } == by_schema["d1 long, d2 long"]


def test_benchmark_coverage_islands_and_clean_docs(spark):
    """X206: coverage merges overlapping quotes from DIFFERENT train
    docs into islands (never double-counts), reports the longest
    single run, and emits zero rows for clean benchmark docs."""
    from sparksync.ext import dedup as dd

    toks = [f"w{i}" for i in range(20)]
    bench = spark.createDataFrame(
        [(100, " ".join(toks)), (101, " ".join(f"z{i}" for i in range(15)))],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # quotes bench tokens 0..11 (12 tokens)
            (1, "x1 x2 " + " ".join(toks[0:12]) + " x3"),
            # quotes bench tokens 5..17 (13 tokens) - overlaps the first
            (2, " ".join(toks[5:18]) + " y1 y2"),
            (3, "clean doc nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.bench_id: r
        for r in dd.benchmark_coverage(train, bench, min_run=12).collect()
    }
    r = out[100]
    # union of [0,11] and [5,17] is [0,17]: 18 tokens of 20
    assert (r.n_tokens, r.n_train_docs, r.longest_run) == (20, 2, 13)
    assert r.covered_tokens == 18 and abs(r.coverage - 0.9) < 1e-12
    assert (out[101].n_train_docs, out[101].covered_tokens) == (0, 0)
    assert out[101].coverage == 0.0


def test_leakage_safe_split_clusters_never_straddle(spark):
    """X207: every member of a near-dup cluster lands in the SAME
    split; singletons split independently via the same hash family."""
    from sparksync.ext.sampling import leakage_safe_split, split_assign

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 7, 9)], "doc_id long, x string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "d1 long, d2 long"
    )
    out = {
        r.doc_id: r.split
        for r in leakage_safe_split(
            docs, pairs, "doc_id", {"train": 0.5, "val": 0.5}, method="knuth"
        ).collect()
    }
    assert out[1] == out[2] == out[3]  # chain collapses to one split
    assert out[7] == out[9]
    # the cluster's split is split_assign's answer for its MIN id, and
    # a singleton's split is split_assign's answer for itself
    solo = {
        r.doc_id: r.split
        for r in split_assign(
            docs, "doc_id", {"train": 0.5, "val": 0.5}, method="knuth"
        ).collect()
    }
    assert out[1] == solo[1] and out[7] == solo[7] and out[4] == solo[4]
    # schema: input columns preserved + split, no internals leaked
    cols = leakage_safe_split(docs, pairs, "doc_id").columns
    assert cols == ["doc_id", "x", "split"]


def test_soft_dedup_quota_and_determinism(spark):
    """X208: an n-member cluster keeps exactly ceil(n^alpha) members;
    alpha=0 is hard dedup, alpha=1 keeps everything; the kept set is
    layout-independent; bad alpha and missing graph raise."""
    import pytest as _pytest

    from sparksync.ext import dedup as dd

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    # one 4-cluster (1-2-3-4), one 2-cluster (5,6), singleton 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "d1 long, d2 long"
    )
    out = dd.soft_dedup(pairs, docs, alpha=0.5, method="knuth").collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert {c: len(v) for c, v in by_cluster.items()} == {1: 4, 5: 2, 7: 1}
    assert sum(r.kept for r in by_cluster[1]) == 2  # ceil(sqrt(4))
    assert sum(r.kept for r in by_cluster[5]) == 2  # ceil(sqrt(2))
    assert by_cluster[7][0].kept == 1 and by_cluster[7][0].quota == 1
    # alpha=0 -> one keeper per cluster; alpha=1 -> keep all
    hard = dd.soft_dedup(pairs, docs, alpha=0.0, method="knuth").collect()
    assert sum(r.kept for r in hard) == 3
    keep_all = dd.soft_dedup(pairs, docs, alpha=1.0, method="knuth").collect()
    assert all(r.kept == 1 for r in keep_all)
    # layout-independence: kept set identical at any partitioning
    kept_sets = {
        frozenset(
            r.doc_id
            for r in dd.soft_dedup(
                pairs, docs.repartition(n), alpha=0.5, method="knuth"
            ).collect()
            if r.kept
        )
        for n in (1, 4)
    }
    assert len(kept_sets) == 1
    with _pytest.raises(ValueError, match="alpha"):
        dd.soft_dedup(pairs, docs, alpha=1.5)
    with _pytest.raises(ValueError, match="pairs"):
        dd.soft_dedup(None, docs)
    # components reuse path: same answer without re-propagating
    from sparksync.ext.graph import connected_components

    comp = connected_components(pairs, "d1", "d2")
    via_comp = {
        (r.doc_id, r.kept)
        for r in dd.soft_dedup(
            None, docs, alpha=0.5, method="knuth", components=comp
        ).collect()
    }
    assert via_comp == {(r.doc_id, r.kept) for r in out}


def test_split_leakage_audit_and_leakage_safe_zero(spark):
    """X209: the audit counts near-dup pairs per unordered split cell;
    a doc-keyed split leaks the crafted straddling pair, and
    leakage_safe_split's own output audits to ZERO off-diagonal —
    the measure/act pair must close."""
    from pyspark.sql import functions as F

    from sparksync.ext.sampling import (
        leakage_safe_split,
        split_assign,
        split_leakage_audit,
    )

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 6, 9)], "doc_id long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (6, 9)], "d1 long, d2 long")
    naive = split_assign(
        docs, "doc_id", {"train": 0.5, "val": 0.5}, method="knuth"
    )
    cells = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage_audit(naive, pairs).collect()
    }
    assert sum(cells.values()) == 3  # every pair lands in exactly one cell
    splits = {r.doc_id: r.split for r in naive.collect()}
    want_leaks = sum(
        1 for a, b in ((1, 2), (2, 3), (6, 9)) if splits[a] != splits[b]
    )
    got_leaks = sum(v for (a, b), v in cells.items() if a != b)
    assert got_leaks == want_leaks > 0  # the crafted ids do straddle
    safe = leakage_safe_split(
        docs, pairs, "doc_id", {"train": 0.5, "val": 0.5}, method="knuth"
    )
    safe_cells = split_leakage_audit(safe, pairs).where(
        F.col("split_a") != F.col("split_b")
    )
    assert safe_cells.count() == 0  # the guard drives leakage to zero


def test_r12_review_hardening(spark):
    """Hardening pack: leakage_safe_split tolerates an input df that
    already carries a 'component' column; asof's orderability check is
    an allowlist, so an array-of-map right value takes the hash
    fallback instead of throwing."""
    from pyspark.sql import Row

    from sparksync.ext.asof import asof_join
    from sparksync.ext.sampling import leakage_safe_split

    pairs = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    docs = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "doc_id long, component string"
    )
    out = {
        r.doc_id: (r.component, r.split)
        for r in leakage_safe_split(docs, pairs, "doc_id").collect()
    }
    assert out[1][0] == "x" and out[1][1] == out[2][1]  # col preserved
    left = spark.createDataFrame([(1, 100)], "k long, lts long")
    ram = spark.createDataFrame(
        [Row(k=1, rts=10, am=[{"a": 1}])],
        "k long, rts long, am array<map<string,long>>",
    )
    got = asof_join(left, ram, "k", "lts", "rts", ["am"]).collect()
    assert got[0]["asof_am"] == [{"a": 1}]


def test_boilerplate_score_counts(spark):
    """X210: the hot-gram fraction counts DISTINCT grams per doc, a
    gram is hot iff its doc frequency exceeds min_df, and short docs
    (< k tokens) pass through at zero."""
    from sparksync.ext import textops as tx

    # 'a b c' appears in 3 docs (> min_df=2); each doc adds one
    # private gram chain
    docs = spark.createDataFrame(
        [
            (1, "a b c x1 y1"),   # grams: abc, bcx1, cx1y1 -> 1 hot of 3
            (2, "a b c x2 y2"),
            (3, "a b c x3 y3"),
            (4, "p q r s"),       # grams: pqr, qrs -> 0 hot of 2
            (5, "t u"),           # < 3 tokens -> 0 grams
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_grams, r.n_hot, r.boilerplate_frac)
        for r in tx.boilerplate_score(docs, k=3, min_df=2).collect()
    }
    assert out[1] == (3, 1, 1 / 3) and out[2] == (3, 1, 1 / 3)
    assert out[4] == (2, 0, 0.0)
    assert out[5] == (0, 0, 0.0)
    # a repeated gram WITHIN one doc counts once toward df: 'a b c' in
    # doc 6 twice does not push its df over a min_df of 3
    docs2 = docs.unionByName(
        spark.createDataFrame(
            [(6, "a b c z a b c")], "doc_id long, text string"
        )
    )
    out2 = {
        r.doc_id: r.n_hot
        for r in tx.boilerplate_score(docs2, k=3, min_df=3).collect()
    }
    # df('a b c') = 4 docs > 3 -> hot for all carriers
    assert out2[1] == 1 and out2[6] >= 1


def test_dedup_threshold_sweep_shapes(spark):
    """X211: counts are monotonically non-increasing in the threshold,
    zero-pair thresholds still report 0/0, endpoints are distinct-
    counted, and an empty threshold list raises."""
    import pytest as _pytest

    from sparksync.ext import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2, 0.72), (1, 3, 0.85), (2, 3, 0.91), (4, 5, 0.96)],
        "d1 long, d2 long, jacc double",
    )
    out = {
        r.threshold: (r.n_pairs, r.n_docs)
        for r in dd.dedup_threshold_sweep(
            pairs, thresholds=(0.7, 0.8, 0.9, 0.95, 0.99)
        ).collect()
    }
    assert out[0.7] == (4, 5)
    assert out[0.8] == (3, 5)   # 1-3, 2-3, 4-5 -> docs {1,2,3,4,5}
    assert out[0.9] == (2, 4)   # 2-3, 4-5
    assert out[0.95] == (1, 2)  # 4-5
    assert out[0.99] == (0, 0)  # reported, not dropped
    ps = [out[t][0] for t in sorted(out)]
    assert ps == sorted(ps, reverse=True)
    with _pytest.raises(ValueError, match="thresholds"):
        dd.dedup_threshold_sweep(pairs, thresholds=())


def test_dedup_threshold_sweep_dedupes_candidates(spark):
    """code-review r12: a repeated candidate must not double counts or
    emit duplicate rows."""
    from sparksync.ext import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2, 0.85)], "d1 long, d2 long, jacc double"
    )
    out = dd.dedup_threshold_sweep(pairs, thresholds=(0.8, 0.8, 0.9)).collect()
    assert [(r.threshold, r.n_pairs, r.n_docs) for r in sorted(out, key=lambda r: r.threshold)] == [
        (0.8, 1, 2), (0.9, 0, 0)
    ]


def test_cap_per_group_semantics(spark):
    """X212: at most k rows per group, small groups pass whole, the
    kept set is layout-independent and a pure function of
    (group, id, salt); k < 1 raises."""
    import pytest as _pytest

    from sparksync.ext.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "big") for i in range(1, 21)] + [(100, "small"), (101, "small")],
        "doc_id long, source string",
    )
    out = cap_per_group(df, "source", 5, "doc_id", method="knuth").collect()
    by = {}
    for r in out:
        by.setdefault(r.source, set()).add(r.doc_id)
    assert len(by["big"]) == 5 and by["small"] == {100, 101}
    # layout-independence
    kept_sets = {
        frozenset(
            r.doc_id
            for r in cap_per_group(
                df.repartition(n), "source", 5, "doc_id", method="knuth"
            ).collect()
        )
        for n in (1, 7)
    }
    assert len(kept_sets) == 1
    # schema unchanged, internal rank column not leaked
    assert cap_per_group(df, "source", 5, "doc_id").columns == [
        "doc_id", "source"
    ]
    with _pytest.raises(ValueError, match="k must be"):
        cap_per_group(df, "source", 0, "doc_id")


def test_r12_latent_null_and_overflow_fixes(spark):
    """code-review r12 latent-bug sweep over untouched modules:
    normalize_by_group survives int64-edge metrics (xl*xl wrapped
    per-row before any cast); chisq excludes NULL categories from the
    marginals it can never join back; reference_percentile ignores
    NULL reference values (they counted as below everything);
    winsorized_stats counts the same non-NULL population its
    percentiles use; quantile_error_audit's denominator matches the
    non-NULL rank population."""
    from sparksync.ext import features as ft
    from sparksync.ext import skew as sk

    # normalize_by_group at the overflow edge: two values ~4e9 whose
    # squares exceed 2^63 -> old code wrapped and corrupted the variance
    big = spark.createDataFrame(
        [("g", 4_000_000_000), ("g", 4_000_000_002)], "grp string, m long"
    )
    zs = sorted(
        r.zscore for r in ft.normalize_by_group(big, "grp", "m").collect()
    )
    assert abs(zs[0] + 0.7071067811865476) < 1e-9
    assert abs(zs[1] - 0.7071067811865476) < 1e-9

    # chisq: NULL category rows must not inflate totals of cells they
    # can never appear in
    cdf = spark.createDataFrame(
        [("x", "u"), ("x", "v"), ("y", "u"), (None, "u"), ("x", None)],
        "a string, b string",
    )
    cells = ft.chisq_independence(cdf, "a", "b").collect()
    assert sum(r.observed for r in cells) == 3  # only fully-labeled rows
    # expected counts derive from the SAME 3-row population
    tot = {(r.a, r.b): r.expected for r in cells}
    assert abs(tot[("x", "u")] - 2 * 2 / 3) < 1e-12

    # reference_percentile: NULL ref values are not 'below everything'
    ref = spark.createDataFrame(
        [(10,), (20,), (None,), (None,)], "v long"
    )
    probe = spark.createDataFrame([(1, 10)], "id long, v long")
    row = ft.reference_percentile(probe, ref, "v", "id").first()
    assert (row.ref_n, row.pct) == (2, 0.5)  # not 4 and not 0.75

    # winsorized_stats: NULLs out of every aggregate
    wdf = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", None), ("g", None)],
        "grp string, v double",
    )
    w = ft.winsorized_stats(wdf, "grp", "v", lo=0.0, hi=1.0).first()
    assert w.n == 3 and abs(w.winsorized_mean - 2.0) < 1e-9

    # quantile_error_audit: a 50%-NULL group is not a 0.25 'error'
    qdf = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 41)]
        + [("g", 100 + i, None) for i in range(40)],
        "grp string, id long, v double",
    )
    errs = [
        r.rank_error
        for r in sk.quantile_error_audit(qdf, "grp", "v", "id", rate=1.0).collect()
    ]
    assert errs and all(e <= 0.05 for e in errs), errs


def test_global_cumsum_multi_column_single_pass(spark):
    """code-review r12: the multi-column form must equal two single-
    column passes and reject mismatched lists."""
    import pytest as _pytest

    from sparksync.ext import features as ft

    df = spark.createDataFrame(
        [(i, i % 2, (i + 1) % 2) for i in range(1, 101)],
        "k long, a long, b long",
    )
    multi = {
        r.k: (r.ca, r.cb)
        for r in ft.global_cumsum(df, ["k"], ["a", "b"], ["ca", "cb"]).collect()
    }
    single_a = {
        r.k: r.ca for r in ft.global_cumsum(df, ["k"], "a", "ca").collect()
    }
    single_b = {
        r.k: r.cb for r in ft.global_cumsum(df, ["k"], "b", "cb").collect()
    }
    assert multi == {k: (single_a[k], single_b[k]) for k in multi}
    assert multi[100] == (50, 50)
    with _pytest.raises(ValueError, match="value cols"):
        ft.global_cumsum(df, ["k"], ["a", "b"], "only_one")


def test_r13_advice_fixes(spark):
    """ADVICE r12 pack: split_leakage_audit must SURFACE pairs whose
    endpoints are missing from the split frame (the old inner joins
    silently excluded them, undercounting leaks when the split map is
    a filtered subset); normalize_by_group's opt-in overflow flag is
    true exactly when the 38-digit decimal ceiling NULLed the variance
    numerator, distinguishing that from benign zero-variance NULLs."""
    from sparksync.ext import features as ft
    from sparksync.ext.sampling import split_assign, split_leakage_audit

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 6, 9)], "doc_id long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (6, 9)], "d1 long, d2 long")
    full = split_assign(docs, "doc_id", {"train": 0.5, "val": 0.5}, method="knuth")
    # filtered subset: doc 9 has no split row -> its pair must land in
    # a '(missing)' cell, not vanish
    subset = full.where("doc_id <> 9")
    cells = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage_audit(subset, pairs).collect()
    }
    assert sum(cells.values()) == 3  # nothing dropped
    missing = {c: n for c, n in cells.items() if "(missing)" in c}
    assert sum(missing.values()) == 1  # exactly the (6,9) pair
    # full-coverage map: no sentinel rows, behavior as before
    cells_full = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage_audit(full, pairs).collect()
    }
    assert sum(cells_full.values()) == 3
    assert not any("(missing)" in c for c in cells_full)

    # overflow flag: squares of two ~9.2e18 metrics sum past 1e38
    big = spark.createDataFrame(
        [
            ("o", 9_200_000_000_000_000_000),
            ("o", 9_100_000_000_000_000_000),
            ("k", 10),
            ("k", 20),
        ],
        "grp string, m long",
    )
    rows = ft.normalize_by_group(big, "grp", "m", overflow_col="ovf").collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r)
    assert all(r.ovf for r in by_grp["o"])
    assert all(r.zscore is None for r in by_grp["o"])  # NULL, not wrong
    assert all(not r.ovf for r in by_grp["k"])
    assert all(r.zscore is not None for r in by_grp["k"])
    # default call keeps the schema unchanged
    assert "ovf" not in ft.normalize_by_group(big, "grp", "m").columns


def test_trim_fixpoint_pass_stats(spark):
    """VERDICT r12 #7: pass_stats exposes the fixpoint loop's per-pass
    cut totals. A crafted splice corpus (T H1 T H2 where H1+H2 == T)
    needs TWO cutting passes; stats end with the proving zero and the
    final text is the fixpoint."""
    from sparksync.ext.dedup import self_trim_repeats

    T = [f"t{i}" for i in range(1, 9)]
    doc = " ".join(T + T[:4] + T + T[4:])
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    stats = []
    out = self_trim_repeats(
        df, k=5, min_run=8, until_fixpoint=True, pass_stats=stats
    ).collect()
    assert stats == [8, 8, 0]
    assert out[0].new_text == " ".join(T)
    assert out[0].n_trimmed == 16 and out[0].n_tokens == 24
    # default None: no stats side-channel, same result
    out2 = self_trim_repeats(df, k=5, min_run=8, until_fixpoint=True).collect()
    assert out2[0].new_text == out[0].new_text


def test_filter_attrition_waterfall_invariants(spark):
    """X213: the attrition rows must be internally consistent with
    corpus_filter_report on the same corpus — survivors decrease
    monotonically, the final survivor count equals the report's keep
    sum, n_cut partitions the dropped docs, and n_fail_only <= n_fail
    <= n_docs."""
    from sparksync.ext.textops import corpus_filter_report, filter_attrition
    from sparksync.source import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    rows = {r.rule: r for r in filter_attrition(docs).collect()}
    rep = corpus_filter_report(docs).collect()
    n = len(rep)
    kept = sum(r.keep for r in rep)
    assert set(rows) == {"lang", "quality", "repetition"}
    surv = [rows["lang"].n_surviving, rows["quality"].n_surviving,
            rows["repetition"].n_surviving]
    assert surv[0] >= surv[1] >= surv[2] == kept
    assert sum(r.n_cut for r in rows.values()) == n - kept
    for r in rows.values():
        assert 0 <= r.n_fail_only <= r.n_fail <= n
        assert r.n_cut <= r.n_fail
    # reasons from the per-doc report agree with the cut counts
    reasons = {}
    for r in rep:
        if r.reason:
            reasons[r.reason] = reasons.get(r.reason, 0) + 1
    for rule, row in rows.items():
        assert reasons.get(rule, 0) == row.n_cut, rule


def test_epoch_recipe_water_filling(spark):
    """X214: allocations sum to the budget when any source is
    uncapped, respect the per-source ceiling, fill to a COMMON level
    across uncapped sources, and degrade to all-capped (sum < budget)
    when the budget exceeds the total ceiling. Errors on nonsense
    budgets."""
    import pytest as _pytest

    from sparksync.ext.sampling import epoch_recipe

    df = spark.createDataFrame(
        [("a", "x y z w v"), ("b", " ".join(f"t{i}" for i in range(50))),
         ("c", " ".join(f"u{i}" for i in range(20)))],
        "source string, text string",
    )  # tokens: a=5, b=50, c=20; caps(2.0) = 10, 100, 40
    out = {r.source: r for r in epoch_recipe(df, 60, 2.0).collect()}
    # a caps (10*3=30<=60); level = (60-10)/2 = 25 -> b=25, c=25
    assert out["a"].capped and out["a"].allocated_tokens == 10.0
    assert not out["b"].capped and out["b"].allocated_tokens == 25.0
    assert not out["c"].capped and out["c"].allocated_tokens == 25.0
    assert abs(sum(r.allocated_tokens for r in out.values()) - 60.0) < 1e-9
    assert all(r.epochs <= 2.0 + 1e-12 for r in out.values())
    # budget above the total ceiling: everything caps, shortfall visible
    out2 = {r.source: r for r in epoch_recipe(df, 1000, 2.0).collect()}
    assert all(r.capped for r in out2.values())
    assert sum(r.allocated_tokens for r in out2.values()) == 150.0 < 1000
    assert all(abs(r.epochs - 2.0) < 1e-12 for r in out2.values())
    with _pytest.raises(ValueError, match="budget_tokens"):
        epoch_recipe(df, 0, 2.0)
    with _pytest.raises(ValueError, match="max_epochs"):
        epoch_recipe(df, 10, 0.0)


def test_ivf_recall_audit_bounds_and_full_probe(spark):
    """X215: recall is in [0,1] with n_hits = |ivf topk ∩ exact topk|,
    every query id gets a row, and probing ALL centroids makes IVF
    exhaustive -> recall exactly 1.0 for every query."""
    from sparksync.ext.similarity import ivf_recall_audit
    from sparksync.source import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = [200, 201, 202]
    rows = {r.query_id: r for r in ivf_recall_audit(emb, qids, k=10, nprobe=2).collect()}
    assert set(rows) == set(qids)
    for r in rows.values():
        assert 0 <= r.n_hits <= 10
        assert abs(r.recall_at_k - r.n_hits / 10.0) < 1e-15
    full = ivf_recall_audit(emb, qids, k=10, n_centroids=8, nprobe=8).collect()
    assert all(r.recall_at_k == 1.0 for r in full)

    # corpus smaller than k (ADVICE r13): truth has only corpus-1 rows
    # per query, so an exhaustive probe must still read recall 1.0 —
    # the divisor is least(k, truth count), not the literal k
    tiny = emb.where(F.col("vec_id") < 6)
    small = ivf_recall_audit(
        tiny, [0, 1], k=10, n_centroids=2, nprobe=2
    ).collect()
    assert all(r.n_hits == 5 for r in small)
    assert all(r.recall_at_k == 1.0 for r in small)


def test_packing_efficiency_invariants(spark):
    """X216: chunk counts respect the per-doc ceiling arithmetic,
    doc_chunks >= min_sequences (the cross-doc bound), pad accounting
    closes exactly (doc_chunks*ctx = total + pad), fractions bounded,
    and a ctx length longer than every doc makes doc_chunks == n_docs
    (one padded chunk per doc). Rejects nonsense lengths."""
    import math

    import pytest as _pytest

    from sparksync.ext.sampling import packing_efficiency

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, " ".join(f"t{i}" for i in range(130))), (3, None),
         (4, "x")],
        "doc_id long, text string",
    )
    toks = [3, 130, 0, 1]
    rows = {r.ctx_len: r for r in packing_efficiency(docs, (4, 64, 1000)).collect()}
    total = sum(toks)
    for c, r in rows.items():
        want_chunks = sum(math.ceil(t / c) for t in toks)
        assert r.doc_chunks == want_chunks, c
        assert r.min_sequences == math.ceil(total / c)
        assert r.doc_chunks >= r.min_sequences
        assert r.doc_chunks * c == total + r.pad_tokens
        assert 0.0 <= r.pad_frac < 1.0
        assert r.overhead >= 1.0
        assert r.total_tokens == total and r.n_docs == 4
    assert rows[1000].doc_chunks == 3  # one chunk per non-empty doc
    with _pytest.raises(ValueError, match="ctx_lens"):
        packing_efficiency(docs, (0,))


def test_signal_auc_matches_python_model(spark):
    """X217: exact tie-corrected Mann-Whitney AUC equals a brute-force
    python model on a seeded random frame (informative and noise
    signals); degenerate one-class label yields NULL; NULL signal
    values are excluded from the ranking."""
    import bisect
    import random

    from sparksync.ext.features import signal_auc

    rng = random.Random(41)
    rows = [(rng.randint(0, 15), rng.random() < 0.3) for _ in range(300)]
    rows = [(a + (6 if y else 0), y) for a, y in rows]
    df = spark.createDataFrame(
        [(a, 1 if y else 0) for a, y in rows], "a long, y long"
    )

    def py_auc(vals):
        pos = sorted(v for v, y in vals if y)
        neg = sorted(v for v, y in vals if not y)
        u = 0.0
        for v in pos:
            lo = bisect.bisect_left(neg, v)
            hi = bisect.bisect_right(neg, v)
            u += lo + 0.5 * (hi - lo)
        return u / (len(pos) * len(neg))

    r = signal_auc(df, "y", ["a"]).collect()[0]
    assert abs(r.auc - py_auc(rows)) < 1e-12
    assert r.n_pos + r.n_neg == 300

    # NULL signal rows drop out of the ranking, visible in the counts
    with_null = spark.createDataFrame(
        [(1, 1), (None, 1), (0, 0), (2, 0)], "a long, y long"
    )
    r2 = signal_auc(with_null, "y", ["a"]).collect()[0]
    assert r2.n_pos == 1 and r2.n_neg == 2
    assert abs(r2.auc - 0.5) < 1e-12  # 1 beats 0, loses to 2

    # one-class label: AUC undefined -> NULL
    one = spark.createDataFrame([(1, 1), (2, 1)], "a long, y long")
    assert signal_auc(one, "y", ["a"]).collect()[0].auc is None


def test_signal_auc_multi_signal_one_scan_semantics(spark):
    """VERDICT r13 #1: the one-scan stack-unpivot form must score each
    signal independently — per-signal NULL exclusion, per-signal tie
    structure — exactly as the r13 per-signal loop did. Mixed-type
    signals (long count, double ratio) share the double value column;
    a signal that is NULL on some rows ranks only its non-NULL rows
    while its siblings keep the full corpus. Empty signal list raises
    (ADVICE r13: the CLI can feed an empty --signals)."""
    import bisect

    import pytest as _pytest

    from sparksync.ext.features import signal_auc

    rows = [
        # (a: informative long, b: ratio double w/ NULLs, y)
        (10, 0.9, 1), (12, None, 1), (11, 0.8, 1), (2, 0.1, 0),
        (3, None, 0), (1, 0.2, 0), (12, 0.15, 0), (2, 0.85, 1),
    ]
    df = spark.createDataFrame(rows, "a long, b double, y long")

    def py_auc(vals):
        pos = sorted(v for v, y in vals if y)
        neg = sorted(v for v, y in vals if not y)
        u = 0.0
        for v in pos:
            lo = bisect.bisect_left(neg, v)
            hi = bisect.bisect_right(neg, v)
            u += lo + 0.5 * (hi - lo)
        return u / (len(pos) * len(neg))

    out = {r.signal: r for r in signal_auc(df, "y", ["a", "b"]).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"].n_pos == 4 and out["a"].n_neg == 4
    assert abs(out["a"].auc - py_auc([(a, y) for a, b, y in rows])) < 1e-12
    # b drops its two NULL rows (one per class) — independent of a
    assert out["b"].n_pos == 3 and out["b"].n_neg == 3
    assert abs(
        out["b"].auc
        - py_auc([(b, y) for a, b, y in rows if b is not None])
    ) < 1e-12

    with _pytest.raises(ValueError, match="non-empty"):
        signal_auc(df, "y", [])


def test_global_cumsum_partition_by_matches_per_group_model(spark):
    """partition_by= (VERDICT r13 #1) restarts the running sum at each
    group in ONE range shuffle; per-group results must equal the
    unpartitioned call run group-by-group, including groups whose rows
    straddle physical range partitions (forced via tiny n_parts)."""
    import random

    from sparksync.ext import _materialize, features

    rng = random.Random(14)
    rows = [
        (g, i, rng.randint(-5, 50))
        for g in ("x", "y", "z")
        for i in range(40)
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {
        (r.g, r.id): r.cum
        for r in features.global_cumsum(
            df, ["id"], "v", "cum", n_parts=5, partition_by=["g"]
        ).collect()
    }
    for g in ("x", "y", "z"):
        sub = sorted((i, v) for gg, i, v in rows if gg == g)
        c = 0
        for i, v in sub:
            c += v
            assert got[(g, i)] == c, (g, i)
    _materialize.release_pinned()


def test_recipe_mix_composition(spark):
    """X218 (VERDICT r13 #5): recipe_mix == epoch_recipe's allocations
    hand-floored into budget_mix — the composition adds NOTHING beyond
    the handoff. A capped source (allocation >= one epoch) admits all
    its docs; an uncapped one cuts exactly where the running total
    crosses its allocation; an all-empty corpus (nothing to allocate)
    raises."""
    import math

    import pytest as _pytest

    from sparksync.ext import sampling
    from sparksync.source import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    got = sampling.recipe_mix(
        docs, budget_tokens=30_000, max_epochs=2.0
    ).collect()

    recipe = {
        r.source: r
        for r in sampling.epoch_recipe(
            docs, budget_tokens=30_000, max_epochs=2.0
        ).collect()
    }
    budgets = {
        s: int(math.floor(r.allocated_tokens))
        for s, r in recipe.items()
        if r.allocated_tokens and r.allocated_tokens > 0
    }
    want = sampling.budget_mix(docs, "source", budgets, "doc_id").collect()
    key = lambda r: (r.doc_id, r.source)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))

    # per-source invariants against the plan
    per_source_docs = {
        s: docs.where(F.col("source") == s).count() for s in recipe
    }
    admitted: dict[str, list] = {}
    for r in got:
        admitted.setdefault(r.source, []).append(r)
    saw_capped_full = saw_cut = False
    for s, rec in recipe.items():
        rows = admitted.get(s, [])
        toks = max((r.cum_tokens for r in rows), default=0)
        assert toks <= budgets.get(s, 0)
        if rec.epochs >= 1.0 and s in budgets:
            # allocation covers >= one epoch: every doc admitted
            assert len(rows) == per_source_docs[s], s
            saw_capped_full = True
        elif s in budgets and len(rows) < per_source_docs[s]:
            saw_cut = True
    assert saw_capped_full or saw_cut  # fixture exercises >= one branch

    empty = spark.createDataFrame(
        [(1, "a", ""), (2, "b", "")], "doc_id long, source string, text string"
    )
    with _pytest.raises(ValueError, match="allocated no tokens"):
        sampling.recipe_mix(empty, budget_tokens=100)


def test_diversity_score_matches_brute_pairwise(spark):
    """X219: the closed-form (||sum(v_hat)||^2 - n)/(n(n-1)) equals the
    brute all-pairs mean cosine within the documented 2^-24
    quantization bound; identical vectors read ~1.0, a group of one is
    NULL, zero-norm vectors are excluded from n_vectors."""
    import itertools
    import math
    import random

    from sparksync.ext.similarity import diversity_score

    rng = random.Random(14)
    rows = []
    vecs = {"a": [], "b": []}
    for g, cnt in (("a", 7), ("b", 5)):
        for i in range(cnt):
            v = [rng.uniform(-1, 1) for _ in range(16)]
            vecs[g].append(v)
            rows.append((g, v))
    rows.append(("c", [0.5] * 16))          # singleton -> NULL
    rows.append(("a", [0.0] * 16))          # zero norm -> excluded
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    out = {r.label: r for r in diversity_score(df, "label").collect()}

    def brute(vs):
        def cos(x, y):
            d = sum(a * b for a, b in zip(x, y))
            nx = math.sqrt(sum(a * a for a in x))
            ny = math.sqrt(sum(a * a for a in y))
            return d / (nx * ny)
        pairs = list(itertools.combinations(vs, 2))
        return sum(cos(x, y) for x, y in pairs) / len(pairs)

    assert out["a"].n_vectors == 7  # zero-norm row dropped
    assert abs(out["a"].mean_pairwise_cos - brute(vecs["a"])) < 1e-5
    assert abs(out["b"].mean_pairwise_cos - brute(vecs["b"])) < 1e-5
    assert out["c"].mean_pairwise_cos is None and out["c"].n_vectors == 1

    same = spark.createDataFrame(
        [("x", [1.0, 2.0, 3.0])] * 4, "label string, embedding array<double>"
    )
    r = diversity_score(same, "label").collect()[0]
    assert abs(r.mean_pairwise_cos - 1.0) < 1e-5


def test_domain_reweight_semantics(spark):
    """X220: weights form a distribution, order follows mean loss
    (higher loss -> higher weight under uniform priors), eta=0 returns
    the priors unchanged, a priors map drops unlisted domains, NULL
    losses are excluded visibly via n_docs, negative eta raises."""
    import pytest as _pytest

    from sparksync.ext.sampling import domain_reweight

    rows = [
        ("easy", 1.0), ("easy", 1.2), ("easy", None),
        ("mid", 2.0), ("mid", 2.2),
        ("hard", 4.0), ("hard", 4.4),
    ]
    df = spark.createDataFrame(rows, "source string, loss double")
    out = {r.source: r for r in domain_reweight(df, "loss").collect()}
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 1e-9
    assert out["easy"].n_docs == 2  # NULL loss excluded
    assert out["easy"].weight < out["mid"].weight < out["hard"].weight
    assert all(abs(r.prior_w - 1 / 3) < 1e-12 for r in out.values())

    flat = {r.source: r for r in domain_reweight(df, "loss", eta=0.0).collect()}
    assert all(abs(r.weight - r.prior_w) < 1e-12 for r in flat.values())

    pri = {r.source: r for r in domain_reweight(
        df, "loss", priors={"easy": 0.9, "hard": 0.1}).collect()}
    assert set(pri) == {"easy", "hard"}
    assert abs(sum(r.weight for r in pri.values()) - 1.0) < 1e-9
    # hard's multiplier is larger, so its share grows past the prior
    assert pri["hard"].weight > 0.1 and pri["easy"].weight < 0.9

    with _pytest.raises(ValueError, match="eta"):
        domain_reweight(df, "loss", eta=-0.1)


def test_recipe_mix_null_text_is_zero_tokens(spark):
    """budget_mix's NULL-text contract carries through the composition
    (and ORACLE_Q222 mirrors it with coalesce, the ADVICE-r13 latent
    class): a NULL-text doc counts 0 tokens, is still admitted in hash
    order, and never decrements the running budget."""
    from sparksync.ext.sampling import recipe_mix

    rows = [
        (1, "a", "w1 w2 w3"),
        (2, "a", None),
        (3, "a", "w4 w5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.doc_id: r for r in recipe_mix(df, budget_tokens=100).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2].n_tokens == 0
    assert max(r.cum_tokens for r in got.values()) == 5


def test_shuffle_order_is_deterministic_permutation(spark):
    """X222: rank is a dense permutation of 1..n, equals the Python
    replay of the (knuth bucket, id) order, reruns are identical, the
    xxhash64 production method is also a permutation (different
    order), and an unknown method raises."""
    import pytest as _pytest

    from sparksync.ext import _materialize
    from sparksync.ext.sampling import BUCKETS, _KNUTH_A, shuffle_order

    ids = [3, 11, 7, 42, 100, 5, 777, 12, 9001, 2]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.rank for r in shuffle_order(df, "doc_id").collect()}
    want_order = sorted(ids, key=lambda i: ((i * _KNUTH_A) % BUCKETS, i))
    want = {i: k + 1 for k, i in enumerate(want_order)}
    assert got == want
    _materialize.release_pinned()
    again = {r.doc_id: r.rank for r in shuffle_order(df, "doc_id").collect()}
    assert again == got

    _materialize.release_pinned()
    xx = {r.doc_id: r.rank for r in shuffle_order(
        df, "doc_id", method="xxhash64").collect()}
    assert sorted(xx.values()) == list(range(1, len(ids) + 1))
    assert xx != got  # different hash, different order

    with _pytest.raises(ValueError, match="unknown hash method"):
        shuffle_order(df, "doc_id", method="md5")
    _materialize.release_pinned()


def test_length_bucket_packing_matches_python_model(spark):
    """X223: bucket widths, counts, maxes and both pad accountings
    equal a Python replay; 0-token (incl. NULL-text) docs land in
    bucket 0 at zero cost; bucketing never pads more than global."""
    from sparksync.ext.sampling import length_bucket_packing

    texts = ["w", "a b c", None, "", " ".join(f"t{i}" for i in range(17)),
             "x y", "p q r s t u v w"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = {r.bucket_bits: r for r in length_bucket_packing(df).collect()}

    ns = [len([w for w in (t or "").split() if w]) for t in texts]
    per = {}
    for n in ns:
        b = n.bit_length() if n > 0 else 0
        d = per.setdefault(b, [0, 0, 0])
        d[0] += 1
        d[1] += n
        d[2] = max(d[2], n)
    gmax = max(d[2] for d in per.values())
    assert set(out) == set(per)
    for b, (cnt, tot, mx) in per.items():
        r = out[b]
        assert (r.n_docs, r.total_tokens, r.max_len) == (cnt, tot, mx), b
        assert r.pad_bucket == cnt * mx - tot
        assert r.pad_global == cnt * gmax - tot
        assert r.pad_bucket <= r.pad_global
    assert out[0].pad_bucket == 0 and out[0].pad_frac_bucket == 0.0


def test_signal_auc_validates_and_escapes_names(spark):
    """code-review r14: weird-but-legal column names (quotes,
    backticks) rank instead of injecting into the stack() SQL;
    non-numeric and missing signals fail loudly with the real
    constraint named."""
    import pytest as _pytest

    from sparksync.ext.features import signal_auc

    df = spark.createDataFrame(
        [(1.0, "x", 1), (2.0, "y", 0), (3.0, "z", 1)],
        ["a'b`c", "s", "y"],
    )
    r = signal_auc(df, "y", ["a'b`c"]).collect()[0]
    assert r.signal == "a'b`c" and r.n_pos == 2 and r.n_neg == 1

    with _pytest.raises(ValueError, match="non-numeric"):
        signal_auc(df, "y", ["s"])
    with _pytest.raises(ValueError, match="not in dataframe"):
        signal_auc(df, "y", ["nope"])

    # ADVICE r14: a backslash in the name must round-trip verbatim
    # (with escapedStringLiterals=false the unescaped form emitted a
    # real newline as the label), and duplicates must be rejected
    # rather than silently double-counted
    weird = "a\\nb"
    df2 = spark.createDataFrame(
        [(1.0, 1), (2.0, 0), (3.0, 1)], [weird, "y"]
    )
    r2 = signal_auc(df2, "y", [weird]).collect()[0]
    assert r2.signal == weird and r2.n_pos == 2 and r2.n_neg == 1
    with _pytest.raises(ValueError, match="duplicate"):
        signal_auc(df2, "y", [weird, weird])


def test_curriculum_stages_matches_sql_ntile(spark):
    """X224: stage assignment equals SQL ntile semantics (first n%k
    stages hold floor(n/k)+1 rows) across shapes — n<k (one row per
    stage), n%k != 0, k=1 (everything stage 1); NULL signals excluded;
    k<1 raises."""
    import pytest as _pytest

    from sparksync.ext import _materialize
    from sparksync.ext.sampling import curriculum_stages

    def py_ntile(n, k):
        sz, big = divmod(n, k)
        out = []
        for r in range(1, n + 1):
            if r <= big * (sz + 1):
                out.append((r + sz) // (sz + 1))
            else:
                out.append(big + (r - big * (sz + 1) + sz - 1) // max(sz, 1))
        return out

    rows = [(i, (i * 37) % 13) for i in range(23)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    order = sorted((s, i) for i, s in rows if s is not None)
    for k in (1, 4, 5, 23, 40):
        _materialize.release_pinned()
        got = {
            r.doc_id: (r.rank, r.stage)
            for r in curriculum_stages(df, "sig", "doc_id", n_stages=k).collect()
        }
        stages = py_ntile(len(order), k)
        want = {i: (r + 1, stages[r]) for r, (s, i) in enumerate(order)}
        assert got == want, k
    assert 99 not in got  # NULL signal excluded

    with _pytest.raises(ValueError, match="n_stages"):
        curriculum_stages(df, "sig", "doc_id", n_stages=0)
    _materialize.release_pinned()


def test_curriculum_stages_rejects_reserved_names(spark):
    """code-review r14: a signal/id column named after an internal
    (rank/_n/...) would be silently overwritten — fail loudly instead,
    the signal_auc convention."""
    import pytest as _pytest

    from sparksync.ext.sampling import curriculum_stages

    df = spark.createDataFrame([(1, 2)], "rank long, sig long")
    with _pytest.raises(ValueError, match="collides"):
        curriculum_stages(df, "sig", "rank")
    df2 = spark.createDataFrame([(1, 2)], "doc_id long, _n long")
    with _pytest.raises(ValueError, match="collides"):
        curriculum_stages(df2, "_n", "doc_id")


def test_bpe_train_matches_python_model(spark):
    """X226: the full trainer loop equals the canonical Sennrich BPE
    recipe replayed in pure Python — greedy left-to-right merges (the
    'banana'/'a a a a a' overlap shapes), frequency-weighted pair
    counts, lexicographic (left, right) ties, multi-char merges in
    later steps, loop break when pairs run dry; \\x1f-bearing words are
    excluded; num_merges < 1 raises."""
    import collections

    import pytest as _pytest

    from sparksync.ext.textops import bpe_train

    docs = [
        ("low low low lower lowest newer newer wider new new",),
        ("a a a a a aaa banana bandana bad\x1fword",),
    ]

    def py_bpe(texts, k):
        words = collections.Counter(
            w for t in texts for w in t.split() if "\x1f" not in w
        )
        vocab = {tuple(w): f for w, f in words.items()}
        merges = []
        for step in range(1, k + 1):
            c = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    c[(syms[i], syms[i + 1])] += f
            if not c:
                break
            (a, b), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, a, b, a + b, cnt))
            nxt = {}
            for syms, f in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if (
                        i < len(syms) - 1
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                nxt[tuple(res)] = nxt.get(tuple(res), 0) + f
            vocab = nxt
        return merges

    df = spark.createDataFrame(docs, ["text"])
    for k in (1, 4, 9):
        got = [tuple(r) for r in bpe_train(df, num_merges=k).collect()]
        assert got == py_bpe([t for t, in docs], k), k

    # loop break: a corpus whose pairs run dry before num_merges
    tiny = spark.createDataFrame([("ab ab cd",)], ["text"])
    got = [tuple(r) for r in bpe_train(tiny, num_merges=10).collect()]
    assert got == py_bpe(["ab ab cd"], 10) and len(got) == 2

    with _pytest.raises(ValueError, match="num_merges"):
        bpe_train(df, num_merges=0)


def test_bpe_train_local_path_parity(spark, monkeypatch):
    """Round 16: the driver-local merge loop (vocabularies under
    _BPE_LOCAL_MAX_VOCAB rows are collected and merged in Python)
    returns the IDENTICAL merge table to the distributed argmax loop —
    including greedy-overlap shapes ('a a a a a'), lexicographic ties,
    multi-char later merges and the pairs-run-dry break. Over-cap (or
    cap=0) inputs must take the distributed loop."""
    from sparksync.ext import textops

    docs = [
        ("low low low lower lowest newer newer wider new new",),
        ("a a a a a aaa banana bandana bañana",),
        ("ab ab cd",),
    ]
    df = spark.createDataFrame(docs, ["text"])
    for k in (1, 5, 12):
        monkeypatch.setattr(textops, "_BPE_LOCAL_MAX_VOCAB", 1 << 16)
        local = [tuple(r) for r in textops.bpe_train(df, num_merges=k).collect()]
        monkeypatch.setattr(textops, "_BPE_LOCAL_MAX_VOCAB", 0)
        dist = [tuple(r) for r in textops.bpe_train(df, num_merges=k).collect()]
        assert local == dist, (k, local, dist)
    # a cap between 0 and the vocab size routes to the distributed loop
    monkeypatch.setattr(textops, "_BPE_LOCAL_MAX_VOCAB", 2)
    dist2 = [tuple(r) for r in textops.bpe_train(df, num_merges=3).collect()]
    monkeypatch.setattr(textops, "_BPE_LOCAL_MAX_VOCAB", 1 << 16)
    local2 = [tuple(r) for r in textops.bpe_train(df, num_merges=3).collect()]
    assert dist2 == local2


def test_bpe_train_one_corpus_scan(spark):
    """X226 scale shape: the corpus is read ONCE (the word-count
    groupBy into the checkpointed v0); every merge iteration runs on
    vocabulary rows only. An accumulator-bearing UDF in the text
    pipeline counts corpus-row executions across a 5-merge train —
    exactly n_rows ticks, the components-loop guard pattern."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from sparksync.ext.textops import bpe_train

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, StringType())
    n = 40
    base = spark.range(n).select(
        tick(
            F.concat(F.lit("word"), (F.col("id") % 7).cast("string"))
        ).alias("text")
    )
    out = bpe_train(base, num_merges=5).collect()
    assert len(out) == 5
    assert acc.value == n, (
        f"corpus pipeline executed {acc.value / n:.1f}x - vocabulary "
        "is not checkpoint-backed"
    )


def test_curriculum_order_matches_composed_model(spark):
    """X227: the composed loader order equals curriculum_stages +
    shuffle_order composed by hand — stage-major (every stage-s
    position below every stage-(s+1) position), knuth-bucket dispersion
    within stage, stage_rank dense 1..stage_size from pure offset
    arithmetic; NULL signals excluded; reserved names and bad method
    raise."""
    import pytest as _pytest

    from sparksync.ext.sampling import (
        BUCKETS,
        _KNUTH_A,
        curriculum_order,
        curriculum_stages,
    )

    rows = [(i, (i * 37) % 13) for i in range(47)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    for k in (1, 4, 7):
        got = {
            r.doc_id: (r.stage, r.position, r.stage_rank)
            for r in curriculum_order(
                df, "sig", "doc_id", n_stages=k
            ).collect()
        }
        stages = {
            r.doc_id: r.stage
            for r in curriculum_stages(df, "sig", "doc_id", n_stages=k).collect()
        }
        order = sorted(
            (stages[i], (i * _KNUTH_A) % BUCKETS, i)
            for i, s in rows
            if s is not None
        )
        want = {}
        seen_per_stage: dict[int, int] = {}
        for pos, (st, _b, i) in enumerate(order, start=1):
            seen_per_stage[st] = seen_per_stage.get(st, 0) + 1
            want[i] = (st, pos, seen_per_stage[st])
        assert got == want, k
        assert 99 not in got

    with _pytest.raises(ValueError, match="n_stages"):
        curriculum_order(df, "sig", "doc_id", n_stages=0)
    with _pytest.raises(ValueError, match="collides"):
        curriculum_order(
            df.withColumnRenamed("sig", "position"), "position", "doc_id"
        )
    with _pytest.raises(ValueError, match="unknown hash method"):
        curriculum_order(df, "sig", "doc_id", method="md5")


def test_bpe_segment_matches_python_apply(spark):
    """X228: segmenting with a frozen merge list equals the canonical
    apply loop (each merge applied greedily left-to-right in training
    order) replayed in pure Python; accepts both bpe_train's DataFrame
    and a pre-collected pair list; n_pieces is len(pieces.split());
    zero merges = character segmentation."""
    from sparksync.ext.textops import bpe_segment, bpe_train

    docs = [("low low low lower lowest newer newer wider new new",),
            ("a a a a a aaa banana bandana",)]
    df = spark.createDataFrame(docs, ["text"])
    merges_df = bpe_train(df, num_merges=6)
    merges = [(r.left_sym, r.right_sym) for r in merges_df.collect()]

    def py_apply(word, pairs):
        syms = list(word)
        for a, b in pairs:
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    import collections

    wf = collections.Counter(w for t, in docs for w in t.split())
    for m in (merges_df, merges):
        got = {r.w: (r.wf, r.n_pieces, r.pieces)
               for r in bpe_segment(df, m).collect()}
        want = {
            w: (f, len(py_apply(w, merges)), " ".join(py_apply(w, merges)))
            for w, f in wf.items()
        }
        assert got == want

    # zero merges -> pure character segmentation
    got0 = {r.w: r.pieces for r in bpe_segment(df, []).collect()}
    assert got0["banana"] == "b a n a n a"


def test_bpe_train_seeded_random_corpora(spark):
    """X226 breadth sweep: seeded random tiny-alphabet corpora maximize
    merge collisions, overlap runs (aaa...) and lexicographic ties —
    trainer AND segmenter must equal the pure-Python Sennrich replay on
    every one (deterministic seeds, no flakiness; hypothesis-style
    coverage without a function-scoped-fixture clash)."""
    import collections
    import random

    from sparksync.ext.textops import bpe_segment, bpe_train

    def py_bpe(texts, k):
        wc = collections.Counter(w for t in texts for w in t.split())
        vocab = {tuple(w): f for w, f in wc.items()}
        merges = []
        for step in range(1, k + 1):
            c = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    c[(syms[i], syms[i + 1])] += f
            if not c:
                break
            (a, b), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, a, b, a + b, cnt))
            nxt = {}
            for syms, f in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                nxt[tuple(res)] = nxt.get(tuple(res), 0) + f
            vocab = nxt
        return merges, vocab

    for seed in range(6):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abxy") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 20))
        ]
        k = rng.randint(1, 5)
        text = " ".join(words)
        df = spark.createDataFrame([(text,)], ["text"])
        got = [tuple(r) for r in bpe_train(df, num_merges=k).collect()]
        want_merges, want_vocab = py_bpe([text], k)
        assert got == want_merges, (seed, k, text)

        got_seg = {
            r.w: (r.wf, r.pieces)
            for r in bpe_segment(
                df, [(m[1], m[2]) for m in want_merges]
            ).collect()
        }
        want_seg: dict = {}
        for syms, f in want_vocab.items():
            w = "".join(syms)
            pf = want_seg.get(w, (0, " ".join(syms)))[0] + f
            want_seg[w] = (pf, " ".join(syms))
        assert got_seg == want_seg, (seed, k, text)


def test_pq_encode_and_adc_match_python_model(spark):
    """X229/X230: encode (per-subspace argmin by squared L2, ties to
    the lowest code) and the ADC read path (distance-table sum in
    subspace order) equal a pure-Python replay on planted vectors,
    including a tie between two identical codebook entries; dim not
    divisible by M raises; empty input raises."""
    import pytest as _pytest

    from sparksync.ext import similarity as sim

    # 6 vectors of dim 4, M=2 subspaces, n_codes=2 (vec 0 and 1);
    # vec 5 ties exactly between codes on subspace 0 -> lowest code
    vecs = {
        0: [0.0, 0.0, 1.0, 1.0],
        1: [2.0, 2.0, 3.0, 3.0],
        2: [0.1, 0.1, 2.9, 2.9],
        3: [1.9, 2.1, 1.2, 0.8],
        4: [5.0, -5.0, 0.5, 0.5],
        5: [1.0, 1.0, 2.0, 2.0],  # equidistant to both codes everywhere
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    M, NC, SD = 2, 2, 2

    def sq(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    cbs = {
        (j, c): vecs[c][j * SD:(j + 1) * SD]
        for c in range(NC)
        for j in range(M)
    }
    want = {}
    for vid, v in vecs.items():
        for j in range(M):
            d2, code = min(
                (sq(v[j * SD:(j + 1) * SD], cbs[(j, c)]), c)
                for c in range(NC)
            )
            want[(vid, j)] = (code, d2)
    got = {
        (r.vec_id, r.subspace): (r.code, r.d2)
        for r in sim.pq_encode(df, m_subspaces=M, n_codes=NC).collect()
    }
    assert got == want
    assert got[(5, 0)][0] == 0 and got[(5, 1)][0] == 0  # tie -> low code

    top = sim.pq_adc_topk(df, 0, k=3, m_subspaces=M, n_codes=NC).collect()
    qd = {(j, c): sq(vecs[0][j * SD:(j + 1) * SD], cbs[(j, c)])
          for j in range(M) for c in range(NC)}
    ad = {
        vid: sum(qd[(j, want[(vid, j)][0])] for j in range(M))
        for vid in vecs if vid != 0
    }
    py = sorted(ad.items(), key=lambda kv: (kv[1], kv[0]))[:3]
    assert [(r.neighbor_id, r.approx_d2) for r in top] == py

    with _pytest.raises(ValueError, match="not divisible"):
        sim.pq_encode(df, m_subspaces=3)
    with _pytest.raises(ValueError, match="empty"):
        sim.pq_encode(df.where("vec_id < 0"))


def test_pq_train_reduces_distortion_and_replays(spark):
    """X229 training: per-subspace Lloyd's must be monotone (total
    squared distortion after training <= the seed codebooks') and the
    trained assignment must equal a pure-Python Lloyd's replay with
    the same empty-cell-keeps-centroid rule."""
    import random

    from pyspark.sql import functions as F

    from sparksync.ext import similarity as sim

    rng = random.Random(15)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(40)}
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    M, NC, SD, IT = 2, 4, 4, 3

    def sq(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    def assign(cbs):
        out = {}
        for vid, v in vecs.items():
            for j in range(M):
                d2, code = min(
                    (sq(v[j * SD:(j + 1) * SD], cbs[(j, c)]), c)
                    for c in range(NC)
                )
                out[(vid, j)] = (code, d2)
        return out

    cbs = {
        (j, c): vecs[c][j * SD:(j + 1) * SD]
        for c in range(NC)
        for j in range(M)
    }
    seed_distortion = sum(d for _, d in assign(cbs).values())
    for _ in range(IT):
        a = assign(cbs)
        for j in range(M):
            for c in range(NC):
                members = [
                    vecs[vid][j * SD:(j + 1) * SD]
                    for (vid, jj), (code, _) in a.items()
                    if jj == j and code == c
                ]
                if members:
                    import numpy as np

                    cbs[(j, c)] = np.stack(members).mean(axis=0).tolist()
    trained = sim.pq_train(df, m_subspaces=M, n_codes=NC, n_iters=IT)
    enc = sim.pq_encode(
        df, m_subspaces=M, n_codes=NC, codebooks=trained
    )
    got_distortion = enc.agg(F.sum("d2")).collect()[0][0]
    py = assign(cbs)
    py_distortion = sum(d for _, d in py.values())
    assert got_distortion <= seed_distortion + 1e-9
    assert abs(got_distortion - py_distortion) < 1e-9
    got_codes = {
        (r.vec_id, r.subspace): r.code for r in enc.collect()
    }
    assert got_codes == {k: v[0] for k, v in py.items()}


def test_pq_adc_recall_against_exact_knn(spark):
    """X230 sanity: on the fixture corpus, ADC top-10 must overlap
    exact cosine kNN meaningfully (the PQ index is an approximation,
    not a hash of noise) — recall@10 >= 0.3 with 16 seed codebooks on
    the correlated fixture embeddings, and the ADC list is 10 unique
    real neighbors."""
    from sparksync.ext import similarity as sim
    from sparksync.source import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {r.neighbor_id for r in sim.knn_brute(emb, 0, k=10).collect()}
    adc = [r.neighbor_id for r in sim.pq_adc_topk(emb, 0, k=10).collect()]
    assert len(adc) == len(set(adc)) == 10 and 0 not in adc
    assert len(exact & set(adc)) >= 3


def test_pq_adc_batch_and_recall_audit(spark):
    """X232: pq_adc_batch equals pq_adc_topk run per query (same
    ordered-fold sums, per-query partitioned ranking); pq_recall_audit
    equals the hand-computed intersection of exact squared-L2 top-k
    and ADC top-k, divided by the per-query truth count."""
    from sparksync.ext import similarity as sim
    from sparksync.source import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = [0, 7, 13]
    batch = {
        (r.query_id, r.neighbor_id): (r.rnk, r.approx_d2)
        for r in sim.pq_adc_batch(emb, qids, k=5).collect()
    }
    for qid in qids:
        single = sim.pq_adc_topk(emb, qid, k=5).collect()
        for r in single:
            assert batch[(qid, r.neighbor_id)] == (r.rnk, r.approx_d2)
    assert len(batch) == 15

    # recall audit: replay by hand off the engine's own halves
    import math

    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}

    def sq(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    got = {r.query_id: (r.n_hits, r.recall_at_k)
           for r in sim.pq_recall_audit(emb, qids, k=5).collect()}
    adc5 = {
        qid: {r.neighbor_id for r in sim.pq_adc_topk(emb, qid, k=5).collect()}
        for qid in qids
    }
    for qid in qids:
        exact = sorted(
            ((sq(vecs[v], vecs[qid]), v) for v in vecs if v != qid)
        )[:5]
        truth = {v for _, v in exact}
        hits = len(truth & adc5[qid])
        assert got[qid][0] == hits
        assert math.isclose(got[qid][1], hits / len(truth), rel_tol=0, abs_tol=0)


def test_ivf_pq_topk_matches_python_model(spark):
    """X231: the composed index equals the python replay — nprobe
    nearest seed clusters by cosine (ties to the low centroid id),
    then ADC restricted to members of the probed clusters."""
    import math

    from sparksync.ext import similarity as sim
    from sparksync.source import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    M, NC, SD, NCENT, NPROBE, K = 8, 16, 8, 8, 2, 10

    def sq(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b)))

    # python: assignment, probe, members, ADC
    cents = {c: vecs[c] for c in range(NCENT)}
    assign = {
        v: min(((-cos(vecs[v], cents[c]), c) for c in cents))[1]
        for v in vecs
    }
    probe = [c for _, c in sorted(((-cos(cents[c], vecs[0]), c)
                                   for c in cents))[:NPROBE]]
    members = {v for v, c in assign.items() if c in set(probe)}
    cbs = {(j, c): vecs[c][j * SD:(j + 1) * SD]
           for c in range(NC) for j in range(M)}
    codes = {
        (v, j): min(((sq(vecs[v][j * SD:(j + 1) * SD], cbs[(j, c)]), c)
                     for c in range(NC)))[1]
        for v in vecs for j in range(M)
    }
    qd = {(j, c): sq(vecs[0][j * SD:(j + 1) * SD], cbs[(j, c)])
          for j in range(M) for c in range(NC)}
    ad = {
        v: sum(qd[(j, codes[(v, j)])] for j in range(M))
        for v in members if v != 0
    }
    want = sorted(ad.items(), key=lambda kv: (kv[1], kv[0]))[:K]
    got = [(r.neighbor_id, r.approx_d2)
           for r in sim.ivf_pq_topk(emb, 0, k=K).collect()]
    assert got == want
    # the composition prunes: every result is a member of a probed
    # cluster, and membership is a strict subset of the corpus
    assert {v for v, _ in got} <= members and len(members) < len(vecs)


# ---------------------------------------------------------------------------
# Wide expressions as parsed SQL strings. Each function below once
# constructed its wide expression as a Column tree, one py4j round trip
# per node. The Column forms are kept here as references: the parsed
# form must analyze to the same plan (sameSemantics) and return the same
# rows, and its construction must stay inside a py4j round-trip budget,
# so a plan-construction cost regression fails here instead of in a
# benchmark.


@contextlib.contextmanager
def _py4j_calls():
    """Count the commands this thread sends to the JVM. py4j's
    finalizer thread sends the object-release messages, which belong to
    whatever work dropped the objects, so they are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    box = [0]
    me = threading.get_ident()

    def counting(conn, *a, **k):
        if threading.get_ident() == me:
            box[0] += 1
        return orig(conn, *a, **k)

    ClientServerConnection.send_command = counting
    try:
        yield box
    finally:
        ClientServerConnection.send_command = orig


def _column_minhash_signatures(sh, id_col="doc_id", k=dedup.MINHASH_K):
    mask32 = F.lit(0xFFFFFFFF)
    base = sh.select(
        F.col(id_col),
        F.xxhash64(F.col("shingle")).bitwiseAND(mask32).alias("_x"),
    )
    mins = [
        F.min((F.lit(a) * F.col("_x") + F.lit(b)).bitwiseAND(mask32)).alias(f"h{i}")
        for i, (a, b) in enumerate(dedup._mh_consts(k))
    ]
    return base.groupBy(id_col).agg(*mins)


def _column_band_buckets(sig, id_col, bands, rows):
    def band_key(b):
        return F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])

    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_key(b).alias("key"),
                band_key((b + 1) % bands).alias("nxt"),
            )
            for b in range(bands)
        ]
    )
    sigall = F.xxhash64(*[F.col(f"h{i}") for i in range(bands * rows)])
    return sig.select(
        F.col(id_col), sigall.alias("sigall"), F.explode(band_keys).alias("bk")
    ).select(
        id_col,
        "sigall",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.col("bk.nxt").alias("nxt"),
    )


def _column_simhash(df, id_col="doc_id", text_col="text", hash_fn=None):
    from sparksync.ext.textops import tokens

    if hash_fn is None:
        hash_fn = F.xxhash64
    hs = F.transform(tokens(text_col), lambda t: hash_fn(t))
    base = df.select(F.col(id_col), hs.alias("_hs")).where(F.size("_hs") > 0)
    ntok = F.size(F.col("_hs"))
    fp = None
    for i in range(dedup.SIMHASH_BITS):
        cnt = F.size(
            F.filter(
                F.col("_hs"),
                lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == F.lit(1),
            )
        )
        term = F.when(cnt * 2 > ntok, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return base.select(F.col(id_col), fp.alias("simhash"))


def _column_simhash_pairs(
    df, max_hamming=dedup.SIMHASH_MAX_HAMMING, id_col="doc_id", text_col="text",
    bucket_cap=10_000, hash_fn=None,
):
    from sparksync.ext._materialize import _pin

    n_bands = max_hamming + 1
    width = dedup.SIMHASH_BITS // n_bands

    def band_val(b):
        return (
            F.shiftright(F.col("simhash"), (b % n_bands) * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .cast("long")
        )

    fp = _pin(_column_simhash(df, id_col, text_col, hash_fn=hash_fn))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_val(b).alias("key"),
                band_val(b + 1).alias("nxt"),
            )
            for b in range(n_bands)
        ]
    )
    keyed = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("bk")
    ).select(
        id_col,
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
        F.col("bk.nxt").alias("nxt"),
    )
    if bucket_cap is not None and n_bands >= 2:
        sizes = keyed.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_n"))
        keyed = keyed.join(F.broadcast(sizes), ["band", "key"]).select(
            id_col,
            "simhash",
            "band",
            F.when(
                F.col("_n") > bucket_cap,
                (F.col("key") + 1) * (2**width) + F.col("nxt"),
            )
            .otherwise(F.col("key"))
            .alias("key"),
        )
    keyed = _pin(keyed.repartition(F.col("band"), F.col("key")))
    a = keyed.select(F.col(id_col).alias("d1"), F.col("simhash").alias("f1"), "band", "key")
    b = keyed.select(F.col(id_col).alias("d2"), F.col("simhash").alias("f2"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("f1").bitwiseXOR(F.col("f2"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["d1", "d2"])
    )


def _column_lsh_scored_pairs(
    emb, n_planes=32, n_bands=4, dim=64, bucket_cap=10_000,
    id_col="vec_id", vec_col="embedding",
):
    from pyspark.storagelevel import StorageLevel

    dot, cosine = similarity.dot, similarity.cosine
    width = n_planes // n_bands
    e = emb.select(F.col(id_col), similarity._to_double(F.col(vec_col)).alias("v"))
    planes = similarity._rp_planes(n_planes, dim)
    bits_col = F.transform(
        F.lit(planes),
        lambda plane: F.when(dot(F.col("v"), plane) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    pow2 = F.lit([2**i for i in range(width)])

    def band_from_bits(bits, bi):
        return F.aggregate(
            F.zip_with(
                F.slice(bits, bi * width + 1, F.lit(width)),
                pow2,
                lambda b, p: (b * p).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    cells = F.element_at(
        F.transform(
            F.array(F.struct(bits_col.alias("b"))),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bi: F.struct(
                    bi.cast("int").alias("band"),
                    band_from_bits(s["b"], bi).alias("bucket"),
                    band_from_bits(
                        s["b"], F.pmod(bi + 1, F.lit(n_bands))
                    ).alias("nxt"),
                ),
            ),
        ),
        1,
    )
    hashed = e.select(id_col, "v", cells.alias("_cells")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keyed = hashed.select(id_col, F.explode("_cells").alias("bk")).select(
        id_col,
        F.col("bk.band").alias("band"),
        F.col("bk.bucket").alias("bucket"),
        F.col("bk.nxt").alias("nxt"),
    )
    if bucket_cap is not None:
        sizes = keyed.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        keyed = keyed.join(F.broadcast(sizes), ["band", "bucket"]).select(
            id_col,
            "band",
            F.when(
                F.col("_n") > bucket_cap,
                (F.col("bucket") + 1) * (2**width) + F.col("nxt"),
            )
            .otherwise(F.col("bucket"))
            .alias("bucket"),
        )
    a = keyed.select(F.col(id_col).alias("d1"), "band", "bucket")
    b = keyed.select(F.col(id_col).alias("d2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    va = hashed.select(F.col(id_col).alias("d1"), F.col("v").alias("va"))
    vb = hashed.select(F.col(id_col).alias("d2"), F.col("v").alias("vb"))
    return (
        cand.join(va, "d1")
        .join(vb, "d2")
        .select("d1", "d2", cosine(F.col("va"), F.col("vb")).alias("cos"))
    )


def _same_plan_and_rows(new, old):
    assert new.sameSemantics(old)
    assert new.schema == old.schema
    assert sorted(new.collect()) == sorted(old.collect())


def _build_within(budget, build):
    """Run `build` (lazily constructs a DataFrame) and assert its py4j
    round-trip count stays within `budget`; return the DataFrame."""
    with _py4j_calls() as calls:
        df = build()
    assert calls[0] <= budget, f"{calls[0]} py4j round trips > budget {budget}"
    return df


def test_minhash_parsed_expressions(docs):
    sh = dedup.shingles(docs)
    sig = _build_within(600, lambda: dedup.minhash_signatures(sh))
    _same_plan_and_rows(sig, _column_minhash_signatures(sh))
    bands, rows = dedup.LSH_BANDS, dedup.LSH_ROWS
    bk = _build_within(300, lambda: dedup._band_buckets(sig, "doc_id", bands, rows))
    _same_plan_and_rows(bk, _column_band_buckets(sig, "doc_id", bands, rows))


def test_simhash_parsed_expressions(docs, monkeypatch):
    from sparksync.ext import _materialize

    # simhash_pairs pins twice, and a pin probes every live registry
    # row: start from an empty registry so the budget measures
    # simhash_pairs itself, not the pins earlier tests left behind
    monkeypatch.setattr(_materialize, "_PINNED", [])
    fp = _build_within(600, lambda: dedup.simhash(docs))
    _same_plan_and_rows(fp, _column_simhash(docs))
    md5 = dedup.md5_token_hash
    _same_plan_and_rows(
        dedup.simhash(docs, hash_fn=md5), _column_simhash(docs, hash_fn=md5)
    )
    pairs = _build_within(2_000, lambda: dedup.simhash_pairs(docs, bucket_cap=5))
    old = _column_simhash_pairs(docs, bucket_cap=5)
    _same_plan_and_rows(pairs, old)
    assert pairs.count() > 0
    _materialize.release_pinned()


def test_lsh_scored_pairs_parsed_expressions(emb):
    new = _build_within(4_000, lambda: similarity._lsh_scored_pairs(emb))
    _same_plan_and_rows(new, _column_lsh_scored_pairs(emb))
    assert new.count() > 0


def test_local_frame_matches_create_dataframe_and_is_local_relation(spark):
    """local_frame is the one way sparksync builds a table from driver
    rows: same schema (nullability included) and rows as
    createDataFrame(rows, ddl), but planned as a LocalRelation, so no
    Python worker runs when it is read."""
    from pyspark.sql.types import LongType, StructField, StructType

    from sparksync.session import local_frame

    ddl = "a long, b int, c double, d string, e array<double>"
    rows = [
        (1, 2, 0.1, "x", [1.5, None, -0.0]),
        (None, None, None, None, None),
        (2**40, -(2**31), 1e-300, "", []),
    ]
    strict = StructType(
        [StructField("n", LongType(), False), StructField("m", LongType(), True)]
    )
    for rs, schema in ((rows, ddl), ([], ddl), ([(1, None), (2, 3)], strict)):
        new = local_frame(spark, rs, schema)
        old = spark.createDataFrame(rs, schema)
        assert new.schema == old.schema
        assert new.collect() == old.collect()
        leaf = new._jdf.queryExecution().analyzed().getClass().getSimpleName()
        assert leaf == "LocalRelation"
        assert "LogicalRDD" not in new._jdf.queryExecution().optimizedPlan().toString()
