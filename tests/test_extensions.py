"""Property tests for extension operators whose semantics aren't
SQL-expressible (simhash hashes, LSH approximation, multimodal stubs)."""

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.extensions.dedup import simhash_expr, simhash_pairs
from epic_pandas_spark.extensions.similarity import knn_bruteforce, lsh_bucketed_knn
from epic_pandas_spark.extensions.multimodal import (
    with_media_metadata,
    extract_features,
    sample_frames,
    decode_image_batch,
)
from epic_pandas_spark.session import load_table
from tests.conftest import SF_DIR


def test_simhash_invariants(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),   # permutation -> same bag -> same hash
            (3, "completely different words entirely"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r["sh"] for r in df.select("id", simhash_expr(F.col("text")).alias("sh")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_simhash_pairs_finds_permuted_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "h g f e d c b a"), (3, "x y z w v u t s")],
        "id long, text string",
    )
    pairs = simhash_pairs(df, "text", "id", max_hamming=0).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_simhash_banding_zero_misses_vs_bruteforce(spark):
    """4-band blocking must be EXACT for hamming <= 3 (pigeonhole: one of
    the 4 16-bit bands has zero differing bits). Compare against an
    unblocked all-pairs hamming join on the full sf0.001 documents corpus:
    identical pair sets, not just counts."""
    from epic_pandas_spark.extensions.dedup import simhash_table

    docs = load_table(spark, SF_DIR, "documents")
    sh = simhash_table(docs, "text", "doc_id").localCheckpoint()
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))  # nested-loop: test-only oracle
        .filter(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3)
        .select("id_a", "id_b")
    )
    brute_pairs = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    banded = simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    banded_pairs = {(r["id_a"], r["id_b"]) for r in banded.collect()}
    assert banded_pairs == brute_pairs
    assert brute_pairs, "corpus should contain at least one near-dup pair"


def test_simhash_banding_parameter_guard():
    """max_hamming >= n_bands would silently lose recall — must refuse."""
    with pytest.raises(ValueError, match="max_hamming < n_bands"):
        simhash_pairs(None, "text", "id", max_hamming=4, n_bands=4)


def test_lsh_finds_identical_vector(spark):
    # an exact duplicate always hashes to the same bucket -> guaranteed hit
    emb = load_table(spark, SF_DIR, "embeddings")
    clone = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(9999).cast("long"))
    corpus = emb.unionByName(clone)
    queries = emb.filter(F.col("vec_id") == 0)
    hits = lsh_bucketed_knn(corpus, queries, dim=64, k=5, n_planes=8).collect()
    assert hits, "identical vector must share every LSH bucket"
    top = max(hits, key=lambda r: r["cosine"])
    assert top["vec_id"] == 9999 and abs(top["cosine"] - 1.0) < 1e-9


def test_media_metadata_and_frames(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"0123456789abcdef"))], "id long, payload binary"
    )
    meta = with_media_metadata(df, "payload").select("meta.*").first()
    assert meta["byte_len"] == 16
    # fmt_col accepts a column-name string, symmetric with payload_col
    fmt_df = df.withColumn("fmt", F.lit("png"))
    meta2 = with_media_metadata(fmt_df, "payload", fmt_col="fmt").select("meta.*").first()
    assert meta2["declared_format"] == "png"
    frames = sample_frames(df, "payload", frame_size=4, every_n=2).collect()
    assert [bytes(r["frame_bytes"]) for r in frames] == [b"0123", b"89ab"]
    assert [r["frame_idx"] for r in frames] == [0, 1]


def test_extract_features_deterministic(spark):
    df = spark.createDataFrame([(7, bytearray(b"abc"))], "id long, payload binary")
    feats = extract_features(df).first()
    assert feats["features"] == [3.0, 97.0, 99.0, float((97 + 98 + 99) % 256)]


def test_decode_image_is_stubbed():
    import pandas as pd

    with pytest.raises(NotImplementedError):
        decode_image_batch(pd.Series([b"not an image"]))


def test_entropy_udf_matches_expression_pipeline(spark):
    """The vectorized numpy fast path must agree with the oracle-checked
    explode/groupBy expression pipeline (ASCII corpus: char == byte)."""
    from epic_pandas_spark.functions.entropy import shannon_entropy, entropy_udf

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    expr = {
        r["doc_id"]: round(r["entropy"], 9)
        for r in shannon_entropy(docs, "text", by=["doc_id"]).collect()
    }
    udf = {
        r["doc_id"]: round(r["e"], 9)
        for r in docs.select("doc_id", entropy_udf(F.col("text")).alias("e")).collect()
    }
    assert expr == udf


def test_connected_components_chain(spark):
    """A 5-node chain must collapse to one component labeled by its min."""
    from epic_pandas_spark.extensions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_nonconverged_raises(spark, monkeypatch):
    """Exiting via max_iterations with labels still moving must not return
    silently-wrong clusters: the distributed tier raises."""
    from epic_pandas_spark.extensions import dedup

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)  # force star
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iterations=1)


def test_connected_components_driver_tier_matches_distributed(spark, monkeypatch):
    """The bounded-dim driver union-find tier: on a random multi-component
    graph its labels must equal the distributed star tier's exactly
    (cluster = min reachable id)."""
    import random

    from epic_pandas_spark.extensions import dedup

    rng = random.Random(11)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    driver = {r["id"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)
    star = {r["id"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    assert driver == star


def test_connected_components_star_path_graph_round_bound(spark, monkeypatch):
    """Large-star/small-star on a 2^12-node path graph (diameter 4095)
    must reach the single-star fixpoint within the documented O(log n)
    round budget — max_iterations=16 > log2(4096)=12 — and label every
    node with the component min (VERDICT r2 item 5)."""
    from epic_pandas_spark.extensions import dedup

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)  # force star
    n = 1 << 12
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labels = dedup.connected_components(pairs, max_iterations=16)
    agg = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("id").alias("n_ids"),
        F.sum((F.col("cluster") != 0).cast("long")).alias("bad"),
    ).first()
    assert agg["n"] == n and agg["n_ids"] == n and agg["bad"] == 0


def test_connected_components_star_matches_minlabel(spark, monkeypatch):
    """The star tier must label an irregular multi-component graph
    (stars, chains, a cycle, isolated pair) exactly as the driver tier."""
    from epic_pandas_spark.extensions import dedup

    edges = (
        [(1, 2), (2, 3), (3, 4)]                 # chain
        + [(10, 11), (10, 12), (10, 13)]         # star centered high
        + [(20, 21), (21, 22), (22, 20)]         # cycle
        + [(30, 31)]                             # pair
        + [(40, 41), (41, 42), (42, 43), (43, 40), (43, 44)]  # cycle + tail
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {r["id"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)
    b = {r["id"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    assert a == b
    assert b[44] == 40 and b[13] == 10 and b[4] == 1


def test_connected_components_auto_crossover(spark, monkeypatch):
    """The tier is chosen by the checkpointed edge count against
    _CC_DRIVER_MAX_EDGES: a graph exactly at the bound stays on the
    driver, one edge more runs the star rounds — identical labels either
    way. Null ids fall through to the star tier."""
    from epic_pandas_spark.extensions import dedup

    star_calls = []
    star = dedup._connected_components_star
    monkeypatch.setattr(
        dedup, "_connected_components_star",
        lambda *args: star_calls.append(1) or star(*args),
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 3)
    got = {r["id"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    assert got == want and star_calls == []
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 2)
    got = {r["id"]: r["cluster"] for r in dedup.connected_components(pairs).collect()}
    assert got == want and star_calls == [1]

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 100)
    with_null = spark.createDataFrame([(1, 2), (2, None)], "id_a long, id_b long")
    got = {r["id"]: r["cluster"] for r in dedup.connected_components(with_null).collect()}
    assert got[1] == 1 and got[2] == 1 and star_calls == [1, 1]


def test_connected_components_star_nonconverged_raises(spark, monkeypatch):
    from epic_pandas_spark.extensions import dedup

    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)  # force star
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components(pairs, max_iterations=1)


def test_ivf_knn_recall_vs_bruteforce(spark):
    from epic_pandas_spark.extensions.similarity import ivf_knn

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    # probing all lists == exhaustive search == exact recall
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_knn(emb, queries, n_centroids=8, n_probe=8, k=5).collect()
    }
    assert full == exact
    # probing 4 of 8 lists: bounded scan, partial but substantial recall
    part = {
        (r["query_id"], r["vec_id"])
        for r in ivf_knn(emb, queries, n_centroids=8, n_probe=4, k=5).collect()
    }
    assert len(part & exact) / len(exact) >= 0.5


def test_ivf_kmeans_codebook_recall(spark):
    """The Lloyd-trained codebook must (a) stay exact under full probe and
    (b) reach at least the hash-sampled codebook's recall at the same
    n_probe on the embeddings fixture (VERDICT r2 item 6). Everything
    here is deterministic — fixed data, seedless kmeans init — so this is
    a fixed comparison, not a flaky one."""
    from epic_pandas_spark.extensions.similarity import ivf_knn

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    full_trained = {
        (r["query_id"], r["vec_id"])
        for r in ivf_knn(
            emb, queries, n_centroids=8, n_probe=8, k=5, codebook="kmeans"
        ).collect()
    }
    assert full_trained == exact

    def recall(cb: str) -> float:
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_knn(
                emb, queries, n_centroids=8, n_probe=2, k=5, codebook=cb
            ).collect()
        }
        return len(got & exact) / len(exact)

    assert recall("kmeans") >= recall("hash")

    with pytest.raises(ValueError, match="codebook"):
        ivf_knn(emb, queries, codebook="nope")


def test_kmeans_separates_obvious_clusters(spark):
    from epic_pandas_spark.extensions.clustering import kmeans_fit, assign_clusters

    rows = [(i, [10.0 + (i % 3) * 0.1, 10.0]) for i in range(20)] + [
        (100 + i, [-10.0, -10.0 - (i % 3) * 0.1]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids, inertia = kmeans_fit(df, k=2, max_iterations=5)
    assigned = assign_clusters(df, centroids)
    groups = {
        r["cluster"]: r["n"]
        for r in assigned.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(groups.values()) == [20, 20]
    assert inertia < 1.0  # tight clusters -> tiny within-cluster variance


def test_kmeans_inertia_decreases(spark):
    from epic_pandas_spark.extensions.clustering import kmeans_fit

    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    _, i1 = kmeans_fit(emb, k=4, max_iterations=1)
    _, i5 = kmeans_fit(emb, k=4, max_iterations=5)
    assert i5 <= i1 + 1e-9


def test_coo_to_ml_vectors(spark):
    from epic_pandas_spark.operators.sparse import coo_to_ml_vectors

    coo = spark.createDataFrame(
        [("a", 0, 1.5), ("a", 3, 2.5), ("b", 1, 9.0)],
        "row_key string, col_key int, value double",
    )
    out = {r["row_key"]: r["features"] for r in coo_to_ml_vectors(coo, size=4).collect()}
    assert out["a"].toArray().tolist() == [1.5, 0.0, 0.0, 2.5]
    assert out["b"].toArray().tolist() == [0.0, 9.0, 0.0, 0.0]


def test_sparkml_lsh_agrees_with_custom_neardup(spark):
    """Spark ML's BucketedRandomProjectionLSH approxSimilarityJoin finds
    (at least) the same close pairs as our expression-based near-dup on a
    corpus with planted duplicates — the ML-interop sanity check."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors, VectorUDT

    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    to_vec = F.udf(lambda a: Vectors.dense([float(x) for x in a]), VectorUDT())
    ml_df = emb.select(F.col("vec_id").alias("id"), to_vec("embedding").alias("features"))
    clone = ml_df.filter(F.col("id") == 0).withColumn("id", F.lit(9999))
    corpus = ml_df.unionByName(clone)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=7
    ).fit(corpus)
    pairs = lsh.approxSimilarityJoin(corpus, corpus, threshold=0.01, distCol="d")
    found = {
        (r["datasetA"]["id"], r["datasetB"]["id"])
        for r in pairs.collect()
        if r["datasetA"]["id"] < r["datasetB"]["id"]
    }
    assert (0, 9999) in found  # the planted duplicate pair


def test_compression_ratio_bounds_and_monotonicity(spark):
    """Repetitive text must compress harder than high-entropy text, and
    ratios stay in sane bounds; null/empty give null."""
    from epic_pandas_spark.functions.text import compression_ratio_udf

    ratio = compression_ratio_udf()
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam spam spam" * 20),
            (2, "the quick brown fox jumps over a lazy dog while 42 ships sail east" * 5),
            (3, None),
            (4, ""),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["r"] for r in df.select("id", ratio(F.col("text")).alias("r")).collect()}
    assert got[3] is None and got[4] is None
    assert 0 < got[1] < got[2] < 1.2
    assert got[1] < 0.1  # pure repetition collapses


def test_exact_dedup_incremental_store_chaining(spark):
    """Multi-batch chaining: batch2 re-sending batch1's texts (and the
    original corpus texts) must produce zero survivors, and the store
    grows by exactly the survivor count each round."""
    from epic_pandas_spark.extensions.dedup import exact_dedup_incremental

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    from epic_pandas_spark.functions.text import fingerprint_expr

    store = corpus.select(fingerprint_expr(F.col("text")).alias("fp")).distinct()
    batch1 = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),      # dup of corpus (normalization)
            (11, "epsilon zeta"),      # new
            (12, "epsilon zeta"),      # within-batch dup, larger id loses
            (13, "eta theta"),         # new
        ],
        "doc_id long, text string",
    )
    surv1, store1 = exact_dedup_incremental(batch1, "text", "doc_id", store=store)
    assert sorted(r["doc_id"] for r in surv1.collect()) == [11, 13]
    assert store1.count() == store.count() + 2

    batch2 = spark.createDataFrame(
        [(20, "epsilon zeta"), (21, "gamma  delta")], "doc_id long, text string"
    )
    surv2, store2 = exact_dedup_incremental(batch2, "text", "doc_id", store=store1)
    assert surv2.count() == 0
    assert store2.count() == store1.count()

    # no store: pure within-batch dedup
    surv0, store0 = exact_dedup_incremental(batch1, "text", "doc_id", store=None)
    assert sorted(r["doc_id"] for r in surv0.collect()) == [10, 11, 13]
    assert store0.count() == 3


def test_minhash_incremental_cross_batch_pairs(spark):
    """A new-batch doc near-identical to a corpus doc must pair with it
    through the stored index, and the updated index must catch a
    LATER batch duplicating a batch-1 doc."""
    from epic_pandas_spark.extensions.dedup import (
        minhash_index,
        minhash_lsh_pairs_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "z y x w v u t s r q")],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus, "text", "doc_id")
    batch1 = spark.createDataFrame(
        [(10, "a b c d e f g h i j"), (11, "m n o p m n o p m n o p")],
        "doc_id long, text string",
    )
    pairs1, idx1 = minhash_lsh_pairs_incremental(
        batch1, "text", "doc_id", threshold=0.8, index=idx
    )
    got1 = {(r["id_a"], r["id_b"]) for r in pairs1.collect()}
    assert (10, 1) in got1 or (1, 10) in got1
    assert not any(11 in p for p in got1)

    batch2 = spark.createDataFrame(
        [(20, "m n o p m n o p m n o p")], "doc_id long, text string"
    )
    pairs2, _ = minhash_lsh_pairs_incremental(
        batch2, "text", "doc_id", threshold=0.8, index=idx1
    )
    got2 = {(r["id_a"], r["id_b"]) for r in pairs2.collect()}
    assert (20, 11) in got2 or (11, 20) in got2
    assert not any(1 in p or 10 in p for p in got2)  # corpus never re-paired with itself


def test_semantic_decontaminate_flags_near_vectors(spark):
    from epic_pandas_spark.extensions.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),   # near eval A
            (3, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to both
            (4, [0.0, 1.0, 0.0, 0.0]),   # == eval B
        ],
        "vec_id long, embedding array<double>",
    )
    eval_df = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in semantic_decontaminate(corpus, eval_df, threshold=0.9).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["max_cosine"] == pytest.approx(1.0)
    assert out[4]["n_eval_matches"] == 1
    # higher bar: only exact copies survive
    strict = semantic_decontaminate(corpus, eval_df, threshold=0.999)
    assert {r["vec_id"] for r in strict.collect()} == {1, 4}


def test_repeated_passage_pairs_shared_run(spark):
    from epic_pandas_spark.extensions.dedup import repeated_passage_pairs

    run = "the quick brown fox jumps over the lazy dog 0123456789abcde"
    texts = {
        1: "aaa " + run + " bbb",
        2: "ccc " + run + " ddd",
        3: "totally different content with no long shared run at all",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    pairs = repeated_passage_pairs(df, "text", "doc_id", min_len=50).collect()
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in pairs}
    assert set(got) == {(1, 2)}
    # expectation from a python reference over the normalized texts
    def grams(t, k=50):
        t = " ".join(t.lower().split())
        return {t[i : i + k] for i in range(len(t) - k + 1)} if len(t) >= k else {t}
    want = len(grams(texts[1]) & grams(texts[2]))
    assert want > 0 and got[(1, 2)] == want

    # hot-gram guard: a gram present in all 3 docs is dropped at freq<=2
    df2 = spark.createDataFrame(
        [(i, "zzz " + run + " q" + str(i)) for i in range(1, 4)],
        "doc_id long, text string",
    )
    guarded = repeated_passage_pairs(df2, "text", "doc_id", min_len=50, max_gram_freq=2)
    assert guarded.count() == 0


def test_repeated_passage_pairs_guard_on_by_default(spark):
    """Round-11 default flip (VERDICT r10 "what's wrong" #1): the
    hot-gram guard is ON by default at the single-join-task pair bound
    (_AUTO_GRAM_FREQ docs). A boilerplate gram above the threshold must
    be dropped from both pair generation AND n_shared counts; pairs
    connected only by boilerplate disappear; max_gram_freq=None restores
    the exhaustive answer. Exercised with a tiny threshold via
    monkeypatched default so the test corpus stays small."""
    from epic_pandas_spark.extensions import dedup as dd

    boiler = "copyright notice all rights reserved unauthorized copying prohibited"
    uniq = "the quick brown fox jumps over the lazy dog 0123456789abcde"
    rows = [(i, boiler + f" filler{i}") for i in range(1, 6)]  # boiler df=7
    rows += [(6, "xx " + uniq + " " + boiler), (7, "yy " + uniq + " " + boiler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # guard at freq<=4: boiler grams (df=7) drop; (6,7) survives on uniq
    guarded = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dd.repeated_passage_pairs(
            df, "text", "doc_id", min_len=50, max_gram_freq=4
        ).collect()
    }
    assert set(guarded) == {(6, 7)}
    unguarded = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dd.repeated_passage_pairs(
            df, "text", "doc_id", min_len=50, max_gram_freq=None
        ).collect()
    }
    # unguarded: every pair of the 7 boiler-carrying docs shares grams
    assert len(unguarded) == 21 and (6, 7) in unguarded
    # guarded n_shared excludes the hot grams (strictly fewer than full)
    assert 0 < guarded[(6, 7)] < unguarded[(6, 7)]
    # the DEFAULT is the guard (10k), not None — a corpus that small is
    # untouched, so default == unguarded here, and the signature default
    # is the documented constant
    import inspect

    sig = inspect.signature(dd.repeated_passage_pairs)
    assert sig.parameters["max_gram_freq"].default == dd._AUTO_GRAM_FREQ
    sigw = inspect.signature(dd.repeated_passage_pairs_winnowed)
    assert sigw.parameters["max_fp_freq"].default == dd._AUTO_GRAM_FREQ
    default_out = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dd.repeated_passage_pairs(df, "text", "doc_id", min_len=50).collect()
    }
    assert default_out == unguarded

    # winnowed variant honors the same guard semantics
    winn = {
        (r["id_a"], r["id_b"])
        for r in dd.repeated_passage_pairs_winnowed(
            df, "text", "doc_id", min_len=50, window=4, max_fp_freq=4
        ).collect()
    }
    assert (6, 7) in winn and not any(p for p in winn if p[0] < 6)


def test_winnowed_fingerprints_guarantee_and_density(spark):
    from epic_pandas_spark.extensions.dedup import (
        repeated_passage_pairs_winnowed,
        winnowed_fingerprints,
    )

    k, w = 20, 4
    # shared run of k + w - 1 = 23 chars, embedded at different offsets
    run = "abcdefghijklmnopqrstuvw"
    assert len(run) == k + w - 1
    texts = {
        1: "xx " + run + " unrelated tail one",
        2: "a very different prefix " + run + " zz",
        3: "no shared content here at all whatsoever, none",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    pairs = repeated_passage_pairs_winnowed(df, "text", "doc_id", min_len=k, window=w)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # the winnowing guarantee
    assert not any(3 in p for p in got)

    # density: winnowing keeps far fewer entries than the full gram index
    long_doc = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(400)))], "doc_id long, text string"
    )
    n_fp = winnowed_fingerprints(long_doc, "text", "doc_id", k=50, window=8).count()
    n_grams = len(" ".join(f"tok{i}" for i in range(400))) - 50 + 1
    assert 0 < n_fp < n_grams / 2  # expectation is ~2/(w+1) = 0.22

    # identical short docs (below k chars) still fingerprint and pair up
    short = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny"), (3, "other")], "doc_id long, text string"
    )
    sp = repeated_passage_pairs_winnowed(short, "text", "doc_id", min_len=50, window=8)
    assert {(r["id_a"], r["id_b"]) for r in sp.collect()} == {(1, 2)}


def test_winnowed_subset_of_full_gram_pairs(spark):
    from epic_pandas_spark.extensions.dedup import (
        repeated_passage_pairs,
        repeated_passage_pairs_winnowed,
    )

    base = "the quick brown fox jumps over the lazy dog again and again 012345"
    rows = [(1, base + " alpha"), (2, base + " beta"), (3, "distinct " + base[::-1]), (4, base + " alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {(r["id_a"], r["id_b"]) for r in repeated_passage_pairs(df, "text", "doc_id", min_len=50).collect()}
    winn = {(r["id_a"], r["id_b"]) for r in repeated_passage_pairs_winnowed(df, "text", "doc_id", min_len=50, window=8).collect()}
    assert winn <= full  # winnowed candidates never invent pairs
    assert (1, 4) in winn  # exact copies always detected


def test_random_projection_preserves_geometry(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from epic_pandas_spark.extensions.similarity import random_projection

    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.standard_normal(64)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = random_projection(df, "embedding", out_dim=32, seed=11).collect()
    assert all(len(r["projected"]) == 32 for r in out)
    # deterministic: same seed, same output
    again = random_projection(df, "embedding", out_dim=32, seed=11).collect()
    assert [r["projected"] for r in sorted(out, key=lambda r: r["vec_id"])] == [
        r["projected"] for r in sorted(again, key=lambda r: r["vec_id"])
    ]
    # JL: mean pairwise-distance ratio near 1
    vecs = {r["vec_id"]: (np.array(r["embedding"]), np.array(r["projected"])) for r in out}
    ratios = []
    for i in range(0, 199):
        a0, a1 = vecs[i]
        b0, b1 = vecs[i + 1]
        d0 = np.linalg.norm(a0 - b0)
        ratios.append(np.linalg.norm(a1 - b1) / d0)
    ratios = np.array(ratios)
    assert 0.9 < ratios.mean() < 1.1
    assert ratios.min() > 0.4 and ratios.max() < 1.8


def test_bm25_ranks_denser_matches_higher(spark):
    import math
    import pytest as _pytest
    from epic_pandas_spark.extensions.retrieval import bm25_topk

    rows = [
        (1, "spark spark spark join"),          # dense in query terms
        (2, "spark alpha beta gamma delta"),    # one hit, longer doc
        (3, "alpha beta gamma delta epsilon"),  # no hits
        (4, "spark join"),                      # short, all-hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, "text", "doc_id", ["spark", "join"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # zero-hit docs never appear
    assert set(ids) == {1, 2, 4}
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert scores[4] > scores[2]  # same tf, shorter doc wins (length norm)
    assert scores[1] > scores[2]  # more matched mass wins

    # hand-check doc 2's score: tf=1, df(spark)=3, N=4, dl=5, avgdl=16/4
    idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1)
    norm = 1 * 2.2 / (1 + 1.2 * (1 - 0.75 + 0.75 * 5 / (16 / 4)))
    assert scores[2] == _pytest.approx(round(idf * norm, 6), abs=1e-6)

    with _pytest.raises(ValueError):
        bm25_topk(df, "text", "doc_id", [])


def test_jaccard_prefix_equals_allpairs(spark):
    from epic_pandas_spark.extensions.dedup import jaccard_pairs, jaccard_pairs_prefix

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    for t in (0.5, 0.8):
        full = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs(docs, "text", "doc_id", threshold=t).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in jaccard_pairs_prefix(docs, "text", "doc_id", threshold=t).collect()
        }
        assert pref == full, f"threshold {t}"


def test_jaccard_exact_boundary_pair_not_pruned(spark):
    """Regression: fp over-ceil in the prune filters. t·n can round ABOVE
    its exact value (0.55·100 = 55.000000000000007 → ceil 56, exact 55),
    which used to reject an exactly-at-threshold pair (J = 55/100) in
    BOTH the inverted-index size filter and the prefix length filter.
    The filters now carry 1e-6 slack — loosening only, membership is
    still decided by the exact jaccard."""
    from epic_pandas_spark.extensions.dedup import jaccard_pairs, jaccard_pairs_prefix

    words = [f"tok{i:03d}" for i in range(102)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:57]))],  # 100 and 55 shingles
        "doc_id long, text string",
    )
    for fn in (jaccard_pairs, jaccard_pairs_prefix):
        got = fn(df, "text", "doc_id", threshold=0.55).collect()
        assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(1, 2, 0.55)], fn.__name__


def test_dedup_family_handles_empty_corpus(spark):
    """Library robustness: every near-dup operator must return an empty,
    correctly-typed frame on an empty corpus — not raise mid-plan."""
    from epic_pandas_spark.extensions.dedup import (
        exact_dedup,
        jaccard_pairs,
        jaccard_pairs_prefix,
        minhash_lsh_pairs,
        repeated_passage_pairs,
        repeated_passage_pairs_winnowed,
        simhash_pairs,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(empty, "text", "doc_id").count() == 0
    assert jaccard_pairs(empty, "text", "doc_id", threshold=0.8).count() == 0
    assert jaccard_pairs_prefix(empty, "text", "doc_id", threshold=0.8).count() == 0
    assert minhash_lsh_pairs(empty, "text", "doc_id", threshold=0.8).count() == 0
    assert repeated_passage_pairs(empty, "text", "doc_id").count() == 0
    assert repeated_passage_pairs_winnowed(empty, "text", "doc_id").count() == 0
    assert simhash_pairs(empty, "text", "doc_id", max_hamming=3).count() == 0


def test_minhash_lsh_candidate_stats(spark):
    """The LSH instrumentation twin (VERDICT r8 item 2): its counts must be
    consistent with the production operator on the same arguments —
    n_verified_pairs == minhash_lsh_pairs().count(), candidates bound
    verified from above, and n_docs excludes shingle-empty docs — so
    scale-trend artifacts can attribute wall growth to candidate density
    measured by the very pipeline they time."""
    from epic_pandas_spark.extensions.dedup import (
        minhash_lsh_candidate_stats,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog and then some more words"
    rows = (
        [(i, base) for i in range(4)]                      # identical cluster
        + [(10, base + " extra tail tokens here")]         # near-dup of cluster
        + [(20, "completely different text about spark partitions and shuffles going on")]
        + [(30, "xy")]                                     # too short for 3-gram shingles
    )
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    kwargs = dict(threshold=0.6, n_hashes=32, bands=16)
    stats = minhash_lsh_candidate_stats(df, "text", "doc_id", **kwargs)
    n_pairs = minhash_lsh_pairs(df, "text", "doc_id", **kwargs).count()

    assert stats["n_rows"] == len(rows)
    assert stats["n_docs"] == len(rows) - 1  # the 2-char doc has no 3-gram shingles
    assert stats["n_bands"] == 16
    assert stats["n_band_rows"] == stats["n_docs"] * 16
    assert stats["n_verified_pairs"] == n_pairs
    assert stats["n_candidate_pairs"] >= stats["n_verified_pairs"]
    # the identical cluster alone gives C(4,2)=6 verified pairs
    assert stats["n_verified_pairs"] >= 6

    # the default bands=None resolves via bands_for_recall and is recorded
    stats_default = minhash_lsh_candidate_stats(
        df, "text", "doc_id", threshold=0.8, n_hashes=32
    )
    assert stats_default["n_bands"] == 16  # bands_for_recall(0.8, 32) == 16


def test_curation_family_handles_empty_corpus(spark):
    from epic_pandas_spark.extensions.curation import dedup_lines
    from epic_pandas_spark.extensions.retrieval import bm25_topk
    from epic_pandas_spark.operators.sampling import cap_per_group

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert dedup_lines(empty, "text", "doc_id").count() == 0
    assert bm25_topk(empty, "text", "doc_id", ["anything"]).count() == 0
    assert cap_per_group(empty, ["source"], k=3).count() == 0


def test_winnowing_guarantee_on_random_planted_runs(spark):
    """Every pair sharing a planted run of >= k + w - 1 chars must be
    detected, across 40 random docs with varied offsets and noise."""
    import random

    from epic_pandas_spark.extensions.dedup import repeated_passage_pairs_winnowed

    rng = random.Random(99)
    k, w = 30, 6
    run_len = k + w - 1
    runs = ["".join(rng.choice("abcdefghij") for _ in range(run_len)) for _ in range(4)]
    rows, expected = [], set()
    holders = {i: [] for i in range(4)}
    for d in range(40):
        noise = "".join(rng.choice("qrstuvwxyz ") for _ in range(rng.randint(20, 120)))
        if rng.random() < 0.5:
            ri = rng.randrange(4)
            cut = rng.randint(0, len(noise))
            rows.append((d, noise[:cut] + runs[ri] + noise[cut:]))
            holders[ri].append(d)
        else:
            rows.append((d, noise))
    for ds in holders.values():
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                expected.add((min(ds[i], ds[j]), max(ds[i], ds[j])))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in repeated_passage_pairs_winnowed(
            df, "text", "doc_id", min_len=k, window=w
        ).collect()
    }
    assert expected <= got  # zero misses on guaranteed pairs


def test_embedding_neardup_unblocked_raises(spark):
    """An unblocked call is the quadratic cross join — must refuse unless
    the caller opts in explicitly (VERDICT r2 item 3)."""
    from epic_pandas_spark.extensions.similarity import embedding_neardup_pairs

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="quadratic"):
        embedding_neardup_pairs(emb)


def test_embedding_neardup_auto_lsh_blocking(spark):
    """auto_block_planes derives LSH sign buckets: results are a subset of
    the quadratic ground truth, and an identical clone (same vector ->
    same bucket under every plane) is always recalled."""
    from epic_pandas_spark.extensions.similarity import embedding_neardup_pairs

    emb = load_table(spark, SF_DIR, "embeddings").limit(60)
    clone = emb.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(9999).cast("long")
    )
    corpus = emb.unionByName(clone)
    full = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            corpus, threshold=0.4, allow_quadratic=True
        ).collect()
    }
    auto = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            corpus, threshold=0.4, auto_block_planes=4, dim=64
        ).collect()
    }
    assert auto <= full
    assert (0, 9999) in auto  # identical vectors share every sign bucket


def test_embedding_neardup_blas_kernel_matches_expr(spark):
    """kernel='blas' (per-block chunked GEMM) must produce the same pair
    set and 6-dp scores as the expression kernel — both are float64, so
    the rounded cosines agree. Chunking is exercised by forcing
    chunk_rows below the block size."""
    from epic_pandas_spark.extensions.similarity import (
        _neardup_pairs_blas,
        embedding_neardup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings")

    def key(rows):
        return {(r["id_a"], r["id_b"], round(r["cosine"], 6)) for r in rows}

    expr = key(
        embedding_neardup_pairs(
            emb, block_col="label", threshold=0.4, kernel="expr"
        ).collect()
    )
    blas = key(
        embedding_neardup_pairs(
            emb, block_col="label", threshold=0.4, kernel="blas"
        ).collect()
    )
    assert blas == expr and len(blas) > 0
    chunked = key(
        _neardup_pairs_blas(
            emb, "embedding", "vec_id", "label", 0.4, chunk_rows=7
        ).collect()
    )
    assert chunked == expr

    with pytest.raises(ValueError, match="block_col"):
        embedding_neardup_pairs(emb, kernel="blas")
    with pytest.raises(ValueError, match="kernel"):
        embedding_neardup_pairs(emb, block_col="label", kernel="nope")


def test_edit_distance_pairs_exact_vs_bruteforce(spark):
    """Deletion-neighborhood blocking must equal the brute-force
    levenshtein join exactly — substitutions, deletions, insertions,
    identical strings, and a <=2-edit pair that must NOT appear."""
    from epic_pandas_spark.extensions.dedup import edit_distance_pairs

    rows = [
        (1, "spark engine"),
        (2, "spark enginx"),    # substitution
        (3, "spark engin"),     # deletion
        (4, "sparkk engine"),   # insertion
        (5, "spark engine"),    # exact duplicate
        (6, "spark enginxy"),   # 2 edits from 1 -> excluded
        (7, ""),                # empty string edge case
        (8, "x"),               # distance 1 from empty
        (9, "totally different"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "s", "id").collect()
    }
    import itertools

    want = {}
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        d = lev(sa, sb)
        if d <= 1:
            want[(min(ia, ib), max(ia, ib))] = d
    assert got == want
    assert (1, 5) in got and got[(1, 5)] == 0
    assert (7, 8) in got and got[(7, 8)] == 1
    assert (1, 6) not in got  # 2 edits away from id 1 — excluded
    assert (2, 6) in got      # but only 1 edit from id 2 (append)

    with pytest.raises(NotImplementedError, match="max_edits"):
        edit_distance_pairs(df, "s", "id", max_edits=3)


def test_edit_distance_pairs_two_edits_exact_vs_bruteforce(spark):
    """max_edits=2 (two-deletion SymSpell neighborhood) must equal the
    brute-force levenshtein<=2 join exactly — including planted
    distance-2 pairs of every shape (2 subs, 2 dels, 2 ins, sub+del,
    transposition = 2 in plain Levenshtein) — and the max_len guard
    raises rather than silently degrading."""
    from epic_pandas_spark.extensions.dedup import edit_distance_pairs

    rows = [
        (1, "spark engine"),
        (2, "spark enginxy"),    # 1 sub + 1 insert from 1
        (3, "spark engi"),       # 2 deletions from 1
        (4, "spark enzinx"),     # 2 subs from 1
        (5, "sspark engines"),   # 2 inserts from 1
        (6, "spark negine"),     # transposition: levenshtein 2 from 1
        (7, "spark"),            # far from all
        (8, ""),                 # empty
        (9, "ab"),               # distance 2 from empty
        (10, "totally different thing"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "s", "id", max_edits=2).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        d = lev(sa, sb)
        if d <= 2:
            want[(min(ia, ib), max(ia, ib))] = d
    assert got == want
    for other in (2, 3, 4, 5, 6):
        assert got[(1, other)] == 2
    assert (8, 9) in got and got[(8, 9)] == 2

    # strings beyond max_len raise at execution, never silently degrade
    long_df = spark.createDataFrame([(1, "x" * 65), (2, "x" * 64)], "id long, s string")
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception, match="max_len|USER_RAISED"):
        edit_distance_pairs(long_df, "s", "id", max_edits=2).collect()
    # max_edits=1 has no quadratic neighborhood: long strings are fine
    assert edit_distance_pairs(long_df, "s", "id", max_edits=1).count() == 1


def test_edit_distance_pairs_duplicate_heavy_and_stats(spark):
    """The distinct-string rewrite: heavy duplicate keys (the saturating
    short-key regime) must still produce the exact brute-force pair set
    — same-key pairs at dist 0, cross-key member expansion at the
    verified dist — and the candidate-stats twin must count candidates
    over DISTINCT strings, so duplicate growth leaves it unchanged."""
    from epic_pandas_spark.extensions.dedup import (
        edit_distance_candidate_stats,
        edit_distance_pairs,
    )

    # 3 distinct strings, heavy duplication, plus a null (never pairs)
    rows = (
        [(i, "alpha") for i in range(1, 5)]
        + [(i, "alphx") for i in range(10, 13)]   # 1 sub from 'alpha'
        + [(20, "alpzx"), (21, None)]             # 2 subs from 'alpha'
    )
    df = spark.createDataFrame(rows, "id long, s string").repartition(4)
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in edit_distance_pairs(df, "s", "id", max_edits=2).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        if sa is None or sb is None:
            continue
        d = lev(sa, sb)
        if d <= 2:
            want[(min(ia, ib), max(ia, ib))] = d
    assert got == want
    assert got[(1, 2)] == 0 and got[(1, 10)] == 1 and got[(10, 20)] == 1

    stats = edit_distance_candidate_stats(df, "s", "id", max_edits=2)
    assert stats["n_rows"] == len(rows)
    assert stats["n_distinct_strings"] == 4  # null counts as a group key
    # candidates are over distinct strings: 3 qualifying pairs among
    # {alpha, alphx, alpzx} (null generates no variants)
    assert stats["n_verified_string_pairs"] == 3
    assert stats["n_candidate_pairs"] >= 3

    # duplicating every row must leave the DISTINCT-string stats fixed
    df2 = df.unionByName(
        spark.createDataFrame([(100 + i, s) for i, s in rows], "id long, s string")
    )
    stats2 = edit_distance_candidate_stats(df2, "s", "id", max_edits=2)
    assert stats2["n_distinct_strings"] == stats["n_distinct_strings"]
    assert stats2["n_candidate_pairs"] == stats["n_candidate_pairs"]
    assert stats2["n_verified_string_pairs"] == stats["n_verified_string_pairs"]


def _semantic_dedup_bruteforce(ids, V, codebook, threshold):
    """numpy replay of the documented rule: argmax-cosine assign (ties ->
    lowest centroid index), drop when any smaller-id cluster-mate has
    cosine >= threshold."""
    import numpy as np

    V = np.asarray(V, dtype=np.float64)
    C = np.asarray(codebook, dtype=np.float64)
    vn = np.linalg.norm(V, axis=1)
    cn = np.linalg.norm(C, axis=1)
    S = (V @ C.T) / np.outer(np.where(vn == 0, 1, vn), np.where(cn == 0, 1, cn))
    cl = np.argmax(S, axis=1)  # np.argmax takes the FIRST max -> lowest index
    order = np.argsort(ids, kind="mergesort")
    keep = {}
    for c in set(cl.tolist()):
        idx = order[cl[order] == c]
        Vc = V[idx]
        n = np.linalg.norm(Vc, axis=1)
        Vcn = Vc / np.where(n == 0, 1, n)[:, None]
        Vcn[n == 0] = np.nan
        M = Vcn @ Vcn.T
        for i in range(len(idx)):
            dup = any(M[i, j] >= threshold for j in range(i))
            keep[int(ids[idx[i]])] = (not dup, int(c))
    return {(i, c) for i, (k, c) in keep.items() if k}


def test_semantic_dedup_matches_bruteforce(spark):
    """End-to-end keep set == numpy replay of the documented rule on the
    driver embeddings, with the deterministic init-only codebook."""
    from epic_pandas_spark.extensions.similarity import semantic_dedup

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = [t[0] for t in rows]
    V = [t[1] for t in rows]
    expected = _semantic_dedup_bruteforce(ids, V, V[:8], threshold=0.4)

    got = {
        (r["vec_id"], r["cluster"])
        for r in semantic_dedup(emb, k=8, threshold=0.4).collect()
    }
    assert got == expected
    assert 0 < len(got) < len(ids)  # something kept AND something dropped


def test_semantic_dedup_codebook_chunking_and_edge_cases(spark):
    """Explicit codebook path (the kmeans_fit hookup) replays against the
    same brute force; tiny chunk_rows changes nothing; zero vectors are
    always kept (undefined cosine); empty frame raises."""
    import numpy as np

    from epic_pandas_spark.extensions.clustering import kmeans_fit
    from epic_pandas_spark.extensions.similarity import semantic_dedup

    emb = load_table(spark, SF_DIR, "embeddings").limit(120)
    centroids, _ = kmeans_fit(emb, k=3, max_iterations=2)
    cb = [list(map(float, c)) for c in centroids]

    rows = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = [t[0] for t in rows]
    V = [t[1] for t in rows]
    expected = _semantic_dedup_bruteforce(ids, V, cb, threshold=0.35)
    got = {
        (r["vec_id"], r["cluster"])
        for r in semantic_dedup(emb, threshold=0.35, codebook=cb).collect()
    }
    assert got == expected

    chunked = {
        (r["vec_id"], r["cluster"])
        for r in semantic_dedup(
            emb, threshold=0.35, codebook=cb, chunk_rows=7
        ).collect()
    }
    assert chunked == expected

    # a zero vector clone pair: both survive (cosine undefined, never >= t)
    dim = len(V[0])
    z = spark.createDataFrame(
        [(10_001, [0.0] * dim, 0), (10_002, [0.0] * dim, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = emb.unionByName(z)
    kept = {
        r["vec_id"] for r in semantic_dedup(corpus, threshold=0.35, codebook=cb).collect()
    }
    assert {10_001, 10_002} <= kept

    with pytest.raises(ValueError, match="empty"):
        semantic_dedup(emb.filter(F.col("vec_id") < 0), k=4)
    with pytest.raises(ValueError, match="k must"):
        semantic_dedup(emb, k=0)


def test_semantic_dedup_id_type_agnostic(spark):
    """The output schema derives the id field's type from the input
    (round-4 ADVICE): string ids must round-trip, with "smaller id"
    meaning lexicographic order, and the keep set must mirror the long-id
    run on the same vectors."""
    from epic_pandas_spark.extensions.similarity import semantic_dedup

    emb = load_table(spark, SF_DIR, "embeddings").limit(60)
    as_str = emb.select(
        F.format_string("id%05d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    cb_rows = sorted(
        ((r["vec_id"], list(r["embedding"])) for r in emb.collect()),
        key=lambda t: t[0],
    )
    cb = [list(map(float, v)) for _, v in cb_rows[:4]]
    long_keep = {
        r["vec_id"] for r in semantic_dedup(emb, threshold=0.35, codebook=cb).collect()
    }
    out = semantic_dedup(as_str, threshold=0.35, codebook=cb)
    assert dict(out.dtypes)["vec_id"] == "string"
    str_keep = {r["vec_id"] for r in out.collect()}
    # id%05d preserves numeric order lexicographically, so keep sets match
    assert str_keep == {f"id{i:05d}" for i in long_keep}


def test_pq_encode_shapes_and_determinism(spark):
    from epic_pandas_spark.extensions.similarity import pq_encode, pq_train_codebooks

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_train_codebooks(emb, n_sub=8, n_codes=16, sample_max=200)
    assert books.shape == (8, 16, 8)
    # deterministic: same corpus + params -> identical codebooks
    books2 = pq_train_codebooks(emb, n_sub=8, n_codes=16, sample_max=200)
    import numpy as np

    assert np.array_equal(books, books2)

    codes = pq_encode(emb, books, code_col="c").collect()
    assert len(codes) == emb.count()
    for r in codes[:20]:
        assert len(r["c"]) == 8
        assert all(0 <= v < 16 for v in r["c"])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pq_train_codebooks(emb, n_sub=7, n_codes=16)  # 7 does not divide 64


def test_ivf_pq_recall_and_refine(spark):
    """ADC over PQ codes is lossy, so assert recall bands rather than
    equality: full-probe unrefined ADC must recover most of the exact
    top-5, and exact re-ranking (refine_factor) must not lower recall.
    All inputs and the codebook training are deterministic."""
    from epic_pandas_spark.extensions.similarity import ivf_pq_knn

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    # the fixture's exact top cosines are tightly packed (~0.23-0.33), so
    # unrefined ADC ordering is genuinely hard here: measured 0.44 with
    # 16x64 codebooks (verified against a pure-numpy ADC replication —
    # the loss is the method's, not the plan's)
    adc = {
        (r["query_id"], r["vec_id"])
        for r in ivf_pq_knn(
            emb, queries, n_centroids=8, n_probe=8, n_sub=16, n_codes=64, k=5,
            sample_max=500,
        ).collect()
    }
    adc_recall = len(adc & exact) / len(exact)
    assert adc_recall >= 0.3

    # exact re-ranking of the top k*8 ADC candidates restores recall:
    # measured top-5 containment in ADC top-40 is 0.98 on this fixture
    refined = {
        (r["query_id"], r["vec_id"])
        for r in ivf_pq_knn(
            emb,
            queries,
            n_centroids=8,
            n_probe=8,
            n_sub=16,
            n_codes=64,
            k=5,
            refine_factor=8,
            sample_max=500,
        ).collect()
    }
    refined_recall = len(refined & exact) / len(exact)
    assert refined_recall >= adc_recall
    assert refined_recall >= 0.9

    # refined scores are EXACT cosines: spot-check against the
    # brute-force score table
    brute = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in knn_bruteforce(emb, queries, k=5).collect()
    }
    rows = ivf_pq_knn(
        emb, queries, n_centroids=8, n_probe=8, n_sub=16, n_codes=64, k=5,
        refine_factor=8, sample_max=500,
    ).collect()
    for r in rows:
        key = (r["query_id"], r["vec_id"])
        if key in brute:
            assert abs(r["cosine"] - brute[key]) < 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError):
        ivf_pq_knn(emb, queries, refine_factor=-1)


def _model_remove_spans(docs, k, min_doc_freq=2, keep_first=False):
    """Python reference model of remove_repeated_spans: exact gram
    strings, interval union per doc, cut flagged char ranges."""
    import re

    norm = {d: re.sub(r"\s+", " ", t.lower()) for d, t in docs.items()}
    from collections import defaultdict

    where = defaultdict(set)  # gram -> doc ids
    grams = {}
    for d, t in norm.items():
        L = len(t)
        ps = range(1, max(L - k + 1, 1) + 1) if L else [1]
        glen = min(k, L)
        gs = [(p, t[p - 1 : p - 1 + glen]) for p in ps]
        grams[d] = (gs, glen, L)
        for _p, g in gs:
            where[g].add(d)
    out = {}
    for d, (gs, glen, L) in grams.items():
        cut = [False] * (L + 2)
        for p, g in gs:
            dup = len(where[g]) >= min_doc_freq
            if dup and keep_first and d == min(where[g]):
                dup = False
            if dup:
                for c in range(p, p + glen):
                    if c <= L:
                        cut[c] = True
        kept = "".join(ch for i, ch in enumerate(norm[d], start=1) if not cut[i])
        out[d] = (kept, L - len(kept))
    return out


@pytest.mark.parametrize("keep_first", [False, True])
def test_remove_repeated_spans_matches_python_model(spark, keep_first):
    from epic_pandas_spark.extensions.dedup import remove_repeated_spans

    boiler = "all rights reserved contact us at example dot com today"
    docs = {
        1: f"unique alpha text one. {boiler} more unique trailing words here",
        2: f"{boiler} and a completely different continuation of thoughts",
        3: "no duplicated content lives in this particular document at all",
        4: f"leading thoughts then {boiler}",
        5: f"{boiler}",  # exactly the boilerplate
        6: "short",  # < k chars, unique
        7: "short",  # < k chars, duplicated whole-string gram with 6
        8: "",
    }
    k = 30
    want = _model_remove_spans(docs, k, keep_first=keep_first)
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
        for r in remove_repeated_spans(
            df, "text", "doc_id", min_len=k, keep_first=keep_first
        ).collect()
    }
    assert got == want
    # sanity on the semantics, not just model equality
    if not keep_first:
        assert got[5][0] == ""  # pure boilerplate doc fully removed
    else:
        # doc 1 is the min id over every boilerplate gram -> sole owner:
        # it passes through untouched, every other copy is cut
        assert got[1] == (docs[1].lower(), 0)
        assert "all rights" not in got[2][0]
    assert got[3] == (docs[3], 0)  # untouched doc passes through
    assert got[8] == ("", 0)  # empty doc survives with empty text


def test_remove_repeated_spans_random_corpus_model(spark):
    """Model-based sweep on a random high-collision corpus: many docs
    stitched from a tiny phrase pool, so spans overlap, nest, and abut
    in adversarial ways."""
    import random

    from epic_pandas_spark.extensions.dedup import remove_repeated_spans

    rng = random.Random(13)
    phrases = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
        "sphinx of black quartz judge my vow",
    ]
    docs = {}
    for d in range(40):
        n = rng.randint(1, 4)
        docs[d] = " ".join(rng.choice(phrases) for _ in range(n))
    k = 25
    want = _model_remove_spans(docs, k)
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
        for r in remove_repeated_spans(df, "text", "doc_id", min_len=k).collect()
    }
    assert got == want


def test_remove_repeated_spans_prefilter_parity(spark):
    """The winnowing prefilter must be LOSSLESS: prefilter=True and
    prefilter=False produce bit-identical output on a corpus built to
    stress it — duplicated long spans, short-doc exact dups (< k chars,
    the whole-string-gram path), unique docs, empty and null text, and
    a window larger than k (the kp=1 clamp)."""
    import random

    from epic_pandas_spark.extensions.dedup import (
        _winnow_candidate_ids,
        remove_repeated_spans,
    )
    from pyspark.sql import functions as F

    rng = random.Random(99)
    shared = "this exact sentence is duplicated across several documents verbatim"
    rows = []
    for d in range(12):
        filler = " ".join(
            "".join(rng.choice("abcdefgh") for _ in range(6)) for _ in range(15)
        )
        if d % 3 == 0:
            rows.append((d, filler[:30] + " " + shared + " " + filler[30:]))
        else:
            rows.append((d, filler))
    rows += [(100, "tiny dup"), (101, "tiny dup"), (102, "tiny unique")]  # < k chars
    # TWO null-text docs: >= min_doc_freq of them would all collide on
    # xxhash64(null)'s seed and rebuild to '' if they ever reached the
    # pos stream (the round-9 prefilter=False path did exactly that,
    # while prefilter=True passed them through as NULL — parity break)
    rows += [(200, ""), (201, None), (202, None), (None, shared + " " + shared)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)

    for window in (8, 100):  # 100 > k exercises the clamp
        a = {
            r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
            for r in remove_repeated_spans(
                df, "text", "doc_id", min_len=40, prefilter=True, prefilter_window=window
            ).collect()
        }
        b = {
            r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
            for r in remove_repeated_spans(
                df, "text", "doc_id", min_len=40, prefilter=False
            ).collect()
        }
        assert a == b
        assert len(a) == len(rows)
    # the doc-freq salt count never changes output: S=1 is the unsalted
    # degenerate form, S=5 doesn't divide anything evenly
    for salts in (1, 5):
        c = {
            r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
            for r in remove_repeated_spans(
                df, "text", "doc_id", min_len=40, prefilter=False,
                doc_freq_salts=salts,
            ).collect()
        }
        assert c == a
    assert a[100][1] > 0 and a[101][1] > 0  # short exact dups caught
    assert a[102] == ("tiny unique", 0)
    assert a[201] == (None, None) and a[202] == (None, None)  # null text untouched

    # HOT-GRAM SPLIT path: with a full deterministic sample and a tiny
    # df threshold, the boilerplate grams route through the salted
    # distinct + broadcast flag join instead of the window — output must
    # be identical to the probe-disabled run (routing is advisory)
    boiler_rows = [
        (i, f"unique preamble {i} " + shared + f" unique tail {i}")
        for i in range(30)
    ] + [(100 + i, f"no duplicated content here at all number {i} with filler")
         for i in range(10)]
    bdf = spark.createDataFrame(boiler_rows, "doc_id long, text string")
    hot_on = {
        r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
        for r in remove_repeated_spans(
            bdf, "text", "doc_id", min_len=40,
            hot_gram_sample=1.0, hot_gram_min_df=10,
        ).collect()
    }
    hot_off = {
        r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
        for r in remove_repeated_spans(
            bdf, "text", "doc_id", min_len=40, hot_gram_sample=0.0
        ).collect()
    }
    assert hot_on == hot_off
    assert sum(v[1] for v in hot_on.values()) > 0  # boiler actually removed
    # keep_first consistency across the two paths too
    hot_on_kf = {
        r["doc_id"]: r["n_removed_chars"]
        for r in remove_repeated_spans(
            bdf, "text", "doc_id", min_len=40, keep_first=True,
            hot_gram_sample=1.0, hot_gram_min_df=10,
        ).collect()
    }
    hot_off_kf = {
        r["doc_id"]: r["n_removed_chars"]
        for r in remove_repeated_spans(
            bdf, "text", "doc_id", min_len=40, keep_first=True,
            hot_gram_sample=0.0,
        ).collect()
    }
    assert hot_on_kf == hot_off_kf

    # the prefilter actually prunes: non-duplicated docs are not candidates
    docs_n = df.select(
        F.col("doc_id").alias("__id"),
        F.regexp_replace(F.lower("text"), r"\s+", " ").alias("__t"),
    )
    cand = {
        r["__id"]
        for r in _winnow_candidate_ids(
            docs_n.filter(F.col("__id").isNotNull()), 40, 8, 2
        ).collect()
    }
    dup_docs = {d for d, (_, n) in a.items() if n is not None and n > 0}
    assert dup_docs <= cand, "false negative: a rewritten doc was not a candidate"
    assert len(cand) < len(rows), "prefilter pruned nothing on a mostly-unique corpus"


def test_lsh_multiprobe_recall_never_worse(spark):
    """Multi-probe (Lv et al. VLDB'07 single-bit flips) must (a) leave
    n_probes=1 behavior bit-identical to the original single-bucket
    search, (b) never lower recall as probes grow, and (c) strictly
    widen the candidate pool on this fixture."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"]) for r in knn_bruteforce(emb, queries, k=5).collect()
    }

    def got(n_probes):
        return {
            (r["query_id"], r["vec_id"])
            for r in lsh_bucketed_knn(
                emb, queries, dim=64, k=5, n_planes=8, n_probes=n_probes
            ).collect()
        }

    one, four, nine = got(1), got(4), got(9)
    base = {
        (r["query_id"], r["vec_id"])
        for r in lsh_bucketed_knn(emb, queries, dim=64, k=5, n_planes=8).collect()
    }
    assert one == base
    r1 = len(one & exact) / len(exact)
    r4 = len(four & exact) / len(exact)
    r9 = len(nine & exact) / len(exact)
    assert r1 <= r4 <= r9
    assert len(nine) >= len(one)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_bucketed_knn(emb, queries, dim=64, n_planes=8, n_probes=10)
    with _pytest.raises(ValueError):
        lsh_bucketed_knn(emb, queries, dim=64, n_probes=0)


def test_pca_matches_numpy_exactly(spark):
    import numpy as np
    from epic_pandas_spark.extensions.decomposition import pca_fit, pca_transform

    rng = np.random.default_rng(7)
    # anisotropic data: stretch 3 directions so the spectrum is unambiguous
    base = rng.standard_normal((300, 16))
    base[:, 0] *= 9.0
    base[:, 3] *= 5.0
    base[:, 7] *= 2.5
    base += rng.standard_normal(16)  # non-zero mean
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # float32 storage: fit on what Spark actually holds
    x = np.vstack([np.asarray(v, dtype=np.float32).astype(np.float64) for _, v in rows])

    model = pca_fit(df, "embedding", n_components=4)
    assert model["n_rows"] == 300

    cov = np.cov(x, rowvar=False, ddof=1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:4]
    np.testing.assert_allclose(model["explained_variance"], w[order], rtol=1e-9)
    np.testing.assert_allclose(model["mean"], x.mean(axis=0), rtol=0, atol=1e-9)
    # components match up to the documented sign convention
    expect = v[:, order]
    flip = np.sign(expect[np.abs(expect).argmax(axis=0), np.arange(4)])
    np.testing.assert_allclose(model["components"], expect * flip, atol=1e-8)
    # column-orthonormal
    np.testing.assert_allclose(
        model["components"].T @ model["components"], np.eye(4), atol=1e-10
    )
    # ratios descend and sum to <= 1
    r = model["explained_variance_ratio"]
    assert all(r[i] >= r[i + 1] for i in range(3)) and 0 < r.sum() <= 1 + 1e-12

    out = pca_transform(df, model, "embedding").collect()
    got = np.vstack(
        [r["pca"] for r in sorted(out, key=lambda r: r["vec_id"])]
    )
    np.testing.assert_allclose(got, (x - x.mean(axis=0)) @ (expect * flip), atol=1e-7)


def test_pca_determinism_and_variance_concentration(spark):
    import numpy as np
    from epic_pandas_spark.extensions.decomposition import pca_fit

    rng = np.random.default_rng(3)
    base = rng.standard_normal((150, 8))
    base[:, 2] *= 20.0
    rows = [(i, [float(x) for x in base[i]]) for i in range(150)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(7)
    m1 = pca_fit(df, "embedding", n_components=2)
    m2 = pca_fit(df.repartition(3), "embedding", n_components=2)
    # partitioning must not change the statistics (exact in-plan reduction)
    np.testing.assert_allclose(m1["components"], m2["components"], atol=1e-9)
    # the stretched axis dominates component 0
    assert abs(m1["components"][2, 0]) > 0.99
    assert m1["explained_variance_ratio"][0] > 0.9


def test_pca_whiten_identity_covariance(spark):
    import numpy as np
    from epic_pandas_spark.extensions.decomposition import pca_fit, pca_transform

    rng = np.random.default_rng(11)
    base = rng.standard_normal((400, 10))
    base[:, 1] *= 12.0
    base[:, 4] *= 6.0
    rows = [(i, [float(x) for x in base[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = pca_fit(df, "embedding", n_components=5)
    out = pca_transform(df, model, "embedding", whiten=True).collect()
    y = np.vstack([r["pca"] for r in out])
    # whitened output: identity sample covariance (ddof matches the fit)
    np.testing.assert_allclose(np.cov(y, rowvar=False, ddof=1), np.eye(5), atol=1e-6)


def test_pca_raises_on_empty(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    from epic_pandas_spark.extensions.decomposition import pca_fit

    with pytest.raises(ValueError):
        pca_fit(df, "embedding", n_components=2)


def test_pca_transform_null_vectors_project_to_null(spark):
    """pca_fit skips null embeddings; pca_transform must map them to
    null (not crash np.vstack mid-job), so fit+transform over the SAME
    frame round-trips."""
    import numpy as np

    from epic_pandas_spark.extensions.decomposition import pca_fit, pca_transform

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=6)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = pca_fit(df, "embedding", n_components=3)
    out = {r["vec_id"]: r["pca"] for r in
           pca_transform(df, model, "embedding").collect()}
    assert out[100] is None and out[101] is None
    assert len(out) == 42
    assert all(len(v) == 3 for k, v in out.items() if k < 100)


def test_bands_for_recall_floor_semantics():
    """bands_for_recall: fewest divisor bands meeting the S-curve recall
    floor at the threshold; falls back to r=1 when nothing meets it;
    derives the flagship's hand-tuned 16 at tau=0.8 / 32 hashes."""
    import pytest as _pytest

    from epic_pandas_spark.extensions.dedup import bands_for_recall

    assert bands_for_recall(0.8, 32) == 16
    # the chosen band count actually meets the floor, the next-fewer
    # divisor does not
    for t in (0.5, 0.7, 0.9):
        b = bands_for_recall(t, 32, min_recall=0.999)
        r = 32 // b
        assert 1 - (1 - t**r) ** b >= 0.999
        smaller = [x for x in range(1, b) if 32 % x == 0]
        for x in smaller:
            assert 1 - (1 - t ** (32 // x)) ** x < 0.999
    # impossible floor (low threshold, few hashes) -> r=1 fallback
    assert bands_for_recall(0.05, 4, min_recall=0.999) == 4
    with _pytest.raises(ValueError):
        bands_for_recall(1.5, 32)
    with _pytest.raises(ValueError):
        bands_for_recall(0.8, 32, min_recall=0.0)


def test_exact_dedup_keep_by_policy(spark):
    """keep_by ranks each fingerprint group best-first; id asc is always
    the appended tie-break."""
    from epic_pandas_spark.extensions.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "HELLO   WORLD  "),   # same normalized text, longer raw
            (3, "hello world"),       # same raw length as id 1 -> id tiebreak
            (4, "unique doc"),
        ],
        "id long, text string",
    )
    longest = exact_dedup(df, "text", "id", keep_by=[F.length("text").desc()])
    assert sorted(r["id"] for r in longest.collect()) == [2, 4]
    default = exact_dedup(df, "text", "id")
    assert sorted(r["id"] for r in default.collect()) == [1, 4]


def test_keep_best_per_cluster(spark):
    """Cluster retention: best row per cluster by the given ordering,
    singletons (no assignment) always kept."""
    from epic_pandas_spark.extensions.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [
            (1, 0.9), (2, 0.5), (3, 0.9),   # cluster A: 0.9 tie -> min id 1
            (4, 0.1), (5, 0.7),             # cluster B: id 5 wins
            (6, 0.2),                        # singleton (unassigned)
        ],
        "id long, quality double",
    )
    clusters = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B")], "id long, cluster string"
    )
    kept = keep_best_per_cluster(docs, clusters, "id", [F.col("quality").desc()])
    assert sorted(r["id"] for r in kept.collect()) == [1, 5, 6]
    # schema unchanged: helper columns dropped
    assert kept.columns == ["id", "quality"]


def test_keep_best_per_cluster_adversarial_keys(spark):
    """Two regression cases from the round-6 advisory: (a) a string
    cluster id that collides with the old synthetic singleton label must
    not merge with an actual singleton; (b) an id assigned to two
    clusters must not fan out the corpus join into duplicate
    survivors."""
    from epic_pandas_spark.extensions.dedup import keep_best_per_cluster

    # (a) cluster literally named like the old "__solo_<id>" label
    docs = spark.createDataFrame(
        [(6, 0.2), (7, 0.9), (8, 0.1)], "id long, quality double"
    )
    clusters = spark.createDataFrame(
        [(7, "__solo_6"), (8, "__solo_6")], "id string, cluster string"
    ).select(F.col("id").cast("long"), "cluster")
    kept = keep_best_per_cluster(docs, clusters, "id", [F.col("quality").desc()])
    # 6 is a true singleton; 7 wins its (oddly-named) cluster over 8
    assert sorted(r["id"] for r in kept.collect()) == [6, 7]

    # (b) duplicate assignment: id 2 claimed by both clusters
    docs2 = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.7)], "id long, quality double"
    )
    clusters2 = spark.createDataFrame(
        [(1, "A"), (2, "A"), (2, "B"), (3, "B")], "id long, cluster string"
    )
    kept2 = keep_best_per_cluster(docs2, clusters2, "id", [F.col("quality").desc()])
    rows = kept2.collect()
    # no duplicate survivors: id 2 appears at most once
    assert sorted(r["id"] for r in rows) == sorted(set(r["id"] for r in rows))
    # min-cluster collapse puts 2 in A (beats 1); 3 survives B alone
    assert sorted(r["id"] for r in rows) == [2, 3]


def test_soft_dedup_weights(spark):
    from epic_pandas_spark.extensions.dedup import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "a b"), (2, "A  B "), (3, "a b"), (4, "unique")],
        "id long, text string",
    )
    out = {r["id"]: (r["n_dups"], r["weight"]) for r in
           soft_dedup_weights(df, "text", "id").collect()}
    assert out[1] == (3, pytest.approx(1 / 3))
    assert out[2] == (3, pytest.approx(1 / 3))
    assert out[4] == (1, 1.0)
    # total expected mass == number of distinct texts
    assert sum(w for _, w in out.values()) == pytest.approx(2.0)


def test_winnow_flagged_join_strategy_pinned(spark, monkeypatch):
    """Round-11 (VERDICT r10 "what's wrong" #2): the prefilter's
    flagged-fingerprint semi join picks its strategy from the EXACT
    flagged row count, not AQE's compressed-size estimate — above
    _FLAGGED_BROADCAST_MAX_ROWS the build side must NOT become a driver
    broadcast (duplication-saturated corpora blew past
    spark.driver.maxResultSize in a round-10 probe). Forces the
    shuffle-hash path with a 0 threshold: the plan must carry no
    BroadcastExchange and the candidate set must equal the broadcast
    path's — and the full operator must stay bit-identical."""
    from epic_pandas_spark.extensions import dedup as dd
    from pyspark.sql import functions as F

    # duplication-SATURATED corpus: every doc shares the boiler sentence
    shared = "every single document in this corpus carries this very sentence"
    rows = [(i, f"prefix {i} " + shared + f" suffix {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs_n = df.select(
        F.col("doc_id").alias("__id"),
        dd._normalized_text_expr(F.col("text")).alias("__t"),
    ).withColumn("__len", F.length("__t"))

    cand_bc = dd._winnow_candidate_ids(docs_n, 40, 8, 2)
    assert "BroadcastExchange" in cand_bc._jdf.queryExecution().executedPlan().toString()
    ids_bc = {r["__id"] for r in cand_bc.collect()}

    monkeypatch.setattr(dd, "_FLAGGED_BROADCAST_MAX_ROWS", 0)
    cand_sh = dd._winnow_candidate_ids(docs_n, 40, 8, 2)
    plan = cand_sh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert {r["__id"] for r in cand_sh.collect()} == ids_bc == set(range(40))

    # end-to-end parity: the forced shuffle-hash prefilter changes no output
    a = {
        r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
        for r in dd.remove_repeated_spans(df, "text", "doc_id", min_len=40).collect()
    }
    monkeypatch.undo()
    b = {
        r["doc_id"]: (r["cleaned"], r["n_removed_chars"])
        for r in dd.remove_repeated_spans(df, "text", "doc_id", min_len=40).collect()
    }
    assert a == b and sum(v[1] for v in a.values()) > 0
