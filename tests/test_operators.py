"""Beyond-reference operators: dedup, similarity, text, multimodal."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from woodwork_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the green hills of the quiet valley tonight"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "fast")),  # near dup of 0
        (3, "completely different text about spark query engines and joins"),
        (4, "another unrelated document mentioning parquet files and shuffles"),
        (5, base.replace("dog", "cat").replace("sun", "moon")),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, columns=["text"], id_col="doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 2, 3, 4, 5]  # doc 1 (exact dup, higher id) dropped


def test_minhash_pairs_find_near_dups(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, bands=16,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found  # exact dup: jaccard 1.0
    assert (0, 2) in found or (1, 2) in found  # near dup
    for a, b in found:
        assert {a, b} <= {0, 1, 2, 5}  # unrelated docs never pair


def test_minhash_dedup_drops_losers(docs):
    out = dedup.minhash_dedup(docs, "doc_id", "text", threshold=0.5)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert 0 in kept  # chain head survives
    assert 1 not in kept
    assert 3 in kept and 4 in kept


def test_simhash_pairs(docs):
    pairs = dedup.simhash_dedup_pairs(
        docs, "doc_id", "text", max_hamming=10,
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found.get((0, 1)) == 0  # identical text -> identical simhash
    for (a, b) in found:
        assert {a, b} <= {0, 1, 2, 5}


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.4,
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert found.get((0, 1)) == pytest.approx(1.0)
    assert any(a in (0, 1) and b == 2 for a, b in found)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    rows = []
    for i in range(50):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    # 50/51: near-identical pair
    rows.append((50, rows[0][1]))
    rows.append((51, [x + 0.001 for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    queries = vectors.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(vectors, queries, k=3).collect()
    assert [r["vec_id"] for r in out][:2] == [50, 51]  # identical then near
    assert out[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert all(out[i]["rank"] == i + 1 for i in range(3))


def test_ivf_topk_finds_near_neighbor(vectors):
    assigned, cents = similarity.ivf_index(vectors, nlist=4)
    queries = vectors.filter(F.col("vec_id") == 0)
    out = similarity.ivf_topk(assigned, cents, queries, k=3, nprobe=4).collect()
    # nprobe == nlist -> exhaustive -> must match brute force
    assert [r["vec_id"] for r in out][:2] == [50, 51]


def test_embedding_near_dup_pairs(vectors):
    pairs = dedup.embedding_near_dup_pairs(
        vectors, "vec_id", "embedding", threshold=0.999,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 50) in found and (0, 51) in found


def test_text_profile(docs):
    prof = {r["doc_id"]: r for r in text.text_profile(docs, "text", "doc_id").collect()}
    assert prof[0]["n_tokens"] == 23
    assert prof[0]["lang_guess"] == "en"
    assert prof[0]["fingerprint"] == prof[1]["fingerprint"]  # same text
    assert prof[0]["fingerprint"] != prof[3]["fingerprint"]
    assert 0.0 <= prof[0]["quality_score"] <= 1.0
    assert prof[0]["quality_score"] > 0.5  # real English sentence


def test_lang_id_multilang(spark):
    rows = [
        (0, "el perro corre en la casa y es un dia para los amigos"),
        (1, "der hund ist nicht mit der katze auf dem dach und das ist gut"),
        (2, "the cat is on the mat and it is a good day for all of us"),
        (3, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", text.lang_id_expr("text").alias("lang")).collect()}
    assert out[0] == "es"
    assert out[1] == "de"
    assert out[2] == "en"
    assert out[3] == "und"


def test_rolling_fingerprint_overlap(docs, spark):
    fp = docs.select(
        "doc_id", text.rolling_fingerprint_expr("text", keep=8).alias("fp"),
    )
    rows = {r["doc_id"]: set(r["fp"]) for r in fp.collect()}
    # near-dups share most of the sketch; unrelated share none
    assert len(rows[0] & rows[2]) >= 4
    assert len(rows[0] & rows[3]) == 0


def test_multimodal_image_features(spark):
    rows = [(0, b"\x01\x02\x03\x04" * 32), (1, b"\xff\xfe" * 64), (2, None)]
    df = spark.createDataFrame(rows, "id long, img binary")
    df = multimodal.attach_image_metadata(df, "img", width=8, height=8)
    assert "img_meta" in df.columns
    feats = multimodal.image_features(df, "img", "id", n_features=16).collect()
    got = {r["id"]: r["features"] for r in feats}
    assert len(got) == 3
    assert len(got[0]) == 16
    assert got[2] == [0.0] * 16  # null payload -> zero vector
    # deterministic
    feats2 = multimodal.image_features(df, "img", "id", n_features=16).collect()
    assert {r["id"]: r["features"] for r in feats2} == got


def test_multimodal_real_decoder_raises(spark):
    df = spark.createDataFrame([(0, b"x")], "id long, img binary")
    with pytest.raises(Exception, match="NotImplementedError|PIL|opencv"):
        multimodal.image_features(df, "img", "id", decoder="real").collect()


def test_frame_sample_plumbing(spark):
    df = spark.createDataFrame([(0, bytes(range(256)) * 4)], "id long, vid binary")
    frames = multimodal.frame_sample(df, "vid", "id", every_n=4).collect()
    assert len(frames) == 4  # 16 pseudo-frames / every 4
    assert all(len(r["frame"]) == 64 for r in frames)


def test_connected_components_chain(spark):
    """Transitive chain a-b, b-c, c-d plus separate pair e-f."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comps = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comps == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_minhash_dedup_transitive(spark):
    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    chain1 = " ".join(["X0"] + words[1:])           # differs in word 0
    chain2 = " ".join(["X0", "X1"] + words[2:])     # differs in words 0,1
    rows = [
        (0, base),
        (1, chain1),   # ~ 0 (jaccard ~ 0.85)
        (2, chain2),   # ~ 1, but still ~0 transitively via 1
        (3, "completely different text with no shared shingles at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_dedup(df, "doc_id", "text", threshold=0.7, transitive=True)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 3]  # whole chain collapses to its min id


def test_build_vocabulary(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "the dog runs")], "id long, text string",
    )
    vocab = {r["token"]: (r["count"], r["token_id"]) for r in
             text.build_vocabulary(df, "text").collect()}
    assert vocab["the"] == (3, 0)
    assert vocab["dog"] == (2, 1)
    assert vocab["and"][0] == 1
    # ids are dense 0..n-1
    assert sorted(tid for _, tid in vocab.values()) == list(range(len(vocab)))


def test_filter_by_quality(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river"),
            (1, "x y"),
        ],
        "id long, text string",
    )
    kept = [r["id"] for r in text.filter_by_quality(df, "text").collect()]
    assert kept == [0]


def test_asof_join_backward(spark):
    import datetime as dt

    from woodwork_spark.operators.relational import asof_join

    trades = spark.createDataFrame(
        [
            (1, dt.datetime(2020, 1, 1, 10, 0, 0), 100.0),
            (1, dt.datetime(2020, 1, 1, 10, 5, 0), 101.0),
            (2, dt.datetime(2020, 1, 1, 10, 3, 0), 50.0),
        ],
        "sym long, ts timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            (1, dt.datetime(2020, 1, 1, 9, 59, 0), 99.5),
            (1, dt.datetime(2020, 1, 1, 10, 4, 0), 100.5),
            (2, dt.datetime(2020, 1, 1, 10, 10, 0), 49.5),  # after the trade
        ],
        "sym long, ts timestamp, quote double",
    )
    out = {
        (r["sym"], r["ts"]): r["quote_right"]
        for r in asof_join(trades, quotes, on="ts", by="sym").collect()
    }
    assert out[(1, dt.datetime(2020, 1, 1, 10, 0))] == 99.5
    assert out[(1, dt.datetime(2020, 1, 1, 10, 5))] == 100.5
    assert out[(2, dt.datetime(2020, 1, 1, 10, 3))] is None  # no prior quote


def test_asof_join_tolerance(spark):
    import datetime as dt

    from woodwork_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2020, 1, 1, 12, 0, 0), "x")], "k long, ts timestamp, v string",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2020, 1, 1, 9, 0, 0), "old")], "k long, ts timestamp, r string",
    )
    strict = asof_join(left, right, on="ts", by="k", tolerance=3600).collect()[0]
    assert strict["r_right"] is None  # 3h-old match outside 1h tolerance
    loose = asof_join(left, right, on="ts", by="k", tolerance=4 * 3600).collect()[0]
    assert loose["r_right"] == "old"


def test_asof_join_null_in_matched_row_not_backfilled(spark):
    """merge_asof semantics: a null column in the nearest right row stays
    null — it must not be pulled from an older right row."""
    from woodwork_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 1, 100.0, "old"), (1, 5, None, "new")],
        "k int, ts int, px double, tag string",
    )
    row = asof_join(left, right, on="ts", by="k").collect()[0]
    assert row["tag_right"] == "new"
    assert row["px_right"] is None  # not back-filled with 100.0


def test_asof_join_left_row_before_any_right(spark):
    from woodwork_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 0), (1, 10)], "k int, ts int")
    right = spark.createDataFrame([(1, 5, 7.0)], "k int, ts int, px double")
    rows = {r["ts"]: r for r in asof_join(left, right, on="ts", by="k").collect()}
    assert rows[0]["px_right"] is None
    assert rows[10]["px_right"] == 7.0


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """8 well-separated gaussian clusters in 16-dim — IVF with good
    centroids must achieve near-perfect recall at nprobe << nlist."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 16)) * 10.0
    rows = []
    i = 0
    for c in range(8):
        for _ in range(30):
            v = centers[c] + rng.standard_normal(16) * 0.3
            rows.append((i, [float(x) for x in v]))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_kmeans_centroids_recall(clustered_vectors):
    """k-means-trained centroids recover the true cluster structure:
    recall@5 vs brute force at nprobe=2 of nlist=8 must be ~1.0 (the old
    strided head-sample seeds put several centroids in one true cluster
    and none in others, collapsing recall)."""
    assigned, cents = similarity.ivf_index(clustered_vectors, nlist=8, iterations=5)
    queries = clustered_vectors.filter(F.col("vec_id") % 30 == 0)  # 1/cluster
    exact = similarity.cosine_topk(clustered_vectors, queries, k=5).collect()
    approx = similarity.ivf_topk(
        assigned, cents, queries, k=5, nprobe=2,
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(
        len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets
    )
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.95, f"recall@5 = {hits}/{total}"
    # every true cluster got its own centroid: cluster column spans all 8
    n_clusters = assigned.select("__cluster").distinct().count()
    assert n_clusters == 8


def test_ivf_random_training_sees_tail_clusters(spark):
    """Training data sorted by cluster (the normal source-sorted parquet
    layout): the default random sample must place a centroid near the
    tail cluster that a head-limit sample never sees."""
    rows = [(i, [10.0 + (i % 7) * 0.01, 0.0]) for i in range(1500)] + [
        (1500 + i, [-10.0 + (i % 7) * 0.01, 0.0]) for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>",
    ).coalesce(4)

    def min_d2(cents, target):
        return min(
            sum((a - b) ** 2 for a, b in zip(c, target)) for c in cents
        )

    _, cents_head = similarity.ivf_index(
        df, nlist=4, train_sample=1000, sample_mode="head",
    )
    _, cents_rand = similarity.ivf_index(df, nlist=4, train_sample=1000)
    # the fixture is load-bearing: head sampling misses the tail cluster
    assert min_d2(cents_head, [-10.0, 0.0]) > 50.0
    assert min_d2(cents_rand, [-10.0, 0.0]) < 1.0


def test_hash_split_stable_and_group_safe(spark):
    from woodwork_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    a = {r["k"]: r["split"] for r in sampling.hash_split(df, "k", 0.8).collect()}
    # deterministic: identical on rerun and on a different partitioning
    b = {
        r["k"]: r["split"]
        for r in sampling.hash_split(df.repartition(13), "k", 0.8).collect()
    }
    assert a == b
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.75 < frac < 0.85  # ~0.8 within hash uniformity tolerance
    # growing the data never moves existing keys between splits
    df2 = spark.createDataFrame([(i,) for i in range(4000)], "k long")
    c = {r["k"]: r["split"] for r in sampling.hash_split(df2, "k", 0.8).collect()}
    assert all(c[k] == v for k, v in a.items())


def test_stratified_hash_sample(spark):
    from woodwork_spark.operators import sampling

    rows = [(i, "common" if i % 2 == 0 else "rare") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, stratum string")
    out = sampling.stratified_hash_sample(
        df, "k", {"common": 0.1}, "stratum",
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["stratum"], []).append(r["k"])
    assert len(by["rare"]) == 1000  # untouched stratum kept whole
    assert 50 < len(by["common"]) < 150  # ~10% of 1000


def test_chunk_documents_windows(spark):
    from woodwork_spark.operators import text as T

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, words), (1, "short text"), (2, "x")], "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in T.chunk_documents(df, "text", "doc_id", chunk_tokens=4, stride=4).collect()
    }
    # doc 0: 10 tokens -> windows [0:4], [4:8], [8:10]
    assert out[(0, 0)] == ("w0 w1 w2 w3", 4)
    assert out[(0, 1)] == ("w4 w5 w6 w7", 4)
    assert out[(0, 2)] == ("w8 w9", 2)
    assert out[(1, 0)] == ("short text", 2)
    assert out[(2, 0)] == ("x", 1)
    # overlapping stride
    ov = {
        (r["doc_id"], r["chunk_id"]): r["chunk_text"]
        for r in T.chunk_documents(df, "text", "doc_id", chunk_tokens=4, stride=2).collect()
    }
    assert ov[(0, 1)] == "w2 w3 w4 w5"


def test_grouped_prefix_sum_matches_window(spark):
    """Distributed (range-partitioned + broadcast offsets) grouped prefix
    sum must equal the plain partitioned-window formulation."""
    import random

    from pyspark.sql import functions as F

    from woodwork_spark.operators.rank import grouped_prefix_sum

    random.seed(7)
    rows = [
        (i, random.choice(["en", "zh", "es"]), random.randint(1, 50))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    dist = {
        (r["g"], r["id"]): r["p"]
        for r in grouped_prefix_sum(
            df, ["g"], [F.asc("id")], "v", out_col="p", small_threshold=0,
        ).collect()
    }
    # reference: per-group running sum in python
    expect = {}
    acc = {}
    for i, g, v in sorted(rows):
        expect[(g, i)] = acc.get(g, 0)
        acc[g] = acc.get(g, 0) + v
    assert dist == expect


def test_pack_sequences_concat_chunk(spark):
    from pyspark.sql import functions as F

    from woodwork_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(0, 3), (1, 4), (2, 10), (3, 2)], "id long, n long",
    )
    out = {
        r["id"]: (r["seq_id"], r["seq_off"])
        for r in pack_sequences(
            df, "n", 8, [F.asc("id")], small_threshold=0,
        ).collect()
    }
    # stream: doc0 @0, doc1 @3, doc2 @7 (straddles into seq1&2), doc3 @17
    assert out == {0: (0, 0), 1: (0, 3), 2: (0, 7), 3: (2, 1)}


def test_cap_per_group_deterministic(spark):
    from pyspark.sql import functions as F

    from woodwork_spark.operators.packing import cap_per_group

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)], "id long, src string",
    )
    out = cap_per_group(df, "src", 4, [F.asc("id")]).collect()
    by = {}
    for r in out:
        by.setdefault(r["src"], []).append(r["id"])
    assert {k: sorted(v) for k, v in by.items()} == {
        "s0": [0, 3, 6, 9], "s1": [1, 4, 7, 10], "s2": [2, 5, 8, 11],
    }


def test_rebalance_mix_downsamples_to_target(spark):
    from woodwork_spark.operators.packing import mix_report, rebalance_mix

    rows = [(i, "en" if i < 900 else ("fr" if i < 1000 else "de")) for i in range(1050)]
    df = spark.createDataFrame(rows, "id long, lang string")
    out = rebalance_mix(df, "id", "lang", {"en": 0.5, "fr": 0.5})
    counts = {
        r["lang"]: r["n_docs"]
        for r in mix_report(out, "lang").collect()
    }
    # fr (the scarcest targeted group) kept whole; en shrunk to match;
    # de (outside the target mix) dropped entirely
    assert counts["fr"] == 100
    assert 80 <= counts["en"] <= 120
    assert "de" not in counts
    # deterministic: same hash salt -> same rows
    again = {
        r["lang"]: r["n_docs"]
        for r in mix_report(
            rebalance_mix(df, "id", "lang", {"en": 0.5, "fr": 0.5}), "lang",
        ).collect()
    }
    assert again == counts


def test_unigram_logprob_manual(spark):
    import math

    from woodwork_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob(df, "text", "doc_id").collect()
    }
    # corpus: a=2, b=2, c=1, total=5
    la, lb, lc = (math.log(2 / 5), math.log(2 / 5), math.log(1 / 5))
    assert out[0][0] == 3 and abs(out[0][1] - (la + la + lb) / 3) < 1e-9
    assert out[1][0] == 2 and abs(out[1][1] - (lb + lc) / 2) < 1e-9


def test_semdedup_groups_and_representatives(spark):
    from woodwork_spark.operators.dedup import semdedup

    # 0 and 1 identical, 2 a slight perturbation of them, 3 orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = {r["id"]: (r["rep"], r["keep"]) for r in semdedup(df, "id", "v").collect()}
    assert out == {0: (0, True), 1: (0, False), 2: (0, False), 3: (3, True)}
    # output key column is named after id_col so the docstring's
    # df.join(semdedup(...).filter("keep"), id_col) recipe works verbatim
    renamed = df.withColumnRenamed("id", "doc_key")
    survivors = semdedup(renamed, "doc_key", "v").filter("keep")
    assert survivors.columns == ["doc_key", "rep", "keep"]
    assert renamed.join(survivors, "doc_key").count() == 2


def test_connected_components_distributed_matches_unionfind(
    spark, monkeypatch,
):
    """Forced distributed label-propagation path must produce the same
    labels as the driver-side union-find fast path."""
    import random

    from woodwork_spark import io

    random.seed(11)
    edges = [(random.randint(0, 200), random.randint(0, 200)) for _ in range(150)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    dist = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert fast == dist


def test_connected_components_nan_ids(spark, monkeypatch):
    """Float ids holding NaN take the distributed path under the default
    bound (a NaN never equals itself, so a driver union-find could not
    find its root) and label like the forced distributed path."""
    from woodwork_spark import io

    nan = float("nan")
    pairs = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0), (nan, 5.0), (5.0, 6.0)],
        "id_a double, id_b double",
    )

    def labels():
        # NaN keys compare unequal, so name them for the comparison
        name = lambda x: "nan" if x != x else x  # noqa: E731
        return {
            name(r["id"]): name(r["component"])
            for r in dedup.connected_components(pairs).collect()
        }

    default = labels()
    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    assert default == labels()
    assert default == {
        1.0: 1.0, 2.0: 1.0, 3.0: 1.0, 5.0: 5.0, 6.0: 5.0, "nan": 5.0,
    }


def test_resample_fills_gaps(spark):
    import datetime as dt

    from woodwork_spark.operators.timeseries import resample

    base = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        ("a", base, 1.0),
        ("a", base + dt.timedelta(hours=3), 2.0),  # hours 1,2 silent
        ("b", base + dt.timedelta(hours=1), 5.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {
        (r["g"], r["bucket_ts_s"]): (r["n_events"], r["sum_v"])
        for r in resample(
            df, "ts", 3600, group_cols=["g"],
            aggs={"n_events": F.count(F.lit(1)), "sum_v": F.sum("v")},
            fill={"n_events": 0, "sum_v": 0.0},
        ).collect()
    }
    h0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    # group a: 4 buckets incl. two zero-filled; group b: its single bucket
    assert out[("a", h0)] == (1, 1.0)
    assert out[("a", h0 + 3600)] == (0, 0.0)
    assert out[("a", h0 + 7200)] == (0, 0.0)
    assert out[("a", h0 + 10800)] == (1, 2.0)
    assert out[("b", h0 + 3600)] == (1, 5.0)
    assert len(out) == 5


def test_tokenize_with_vocabulary_order_and_oov(spark):
    from woodwork_spark.operators.text import build_vocabulary, tokenize_with_vocabulary

    df = spark.createDataFrame(
        [(0, "b a b c"), (1, "a rare b")], "doc_id long, text string",
    )
    # corpus counts: b=3, a=2, c=1, rare=1 -> ids b=0, a=1, c=2, rare=3
    out = {
        r["doc_id"]: (r["token_ids"], r["n_tokens"], r["n_oov"])
        for r in tokenize_with_vocabulary(df, "text", "doc_id", top_n=3).collect()
    }
    assert out[0] == ([0, 1, 0, 2], 4, 0)
    assert out[1] == ([1, -1, 0], 3, 1)  # 'rare' beyond top_n -> OOV
    # explicit vocabulary reuse: ids stable across corpora
    vocab = build_vocabulary(df, "text")
    again = tokenize_with_vocabulary(
        spark.createDataFrame([(9, "c b")], "doc_id long, text string"),
        "text", "doc_id", vocabulary=vocab,
    ).collect()[0]
    assert again["token_ids"] == [2, 0]


def test_random_project_deterministic_and_norm_preserving(vectors):
    from woodwork_spark.operators.embedding import random_project

    base = vectors.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    p1 = {r["vec_id"]: r["proj"] for r in random_project(base, "v", 8).collect()}
    p2 = {r["vec_id"]: r["proj"] for r in random_project(base, "v", 8).collect()}
    assert p1 == p2  # md5 planes: no RNG state, identical across runs
    assert all(len(v) == 8 for v in p1.values())
    # JL: expected squared norm preserved within a loose factor
    import numpy as np

    orig = {r["vec_id"]: np.array(r["v"]) for r in base.collect()}
    ratios = [
        float(np.sum(np.square(p1[i]))) / float(np.sum(np.square(orig[i])))
        for i in orig
        if np.sum(np.square(orig[i])) > 0
    ]
    assert 0.5 < (sum(ratios) / len(ratios)) < 2.0


def test_pca_recovers_dominant_direction(spark):
    import numpy as np

    from woodwork_spark.operators.embedding import pca_fit, pca_project

    rng = np.random.default_rng(3)
    d, n = 10, 400
    direction = np.zeros(d)
    direction[2] = 1.0
    X = rng.standard_normal((n, 1)) * 5.0 @ direction[None, :]
    X += rng.standard_normal((n, d)) * 0.1  # small isotropic noise
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, v array<double>",
    )
    comps, mean, ratio = pca_fit(df, "v", 2)
    assert comps.shape == (2, d)
    # components orthonormal
    assert np.allclose(comps @ comps.T, np.eye(2), atol=1e-8)
    # first component is the planted axis (sign-canonicalized positive)
    assert abs(comps[0, 2]) > 0.99 and comps[0, 2] > 0
    assert ratio[0] > 0.95
    # projection: first coordinate carries nearly all the variance
    P = np.array(
        [r["pca"] for r in pca_project(df, "v", comps, mean).collect()],
    )
    assert P.shape == (n, 2)
    assert P[:, 0].var() > 50 * P[:, 1].var()


def test_pca_moments_collect_bounded_by_fanin(spark):
    """Tree reduction: the driver collect must stay O(d²) regardless of
    partition count — a 64-partition input with fanin=4 must reach the
    driver as at most 4 combined partial rows, with moments identical to
    the single-level answer."""
    import numpy as np

    from woodwork_spark.operators.embedding import collect_moments, pca_fit

    rng = np.random.default_rng(11)
    n, d = 500, 6
    X = rng.standard_normal((n, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "id long, v array<double>",
    ).repartition(64)
    rows = collect_moments(df, "v", fanin=4)
    assert 1 <= len(rows) <= 4
    tot_n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    xtx = np.sum([np.array(r["xtx"]).reshape(d, d) for r in rows], axis=0)
    assert tot_n == n
    assert np.allclose(s, X.sum(axis=0), atol=1e-8)
    assert np.allclose(xtx, X.T @ X, atol=1e-6)
    # end-to-end: PCA over the partition-heavy frame matches numpy's SVD
    comps, mean, _ = pca_fit(df, "v", 2)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-8)
    cov = np.cov(X, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, np.argsort(evals)[::-1][:2]].T
    for i in range(2):  # compare up to sign
        assert min(
            np.linalg.norm(comps[i] - top[i]),
            np.linalg.norm(comps[i] + top[i]),
        ) < 1e-6


def test_grouped_prefix_sum_double_values_and_null_groups(spark):
    """Review regressions: (a) float value_col must not crash the typed
    offsets frame; (b) NULL is a valid group — distributed offsets must
    join null-safely so NULL-group sums don't restart per partition."""
    from pyspark.sql import functions as F

    from woodwork_spark.operators.rank import grouped_prefix_sum

    rows = [(i, None if i % 3 == 0 else "g", float(i % 7) + 0.5) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    dist = {
        (r["g"], r["id"]): r["p"]
        for r in grouped_prefix_sum(
            df, ["g"], [F.asc("id")], "v", out_col="p", small_threshold=0,
        ).collect()
    }
    acc = {}
    for i, g, v in sorted(rows, key=lambda t: t[0]):
        assert abs(dist[(g, i)] - acc.get(g, 0.0)) < 1e-9, (g, i)
        acc[g] = acc.get(g, 0.0) + v


def test_rebalance_mix_missing_target_group_raises(spark):
    import pytest as _pytest

    from woodwork_spark.operators.packing import rebalance_mix

    df = spark.createDataFrame([(1, "en"), (2, "en")], "id long, lang string")
    with _pytest.raises(ValueError, match="absent"):
        rebalance_mix(df, "id", "lang", {"en": 0.5, "fr": 0.5})


def test_projection_udfs_pass_nulls_through(spark):
    from woodwork_spark.operators.embedding import (
        pca_fit,
        pca_project,
        random_project,
    )

    df = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0, 3.0, 4.0]), (2, [0.0, 1.0, 0.0, 1.0])],
        "id long, v array<double>",
    )
    rp = {r["id"]: r["proj"] for r in random_project(df, "v", 2).collect()}
    assert rp[0] is None and len(rp[1]) == 2
    comps, mean, _ = pca_fit(df, "v", 2)
    pp = {r["id"]: r["pca"] for r in pca_project(df, "v", comps, mean).collect()}
    assert pp[0] is None and len(pp[2]) == 2


def test_rolling_features_manual(spark):
    import datetime as dt

    from woodwork_spark.operators.timeseries import rolling_features

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(seconds=5), 20.0),
        (1, t0 + dt.timedelta(seconds=9), 30.0),
        (1, t0 + dt.timedelta(seconds=14), 40.0),
        (2, t0, 7.0),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, v double")
    out = {
        (r["uid"], r["ts"]): (
            r["secs_since_prev"], r["rolling_sum_3"], r["rolling_n_3"],
        )
        for r in rolling_features(df, "ts", ["uid"], "v", n_events=3).collect()
    }
    assert out[(1, t0)] == (None, 10.0, 1)
    assert out[(1, rows[1][1])] == (5.0, 30.0, 2)
    assert out[(1, rows[2][1])] == (4.0, 60.0, 3)
    assert out[(1, rows[3][1])] == (5.0, 90.0, 3)  # window slides off 10.0
    assert out[(2, t0)] == (None, 7.0, 1)


def test_duplication_spectrum(spark):
    rows = [(0, "a b"), (1, "a  b"), (2, "A B"), (3, "c"), (4, "c"), (5, "d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # normalized: {a b} x3, {c} x2, {d} x1
    out = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dedup.duplication_spectrum(df, "text").collect()
    }
    assert out == {3: (1, 3), 2: (1, 2), 1: (1, 1)}


def test_interval_join_containment_and_plan(spark):
    """Bucketed interval join: exact [start, end) containment, multi-
    match fan-out, left-mode NULL fill — and the plan must be a HASH
    join, never the BroadcastNestedLoopJoin Catalyst picks for a bare
    range predicate."""
    import datetime as dt

    from woodwork_spark.operators.relational import interval_join

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda h: t0 + dt.timedelta(hours=h)
    points = spark.createDataFrame(
        [(1, mk(1)), (2, mk(5)), (3, mk(10)), (4, mk(49))],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (100, mk(0), mk(4)),    # catches pid 1
            (101, mk(4), mk(6)),    # catches pid 2
            (102, mk(3), mk(11)),   # catches pids 2 and 3 (overlap)
            (103, mk(20), mk(20)),  # degenerate: end == start, no match
        ],
        "wid long, ws timestamp, we timestamp",
    )
    out = interval_join(points, ivs, "ts", "ws", "we", bucket_seconds=3600)
    got = sorted((r["pid"], r["wid"]) for r in out.collect())
    assert got == [(1, 100), (2, 101), (2, 102), (3, 102)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # left mode: pid 4 (outside every window) survives with NULL wid
    left = interval_join(points, ivs, "ts", "ws", "we", how="left")
    rows = {r["pid"]: r["wid"] for r in left.collect() if r["pid"] == 4}
    assert rows == {4: None}
    assert left.count() == 5


def test_interval_join_boundary_semantics(spark):
    """Half-open [start, end): a point exactly at end must NOT match; a
    point exactly at start must."""
    import datetime as dt

    from woodwork_spark.operators.relational import interval_join

    t0 = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(hours=2))], "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [(9, t0, t0 + dt.timedelta(hours=2))], "wid long, ws timestamp, we timestamp",
    )
    got = [r["pid"] for r in interval_join(points, ivs, "ts", "ws", "we").collect()]
    assert got == [1]


def test_schema_drift_statuses(spark):
    import woodwork_spark as ww
    from woodwork_spark.logical_types import Categorical, Double, Integer
    from woodwork_spark.table_utils import schema_drift

    df1 = spark.createDataFrame([(1, "a", 1.0)], "id long, cat string, gone double")
    df2 = spark.createDataFrame([(1, "a", "x")], "id long, cat string, fresh string")
    t1 = ww.init(
        df1, logical_types={"id": Integer, "cat": Categorical, "gone": Double},
        validate=False,
    )
    t2 = ww.init(
        df2, logical_types={"id": Double, "cat": Categorical, "fresh": Categorical},
        validate=False,
    )
    drift = {d["column"]: d for d in schema_drift(t1, t2)}
    assert drift["gone"]["status"] == "removed"
    assert drift["fresh"]["status"] == "added"
    assert drift["id"]["status"] == "type_changed"
    assert drift["id"]["old_type"] == "Integer" and drift["id"]["new_type"] == "Double"
    assert "cat" not in drift  # unchanged columns are silent


def test_cardinality_sketches_and_merge(spark):
    """HLL sketch per group, overlap-correct merged total: groups share
    half their keys, so summed per-group estimates (~3000) must NOT be
    what the merged union reports (~2000)."""
    from pyspark.sql import functions as F

    from woodwork_spark.operators.cardinality import (
        cardinality_sketches,
        distinct_rollup,
        merged_cardinality,
    )

    # g=0 holds keys 0..1999, g=1 holds keys 1000..2999 (1000 shared)
    df = spark.range(4000).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 2 == 0, (F.col("id") / 2) % 2000)
        .otherwise(1000 + (F.col("id") / 2) % 2000)
        .cast("long")
        .alias("k"),
    )
    sk = cardinality_sketches(df, "k", ["g"])
    per = {r["g"]: r["distinct_estimate"] for r in sk.collect()}
    assert abs(per[0] - 2000) / 2000 < 0.05
    assert abs(per[1] - 2000) / 2000 < 0.05
    total = merged_cardinality(sk)
    assert abs(total - 3000) / 3000 < 0.05        # union, NOT 4000
    roll = distinct_rollup(df, "k", ["g"]).collect()
    assert all(r["within_5pct"] for r in roll)
    assert all(r["exact_distinct"] == 2000 for r in roll)


def test_frequent_items_matches_exact_groupby(spark):
    """Two-pass Misra-Gries heavy hitters return EXACTLY the items the
    full groupBy would, with exact counts, on zipf-ish data spread over
    many partitions (superset guarantee + exact verify)."""
    import collections
    import math
    import random

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.frequent import frequent_items

    random.seed(7)
    vals = [f"tok{int(random.paretovariate(1.1))}" for _ in range(50_000)]
    df = spark.createDataFrame([(v,) for v in vals], "t string").repartition(16)
    out = frequent_items(df, "t", 0.01)
    got = {r["t"]: r["n"] for r in out.collect()}
    release(out)
    thr = math.ceil(0.01 * len(vals))
    exp = {
        t: n for t, n in collections.Counter(vals).items() if n >= thr
    }
    assert got == exp


def test_frequent_items_nulls_and_guardrails(spark):
    """NULLs are excluded from both items and the total; a counter
    budget below the superset bound is rejected."""
    import pytest as _pytest

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.frequent import frequent_items

    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 10 + [(None,)] * 40, "t string",
    ).repartition(4)
    out = frequent_items(df, "t", 0.5)
    got = {r["t"]: r["n"] for r in out.collect()}
    release(out)
    assert got == {"a": 50}  # total = 60 non-null -> threshold 30
    with _pytest.raises(ValueError):
        frequent_items(df, "t", 0.5, counters=2)
    with _pytest.raises(ValueError):
        frequent_items(df, "t", 0.0)


def test_detect_anomalies_flags_planted_spike(spark):
    """A planted spike is flagged; early events (thin history) are
    unscored; constant-history events are unscored (sd == 0)."""
    from woodwork_spark.operators.timeseries import detect_anomalies

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = 100.0 if i == 25 else 10.0 + (i % 3)  # spike at i=25
        rows.append((i, "u1", base + dt.timedelta(minutes=i), v))
    # u2: constant values -> sd 0 -> never scored
    for i in range(10):
        rows.append((100 + i, "u2", base + dt.timedelta(minutes=i), 5.0))
    df = spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp, value double")
    out = detect_anomalies(
        df, "ts", "user_id", "value", window_events=10, z_threshold=3.0,
        min_history=5, tie_cols=["event_id"],
    ).collect()
    by_id = {r["event_id"]: r for r in out}
    assert by_id[25]["is_anomaly"]
    assert sum(1 for r in out if r["is_anomaly"]) == 1
    assert by_id[2]["zscore"] is None  # only 2 events of history
    assert all(by_id[100 + i]["zscore"] is None for i in range(10))


def test_shuffle_shards_contiguous_and_deterministic(spark):
    """Every shard's positions are dense 0..n-1, assignment is
    rerun-identical, and the (shard, pos) ordering is a permutation of
    the input keys."""
    from woodwork_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = shuffle_shards(df, "id", 7)
    rows = out.collect()
    assert len(rows) == 1000
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(7))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    again = {(r["id"]): (r["shard"], r["pos"]) for r in shuffle_shards(df, "id", 7).collect()}
    assert {(r["id"]): (r["shard"], r["pos"]) for r in rows} == again


def test_quality_checks_detect_violations(spark):
    """Each check type fires on planted violations and the whole suite
    runs as ONE aggregation (merged aliases, single job)."""
    from woodwork_spark.operators import quality_checks as qc

    df = spark.createDataFrame(
        [
            (1, "a@x.com", 5.0, "US"),
            (2, "bad-email", 50.0, "US"),
            (2, None, -1.0, "ZZ"),
        ],
        "id long, email string, score double, country string",
    )
    rep = {
        r["check"]: (r["passed"], r["metric"])
        for r in qc.run_checks(df, [
            qc.not_null("email"),
            qc.not_null("id"),
            qc.unique("id"),
            qc.in_range("score", 0, 10),
            qc.matches("email", r"^[^@]+@[^@]+$"),
            qc.isin("country", ["US", "CA"]),
            qc.satisfies("score_even_id", F.col("score") >= F.lit(0)),
            qc.min_rows(5),
        ]).collect()
    }
    assert rep["not_null(email)"] == (False, pytest.approx(2 / 3))
    assert rep["not_null(id)"] == (True, 1.0)
    assert rep["unique(id)"][0] is False
    assert rep["in_range(score,0,10)"] == (False, 2.0)
    assert rep[r"matches(email,^[^@]+@[^@]+$)"] == (False, 1.0)
    assert rep["isin(country,{US,CA})"] == (False, 1.0)
    assert rep["satisfies(score_even_id)"] == (False, 1.0)
    assert rep["min_rows(5)"] == (False, 3.0)


def test_quality_checks_null_predicate_is_violation(spark):
    """A predicate that evaluates to NULL counts as a failed row, and an
    empty check list is rejected."""
    from woodwork_spark.operators import quality_checks as qc

    df = spark.createDataFrame(
        [(1, None), (2, 5.0)], "id long, v double",
    )
    rep = qc.run_checks(df, [qc.satisfies("v_pos", F.col("v") > 0)])
    r = rep.collect()[0]
    assert (r["passed"], r["metric"]) == (False, 1.0)
    with pytest.raises(ValueError):
        qc.run_checks(df, [])


def _reference_bpe(corpus, num_merges, min_count=2):
    """Plain-Python BPE learner with the engine's tie-break (count desc,
    then lexicographic pair) — the correctness oracle for bpe_learn."""
    import collections

    words = collections.Counter(
        w for t in corpus for w in t.lower().split()
    )
    vocab = {tuple(w): c for w, c in words.items()}
    ref = []
    for rank in range(num_merges):
        pc = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < min_count:
            break
        ref.append((rank, a, b, c))
        nv = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + cnt
        vocab = nv
    return ref


def test_bpe_learn_matches_reference(spark):
    """Distributed BPE merge learning reproduces the classic sequential
    algorithm exactly (weighted pair counts, greedy leftmost merges,
    deterministic tie-break) including early stop at min_count."""
    from woodwork_spark.operators.bpe import bpe_learn

    corpus = [
        "low lower lowest", "new newer newest",
        "low low new new new", "wider wide widest",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    m = bpe_learn(df, "text", 8, min_count=2)
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in m.collect()
    ]
    assert got == _reference_bpe(corpus, 8)


def test_bpe_apply_encodes_with_learned_merges(spark):
    """bpe_apply segments text using the ranked merges (lowest rank
    first, leftmost-first within a word) and passes through NULLs."""
    from woodwork_spark.operators.bpe import bpe_apply, bpe_learn

    corpus = ["ab ab ab cd", "abcd ab cd cd"]
    df = spark.createDataFrame([(t,) for t in corpus] + [(None,)], "text string")
    m = bpe_learn(df.where(F.col("text").isNotNull()), "text", 3, min_count=2)
    rows = {r["text"]: r["bpe_tokens"] for r in bpe_apply(df, "text", m).collect()}
    assert rows[None] is None
    merges = [(r["left"], r["right"]) for r in m.orderBy("rank").collect()]
    # every output token is buildable from the merge rules
    vocab = {a + b for a, b in merges} | set("abcd")
    for text, toks in rows.items():
        if text is None:
            continue
        assert "".join(toks) == text.replace(" ", "")
        assert all(t in vocab for t in toks), (toks, vocab)


def test_funnel_strict_order_and_prefix_counts(spark):
    """Funnel depth requires strictly increasing timestamps through the
    step list; users are counted at every prefix they reach."""
    import datetime as dt

    from woodwork_spark.operators.funnel import funnel

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1 completes a->b->c in order
        ("u1", t(0), "a"), ("u1", t(1), "b"), ("u1", t(2), "c"),
        # u2 has b before a: only reaches depth 1 (a at t3)
        ("u2", t(0), "b"), ("u2", t(3), "a"),
        # u3: a then c (no b): depth 1; later b does not resurrect c
        ("u3", t(0), "a"), ("u3", t(1), "c"), ("u3", t(2), "b"),
        # u4: a and b at the SAME timestamp -> b does not count (strict >)
        ("u4", t(0), "a"), ("u4", t(0), "b"),
        # u5: never does step a
        ("u5", t(0), "b"), ("u5", t(1), "c"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, e string")
    out = {
        r["step"]: r["n_users"]
        for r in funnel(df, "user_id", "ts", "e", ["a", "b", "c"]).collect()
    }
    # depth>=1: u1,u2,u3,u4; depth>=2: u1,u3(b after c matched? no: after
    # matching a at t0, next b at t2 counts) -> u1,u3; depth>=3: u1
    assert out == {"a": 4, "b": 2, "c": 1}


def test_cohort_retention_offsets(spark):
    """Cohorts bucket by first-event period; offsets count distinct
    users active that many periods later."""
    import datetime as dt

    from woodwork_spark.operators.funnel import cohort_retention

    d = lambda day: dt.datetime(2024, 1, day, 12, 0)
    rows = [
        ("a", d(1)), ("a", d(8)),          # cohort 0, offsets 0 and 1
        ("b", d(2)), ("b", d(2)),          # cohort 0, offset 0 only (dup)
        ("c", d(9)), ("c", d(16)),         # cohort 1, offsets 0 and 1
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r["cohort"], r["offset"]): r["n_users"]
        for r in cohort_retention(df, "user_id", "ts", period_days=7).collect()
    }
    assert got == {(0, 0): 2, (0, 1): 1, (1, 0): 1, (1, 1): 1}


def test_frequent_items_counts_nan_as_value(spark):
    """Float NaN is a non-NULL value in Spark: it must count toward the
    total AND be reportable as a heavy hitter (NULLs still excluded)."""
    import math

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.frequent import frequent_items

    rows = (
        [(float("nan"),)] * 60
        + [(1.5,)] * 30
        + [(2.5,)] * 5
        + [(None,)] * 40
    )
    df = spark.createDataFrame(rows, "v double").repartition(4)
    out = frequent_items(df, "v", 0.25)
    got = {}
    for r in out.collect():
        key = "nan" if r["v"] != r["v"] else r["v"]
        got[key] = r["n"]
    release(out)
    # total = 95 non-null (60 NaN + 30 + 5); threshold = ceil(23.75) = 24
    assert got == {"nan": 60, 1.5: 30}, got


def test_quality_checks_distinct_params_get_distinct_aggregates(spark):
    """Two same-type checks with different parameters must not collide
    into one aggregate (the review-found alias-merge defect)."""
    from woodwork_spark.operators import quality_checks as qc

    df = spark.createDataFrame(
        [(1, 50.0, "US")] * 3 + [(2, 5.0, "CA")], "id long, v double, c string",
    )
    rep = {
        r["check"]: (r["passed"], r["metric"])
        for r in qc.run_checks(df, [
            qc.in_range("v", 0, 10),      # fails: 50 out of range
            qc.in_range("v", 0, 100),     # passes
            qc.matches("c", "^US$"),      # fails on CA
            qc.matches("c", "^(US|CA)$"),  # passes
            qc.isin("c", ["US"]),          # fails
            qc.isin("c", ["US", "CA"]),    # passes
        ]).collect()
    }
    assert rep["in_range(v,0,10)"] == (False, 3.0)
    assert rep["in_range(v,0,100)"] == (True, 0.0)
    assert rep["matches(c,^US$)"] == (False, 1.0)
    assert rep["matches(c,^(US|CA)$)"] == (True, 0.0)
    assert rep["isin(c,{US})"] == (False, 1.0)
    assert rep["isin(c,{US,CA})"] == (True, 0.0)


def test_bloom_prune_mixed_key_dtypes_no_false_negatives(spark):
    """int build side vs bigint probe side (and vice versa) must still
    satisfy the no-false-negative guarantee (keys hash as strings)."""
    from woodwork_spark.operators.scale import bloom_prune

    big = spark.createDataFrame(
        [(i, i % 50) for i in range(2000)], "id long, k int",
    )
    small = spark.createDataFrame(
        [(k,) for k in range(0, 50, 3)], "k long",  # bigint keys
    )
    pruned = bloom_prune(big, small, "k", expected_items=20)
    true_n = big.join(small, big.k == small.k, "left_semi").count()
    kept_true = pruned.join(small, pruned.k == small.k, "left_semi").count()
    assert kept_true == true_n


def test_funnel_accepts_date_and_numeric_time_columns(spark):
    """The fold accumulator adopts ts_col's type: DATE and epoch LONG
    time columns work, not just TIMESTAMP."""
    import datetime as dt

    from woodwork_spark.operators.funnel import funnel

    rows = [
        ("u1", dt.date(2024, 1, 1), "a"),
        ("u1", dt.date(2024, 1, 2), "b"),
        ("u2", dt.date(2024, 1, 5), "b"),
    ]
    df = spark.createDataFrame(rows, "u string, d date, e string")
    out = {r["step"]: r["n_users"] for r in funnel(df, "u", "d", "e", ["a", "b"]).collect()}
    assert out == {"a": 1, "b": 1}
    rows2 = [("u1", 10, "a"), ("u1", 20, "b")]
    df2 = spark.createDataFrame(rows2, "u string, t long, e string")
    out2 = {r["step"]: r["n_users"] for r in funnel(df2, "u", "t", "e", ["a", "b"]).collect()}
    assert out2 == {"a": 1, "b": 1}


def test_frequent_pairs_and_rules_reference(spark):
    """Pair supports/confidence/lift against a hand-computed basket set;
    apriori pruning drops pairs of rare items; duplicates count once."""
    import pytest as _pytest

    from woodwork_spark.operators.basket import (
        association_rules,
        frequent_pairs,
    )

    rows = [
        ("b1", "milk"), ("b1", "bread"), ("b1", "milk"),  # dup counts once
        ("b2", "milk"), ("b2", "bread"),
        ("b3", "milk"), ("b3", "eggs"),
        ("b4", "bread"), ("b4", "caviar"),  # caviar appears once: pruned
        (None, "milk"), ("b1", None),
    ]
    df = spark.createDataFrame(rows, "basket string, item string")
    pairs = {
        (r["item_a"], r["item_b"]): r["pair_count"]
        for r in frequent_pairs(df, "basket", "item", 0.5).collect()
    }
    # 4 baskets; min_count = 2: (bread, milk) in b1 & b2
    assert pairs == {("bread", "milk"): 2}
    rules = {
        (r["antecedent"], r["consequent"]): (
            round(r["confidence"], 4), round(r["lift"], 4)
        )
        for r in association_rules(df, "basket", "item", 0.5, 0.1).collect()
    }
    # bread in 3 baskets, milk in 3: conf(bread->milk)=2/3, lift=(2/3)/(3/4)
    assert rules[("bread", "milk")] == (round(2 / 3, 4), round((2 / 3) / 0.75, 4))
    assert rules[("milk", "bread")] == (round(2 / 3, 4), round((2 / 3) / 0.75, 4))
    with _pytest.raises(ValueError):
        frequent_pairs(df, "basket", "item", 0.0)


def test_rrf_fuse_combines_ranked_lists(spark):
    """RRF: ids in both lists sum both contributions, single-source ids
    keep one term; empty input rejected."""
    import pytest as _pytest

    from woodwork_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "id long, rank long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "xid long, r long")
    out = {
        r["id"]: (round(r["rrf"], 9), r["n_sources"])
        for r in rrf_fuse([(a, "id", "rank"), (b, "xid", "r")], k=60).collect()
    }
    assert out[1] == (round(1 / 61, 9), 1)
    assert out[2] == (round(1 / 62 + 1 / 61, 9), 2)
    assert out[3] == (round(1 / 62, 9), 1)
    with _pytest.raises(ValueError):
        rrf_fuse([])


def test_merge_upsert_version_semantics(spark):
    """Updates replace same-key rows, new keys append, stale (lower
    version) updates lose; without a version column updates always win."""
    from woodwork_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5), (3, "c", 5)], "k long, v string, ver long",
    )
    updates = spark.createDataFrame(
        [(2, "B", 6), (3, "stale", 4), (4, "d", 6)],
        "k long, v string, ver long",
    )
    got = {
        r["k"]: (r["v"], r["ver"])
        for r in merge_upsert(target, updates, "k", version_col="ver").collect()
    }
    assert got == {1: ("a", 5), 2: ("B", 6), 3: ("c", 5), 4: ("d", 6)}
    unversioned = {
        r["k"]: r["v"]
        for r in merge_upsert(target, updates, "k").collect()
    }
    assert unversioned[3] == "stale"  # updates win without versions


def test_table_diff_statuses_and_null_safety(spark):
    """added/removed/changed/unchanged counting, with NULL payloads
    compared null-safely (NULL == NULL is unchanged, NULL vs value is
    changed)."""
    from woodwork_spark.operators.relational import table_diff

    old = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "z"), (4, "w")], "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None), (5, "q")], "k long, v string",
    )
    got = {r["status"]: r["n_rows"] for r in table_diff(old, new, "k").collect()}
    assert got == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}


def test_winsorize_clips_to_quantiles(spark):
    """Values clip to the [lower, upper] percentiles; NULLs pass
    through; invalid bounds rejected."""
    import pytest as _pytest

    from woodwork_spark.operators.features import winsorize

    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 101)] + [(None,)], "v double",
    )
    out = winsorize(df, "v", 0.1, 0.9)
    vals = [r["v"] for r in out.collect()]
    nn = [v for v in vals if v is not None]
    # linear-interp percentiles (float tolerance)
    assert min(nn) == pytest.approx(10.9) and max(nn) == pytest.approx(90.1)
    assert None in vals
    with _pytest.raises(ValueError):
        winsorize(df, "v", 0.9, 0.1)


def test_pagerank_matches_sequential_reference(spark):
    """5-iteration distributed PageRank equals the textbook sequential
    computation on a small directed graph; dangling redistribution
    conserves total mass."""
    from collections import defaultdict

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.graph import pagerank

    E = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(E, "src string, dst string")
    out_df = pagerank(df, iterations=5)
    out = {r["node"]: r["pagerank"] for r in out_df.collect()}
    release(out_df)
    nodes = sorted({x for e in E for x in e})
    N = len(nodes)
    outd = defaultdict(int)
    inc = defaultdict(list)
    for s, d in E:
        outd[s] += 1
        inc[d].append(s)
    pr = {v: 1 / N for v in nodes}
    for _ in range(5):
        pr = {
            v: 0.15 / N + 0.85 * sum(pr[u] / outd[u] for u in inc[v])
            for v in nodes
        }
    assert all(abs(out[v] - pr[v]) < 1e-12 for v in nodes)
    # with redistribution, total mass stays ~1 despite the dangling 'd'... 
    # (b and d have out-edges here, so drop c->a to create dangling c)
    E2 = [("a", "b"), ("b", "c")]
    df2 = spark.createDataFrame(E2, "src string, dst string")
    out2_df = pagerank(df2, iterations=3, redistribute_dangling=True)
    total = sum(r["pagerank"] for r in out2_df.collect())
    release(out2_df)
    assert abs(total - 1.0) < 1e-9


def test_detect_changepoint_finds_planted_shift(spark):
    """A level shift planted mid-series is located at (or adjacent to)
    the true shift point; short series are dropped."""
    import datetime as dt

    from woodwork_spark.operators.timeseries import detect_changepoint

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(40):  # u1: level 10 then level 30 from i=20
        v = 10.0 if i < 20 else 30.0
        rows.append((i, "u1", base + dt.timedelta(minutes=i), v))
    rows += [(100 + i, "u2", base + dt.timedelta(minutes=i), 5.0)
             for i in range(3)]  # too short
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, value double",
    )
    out = {r["user_id"]: r for r in detect_changepoint(
        df, "ts", "user_id", "value", min_points=5, tie_cols=["event_id"],
    ).collect()}
    assert "u2" not in out
    cp = out["u1"]["changepoint_ts"]
    # CUSUM peaks at the last point of the first regime (minute 19)
    assert cp == base + dt.timedelta(minutes=19)
    assert out["u1"]["n_points"] == 40


def test_equi_depth_histogram_balanced(spark):
    """Bucket counts differ by at most 1, boundaries are ordered, and
    NULLs are excluded."""
    from woodwork_spark.statistics.describe import equi_depth_histogram

    df = spark.createDataFrame(
        [(float(i % 97),) for i in range(500)] + [(None,)], "v double",
    )
    rows = sorted(
        (r["bucket"], r["n_rows"], r["lo"], r["hi"])
        for r in equi_depth_histogram(df, "v", 7).collect()
    )
    assert [b for b, *_ in rows] == list(range(1, 8))
    counts = [n for _, n, *_ in rows]
    assert sum(counts) == 500 and max(counts) - min(counts) <= 1
    for (_, _, lo, hi), (_, _, lo2, _) in zip(rows, rows[1:]):
        assert lo <= hi <= lo2


def test_transition_matrix_counts_and_probs(spark):
    from woodwork_spark.operators.funnel import transition_matrix

    rows = [
        # user 1: a -> b -> a   |  user 2: a -> b
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"),
        (2, 1, "a"), (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, e string")
    out = {
        (r["event"], r["next_event"]): (r["n"], r["prob"])
        for r in transition_matrix(df, "u", "t", "e").collect()
    }
    assert out[("a", "b")] == (2, 1.0)   # every 'a' with a successor -> 'b'
    assert out[("b", "a")][0] == 1
    assert out[("b", "a")][1] == pytest.approx(1.0)
    # no cross-user pair: user 2's trailing 'b' has no successor
    assert ("b", "b") not in out and len(out) == 2


def test_top_paths_orders_and_slices(spark):
    from woodwork_spark.operators.funnel import top_paths

    rows = [
        (1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (1, 4, "d"),  # a>b>c
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),               # a>b>c
        (3, 1, "x"),                                          # short: x
    ]
    df = spark.createDataFrame(rows, "u long, t long, e string")
    out = {
        r["path"]: (r["path_len"], r["n_users"])
        for r in top_paths(df, "u", "t", "e", k=3).collect()
    }
    assert out["a>b>c"] == (3, 2)   # sorted by ts, sliced to k
    assert out["x"] == (1, 1)       # short histories keep their true length
    assert len(out) == 2


def test_rolling_distinct_window_semantics(spark):
    from woodwork_spark.operators.cardinality import rolling_distinct

    day = 86_400
    rows = [
        # day 0: users {1, 2}; day 1: {2}; day 3: {3}
        (F_ts(0), 1), (F_ts(0), 2), (F_ts(0), 2),
        (F_ts(day), 2),
        (F_ts(3 * day), 3),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, u long")
    out = {
        r["bucket_s"]: r["n_distinct"]
        for r in rolling_distinct(
            df, "ts", "u", window_buckets=2, bucket_seconds=day,
        ).collect()
    }
    # window = current + previous day; only observed days emit rows
    assert out == {0: 2, day: 2, 3 * day: 1}
    approx = {
        r["bucket_s"]: r["hll_estimate"]
        for r in rolling_distinct(
            df, "ts", "u", window_buckets=2, bucket_seconds=day, exact=False,
        ).collect()
    }
    assert approx == {0: 2, day: 2, 3 * day: 1}  # tiny sets: HLL is exact


def F_ts(epoch_s: int):
    import datetime

    return datetime.datetime.utcfromtimestamp(epoch_s)


def test_select_to_budget_truncates_per_group(spark):
    from woodwork_spark.operators.packing import select_to_budget

    rows = [
        # group g: scores 9, 8, 7 with 40+40+40 tokens; budget 100
        ("g", 1, 9.0, 40), ("g", 2, 8.0, 40), ("g", 3, 7.0, 40),
        # group h: one doc over budget on its own
        ("h", 4, 5.0, 150),
        # tie on score within g2: doc 5 (lower id) wins the last slot
        ("g2", 5, 1.0, 60), ("g2", 6, 1.0, 60),
    ]
    df = spark.createDataFrame(rows, "s string, i long, score double, tok long")
    kept = select_to_budget(df, "s", "score", "tok", budget=100, id_col="i")
    got = {r["i"]: r["cum_tokens"] for r in kept.collect()}
    assert got == {1: 40, 2: 80, 5: 60}  # doc 3 over budget, 150 > 100, tie->id 5

    # distributed path (small_threshold=0 via known_count) agrees
    kept2 = select_to_budget(
        df, "s", "score", "tok", budget=100, id_col="i", known_count=10**9,
    )
    assert {r["i"]: r["cum_tokens"] for r in kept2.collect()} == got


def test_pmi_cooccurrence_counts(spark):
    import math

    from woodwork_spark.operators.text import pmi_cooccurrence

    rows = [
        (1, "a b"), (2, "a b"), (3, "a b c"), (4, "c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["token_a"], r["token_b"]): r
        for r in pmi_cooccurrence(
            df, "doc_id", "text", top_vocab=10, min_pair_count=1,
        ).collect()
    }
    ab = out[("a", "b")]
    assert (ab["n_pair"], ab["n_a"], ab["n_b"]) == (3, 3, 3)
    assert ab["pmi"] == pytest.approx(math.log(3 * 4 / (3 * 3)))
    assert out[("b", "c")]["n_pair"] == 1
    # vocabulary prune: top_vocab=2 keeps only a,b (df 3 each) -> one pair
    pruned = pmi_cooccurrence(
        df, "doc_id", "text", top_vocab=2, min_pair_count=1,
    ).collect()
    assert {(r["token_a"], r["token_b"]) for r in pruned} == {("a", "b")}


def test_ks_drift_known_distance(spark):
    from woodwork_spark.operators.curation import ks_drift

    # A = {1,2,3,4}, B = {3,4,5,6}: CDF gap peaks at v=2 (2/4 - 0 = 0.5)
    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    b = spark.createDataFrame([(3.0,), (4.0,), (5.0,), (6.0,)], "v double")
    r = ks_drift(a, b, "v").collect()[0]
    assert r["ks_stat"] == pytest.approx(0.5)
    assert r["at_value"] == 2.0
    assert (r["n_a"], r["n_b"]) == (4, 4)
    # identical samples -> zero distance
    z = ks_drift(a, a, "v").collect()[0]
    assert z["ks_stat"] == pytest.approx(0.0)
    # distributed path agrees
    d = ks_drift(a, b, "v", small_threshold=0).collect()[0]
    assert (d["ks_stat"], d["at_value"]) == (r["ks_stat"], r["at_value"])


def test_concentration_report_extremes(spark):
    from woodwork_spark.operators.curation import concentration_report

    # perfectly uniform weights -> gini 0, hhi 1/n
    uni = spark.createDataFrame(
        [(f"g{i}", 10) for i in range(4)], "g string, w long",
    )
    r = concentration_report(uni, "g", weight_col="w").collect()[0]
    assert r["n_groups"] == 4
    assert r["hhi"] == pytest.approx(0.25)
    assert r["gini"] == pytest.approx(0.0)
    assert r["top5_share"] == pytest.approx(1.0)
    # one dominant group
    skew = spark.createDataFrame(
        [("big", 97), ("s1", 1), ("s2", 1), ("s3", 1)], "g string, w long",
    )
    s = concentration_report(skew, "g", weight_col="w").collect()[0]
    assert s["top_share"] == pytest.approx(0.97)
    assert s["hhi"] > 0.9 and s["gini"] > 0.7


def test_zipf_fit_recovers_planted_slope(spark):
    # plant an exact power law: freq(rank) = round(1000 / rank)
    docs = [
        (rank, " ".join([f"tok{rank:02d}"] * round(1000 / rank)))
        for rank in range(1, 30)
    ]
    from woodwork_spark.operators.text import zipf_fit

    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = zipf_fit(df, "text", max_rank=29).collect()[0]
    assert r["slope"] == pytest.approx(-1.0, abs=0.05)
    assert r["r2"] > 0.99
    assert r["vocab_size"] == 29


def test_quantile_normalize_identical_distributions(spark):
    from woodwork_spark.operators.features import quantile_normalize

    # group A scores 1..4, group B scores 101..104: after normalization
    # both groups hold the same GLOBAL quantile values
    rows = [("A", i, float(i)) for i in range(1, 5)] + [
        ("B", 10 + i, float(100 + i)) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "g string, i long, score double")
    out = quantile_normalize(df, "g", "score", "i")
    by_g = {}
    for r in out.collect():
        by_g.setdefault(r["g"], []).append(r["normalized"])
    assert sorted(by_g["A"]) == sorted(by_g["B"])
    # positions map to the global sorted values at indices round(p/3*7):
    # p=0,1,2,3 -> j=0,3,5,7 -> values 1, 3, 102, 104
    assert sorted(by_g["A"]) == [1.0, 3.0, 102.0, 104.0]
    # singleton group maps to the global minimum
    one = spark.createDataFrame(
        [("A", 1, 5.0), ("A", 2, 7.0), ("S", 3, 99.0)],
        "g string, i long, score double",
    )
    got = {r["i"]: r["normalized"]
           for r in quantile_normalize(one, "g", "score", "i").collect()}
    assert got[3] == 5.0


def test_vocab_divergence_bounds(spark):
    import math

    from woodwork_spark.operators.curation import vocab_divergence

    a = spark.createDataFrame([("x x y",)], "text string")
    b = spark.createDataFrame([("x x y",)], "text string")
    same = vocab_divergence(a, b, "text").collect()[0]
    assert same["js_div"] == pytest.approx(0.0)
    assert same["vocab_shared"] == 2
    disjoint = vocab_divergence(
        a, spark.createDataFrame([("z w",)], "text string"), "text",
    ).collect()[0]
    assert disjoint["js_div"] == pytest.approx(math.log(2))
    assert disjoint["vocab_shared"] == 0


def test_temperature_mix_properties(spark):
    from woodwork_spark.operators.curation import temperature_mix

    df = spark.createDataFrame(
        [("en", 90), ("de", 9), ("yo", 1)], "lang string, w long",
    )
    rows = {r["lang"]: r for r in
            temperature_mix(df, "lang", 0.5, weight_col="w").collect()}
    # alpha<1 flattens: tail gains target share, head loses
    assert rows["yo"]["target_frac"] > rows["yo"]["natural_frac"]
    assert rows["en"]["target_frac"] < rows["en"]["natural_frac"]
    # the binding group keeps everything; all fracs feasible
    assert max(r["keep_frac"] for r in rows.values()) == pytest.approx(1.0)
    assert all(0 < r["keep_frac"] <= 1.0 + 1e-12 for r in rows.values())
    # alpha=1 is the identity plan
    nat = {r["lang"]: r for r in
           temperature_mix(df, "lang", 1.0, weight_col="w").collect()}
    assert all(nat[g]["keep_frac"] == pytest.approx(1.0) for g in nat)


def test_interarrival_stats_burstiness(spark):
    import datetime

    from woodwork_spark.operators.timeseries import interarrival_stats

    def ts(s):
        return datetime.datetime.utcfromtimestamp(s)

    rows = (
        # metronome: gaps all 10s -> sd 0, burstiness -1
        [(1, ts(i * 10), i) for i in range(5)]
        # bursty: gaps 1,1,1,100
        + [(2, ts(s), 10 + i) for i, s in enumerate([0, 1, 2, 3, 103])]
        # too short: dropped
        + [(3, ts(0), 20), (3, ts(5), 21)]
    )
    df = spark.createDataFrame(rows, "u long, ts timestamp, eid long")
    out = {r["u"]: r for r in
           interarrival_stats(df, "ts", "u", tie_cols=["eid"]).collect()}
    assert set(out) == {1, 2}
    assert out[1]["burstiness"] == pytest.approx(-1.0)
    assert out[1]["mean_gap_s"] == pytest.approx(10.0)
    # gaps (1,1,1,100): mu=25.75, sd~49.5 -> B~0.316
    assert out[2]["burstiness"] == pytest.approx(0.3156, abs=0.01)


def test_similarity_join_exact_jaccard(spark):
    from woodwork_spark.operators.dedup import similarity_join

    left = spark.createDataFrame(
        [(1, "red apple pie"), (2, "blue sky"), (3, "zzz")],
        "lid long, name string",
    )
    right = spark.createDataFrame(
        [(10, "red apple tart"), (11, "green field"), (12, "blue sky")],
        "rid long, name string",
    )
    out = {
        (r["lid"], r["rid"]): r["jaccard"]
        for r in similarity_join(
            left, right, "lid", "rid", "name", k=1, threshold=0.4,
        ).collect()
    }
    # {red, apple, pie} vs {red, apple, tart}: 2/4 = 0.5
    assert out[(1, 10)] == pytest.approx(0.5)
    # exact match
    assert out[(2, 12)] == pytest.approx(1.0)
    # nothing shared or below threshold
    assert set(out) == {(1, 10), (2, 12)}


def test_grouped_numeric_profile_values(spark):
    from woodwork_spark.statistics.profile import grouped_numeric_profile

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 10.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {
        (r["g"], r["column_name"]): r
        for r in grouped_numeric_profile(df, "g", ["x"]).collect()
    }
    ra = out[("a", "x")]
    assert (ra["count"], ra["mean"], ra["min"], ra["max"]) == (4, 2.5, 1.0, 4.0)
    assert ra["median"] == pytest.approx(2.5)
    assert ra["q1"] == pytest.approx(1.75)  # pandas/DuckDB interpolation
    assert ra["mean_ci_lo"] < 2.5 < ra["mean_ci_hi"]
    rb = out[("b", "x")]
    assert rb["count"] == 1 and rb["std"] is None


def test_contamination_fraction_scores_all_docs(spark):
    from woodwork_spark.operators.cleaning import contamination_fraction

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),        # contains the bench 5-gram
            (2, "x y z w v u t s"),        # clean
            (3, "hi"),                     # too short for any 5-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e")], "bid long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in contamination_fraction(
            corpus, bench, "doc_id", "text", bench_id_col="bid", n=5,
        ).collect()
    }
    # doc 1 has 4 distinct 5-grams, exactly one matches
    assert (out[1]["n_grams"], out[1]["n_contaminated"]) == (4, 1)
    assert out[1]["contaminated_frac"] == pytest.approx(0.25)
    assert (out[2]["n_contaminated"], out[2]["contaminated_frac"]) == (0, 0.0)
    # short doc: whole text as its single gram (module convention)
    assert out[3]["n_grams"] == 1 and out[3]["contaminated_frac"] == 0.0


def test_fit_apply_buckets_roundtrip(spark):
    from woodwork_spark.operators.features import apply_buckets, fit_buckets

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "x double",
    )
    edges = fit_buckets(df, "x", 4)
    assert edges == pytest.approx([25.75, 50.5, 75.25])
    got = {
        r["bucket"]: r["n"]
        for r in apply_buckets(df, "x", edges)
        .groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert got == {1: 25, 2: 25, 3: 25, 4: 25}
    # edge value falls in the LOWER bucket; nulls stay null
    ndf = spark.createDataFrame([(25.75,), (None,)], "x double")
    rows = {r["x"]: r["bucket"] for r in
            apply_buckets(ndf, "x", edges).collect()}
    assert rows[25.75] == 1 and rows[None] is None


def test_interp_logprob_bounds_and_interpolation(spark):
    import math

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.text import interp_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = interp_logprob(df, "text", "doc_id", lam=0.5)
    got = {r["doc_id"]: r for r in out.collect()}
    release(out)
    # corpus bigrams (docs 1+2): (a,b)x3, (b,a)x1 -> P(b|a)=1, P(a|b)=1
    # unigram continuations: b:3, a:1, total 4
    pb, pa = 3 / 4, 1 / 4
    d1 = (2 * math.log(0.5 * 1 + 0.5 * pb)
          + 1 * math.log(0.5 * 1 + 0.5 * pa)) / 3
    assert got[1]["avg_logprob"] == pytest.approx(d1)
    assert got[2]["n_bigrams"] == 1
    assert got[3]["avg_logprob"] is None  # < 2 tokens


def test_cramers_v_extremes(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.statistics.dependence import cramers_v

    # perfect association: b == a  ->  V = 1
    dep = spark.createDataFrame(
        [("x", "p")] * 5 + [("y", "q")] * 5, "a string, b string",
    )
    out = cramers_v(dep, "a", "b")
    r = out.collect()[0]
    release(out)
    assert r["cramers_v"] == pytest.approx(1.0)
    assert (r["r_levels"], r["c_levels"], r["dof"]) == (2, 2, 1)
    # independence: all four cells equal  ->  chi2 = 0
    ind = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")] * 3,
        "a string, b string",
    )
    out2 = cramers_v(ind, "a", "b")
    r2 = out2.collect()[0]
    release(out2)
    assert r2["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert r2["cramers_v"] == pytest.approx(0.0, abs=1e-9)


def test_benford_report_math(spark):
    import math

    from woodwork_spark.operators.quality_checks import benford_report

    # 1, 10-19, 200: digits 1 x11, 2 x1; zeros/nulls excluded
    vals = [1.0] + [float(v) for v in range(10, 20)] + [200.0, 0.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = {r["digit"]: r for r in benford_report(df, "x").collect()}
    assert out[1]["n"] == 11 and out[2]["n"] == 1
    assert out[1]["observed_p"] == pytest.approx(11 / 12)
    assert out[1]["expected_p"] == pytest.approx(math.log10(2))
    # absent digits still emit rows — their chi2 term is the strongest
    # Benford signal, not a silent omission
    assert set(out) == set(range(1, 10))
    assert out[9]["n"] == 0 and out[9]["chi2_term"] > 0


def test_asof_nearest_direction(spark):
    from woodwork_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10.0), (2, 100.0), (3, 54.0)], "lid long, t double",
    )
    right = spark.createDataFrame(
        [(11.0, "a"), (50.0, "b"), (60.0, "c")], "t double, tag string",
    )
    got = {
        r["lid"]: r["tag_right"]
        for r in asof_join(
            left, right, on="t", direction="nearest",
        ).collect()
    }
    # 10 -> 11 (forward, closer than nothing backward)
    # 100 -> 60 (backward only)
    # 54 -> 50 (dist 4) vs 60 (dist 6) -> backward 50
    assert got == {1: "a", 2: "c", 3: "b"}
    # tolerance drops far matches
    got_tol = {
        r["lid"]: r["tag_right"]
        for r in asof_join(
            left, right, on="t", direction="nearest", tolerance=5,
        ).collect()
    }
    assert got_tol == {1: "a", 2: None, 3: "b"}


def test_moment_sketches_merge_equals_rescan(spark):
    from woodwork_spark.statistics.profile import (
        merge_moments,
        moment_sketches,
    )

    rows = [("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 20.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    sk = moment_sketches(df, "g", ["x"])
    merged = merge_moments(sk, ["x"], []).collect()[0]
    direct = df.agg(
        F.count("x"), F.avg("x"), F.stddev_samp("x"), F.min("x"), F.max("x"),
    ).collect()[0]
    assert merged["x_count"] == direct[0]
    assert merged["x_mean"] == pytest.approx(direct[1])
    assert merged["x_std"] == pytest.approx(direct[2])
    assert (merged["x_min"], merged["x_max"]) == (direct[3], direct[4])
    # re-grouping to a coarser key also works
    regrouped = {r["g"]: r for r in merge_moments(sk, ["x"], ["g"]).collect()}
    assert regrouped["a"]["x_count"] == 2 and regrouped["b"]["x_count"] == 2


def test_join_size_estimate_matches_real_join(spark):
    from woodwork_spark.operators.scale import join_size_estimate

    left = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (3,)], "k long",
    )
    right = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    rows = join_size_estimate(left, right, "k", top_k=2).collect()
    total = [r for r in rows if r["key"] == "__total__"][0]
    assert total["out_rows"] == left.join(right, "k").count() == 7
    top = [r for r in rows if r["key"] != "__total__"]
    assert top[0]["key"] == "1" and top[0]["out_rows"] == 6


def test_missingness_report_phi(spark):
    from woodwork_spark.operators.quality_checks import missingness_report

    # a null <=> b null (perfectly coupled), c independent-ish
    rows = [
        (None, None, 1.0), (None, None, None),
        (1.0, 1.0, 2.0), (2.0, 2.0, None),
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    out = {(r["col_a"], r["col_b"]): r
           for r in missingness_report(df, ["a", "b", "c"]).collect()}
    assert out[("a", "b")]["phi"] == pytest.approx(1.0)
    assert out[("a", "b")]["null_both"] == 2
    assert out[("a", "c")]["phi"] == pytest.approx(0.0)


def test_union_evolve_widening_and_fill(spark):
    from pyspark.sql import types as T

    from woodwork_spark.table_utils import union_evolve

    a = spark.createDataFrame([(1, 2)], "x int, y int")
    b = spark.createDataFrame([(3.5, "z")], "x double, z string")
    u = union_evolve([a, b])
    types = {f.name: f.dataType for f in u.schema.fields}
    assert isinstance(types["x"], T.DoubleType)   # int widened to double
    assert [f.name for f in u.schema.fields] == ["x", "y", "z"]
    rows = sorted(u.collect(), key=lambda r: r["x"])
    assert rows[0]["x"] == 1.0 and rows[0]["z"] is None
    assert rows[1]["y"] is None and rows[1]["z"] == "z"
    # mixed incompatible types fall back to string
    c = spark.createDataFrame([("s",)], "y string")
    m = union_evolve([a, c])
    assert isinstance(
        {f.name: f.dataType for f in m.schema.fields}["y"], T.StringType,
    )


def test_rolling_corr_perfect_linear(spark):
    from woodwork_spark.operators.timeseries import rolling_corr

    rows = [(1, float(t), float(t), 2.0 * t + 1) for t in range(10)]
    df = spark.createDataFrame(rows, "u long, t double, x double, y double")
    out = rolling_corr(
        df, "t", "u", "x", "y", n_events=5, min_periods=3,
    ).orderBy("t").collect()
    # perfectly linear -> corr 1 once min_periods reached
    assert out[0]["rolling_corr_5"] is None  # 1 pair < min_periods
    assert out[-1]["rolling_corr_5"] == pytest.approx(1.0)
    assert out[-1]["n_pairs"] == 5


def test_seasonality_profile_index(spark):
    import datetime

    from woodwork_spark.operators.timeseries import seasonality_profile

    # Mondays value 10, Tuesdays value 30 -> overall mean 20
    rows = []
    for wk in range(3):
        rows.append((datetime.datetime(2024, 1, 1 + 7 * wk, 12), 10.0))  # Mon
        rows.append((datetime.datetime(2024, 1, 2 + 7 * wk, 12), 30.0))  # Tue
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {r["period_bucket"]: r for r in
           seasonality_profile(df, "ts", "v", period="dow").collect()}
    # Spark dayofweek: Mon=2, Tue=3
    assert out[2]["seasonal_index"] == pytest.approx(0.5)
    assert out[3]["seasonal_index"] == pytest.approx(1.5)
    assert out[2]["n_events"] == 3


def test_psi_timeseries_detects_planted_shift(spark):
    import datetime

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.curation import psi_timeseries

    day = 86_400
    rows = []
    # days 0-6 (baseline) + day 7: values ~10; day 8: values ~90 (shift)
    for d in range(8):
        for i in range(20):
            rows.append(
                (datetime.datetime.utcfromtimestamp(d * day + i), 10.0),
            )
    for i in range(20):
        rows.append((datetime.datetime.utcfromtimestamp(8 * day + i), 90.0))
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = psi_timeseries(df, "ts", "v", [50.0], baseline_days=7)
    got = {r["bucket_s"]: r["psi"] for r in out.collect()}
    release(out)
    assert got[7 * day] == pytest.approx(0.0, abs=1e-6)  # stable day
    assert got[8 * day] > 1.0                            # collapsed bucket
    assert got[0] == pytest.approx(0.0, abs=1e-6)


def test_group_trend_recovers_planted_slope(spark):
    import datetime

    from woodwork_spark.operators.curation import group_trend

    t0 = 1704067200
    rows = [
        ("up", datetime.datetime.utcfromtimestamp(t0 + d * 86400),
         5.0 + 2.0 * d)
        for d in range(10)
    ] + [
        ("flat", datetime.datetime.utcfromtimestamp(t0 + d * 86400), 7.0)
        for d in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v double")
    out = {r["g"]: r for r in
           group_trend(df, "g", "ts", "v", t0_us=t0 * 1_000_000).collect()}
    assert out["up"]["slope"] == pytest.approx(2.0)
    assert out["up"]["intercept"] == pytest.approx(5.0)
    assert out["up"]["r2"] == pytest.approx(1.0)
    assert out["flat"]["slope"] == pytest.approx(0.0, abs=1e-9)


def test_funnel_within_seconds_windows(spark):
    from woodwork_spark.operators.funnel import funnel

    rows = [
        # user 1 completes a->b within 10s
        (1, 0, "a"), (1, 5, "b"),
        # user 2's b comes too late for a 10s window
        (2, 0, "a"), (2, 50, "b"),
        # user 3: second 'a' is NOT a re-anchor; window stays at t=0
        (3, 0, "a"), (3, 40, "a"), (3, 45, "b"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, e string")
    unbounded = {r["step"]: r["n_users"]
                 for r in funnel(df, "u", "t", "e", ["a", "b"]).collect()}
    assert unbounded == {"a": 3, "b": 3}
    windowed = {r["step"]: r["n_users"]
                for r in funnel(df, "u", "t", "e", ["a", "b"],
                                within_seconds=10).collect()}
    assert windowed == {"a": 3, "b": 1}


def test_standardize_by_group_moments(spark):
    from woodwork_spark.operators.features import standardize_by_group

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = standardize_by_group(df, "g", ["x"]).collect()
    a = sorted(r["x_scaled"] for r in out if r["g"] == "a")
    assert a == pytest.approx([-1.0, 0.0, 1.0])
    # zero-variance group scales to NULL, not a division blowup
    assert all(r["x_scaled"] is None for r in out if r["g"] == "b")
    mm = {r["x"]: r["x_scaled"] for r in standardize_by_group(
        df, "g", ["x"], method="minmax").collect() if r["g"] == "a"}
    assert (mm[1.0], mm[2.0], mm[3.0]) == (0.0, 0.5, 1.0)


def test_target_encode_shrinkage_and_loo(spark):
    from woodwork_spark.operators.features import target_encode

    rows = [("big", 10.0)] * 8 + [("rare", 100.0)]
    df = spark.createDataFrame(rows, "c string, y double")
    prior = (8 * 10 + 100) / 9
    enc = {r["c"]: r["c_enc"] for r in
           target_encode(df, "c", "y", smoothing=2.0).collect()}
    assert enc["big"] == pytest.approx((8 * 10 + 2 * prior) / 10)
    # rare category shrinks hard toward the prior
    assert enc["rare"] == pytest.approx((1 * 100 + 2 * prior) / 3)
    # leave-one-out: a singleton category has no own-category signal
    loo = {(r["c"], r["y"]): r["e"] for r in target_encode(
        df, "c", "y", smoothing=2.0, out_col="e", leave_one_out=True,
    ).collect()}
    assert loo[("rare", 100.0)] == pytest.approx(prior)
    assert loo[("big", 10.0)] == pytest.approx((7 * 10 + 2 * prior) / 9)


def test_auto_salted_join_matches_plain(spark):
    from woodwork_spark.operators.scale import auto_salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(200)] + [(k, 0) for k in range(2, 12)],
        "k long, v long",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 12)],
                                "k long, name string")
    out = auto_salted_join(fact, dim, "k")
    plain = fact.join(dim, "k")
    assert out.count() == plain.count()
    assert (out.agg(F.sum("v")).collect()[0][0]
            == plain.agg(F.sum("v")).collect()[0][0])


def test_group_centroids_and_assignment(spark):
    from woodwork_spark.operators.similarity import (
        assign_nearest_centroid,
        group_centroids,
    )

    rows = [
        ("x", [1.0, 0.0]), ("x", [1.0, 0.2]),
        ("y", [0.0, 1.0]), ("y", [0.2, 1.0]),
        ("y", None),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    cents = {r["label"]: r for r in
             group_centroids(df, "label", "embedding").collect()}
    # normalized: unit length; x points along dim 0
    cx = cents["x"]["centroid"]
    assert sum(v * v for v in cx) == pytest.approx(1.0)
    assert cx[0] > 0.99 and cents["x"]["n_vectors"] == 2
    assert cents["y"]["n_vectors"] == 2  # NULL vector skipped

    out = {tuple(r["embedding"] or []): r for r in assign_nearest_centroid(
        df, group_centroids(df, "label", "embedding"), "label", "embedding",
    ).collect()}
    assert out[(1.0, 0.0)]["assigned_label"] == "x"
    assert out[(0.0, 1.0)]["assigned_label"] == "y"
    assert out[()]["assigned_label"] is None  # NULL passes through
    assert out[(1.0, 0.2)]["assigned_cosine"] > 0.95


def test_exact_dedup_keep_order(spark):
    from woodwork_spark.operators.dedup import exact_dedup

    rows = [
        (1, "a", 0.1), (2, "a", 0.9), (3, "a", 0.9),  # tie -> min id 2
        (4, "b", 0.5),
    ]
    df = spark.createDataFrame(rows, "i long, t string, q double")
    kept = sorted(
        r["i"] for r in exact_dedup(
            df, columns=["t"], id_col="i", keep_order=[("q", "desc")],
        ).collect()
    )
    assert kept == [2, 4]
    # a NULL order key must LOSE, not win (struct ordering would
    # otherwise sort the NULL field first)
    dfn = spark.createDataFrame(
        [(1, "a", None), (2, "a", 0.5)], "i long, t string, q double",
    )
    assert sorted(
        r["i"] for r in exact_dedup(
            dfn, columns=["t"], id_col="i", keep_order=[("q", "desc")],
        ).collect()
    ) == [2]
    # default keeps min id
    assert sorted(
        r["i"] for r in exact_dedup(df, columns=["t"], id_col="i").collect()
    ) == [1, 4]
    with pytest.raises(ValueError):
        exact_dedup(
            df, columns=["t"], id_col="i", keep_order=[("q", "sideways")],
        ).collect()


def test_corpus_report_numbers(spark):
    from woodwork_spark.operators.curation import corpus_report

    rows = [
        ("s1", "the cat sat on the mat"),
        ("s1", "the cat sat on the mat"),   # exact dup
        ("s2", "completely different words here now"),
        ("s2", "x"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    r = corpus_report(df, "text", "source").collect()[0]
    assert r["n_docs"] == 4
    assert r["dup_rate"] == pytest.approx(0.25)
    assert r["mix_entropy_bits"] == pytest.approx(1.0)  # 2 even sources
    assert r["top_group_share"] == pytest.approx(0.5)
    assert r["total_tokens"] == 6 + 6 + 5 + 1


def test_lsh_tune_textbook_values():
    from woodwork_spark.operators.dedup import lsh_tune

    # the classic 0.5-threshold / 64-perm banding is 16 bands x 4 rows
    b, r, p = lsh_tune(0.5, 64)
    assert (b, r) == (16, 4)
    assert 0.3 < p < 0.9
    # stricter thresholds want longer bands (higher r)
    _, r_strict, _ = lsh_tune(0.9, 64)
    assert r_strict > r
    # fn-heavy weighting recalls more: collision prob at threshold rises
    _, _, p_recall = lsh_tune(0.8, 64, fn_weight=5.0)
    _, _, p_bal = lsh_tune(0.8, 64)
    assert p_recall >= p_bal
    with pytest.raises(ValueError):
        lsh_tune(1.5)


def test_dup_rate_timeseries_cross_vs_within(spark):
    import datetime

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.cleaning import dup_rate_timeseries

    def ts(d):
        return datetime.datetime.utcfromtimestamp(d * 86400)

    rows = [
        # day 0: A, A (within-dup), B
        (ts(0), "A"), (ts(0), "A"), (ts(0), "B"),
        # day 1: B again (cross-dup), C
        (ts(1), "B"), (ts(1), "C"),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, text string")
    frame = dup_rate_timeseries(df, "ts", "text")
    out = {r["bucket_s"]: r for r in frame.collect()}
    release(frame)
    d0, d1 = out[0], out[86400]
    assert (d0["n_docs"], d0["n_distinct"]) == (3, 2)
    assert d0["within_dup_rate"] == pytest.approx(1 / 3)
    assert d0["n_seen_before"] == 0
    assert (d1["n_seen_before"], d1["cross_dup_rate"]) == (1, 0.5)


def test_functional_dependencies_and_keys(spark):
    from woodwork_spark.statistics.dependence import (
        candidate_keys,
        functional_dependencies,
    )

    rows = [
        (1, "x", 10), (2, "x", 10), (3, "y", 20), (4, "y", 21), (5, None, 30),
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    fd = {(r["determinant"], r["dependent"]): r for r in
          functional_dependencies(df, [("g", "v"), ("id", "v")]).collect()}
    # g -> v violated once (y maps to 20 and 21)
    gv = fd[("g", "v")]
    assert gv["n_violating_rows"] == 1 and not gv["is_exact"]
    # id is unique, so id -> v holds exactly
    assert fd[("id", "v")]["is_exact"]
    keys = {r["column_name"]: r for r in
            candidate_keys(df, ["id", "g", "v"]).collect()}
    assert keys["id"]["is_key"]
    assert not keys["g"]["is_key"] and keys["g"]["n_nulls"] == 1
    assert not keys["v"]["is_key"]  # distinct 4 < 5 rows


def test_asof_nearest_supports_dates(spark):
    import datetime

    from woodwork_spark.operators.relational import asof_join

    d = datetime.date
    left = spark.createDataFrame(
        [(1, d(2024, 1, 10)), (2, d(2024, 2, 1))], "lid long, t date",
    )
    right = spark.createDataFrame(
        [(d(2024, 1, 12), "a"), (d(2024, 1, 20), "b")], "t date, tag string",
    )
    got = {r["lid"]: r["tag_right"] for r in asof_join(
        left, right, on="t", direction="nearest", tolerance=5,
    ).collect()}
    # Jan 10 -> Jan 12 (2 days, within 5); Feb 1 -> nothing within 5 days
    assert got == {1: "a", 2: None}


def test_kaplan_meier_textbook(spark):
    from woodwork_spark.operators.timeseries import kaplan_meier

    # durations 1(e), 2(e), 2(censored), 3(e):
    # S(1)=3/4, S(2)=3/4*2/3=1/2, S(3)=1/2*0=0
    rows = [("g", 1.0, 1), ("g", 2.0, 1), ("g", 2.0, 0), ("g", 3.0, 1)]
    df = spark.createDataFrame(rows, "g string, dur double, ev int")
    out = {r["duration"]: r for r in
           kaplan_meier(df, "dur", "ev", ["g"]).collect()}
    assert out[1.0]["survival"] == pytest.approx(0.75)
    assert out[2.0]["survival"] == pytest.approx(0.5)
    assert out[3.0]["survival"] == pytest.approx(0.0)
    assert out[2.0]["n_censored"] == 1 and out[2.0]["at_risk"] == 3
    # censor-only times emit no row but still shrink the at-risk set
    assert set(out) == {1.0, 2.0, 3.0}


def test_readability_exprs_counts(spark):
    from pyspark.sql import functions as F

    from woodwork_spark.operators.text import readability_exprs

    df = spark.createDataFrame(
        [("The cat sat. The dog ran!",)], "text string",
    )
    r = readability_exprs("text")
    row = df.select(
        r["n_words"].alias("w"), r["n_sentences"].alias("s"),
        r["n_syllables"].alias("y"), F.round(r["flesch"], 2).alias("f"),
    ).collect()[0]
    assert row["w"] == 6 and row["s"] == 2
    assert row["y"] == 6  # one vowel group per word
    # 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert row["f"] == pytest.approx(119.19)


def test_rfm_segments_scores(spark):
    import datetime

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.funnel import rfm_segments

    def ts(d):
        return datetime.datetime(2024, 1, 1 + d)

    rows = (
        [(1, ts(9), 100.0)] * 4          # recent, frequent, high value
        + [(2, ts(5), 10.0)] * 2
        + [(3, ts(0), 1.0)]              # stale, rare, low value
        + [(4, ts(7), 50.0)] * 3
    )
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    out = rfm_segments(df, "u", "ts", "v", n_tiles=4)
    got = {r["user"]: r for r in out.collect()}
    release(out)
    assert got[1]["rfm"] == "444" and got[3]["rfm"] == "111"
    assert got[1]["recency_days"] == 0 and got[3]["recency_days"] == 9
    assert got[1]["frequency"] == 4 and got[1]["monetary"] == 400.0


def test_cohort_ltv_accumulates(spark):
    import datetime

    from woodwork_spark.operators.funnel import cohort_ltv

    def ts(d):
        return datetime.datetime(2024, 1, 1 + d)

    rows = [
        (1, ts(0), 10.0), (1, ts(7), 20.0),   # cohort 0: wk0 10, wk1 20
        (2, ts(0), 30.0),                      # cohort 0 user 2: wk0 only
        (3, ts(7), 5.0),                       # cohort 1
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    out = {(r["cohort"], r["offset"]): r
           for r in cohort_ltv(df, "u", "ts", "v", period_days=7).collect()}
    c00, c01 = out[(0, 0)], out[(0, 1)]
    assert c00["period_value"] == 40.0 and c00["cohort_users"] == 2
    assert c01["cum_value"] == 60.0
    assert c01["ltv_per_user"] == pytest.approx(30.0)
    assert out[(1, 0)]["period_value"] == 5.0


def test_lorenz_curve_properties(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.curation import lorenz_curve

    rows = [("a", 10), ("b", 10), ("c", 10), ("d", 70)]
    df = spark.createDataFrame(rows, "g string, w long")
    out = lorenz_curve(df, "g", "w")
    pts = sorted(
        (r["cum_group_frac"], r["cum_weight_frac"]) for r in out.collect()
    )
    release(out)
    # curve ends at (1, 1); sits on/below the diagonal; monotone
    assert pts[-1] == (1.0, 1.0)
    assert all(wf <= gf + 1e-12 for gf, wf in pts)
    assert pts == sorted(pts)
    # 3 equal small groups then the heavy one: 75% of groups = 30% of mass
    assert pts[2] == (0.75, pytest.approx(0.3))


def test_degree_stats_star_graph(spark):
    from woodwork_spark.operators.graph import degree_stats

    # star: hub h connected to 4 leaves (undirected degrees: h=4, leaves=1)
    edges = spark.createDataFrame(
        [("h", f"l{i}") for i in range(4)], "src string, dst string",
    )
    out = {r["degree"]: r for r in degree_stats(edges).collect()}
    assert out[1]["n_nodes"] == 4 and out[4]["n_nodes"] == 1
    assert out[1]["frac_nodes"] == pytest.approx(0.8)
    # out mode counts src degrees only; in mode exposes the sink hub
    d = {r["degree"]: r["n_nodes"]
         for r in degree_stats(edges, mode="out").collect()}
    assert d == {4: 1}
    i = {r["degree"]: r["n_nodes"]
         for r in degree_stats(edges, mode="in").collect()}
    assert i == {1: 4}


def test_explain_report_reads_plan_health(spark):
    from pyspark.sql import functions as F

    from woodwork_spark.table_utils import explain_report

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = li.where(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    agg.collect()  # AQE: codegen subtrees appear in the FINAL plan
    rep = explain_report(agg)
    assert rep["pushed_filters"] and rep["whole_stage_codegen"]
    assert rep["n_cartesian"] == 0 and rep["n_python_eval"] == 0
    assert rep["n_exchanges"] >= 1
    assert rep["scan_columns"] == 2  # only the filter + group columns
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = explain_report(
        cust.join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"]),
    )
    assert j["n_broadcast_joins"] >= 1 and j["n_sort_merge_joins"] == 0


def test_ann_recall_report_monotone(spark):
    from woodwork_spark.io import read_parquet
    from woodwork_spark.operators.similarity import (
        ann_recall_report,
        ivf_index,
    )

    emb = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    idx = ivf_index(emb, nlist=8)
    rep = ann_recall_report(
        emb, idx, nprobe_values=(1, 4, 8), k=5, n_queries=10,
    )
    recalls = [r["recall_at_k"] for r in rep]
    assert recalls == sorted(recalls)          # more probes never hurt
    assert recalls[-1] == pytest.approx(1.0)   # probing every cluster = exact
    assert all(r["n_queries"] == 10 for r in rep)


def test_luhn_valid_expr(spark):
    from woodwork_spark.operators.cleaning import luhn_valid_expr

    rows = [
        ("4539 1488 0343 6467", True),    # valid Visa test number
        ("4539148803436468", False),      # checksum off by one
        ("79927398713", False),           # valid Luhn but only 11 digits
        ("1234", False),
        (None, False),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s string")
    got = {r["s"]: r["ok"] for r in
           df.select("s", luhn_valid_expr("s").alias("ok")).collect()}
    for s, want in rows:
        assert got[s] == want, s


def test_leakage_safe_split_keeps_near_dups_together(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators import sampling

    rows = []
    # 30 mutually-distinct docs (disjoint vocabularies); every third doc
    # gets a near-copy (one word appended) under id+1000 — each such
    # pair must share a split
    for i in range(30):
        words = " ".join(f"w{i}x{j}" for j in range(25))
        text = f"{words} unique marker token number {i} closes this doc"
        rows.append((i, text))
        if i % 3 == 0:
            rows.append((i + 1000, text + " extra"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sampling.leakage_safe_split(
        df, "doc_id", "text", fraction=0.5, threshold=0.6,
        group_col="grp",
    )
    got = {r["doc_id"]: (r["split"], r["grp"]) for r in out.collect()}
    release(out)
    assert len(got) == len(rows)
    for i in range(0, 30, 3):
        assert got[i][0] == got[i + 1000][0], f"pair {i} split apart"
        assert got[i][1] == got[i + 1000][1] == i  # min-id component
    # both splits actually populated (fraction 0.5 over 30 groups)
    splits = {s for s, _ in got.values()}
    assert splits == {"train", "held"}
    # singleton docs keep their own id as the audit group
    assert got[1][1] == 1


def test_leakage_safe_split_matches_hash_split_for_singletons(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators import sampling

    # all-distinct corpus: leakage-safe must degrade to plain hash_split
    df = spark.createDataFrame(
        [(i, f"completely unrelated document body number {i} "
              f"with its own words {i * 7} and {i * 13}") for i in range(20)],
        "doc_id long, text string",
    )
    plain = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(df, "doc_id", 0.7).collect()
    }
    out = sampling.leakage_safe_split(df, "doc_id", "text", fraction=0.7)
    safe = {r["doc_id"]: r["split"] for r in out.collect()}
    release(out)
    assert safe == plain


def test_edit_distance_join_basic(spark):
    from woodwork_spark.operators.dedup import edit_distance_join

    cat = spark.createDataFrame(
        [(1, "jonathan smith"), (2, "acme corporation"), (3, "zzzzzz")],
        "cat_id long, name string",
    )
    probes = spark.createDataFrame(
        [
            (10, "jonathon smith"),    # 1 sub -> matches 1
            (11, "acme corp"),         # 7 deletions -> no match at k=2
            (12, "acme corporationx"), # 1 insert -> matches 2
            (13, "completely different thing"),
        ],
        "probe_id long, name string",
    )
    out = edit_distance_join(
        probes, cat, "probe_id", "cat_id", "name", max_dist=2,
    )
    got = sorted(
        (r["probe_id"], r["cat_id"], r["distance"]) for r in out.collect()
    )
    assert got == [(10, 1, 1), (12, 2, 1)]


def test_edit_distance_join_short_strings(spark):
    from woodwork_spark.operators.dedup import edit_distance_join

    # strings at/below the q-gram pigeonhole bound (len <= 5 at k=2,q=2)
    # must still match through the short-side path
    cat = spark.createDataFrame(
        [(1, "abc"), (2, "wxyz"), (3, "abcdefgh")], "cat_id long, s string",
    )
    probes = spark.createDataFrame(
        [(10, "abd"), (11, "wxyzaa"), (12, "abcdefghij")],
        "probe_id long, s string",
    )
    out = edit_distance_join(probes, cat, "probe_id", "cat_id", "s", max_dist=2)
    got = sorted(
        (r["probe_id"], r["cat_id"], r["distance"]) for r in out.collect()
    )
    # 10-"abd"~"abc" d=1 (both short); 11-"wxyzaa"~"wxyz" d=2 (short cat,
    # longer probe crosses the paths); 12 matches 3 at d=2 (both long)
    assert got == [(10, 1, 1), (11, 2, 2), (12, 3, 2)]


def test_edit_distance_join_exhaustive_against_bruteforce(spark):
    import itertools

    from woodwork_spark.operators.dedup import edit_distance_join

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb),
                )
        return dp[len(b)]

    # adversarial pool: random-ish words, lengths spanning the
    # short/long boundary, insertions that shift gram positions
    words = [
        "ab", "abc", "abcd", "abcde", "abcdef", "xabcdef", "abodef",
        "bbcdef", "abcdefg", "zzzzz", "zzzzzz", "kitten", "sitting",
        "mitten", "mittens", "flaw", "lawn", "flawn",
    ]
    la = [(i, w) for i, w in enumerate(words)]
    lb = [(100 + i, w) for i, w in enumerate(reversed(words))]
    A = spark.createDataFrame(la, "ida long, s string")
    B = spark.createDataFrame(lb, "idb long, s string")
    for k in (1, 2):
        expect = sorted(
            (i, j, lev(wa, wb))
            for (i, wa), (j, wb) in itertools.product(la, lb)
            if lev(wa, wb) <= k
        )
        out = edit_distance_join(A, B, "ida", "idb", "s", max_dist=k)
        got = sorted(
            (r["ida"], r["idb"], r["distance"]) for r in out.collect()
        )
        assert got == expect, f"k={k}"


def test_sample_k_per_group_exact_and_stable(spark):
    from woodwork_spark.operators import sampling

    rows = [(g, i) for g in ("a", "b", "c") for i in range(g == "c" and 2 or 50)]
    df = spark.createDataFrame(rows, "grp string, k long")
    out = sampling.sample_k_per_group(df, "grp", 5, "k").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["grp"], set()).add(r["k"])
    assert len(by_g["a"]) == 5 and len(by_g["b"]) == 5
    assert len(by_g["c"]) == 2  # smaller group keeps everything
    # stable across partitioning
    out2 = sampling.sample_k_per_group(df.repartition(7), "grp", 5, "k").collect()
    by_g2 = {}
    for r in out2:
        by_g2.setdefault(r["grp"], set()).add(r["k"])
    assert by_g == by_g2
    # rank column exposed on request, 1..k
    ranked = sampling.sample_k_per_group(
        df, "grp", 3, "k", keep_rank="rnk",
    ).collect()
    assert {r["rnk"] for r in ranked if r["grp"] == "a"} == {1, 2, 3}


def test_sample_k_per_group_plan_uses_group_limit(spark):
    from woodwork_spark.operators import sampling

    df = spark.createDataFrame([("a", 1)], "grp string, k long")
    plan = sampling.sample_k_per_group(df, "grp", 5, "k")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # map-side top-k before the shuffle


def test_mad_bounds_global_and_grouped(spark):
    from woodwork_spark.operators.features import mad_bounds

    # values 1..9 plus an extreme outlier; median 5.5->, use odd count
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    r = mad_bounds(df, "x", n_mads=3.0).first()
    # median of 10 values = 5.5; deviations |x-5.5| = 4.5..0.5..994.5
    assert r["median"] == 5.5
    assert r["mad"] == 2.5  # median of {4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,994.5}
    assert r["n_high"] == 1 and r["n_low"] == 0  # only 1000 flagged
    lo = 5.5 - 3 * 1.4826 * 2.5
    assert abs(r["low"] - lo) < 1e-9

    g = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 8)] + [("a", 500.0), ("b", 3.0)],
        "grp string, x double",
    )
    rows = {r["grp"]: r for r in mad_bounds(g, "x", group_cols=["grp"]).collect()}
    assert rows["a"]["n_high"] == 1
    assert rows["b"]["mad"] == 0.0 and rows["b"]["n_low"] == 0


def test_packing_efficiency_report(spark):
    from woodwork_spark.operators.packing import packing_efficiency_report

    df = spark.createDataFrame(
        [("en", 10), ("en", 100), ("en", 300), ("de", 64)],
        "lang string, toks long",
    )
    rows = {
        r["lang"]: r
        for r in packing_efficiency_report(
            df, "toks", 128, group_cols=["lang"],
        ).collect()
    }
    en = rows["en"]
    assert en["total_tokens"] == 410
    assert en["packed_seqs"] == 4 and en["packed_pad"] == 4 * 128 - 410
    assert en["truncated_tokens"] == 300 - 128  # only the 300-token doc cuts
    assert en["pad_tokens"] == (128 - 10) + (128 - 100) + 0
    assert en["pad_fraction"] == (118 + 28) / (3 * 128)
    de = rows["de"]
    assert de["packed_seqs"] == 1 and de["truncated_tokens"] == 0
    assert de["pad_tokens"] == 64 and de["pad_fraction"] == 0.5


def test_ngram_novelty_counts(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),        # grams: abc bcd cde
            (2, "a b c x y"),        # grams: abc bcx cxy -> shares abc
            (3, "p q r s t"),        # all novel
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = ngram_novelty(df, "doc_id", "text", n=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    release(out)
    assert rows[1]["n_grams"] == 3 and rows[1]["n_novel"] == 2
    assert rows[2]["n_grams"] == 3 and rows[2]["n_novel"] == 2
    assert rows[3]["novelty"] == 1.0
    assert rows[4]["n_grams"] == 0 and rows[4]["novelty"] is None
    # duplicate grams WITHIN one doc don't make it non-novel
    df2 = spark.createDataFrame(
        [(1, "x y z x y z"), (2, "totally different words here")],
        "doc_id long, text string",
    )
    out2 = ngram_novelty(df2, "doc_id", "text", n=3)
    r1 = {r["doc_id"]: r for r in out2.collect()}[1]
    release(out2)
    assert r1["novelty"] == 1.0


def test_hashed_term_vectors_counts_and_zero_doc(spark):
    from woodwork_spark.operators.text import hashed_term_vectors

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, None), (3, "  ")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in hashed_term_vectors(df, "doc_id", "text", dim=16).collect()
    }
    v1 = rows[1]["vector"]
    assert rows[1]["n_tokens"] == 3 and sum(v1) == 3.0
    assert sorted(x for x in v1 if x)[-1] == 2.0  # 'apple' bucket holds 2
    assert rows[2]["n_tokens"] == 0 and sum(rows[2]["vector"]) == 0.0
    assert rows[3]["n_tokens"] == 0 and len(rows[3]["vector"]) == 16
    # deterministic across partitionings
    again = {
        r["doc_id"]: r["vector"]
        for r in hashed_term_vectors(
            df.repartition(5), "doc_id", "text", dim=16,
        ).collect()
    }
    assert again[1] == v1


def test_hashed_term_vectors_l2_normalize(spark):
    import math

    from woodwork_spark.operators.text import hashed_term_vectors

    df = spark.createDataFrame([(1, "x y z x")], "doc_id long, text string")
    v = hashed_term_vectors(
        df, "doc_id", "text", dim=32, l2_normalize=True,
    ).first()["vector"]
    assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-9)


def test_fill_gaps_methods(spark):
    from woodwork_spark.operators.timeseries import fill_gaps

    df = spark.createDataFrame(
        [
            ("a", 0, None), ("a", 1, 10.0), ("a", 2, None), ("a", 3, None),
            ("a", 4, 40.0), ("a", 5, None),
            ("b", 0, None), ("b", 1, None),
        ],
        "grp string, t long, v double",
    )
    def got(method):
        return {
            (r["grp"], r["t"]): r["filled"]
            for r in fill_gaps(
                df, "t", "v", ["grp"], method=method, out_col="filled",
            ).collect()
        }

    f = got("ffill")
    assert f[("a", 0)] is None and f[("a", 2)] == 10.0 and f[("a", 5)] == 40.0
    b = got("bfill")
    assert b[("a", 0)] == 10.0 and b[("a", 2)] == 40.0 and b[("a", 5)] is None
    l = got("linear")
    assert l[("a", 2)] == 20.0 and l[("a", 3)] == 30.0  # between 10 and 40
    assert l[("a", 0)] == 10.0 and l[("a", 5)] == 40.0  # edge anchors
    assert l[("b", 0)] is None  # all-null group stays null


def test_decayed_agg_halving(spark):
    import datetime

    from woodwork_spark.operators.timeseries import decayed_agg

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", t0, 8.0),
        ("u1", t0 + datetime.timedelta(seconds=3600), 8.0),
        ("u1", t0 + datetime.timedelta(seconds=7200), 8.0),
        ("u2", t0 + datetime.timedelta(seconds=7200), 4.0),
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, v double")
    out = {
        r["u"]: r
        for r in decayed_agg(df, "ts", "u", "v", 3600.0).collect()
    }
    # ref = max ts = t0+7200; weights for u1: 0.25, 0.5, 1.0
    assert abs(out["u1"]["decayed_sum"] - 8.0 * 1.75) < 1e-9
    assert abs(out["u1"]["decayed_count"] - 1.75) < 1e-9
    assert out["u2"]["decayed_sum"] == 4.0
    assert out["u1"]["n"] == 3


def test_golden_records_field_level_survivorship(spark):
    from woodwork_spark.operators.dedup import golden_records

    df = spark.createDataFrame(
        [
            # cluster 1: best row (prio 9) misses phone -> phone comes
            # from the prio-5 member; name from the best row
            (1, 101, 9.0, "Acme Corp", None),
            (1, 102, 5.0, "ACME", "555-1234"),
            (1, 103, 1.0, "acme corp.", "555-9999"),
            # cluster 2: singleton with a hole stays a hole
            (2, 201, 3.0, None, "111"),
        ],
        "cluster long, rid long, prio double, name string, phone string",
    )
    rows = {
        r["cluster"]: r
        for r in golden_records(
            df, "cluster", ["name", "phone"], "prio", tiebreak_col="rid",
        ).collect()
    }
    assert rows[1]["name"] == "Acme Corp"
    assert rows[1]["phone"] == "555-1234"
    assert rows[1]["n_members"] == 3
    assert rows[2]["name"] is None and rows[2]["phone"] == "111"
    # deterministic tie-break: equal priorities pick the larger rid
    tie = spark.createDataFrame(
        [(1, 7, 1.0, "a"), (1, 8, 1.0, "b")],
        "cluster long, rid long, prio double, name string",
    )
    r = golden_records(tie, "cluster", ["name"], "prio", "rid").first()
    assert r["name"] == "b"


def test_mad_bounds_string_group_and_null_group(spark):
    from woodwork_spark.operators.features import mad_bounds

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), (None, 5.0), (None, 500.0),
         (None, 5.0)],
        "grp string, x double",
    )
    rows = {
        r["grp"]: r
        for r in mad_bounds(df, "x", group_cols="grp").collect()
    }
    # bare-string group_cols works, and the NULL key is a real group
    assert rows["a"]["median"] == 2.0 and rows["a"]["n"] == 3
    assert rows[None]["n"] == 3 and rows[None]["median"] == 5.0
    assert rows[None]["n_high"] == 1  # 500 flagged within the NULL group


def test_fill_gaps_string_group_cols(spark):
    from woodwork_spark.operators.timeseries import fill_gaps

    df = spark.createDataFrame(
        [("g", 0, 1.0), ("g", 1, None)], "grp string, t long, v double",
    )
    got = {
        r["t"]: r["v"]
        for r in fill_gaps(df, "t", "v", "grp", method="ffill").collect()
    }
    assert got[1] == 1.0


def test_kfold_assign_stable_and_balanced(spark):
    from woodwork_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    out = {r["k"]: r["fold"] for r in sampling.kfold_assign(df, "k", 5).collect()}
    assert set(out.values()) == {0, 1, 2, 3, 4}
    sizes = [list(out.values()).count(f) for f in range(5)]
    assert min(sizes) > 50  # roughly balanced
    # stable across partitionings
    again = {
        r["k"]: r["fold"]
        for r in sampling.kfold_assign(df.repartition(7), "k", 5).collect()
    }
    assert again == out
    with pytest.raises(ValueError):
        sampling.kfold_assign(df, "k", 1)


def test_sorted_neighborhood_pairs_window(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.dedup import sorted_neighborhood_pairs

    # ids deliberately scrambled vs sort key to prove ordering is by key
    rows = [(100 - i, f"key{i:03d}") for i in range(20)]
    df = spark.createDataFrame(rows, "rid long, skey string")
    out = sorted_neighborhood_pairs(df, "rid", "skey", window=2)
    got = {(r["id_a"], r["id_b"]): r["rank_distance"] for r in out.collect()}
    release(out)
    # expected: every pair within 2 positions of the key order
    expect = {}
    ordered = [100 - i for i in range(20)]  # rid in skey order
    for i in range(20):
        for d in (1, 2):
            if i + d < 20:
                a, b = sorted((ordered[i], ordered[i + d]))
                expect[(a, b)] = d
    assert got == expect


def test_blocking_quality_report(spark):
    from woodwork_spark.operators.dedup import blocking_quality_report

    cand = spark.createDataFrame(
        [(1, 10), (2, 20), (30, 3), (4, 40)], "id_a long, id_b long",
    )
    truth = spark.createDataFrame(
        [(10, 1), (3, 30), (5, 50)], "id_a long, id_b long",
    )
    r = blocking_quality_report(cand, truth, 100, 100).first()
    assert r["n_candidates"] == 4 and r["n_truth"] == 3
    assert r["n_hit"] == 2  # (1,10) and (3,30) despite flipped order
    assert r["pair_completeness"] == pytest.approx(2 / 3)
    assert r["pair_quality"] == pytest.approx(0.5)
    assert r["reduction_ratio"] == pytest.approx(1 - 4 / 10000)


def test_triangle_stats_known_graphs(spark):
    from woodwork_spark.operators.graph import triangle_stats

    # K4: 4 triangles, 12 wedges, transitivity 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "src long, dst long")
    r = triangle_stats(df).first()
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["transitivity"] == pytest.approx(1.0)

    # path graph a-b-c: one wedge, no triangle
    p = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r = triangle_stats(p).first()
    assert r["n_triangles"] == 0 and r["n_wedges"] == 1
    assert r["transitivity"] == 0.0

    # duplicate + reversed + self edges collapse to the simple graph
    noisy = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (1, 2)],
        "src long, dst long",
    )
    r = triangle_stats(noisy).first()
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)


def test_triangle_stats_matches_bruteforce_random(spark):
    import itertools
    import random

    from woodwork_spark.operators.graph import triangle_stats

    rng = random.Random(7)
    nodes = list(range(12))
    edges = [
        (a, b) for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.35
    ]
    adj = set(edges)
    tri = sum(
        1 for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_stats(df).first()
    assert r["n_triangles"] == tri and r["n_edges"] == len(edges)


def test_decompose_series_recovers_planted_components(spark):
    import math

    from woodwork_spark.operators.timeseries import decompose_series

    # value = linear trend + exact period-4 seasonal pattern
    season = [3.0, -1.0, -2.0, 0.0]  # sums to zero
    rows = [(t, 10.0 + 0.5 * t + season[t % 4]) for t in range(40)]
    df = spark.createDataFrame(rows, "b long, v double")
    out = {r["b"]: r for r in decompose_series(df, "b", "v", 4).collect()}
    # interior buckets: the 2x4-MA is EXACT on linear + period-4
    # seasonal, so all three components recover to float precision
    for t in range(10, 30):
        assert abs(out[t]["trend"] - (10.0 + 0.5 * t)) < 1e-9
        assert abs(out[t]["seasonal"] - season[t % 4]) < 1e-9
        assert abs(out[t]["residual"]) < 1e-9
    # edges have no full window -> NULL trend and residual
    assert out[0]["trend"] is None and out[0]["residual"] is None
    assert out[39]["trend"] is None
    # seasonal sums to ~0 over one cycle
    s = sum(out[t]["seasonal"] for t in range(12, 16))
    assert abs(s) < 1e-6


def test_decompose_series_grouped(spark):
    from woodwork_spark.operators.timeseries import decompose_series

    rows = [("g1", t, float(t)) for t in range(12)] + [
        ("g2", t, 5.0) for t in range(12)
    ]
    df = spark.createDataFrame(rows, "g string, b long, v double")
    out = decompose_series(df, "b", "v", 3, group_cols="g").collect()
    g2 = [r for r in out if r["g"] == "g2" and r["trend"] is not None]
    for r in g2:
        assert r["trend"] == 5.0 and abs(r["seasonal"]) < 1e-9
        assert abs(r["residual"]) < 1e-9


def test_node_clustering_k4_plus_pendant(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.graph import node_clustering

    # K4 on {0..3} plus pendant node 9 attached to 0
    edges = [(a, b) for a in range(4) for b in range(4) if a < b] + [(0, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = node_clustering(df)
    rows = {r["node"]: r for r in out.collect()}
    release(out)
    for n in (1, 2, 3):
        assert rows[n]["triangles"] == 3 and rows[n]["local_cc"] == 1.0
    # node 0 has degree 4, still 3 triangles -> cc = 6/12
    assert rows[0]["degree"] == 4 and rows[0]["triangles"] == 3
    assert rows[0]["local_cc"] == pytest.approx(0.5)
    assert rows[9]["triangles"] == 0 and rows[9]["local_cc"] == 0.0


def test_nelson_aalen_manual(spark):
    from woodwork_spark.operators.timeseries import nelson_aalen

    # durations: events at 2 (x2), 5; censored at 3, 5
    rows = [(2.0, True), (2.0, True), (3.0, False), (5.0, True), (5.0, False)]
    df = spark.createDataFrame(rows, "dur double, ev boolean")
    out = {r["duration"]: r for r in nelson_aalen(df, "dur", "ev").collect()}
    # t=2: r=5, d=2 -> H=0.4 ; t=5: r=2, d=1 -> H=0.4+0.5=0.9
    assert out[2.0]["n_at_risk"] == 5 and out[2.0]["n_events"] == 2
    assert out[2.0]["cum_hazard"] == pytest.approx(0.4)
    assert out[5.0]["n_at_risk"] == 2
    assert out[5.0]["cum_hazard"] == pytest.approx(0.9)
    assert 3.0 not in out  # censor-only durations emit no hazard row


def test_trend_test_robust_slope_and_mk(spark):
    from woodwork_spark.operators.timeseries import trend_test

    # clean rising line y = 2x with ONE wild outlier; least squares
    # would bend, Theil-Sen must stay at 2
    rows = [("g", float(x), 2.0 * x) for x in range(10)]
    rows[5] = ("g", 5.0, 500.0)
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = trend_test(df, "x", "y", "g").first()
    assert r["n_points"] == 10 and r["n_pairs"] == 45
    assert abs(r["sen_slope"] - 2.0) < 1e-9
    # monotone-up except around the outlier: S strongly positive
    assert r["s_stat"] > 30 and r["z_stat"] > 3

    # flat series: slope 0, S 0, z 0
    flat = spark.createDataFrame(
        [("f", float(x), 7.0) for x in range(8)], "g string, x double, y double",
    )
    r = trend_test(flat, "x", "y", "g").first()
    assert r["sen_slope"] == 0.0 and r["s_stat"] == 0 and r["z_stat"] == 0.0


def test_holt_fit_exact_on_linear_series(spark):
    from woodwork_spark.operators.timeseries import holt_fit

    # perfectly linear series: Holt locks on exactly — level = last y,
    # trend = slope, one-step errors all zero
    rows = [("g", float(t), 3.0 + 2.0 * t) for t in range(12)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = holt_fit(df, "x", "y", "g", alpha=0.5, beta=0.3).first()
    assert r["n_points"] == 12
    assert abs(r["level"] - (3.0 + 2.0 * 11)) < 1e-9
    assert abs(r["trend"] - 2.0) < 1e-9
    assert r["mae"] == pytest.approx(0.0)


def test_holt_fit_matches_manual_recurrence(spark):
    from woodwork_spark.operators.timeseries import holt_fit

    ys = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0]
    a, b = 0.4, 0.2
    level, trend = ys[0], ys[1] - ys[0]
    errs = []
    for t in range(1, len(ys)):
        if t >= 2:
            errs.append(abs(ys[t] - (level + trend)))
        prev = level
        level = a * ys[t] + (1 - a) * (level + trend)
        trend = b * (level - prev) + (1 - b) * trend
    df = spark.createDataFrame(
        [("g", float(t), y) for t, y in enumerate(ys)],
        "g string, x double, y double",
    )
    r = holt_fit(df, "x", "y", "g", alpha=a, beta=b).first()
    assert abs(r["level"] - level) < 1e-12
    assert abs(r["trend"] - trend) < 1e-12
    assert abs(r["mae"] - sum(errs) / len(errs)) < 1e-12
    # groups with one point are dropped
    one = spark.createDataFrame([("h", 0.0, 1.0)], "g string, x double, y double")
    assert holt_fit(one, "x", "y", "g").count() == 0


def test_forecast_baselines(spark):
    from woodwork_spark.operators.timeseries import forecast_baselines

    # period-2 alternating series: naive always off by 4, snaive exact
    rows = [("g", float(t), 10.0 + (4.0 if t % 2 else 0.0)) for t in range(8)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = forecast_baselines(df, "x", "y", "g", period=2).first()
    assert r["mae_naive"] == pytest.approx(4.0)
    assert r["mae_snaive"] == pytest.approx(0.0)
    # no period -> NULL snaive
    r2 = forecast_baselines(df, "x", "y", "g").first()
    assert r2["mae_snaive"] is None and r2["n_points"] == 8


def test_acf_white_noise_and_perfect_alternation(spark):
    from woodwork_spark.operators.timeseries import acf

    # Perfectly alternating series: acf(1) = -1, acf(2) = +1 (up to the
    # biased-estimator shrinkage: r_k = (n-k)-term sum / n-term denom).
    rows = [("g", t, 1.0 if t % 2 == 0 else -1.0) for t in range(20)]
    df = spark.createDataFrame(rows, "g string, t int, y double")
    out = {r["lag"]: r for r in acf(df, "t", "y", "g", max_lag=2).collect()}
    # mean = 0, den = 20, num(1) = -19, num(2) = +18
    assert abs(out[1]["acf"] - (-19 / 20)) < 1e-12
    assert abs(out[2]["acf"] - (18 / 20)) < 1e-12
    assert out[1]["n_used"] == 19 and out[2]["n_used"] == 18
    # constant series: zero variance -> NULL acf
    const = spark.createDataFrame(
        [("c", t, 5.0) for t in range(5)], "g string, t int, y double",
    )
    vals = acf(const, "t", "y", "g", max_lag=1).collect()
    assert vals[0]["acf"] is None


def test_acf_matches_numpy(spark):
    import numpy as np

    from woodwork_spark.operators.timeseries import acf

    rng = np.random.default_rng(7)
    y = np.cumsum(rng.normal(size=64))  # random walk: strong acf
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(y)], "t int, y double",
    )
    got = {r["lag"]: r["acf"] for r in acf(df, "t", "y", max_lag=3).collect()}
    dev = y - y.mean()
    den = float((dev * dev).sum())
    for k in (1, 2, 3):
        exp = float((dev[k:] * dev[:-k]).sum()) / den
        assert abs(got[k] - exp) < 1e-10


def test_mann_whitney_matches_scipy_formula(spark):
    from woodwork_spark.operators.stats_tests import mann_whitney_u

    # Small sample with ties; compare against the hand-computed
    # asymptotic statistic (no continuity correction).
    a = [1.0, 2.0, 2.0, 5.0, 7.0]
    b = [2.0, 3.0, 6.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    # ranks: 1.0->1; 2.0 (x3) -> avg(2,3,4)=3; 3.0->5; 5.0->6;
    # 6.0 (x2) -> avg(7,8)=7.5; 7.0->9
    rank_sum_a = 1 + 3 + 3 + 6 + 9
    assert r["n_a"] == 5 and r["n_b"] == 4
    assert abs(r["rank_sum_a"] - rank_sum_a) < 1e-12
    u_a = rank_sum_a - 5 * 6 / 2
    assert abs(r["u_a"] - u_a) < 1e-12
    assert abs(r["u_b"] - (5 * 4 - u_a)) < 1e-12
    tie_term = (3**3 - 3) + (2**3 - 2)
    assert r["tie_term"] == tie_term
    import math

    sigma = math.sqrt(5 * 4 / 12 * ((9 + 1) - tie_term / (9 * 8)))
    assert abs(r["z_stat"] - (u_a - 10) / sigma) < 1e-12


def test_anova_matches_scipy(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import anova_oneway

    rng = np.random.default_rng(11)
    groups = {
        "a": rng.integers(0, 100, 40),
        "b": rng.integers(10, 110, 35),
        "c": rng.integers(0, 90, 50),
    }
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    r = anova_oneway(df, "v", "g").collect()[0]
    allv = np.concatenate(list(groups.values())).astype(float)
    ssb = sum(
        len(v) * (v.mean() - allv.mean()) ** 2 for v in groups.values()
    )
    ssw = sum(((v - v.mean()) ** 2).sum() for v in groups.values())
    f = (ssb / 2) / (ssw / (len(allv) - 3))
    assert r["k_groups"] == 3 and r["n_total"] == len(allv)
    assert abs(r["ss_between"] - ssb) < 1e-6
    assert abs(r["ss_within"] - ssw) < 1e-6
    assert abs(r["f_stat"] - f) < 1e-9
    # degenerate: single group -> NULL F
    one = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    assert anova_oneway(one, "v", "g").collect()[0]["f_stat"] is None


def test_gopher_rules_discriminate(spark):
    from woodwork_spark.operators.cleaning import (
        gopher_report,
        gopher_rules_exprs,
    )

    good = "The quick brown fox jumps over the lazy dog and runs on. " * 5
    bullets = "\n".join("- item " + str(i) for i in range(10))
    symbols = "### " * 30 + "wow"
    short = "tiny doc"
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, symbols), (4, short), (5, None)],
        "id int, text string",
    )
    e = gopher_rules_exprs("text", min_words=10, max_words=500)
    out = {r["id"]: r for r in df.select("id", *[
        v.alias(k) for k, v in e.items()
    ]).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["r_bullet_lines"] is False  # 100% bullet lines
    assert out[3]["r_symbol_ratio"] is False
    assert out[3]["r_alpha_words"] is False  # '###' tokens lack alpha
    assert out[4]["r_word_count"] is False
    assert all(v is False for k, v in out[5].asDict().items() if k != "id")
    rep = gopher_report(df, "text", min_words=10, max_words=500).collect()[0]
    assert rep["n_docs"] == 5
    assert abs(rep["gopher_pass_rate"] - 1 / 5) < 1e-12


def test_adamic_adar_manual_graph(spark):
    import math

    from woodwork_spark.operators.graph import adamic_adar

    # users u1,u2 share items x (deg 2) and y (deg 3); u2,u3 share y.
    edges = [("u1", "x"), ("u2", "x"), ("u1", "y"), ("u2", "y"),
             ("u3", "y"), ("u3", "z")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {(r["node_a"], r["node_b"]): r
           for r in adamic_adar(df, "src", "dst").collect()}
    aa12 = out[("u1", "u2")]
    assert aa12["common"] == 2
    assert abs(aa12["aa_score"] - (1 / math.log(2) + 1 / math.log(3))) < 1e-12
    # jaccard: |{x,y} & {x,y}| / |{x,y} U {x,y}| = 2/2... degrees 2,2 -> 2/(2+2-2)
    assert abs(aa12["jaccard"] - 1.0) < 1e-12
    assert out[("u1", "u3")]["common"] == 1
    # hub cap removes y (deg 3) -> u1-u3 pair disappears
    capped = {(r["node_a"], r["node_b"]): r for r in adamic_adar(
        df, "src", "dst", max_neighbor_degree=2).collect()}
    assert ("u1", "u3") not in capped
    assert capped[("u1", "u2")]["common"] == 1
    # capped-subgraph consistency: degrees exclude the dropped hub,
    # so the pair's jaccard is 1/(1+1-1) = 1, not 1/3
    assert abs(capped[("u1", "u2")]["jaccard"] - 1.0) < 1e-12


def test_item_similarity_manual(spark):
    from woodwork_spark.operators.basket import item_similarity

    baskets = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
               (3, "b"), (4, "c"), (1, "a")]  # dup (1,a) counts once
    df = spark.createDataFrame(baskets, "b int, i string")
    out = {(r["item_a"], r["item_b"]): r for r in item_similarity(
        df, "b", "i", min_cooc=1).collect()}
    ab = out[("a", "b")]
    assert ab["cooc"] == 3
    assert abs(ab["cos_sim"] - 3 / (3 * 3) ** 0.5) < 1e-12
    assert out[("b", "c")]["cooc"] == 1
    top1 = item_similarity(df, "b", "i", min_cooc=1, top_k=1)
    per_a = {r["item_a"]: r["item_b"] for r in top1.collect()}
    assert per_a["a"] == "b"


def test_attribution_window_and_direct(spark):
    import datetime as dt

    from woodwork_spark.operators.funnel import attribute_conversions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # u1: click then purchase 10s later -> channel click
        (1, 1, t0, "click", None),
        (2, 1, t0 + dt.timedelta(seconds=10), "purchase", 5.0),
        # u2: view 10 days before purchase -> outside 7d window -> direct
        (3, 2, t0, "view", None),
        (4, 2, t0 + dt.timedelta(days=10), "purchase", 7.0),
        # u3: purchase with no history -> direct
        (5, 3, t0, "purchase", 1.0),
        # u1 again: second purchase attributes to the SAME click
        (6, 1, t0 + dt.timedelta(seconds=20), "purchase", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )
    out = attribute_conversions(
        df, "user_id", "ts", "event_type", "purchase",
        lookback_seconds=7 * 86400, order_cols="event_id",
    ).collect()
    by_event = {r["event_id"]: r for r in out}
    assert len(out) == 4
    assert by_event[2]["channel"] == "click"
    assert by_event[2]["seconds_since_touch"] == 10.0
    assert by_event[4]["channel"] == "direct"
    assert by_event[4]["seconds_since_touch"] is None
    assert by_event[5]["channel"] == "direct"
    assert by_event[6]["channel"] == "click"
    assert by_event[6]["seconds_since_touch"] == 20.0
    assert by_event[2]["value"] == 5.0  # payload preserved


def test_welch_ttest_matches_manual(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import welch_ttest

    rng = np.random.default_rng(3)
    a = rng.integers(0, 50, 30)
    b = rng.integers(5, 70, 45)
    rows = [("a", int(v)) for v in a] + [("b", int(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = welch_ttest(df, "v", "g", "a", "b").collect()[0]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / 30 + vb / 45
    t = (a.mean() - b.mean()) / se2**0.5
    dfw = se2**2 / (va**2 / (30**2 * 29) + vb**2 / (45**2 * 44))
    assert abs(r["mean_a"] - a.mean()) < 1e-9
    assert abs(r["var_b"] - vb) < 1e-9
    assert abs(r["t_stat"] - t) < 1e-9
    assert abs(r["df_welch"] - dfw) < 1e-6
    # degenerate group -> NULL t
    tiny = spark.createDataFrame([("a", 1), ("b", 2)], "g string, v long")
    assert welch_ttest(tiny, "v", "g", "a", "b").collect()[0]["t_stat"] is None


def test_median_ci_known_ranks(spark):
    from woodwork_spark.operators.stats_tests import median_ci

    # n = 25: lo = floor((25 - 1.96*5)/2) = 7, hi = ceil(1 + (25+9.8)/2)
    # = ceil(18.4) = 19, median rank = 13
    vals = list(range(1, 26))
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    r = median_ci(df, "v").collect()[0]
    assert r["n"] == 25
    assert r["median"] == 13
    assert r["ci_lo"] == 7
    assert r["ci_hi"] == 19
    # tiny group clamps to extremes
    small = spark.createDataFrame([(v,) for v in [3, 1, 2]], "v int")
    r = median_ci(small, "v").collect()[0]
    assert (r["ci_lo"], r["median"], r["ci_hi"]) == (1, 2, 3)


def test_kcore_known_graph_and_distributed_parity(spark, monkeypatch):
    from woodwork_spark import io
    from woodwork_spark.operators.graph import kcore

    # triangle a-b-c plus a pendant chain c-d-e: 2-core = the triangle
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    core = {r["node"]: r["core_degree"] for r in kcore(df, 2).collect()}
    assert core == {"a": 2, "b": 2, "c": 2}
    # k=3 empties this graph
    assert kcore(df, 3).count() == 0
    # distributed path (forced) must agree exactly
    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    dist = {r["node"]: r["core_degree"]
            for r in kcore(df, 2).collect()}
    assert dist == core
    assert kcore(df, 3).count() == 0


def test_kcore_nan_ids(spark, monkeypatch):
    """Float ids holding NaN take the distributed path under the default
    bound (a NaN never equals itself, so driver-side sets would count
    each NaN edge end as its own node) and give the forced distributed
    path's core: the 4-clique with its NaN node, without the pendant."""
    from woodwork_spark import io
    from woodwork_spark.operators.graph import kcore

    nan = float("nan")
    nodes = [1.0, 2.0, 3.0, nan]
    clique = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    df = spark.createDataFrame(
        clique + [(1.0, 5.0)], "src double, dst double",
    )

    def core():
        # NaN keys compare unequal, so name them for the comparison
        name = lambda x: "nan" if x != x else x  # noqa: E731
        return {
            name(r["node"]): r["core_degree"] for r in kcore(df, 3).collect()
        }

    default = core()
    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    assert default == core()
    assert default == {1.0: 3, 2.0: 3, 3.0: 3, "nan": 3}

def test_twonn_dimension_gaussian(spark):
    import numpy as np

    from woodwork_spark.operators.embedding import twonn_dimension

    rng = np.random.default_rng(5)
    pts = rng.normal(size=(400, 3))
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = twonn_dimension(df, anchor_stride=4).collect()[0]
    assert r["n_anchors"] == 100
    assert r["n_used"] == 100
    assert 2.0 < r["id_mle"] < 4.5  # true dimension 3
    # coincident anchors are excluded, not divided by zero
    dup_rows = rows + [(1000 + i, rows[i][1]) for i in range(10)]
    df2 = spark.createDataFrame(
        dup_rows, "vec_id long, embedding array<float>",
    )
    r2 = twonn_dimension(df2, anchor_stride=4).collect()[0]
    assert r2["n_used"] <= r2["n_anchors"]


def test_clustering_effectiveness_sorted_vs_constant(spark):
    from pyspark.sql import functions as F

    from woodwork_spark.operators.layout import (
        clustering_effectiveness,
        zone_map,
    )

    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("noise"),
        F.lit(1).alias("const"),
    )
    zm = zone_map(df, "id", ["id"], n_zones=10).collect()
    assert len(zm) == 10
    assert all(r["n_rows"] == 100 for r in zm)
    eff = clustering_effectiveness(df, "id", ["id", "noise"], n_zones=10)
    out = {r["probe_col"]: r for r in eff.collect()}
    # sort key: zero overlapping zone pairs, point probe touches 1/10
    assert out["id"]["overlap_ratio"] == 0.0
    assert abs(out["id"]["point_scan_frac"] - 0.1) < 1e-12
    # unclustered small-cardinality probe: every zone covers everything
    assert out["noise"]["overlap_ratio"] == 1.0
    assert abs(out["noise"]["point_scan_frac"] - 1.0) < 1e-12
    from woodwork_spark.lifecycle import release

    assert release(eff) > 0  # zone table cache freed after consumption


def test_theils_u_known_and_asymmetry(spark):
    import math

    from woodwork_spark.operators.stats_tests import theils_u

    # y fully determines x (x = y mod 2), but x does not determine y:
    # U(x|y) = 1, U(y|x) < 1
    rows = [(i % 2, i % 4) for i in range(64)]
    df = spark.createDataFrame(rows, "x int, y int")
    out = {(r["col_x"], r["col_y"]): r["u"]
           for r in theils_u(df, ["x", "y"]).collect()}
    assert abs(out[("x", "y")] - 1.0) < 1e-12
    # U(y|x): H(Y)=ln4, H(Y|X)=ln2 -> u = 1 - ln2/ln4 = 0.5
    assert abs(out[("y", "x")] - 0.5) < 1e-12
    # independent uniform -> u ~ 0
    rows = [(i % 2, (i // 2) % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "x int, y int")
    out = {(r["col_x"], r["col_y"]): r["u"]
           for r in theils_u(df, ["x", "y"]).collect()}
    assert abs(out[("x", "y")]) < 1e-9
    # constant column -> NULL u for U(const|*)
    rows = [(1, i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "x int, y int")
    out = {(r["col_x"], r["col_y"]): r["u"]
           for r in theils_u(df, ["x", "y"]).collect()}
    assert out[("x", "y")] is None


def test_k_anonymity_report(spark):
    from woodwork_spark.operators.quality_checks import k_anonymity_report

    rows = (
        [("a", 1, 10 + i) for i in range(5)]       # group of 5, 5 values
        + [("a", 2, 7), ("a", 2, 7)]               # group of 2, 1 value
        + [("b", 1, 1)]                            # group of 1
    )
    df = spark.createDataFrame(rows, "q1 string, q2 int, s int")
    r = k_anonymity_report(df, ["q1", "q2"], k=3, sensitive_col="s").collect()[0]
    assert r["n_rows"] == 8 and r["n_groups"] == 3
    assert r["min_group_size"] == 1
    assert r["n_groups_below_k"] == 2
    assert abs(r["frac_rows_below_k"] - 3 / 8) < 1e-12
    assert r["is_k_anonymous"] is False
    assert r["l_diversity"] == 1  # the uniform-sensitive group of 2
    ok = k_anonymity_report(df.where("q1 = 'a' and q2 = 1"), "q1", k=5)
    assert ok.collect()[0]["is_k_anonymous"] is True


def test_radius_join_matches_bruteforce(spark):
    import math
    import random

    from woodwork_spark.operators.geo import haversine_km, radius_join

    rng = random.Random(42)
    pts = [(i, rng.uniform(-65, 65), rng.uniform(-170, 170))
           for i in range(120)]
    # cluster some points tightly so matches exist
    pts += [(1000 + i, 48.0 + i * 0.01, 11.0 + i * 0.01) for i in range(20)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = radius_join(df, df, 200.0)
    got = {(r["id_l"], r["id_r"]) for r in out.collect()}

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[1], a[2], b[1], b[2]))
        h = (math.sin((la2 - la1) / 2) ** 2
             + math.cos(la1) * math.cos(la2)
             * math.sin((lo2 - lo1) / 2) ** 2)
        return 2 * 6371.0 * math.asin(min(1.0, math.sqrt(h)))

    expect = {(a[0], b[0]) for a in pts for b in pts
              if hav(a, b) <= 200.0}
    assert got == expect  # blocking is COMPLETE vs brute force
    assert len(got) > len(pts)  # self-pairs + clustered matches


def test_build_scd2_history(spark):
    import datetime as dt

    from woodwork_spark.operators.relational import build_scd2_history

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        (1, ts(0), "bronze", 1), (1, ts(1), "bronze", 2),
        (1, ts(2), "gold", 3), (1, ts(3), "gold", 4),
        (1, ts(4), "bronze", 5),
        (2, ts(0), "silver", 6),
    ]
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, tier string, eid long",
    )
    out = build_scd2_history(df, "k", "ts", "tier", order_cols="eid")
    u1 = sorted(
        [r for r in out.collect() if r["k"] == 1],
        key=lambda r: r["version"],
    )
    assert [(r["tier"], r["version"]) for r in u1] == [
        ("bronze", 1), ("gold", 2), ("bronze", 3),
    ]
    assert u1[0]["valid_from"] == ts(0) and u1[0]["valid_to"] == ts(2)
    assert u1[1]["valid_to"] == ts(4)
    assert u1[2]["valid_to"] is None and u1[2]["is_current"] is True
    u2 = [r for r in out.collect() if r["k"] == 2]
    assert len(u2) == 1 and u2[0]["is_current"] is True


def test_radius_join_complete_at_high_latitude(spark):
    """Regression: the naive radius/111/cos(L) lon width under-covers
    near the latitude bound (chord-to-arc growth) — pairs at lat 80
    straddling a cell boundary at 15.57 deg lon span must match."""
    import math

    from woodwork_spark.operators.geo import radius_join

    pts = []
    # pairs near lat 80 with lon spans just inside the 300 km radius
    for i in range(30):
        lon0 = -170 + i * 11.0
        pts.append((2 * i, 80.0, lon0))
        pts.append((2 * i + 1, 80.0, lon0 + 15.56))
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = radius_join(df, df, 300.0, max_abs_lat=80.0)
    got = {(r["id_l"], r["id_r"]) for r in out.collect()}

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (a[1], a[2], b[1], b[2]))
        h = (math.sin((la2 - la1) / 2) ** 2
             + math.cos(la1) * math.cos(la2)
             * math.sin((lo2 - lo1) / 2) ** 2)
        return 2 * 6371.0 * math.asin(min(1.0, math.sqrt(h)))

    expect = {(a[0], b[0]) for a in pts for b in pts if hav(a, b) <= 300.0}
    assert got == expect
    assert any(a != b for a, b in got)  # the tight pairs actually match


def test_kcore_schema_matches_input_dtype(spark, monkeypatch):
    from woodwork_spark import io
    from woodwork_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src int, dst int",
    )
    small = kcore(edges, 2)
    monkeypatch.setattr(io, "LOCAL_MAX_CELLS", 0)
    dist = kcore(edges, 2)
    assert small.schema["node"].dataType == dist.schema["node"].dataType
    assert {r["node"] for r in small.collect()} == {1, 2, 3}


def test_item_similarity_rejects_bad_top_k(spark):
    import pytest as _pytest

    from woodwork_spark.operators.basket import item_similarity

    df = spark.createDataFrame([(1, "a")], "b int, i string")
    with _pytest.raises(ValueError):
        item_similarity(df, "b", "i", top_k=0)


def test_weighted_quantile_manual(spark):
    from woodwork_spark.operators.features import weighted_quantile

    # values 1..4 with weights 1,1,6,2 (total 10):
    # q=0.5 -> first v with cumw >= 5 -> v=3 (cum 8); q=0.8 -> 3;
    # q=0.9 -> 4 (cum 10)
    rows = [(1.0, 1), (2.0, 1), (3.0, 4), (3.0, 2), (4.0, 2)]
    df = spark.createDataFrame(rows, "v double, w int")
    out = {r["q"]: r for r in weighted_quantile(
        df, "v", "w", qs=(0.5, 0.8, 0.9)).collect()}
    assert out[0.5]["value"] == 3.0
    assert out[0.8]["value"] == 3.0
    assert out[0.9]["value"] == 4.0
    assert out[0.5]["total_weight"] == 10.0
    # unweighted equivalence: weight 1 == plain lower median
    rows = [(float(v), 1) for v in [5, 1, 3, 2, 4]]
    df = spark.createDataFrame(rows, "v double, w int")
    r = weighted_quantile(df, "v", "w", qs=0.5).collect()[0]
    assert r["value"] == 3.0
    # negative/zero weights excluded
    rows = [(1.0, -5), (2.0, 0), (3.0, 1)]
    df = spark.createDataFrame(rows, "v double, w int")
    r = weighted_quantile(df, "v", "w", qs=0.5).collect()[0]
    assert r["value"] == 3.0 and r["total_weight"] == 1.0


def test_ccf_detects_known_lead(spark):
    import numpy as np

    from woodwork_spark.operators.timeseries import ccf

    # y leads x by 2: x_t = y_{t-2} + tiny noise-free construction
    rng = np.random.default_rng(9)
    y = rng.normal(size=80)
    x = np.roll(y, 2)  # x_t = y_{t-2}
    rows = [(int(t), float(x[t]), float(y[t])) for t in range(2, 80)]
    df = spark.createDataFrame(rows, "t int, x double, y double")
    out = {r["lag"]: r["ccf"] for r in ccf(
        df, "x", "y", "t", max_lag=3).collect()}
    assert out[2] > 0.95          # exact match at lag +2
    assert abs(out[0]) < 0.5      # no contemporaneous correlation
    assert len(out) == 7          # lags -3..3


def test_frequent_subsequences_gap_semantics(spark):
    import datetime as dt

    from woodwork_spark.operators.funnel import frequent_subsequences

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    # u1: a x b y c  (a>b, a>c, b>c present WITH gaps)
    # u2: a b c ; u3: c b a (no a>b)
    rows = (
        [(1, ts(i), e, i) for i, e in enumerate("axbyc")]
        + [(2, ts(i), e, 10 + i) for i, e in enumerate("abc")]
        + [(3, ts(i), e, 20 + i) for i, e in enumerate("cba")]
    )
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, e string, eid long",
    )
    out = {(r["pattern"], r["length"]): r["n_users"]
           for r in frequent_subsequences(
               df, "u", "ts", "e", min_users=2, order_cols="eid",
           ).collect()}
    assert out[("a>b", 2)] == 2       # gap-allowed for u1
    assert out[("a>c", 2)] == 2
    assert out[("a>b>c", 3)] == 2
    assert ("b>a", 2) not in out      # only u3 has it (support 1)
    # per-user set semantics: repeating a pattern doesn't inflate it
    rows = [(1, ts(i), "a", i) for i in range(4)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, e string, eid long")
    out = frequent_subsequences(df, "u", "ts", "e", min_users=1).collect()
    by = {(r["pattern"], r["length"]): r["n_users"] for r in out}
    assert by[("a>a", 2)] == 1


def test_run_length_report_exact(spark):
    from pyspark.sql import functions as F

    from woodwork_spark.operators.layout import run_length_report

    # sorted by id: col g = id // 100 -> 10 runs of 100; col r = id % 3
    # -> alternates every row (1000 runs); constant col -> 1 run
    df = spark.range(0, 1000).select(
        "id",
        (F.col("id") / 100).cast("long").alias("g"),
        (F.col("id") % 3).alias("r"),
        F.lit("k").alias("c"),
    )
    out = {r["probe_col"]: r for r in run_length_report(
        df, "id", ["g", "r", "c"]).collect()}
    assert out["g"]["n_runs"] == 10
    assert out["g"]["avg_run_len"] == 100.0
    assert out["r"]["n_runs"] == 1000
    assert out["c"]["n_runs"] == 1
    assert out["g"]["n_distinct"] == 10
    # NULL stretches form runs too (null-safe change detection)
    df = spark.range(0, 10).select(
        "id",
        F.when(F.col("id") < 5, F.lit(None)).otherwise(F.lit(1)).alias("v"),
    )
    out = run_length_report(df, "id", "v").collect()[0]
    assert out["n_runs"] == 2


def test_trimmed_stats_known(spark):
    from woodwork_spark.operators.features import trimmed_stats

    # 1..10 with an outlier 1000: 10%-90% trim drops the extremes
    vals = list(range(1, 11)) + [1000]
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    r = trimmed_stats(df, "v", lower=0.1, upper=0.9).collect()[0]
    assert r["n_total"] == 11
    # exact percentiles (interpolated): lo = 2.0, hi = 10.0
    assert r["n_kept"] == 9
    assert abs(r["trimmed_mean"] - sum(range(2, 11)) / 9) < 1e-9
    # winsorized: 1 -> lo, 1000 -> hi
    wexp = (r["lo"] + sum(range(2, 11)) + r["hi"]) / 11
    assert abs(r["winsorized_mean"] - wexp) < 1e-9


def test_neyman_allocation_and_sample(spark):
    from woodwork_spark.operators.sampling import (
        neyman_allocation,
        neyman_sample,
    )

    # stratum a: constant (sd 0); stratum b: spread -> b gets ~all
    rows = [("a", 10) for _ in range(50)] + [
        ("b", v) for v in range(0, 100, 2)
    ]
    df = spark.createDataFrame(rows, "s string, v int")
    plan = {r["stratum"]: r for r in neyman_allocation(
        df, "s", "v", 20).collect()}
    assert plan["a"]["alloc"] + plan["b"]["alloc"] == 20
    assert plan["b"]["alloc"] > plan["a"]["alloc"]  # spread wins budget
    assert plan["a"]["stddev"] == 0.0
    # allocation never exceeds stratum size
    tiny = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 1)], "s string, v int",
    )
    p2 = {r["stratum"]: r["alloc"] for r in neyman_allocation(
        tiny, "s", "v", 10).collect()}
    assert p2["a"] <= 2 and p2["b"] <= 1
    # sample is deterministic and respects the allocation
    df2 = df.withColumn(
        "id", F.monotonically_increasing_id(),
    )
    s1 = sorted(r["id"] for r in neyman_sample(
        df2, "s", "v", 20, "id").collect())
    s2 = sorted(r["id"] for r in neyman_sample(
        df2, "s", "v", 20, "id").collect())
    assert s1 == s2 and len(s1) == 20


def test_calendar_features_iso_conventions(spark):
    import datetime as dt

    from woodwork_spark.operators.timeseries import calendar_features

    rows = [
        (1, dt.datetime(2024, 1, 1, 5)),    # Monday, month start
        (2, dt.datetime(2024, 2, 29, 23)),  # Thursday, leap month end
        (3, dt.datetime(2024, 3, 31, 0)),   # Sunday, month end
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    out = {r["id"]: r for r in calendar_features(df, "ts").collect()}
    assert out[1]["dow_iso"] == 1 and out[1]["is_weekend"] == 0
    assert out[1]["is_month_start"] == 1 and out[1]["hour"] == 5
    assert out[1]["week_iso"] == 1
    assert out[2]["dow_iso"] == 4 and out[2]["is_month_end"] == 1
    assert out[3]["dow_iso"] == 7 and out[3]["is_weekend"] == 1
    assert out[3]["is_month_end"] == 1
    assert out[4]["dow_iso"] is None and out[4]["is_weekend"] is None


def test_bootstrap_mean_ci_coverage_and_determinism(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import bootstrap_mean_ci

    rng = np.random.default_rng(21)
    vals = rng.integers(50, 150, 400)
    df = spark.createDataFrame(
        [(int(i), int(v)) for i, v in enumerate(vals)], "id long, v long",
    )
    r1 = bootstrap_mean_ci(df, "v", "id", n_replicates=30).collect()[0]
    r2 = bootstrap_mean_ci(df, "v", "id", n_replicates=30).collect()[0]
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])  # no RNG
    assert r1["n_replicates"] == 30
    # the interval brackets the sample mean and has sane width
    # (~ +/- 2 se; se = sd/sqrt(n) ~ 1.45 here)
    assert r1["ci_lo"] < r1["mean"] < r1["ci_hi"]
    se = vals.std(ddof=1) / 20.0
    width = r1["ci_hi"] - r1["ci_lo"]
    assert 1.5 * se < width < 8 * se
    # a different salt gives a different (but still valid) draw
    r3 = bootstrap_mean_ci(
        df, "v", "id", n_replicates=30, salt="other",
    ).collect()[0]
    assert (r3["ci_lo"], r3["ci_hi"]) != (r1["ci_lo"], r1["ci_hi"])


def test_association_rules3_manual(spark):
    from woodwork_spark.operators.basket import association_rules3

    # baskets: {a,b,c} x3, {a,b} x1, {c} x1 -> rule {a,b}->c:
    # sup(abc)=3, sup(ab)=4, conf=0.75, P(c)=4/5, lift=0.75/0.8
    rows = []
    for bk in range(3):
        rows += [(bk, "a"), (bk, "b"), (bk, "c")]
    rows += [(3, "a"), (3, "b"), (4, "c")]
    df = spark.createDataFrame(rows, "b int, i string")
    out = association_rules3(df, "b", "i", min_basket_support=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["item_c"]) == ("a", "b", "c")
    assert r["triple_count"] == 3
    assert abs(r["confidence"] - 0.75) < 1e-12
    assert abs(r["lift"] - 0.75 / 0.8) < 1e-12


def test_proportion_ci_wilson(spark):
    from woodwork_spark.operators.stats_tests import proportion_ci

    # 8/10 successes: Wilson 95% interval ~ (0.490, 0.943)
    rows = [(True,)] * 8 + [(False,)] * 2 + [(None,)]
    df = spark.createDataFrame(rows, "s boolean")
    r = proportion_ci(df, "s").collect()[0]
    assert r["n"] == 10 and r["successes"] == 8  # NULL excluded
    assert abs(r["p_hat"] - 0.8) < 1e-12
    assert abs(r["ci_lo"] - 0.4901625) < 1e-3
    assert abs(r["ci_hi"] - 0.9433178) < 1e-3
    assert 0 <= r["ci_lo"] < r["ci_hi"] <= 1


def test_two_proportion_ztest_manual(spark):
    import math

    from woodwork_spark.operators.stats_tests import two_proportion_ztest

    rows = [("a", True)] * 30 + [("a", False)] * 70 + \
           [("b", True)] * 20 + [("b", False)] * 80
    df = spark.createDataFrame(rows, "g string, s boolean")
    r = two_proportion_ztest(df, "s", "g", "a", "b").collect()[0]
    pp = 50 / 200
    z = (0.3 - 0.2) / math.sqrt(pp * (1 - pp) * (1 / 100 + 1 / 100))
    assert abs(r["z_stat"] - z) < 1e-12
    assert abs(r["p_pool"] - pp) < 1e-12
    # degenerate: all successes -> NULL z
    alls = spark.createDataFrame(
        [("a", True), ("b", True)], "g string, s boolean",
    )
    assert two_proportion_ztest(
        alls, "s", "g", "a", "b").collect()[0]["z_stat"] is None


def test_kruskal_wallis_manual(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import kruskal_wallis

    rng = np.random.RandomState(7)
    vals, grps = [], []
    for g, (mu, n) in enumerate([(0.0, 40), (0.5, 35), (1.0, 30)]):
        v = np.round(rng.normal(mu, 1.0, n), 1)  # rounding forces ties
        vals += v.tolist()
        grps += [f"g{g}"] * n
    df = spark.createDataFrame(
        list(zip(grps, vals)) + [(None, 1.0), ("g0", None)],
        "g string, v double",
    )
    r = kruskal_wallis(df, "v", "g").collect()[0]
    # numpy brute force: tie-averaged ranks over the pooled sample
    a = np.array(vals)
    order = np.argsort(a, kind="mergesort")
    ranks = np.empty(len(a))
    sa = a[order]
    i = 0
    tie = 0.0
    while i < len(sa):
        j = i
        while j < len(sa) and sa[j] == sa[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        t = j - i
        tie += t**3 - t
        i = j
    n = len(a)
    rs = [ranks[np.array(grps[:n]) == f"g{k}"].sum() for k in range(3)]
    ns = [40, 35, 30]
    h = 12.0 / (n * (n + 1)) * sum(
        r_**2 / n_ for r_, n_ in zip(rs, ns)
    ) - 3 * (n + 1)
    hc = h / (1 - tie / (n**3 - n))
    assert r["k_groups"] == 3 and r["n_total"] == n
    assert abs(r["h_stat"] - h) < 1e-9
    assert abs(r["tie_term"] - tie) < 1e-9
    assert abs(r["h_corrected"] - hc) < 1e-9
    # all-tied degenerate: correction hits 0 -> null
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0)], "g string, v double",
    )
    assert kruskal_wallis(flat, "v", "g").collect()[0]["h_corrected"] is None


def test_levene_brown_forsythe_manual(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import levene_test

    rng = np.random.RandomState(3)
    va = rng.normal(0, 1.0, 50)
    vb = rng.normal(0, 3.0, 60)  # inflated variance -> significant F
    rows = [("a", float(x)) for x in va] + [("b", float(x)) for x in vb]
    df = spark.createDataFrame(rows, "g string, v double")
    r = levene_test(df, "v", "g").collect()[0]
    za = np.abs(va - np.median(va))
    zb = np.abs(vb - np.median(vb))
    z = np.concatenate([za, zb])
    k, n = 2, len(z)
    gm = z.mean()
    ssb = 50 * (za.mean() - gm) ** 2 + 60 * (zb.mean() - gm) ** 2
    ssw = ((za - za.mean()) ** 2).sum() + ((zb - zb.mean()) ** 2).sum()
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["k_groups"] == 2 and r["n_total"] == n
    assert abs(r["f_stat"] - f) < 1e-7
    assert abs(r["ss_between"] - ssb) < 1e-7
    assert abs(r["ss_within"] - ssw) < 1e-7
    assert f > 10  # the planted variance gap is detected
    with pytest.raises(ValueError):
        levene_test(df, "v", "g", center="mode")


def test_cliffs_delta_manual(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import cliffs_delta

    va = [1.0, 2.0, 2.0, 5.0]
    vb = [2.0, 3.0, 0.5]
    rows = [("a", v) for v in va] + [("b", v) for v in vb] + [("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = cliffs_delta(df, "v", "g", "a", "b").collect()[0]
    gt = sum(1 for x in va for y in vb if x > y)
    lt = sum(1 for x in va for y in vb if x < y)
    ties = sum(1 for x in va for y in vb if x == y)
    assert (r["gt_pairs"], r["lt_pairs"], r["tie_pairs"]) == (gt, lt, ties)
    assert abs(r["cliffs_delta"] - (gt - lt) / (len(va) * len(vb))) < 1e-12
    a, b = np.array(va), np.array(vb)
    pooled = (a.var(ddof=1) * 3 + b.var(ddof=1) * 2) / (4 + 3 - 2)
    d = (a.mean() - b.mean()) / np.sqrt(pooled)
    assert abs(r["cohens_d"] - d) < 1e-12


def test_ols_fit_recovers_planted_coefficients(spark):
    import numpy as np

    from woodwork_spark.operators.regression import ols_fit

    rng = np.random.RandomState(11)
    n = 500
    x1 = rng.uniform(0, 10, n)
    x2 = rng.uniform(-5, 5, n)
    y = 3.0 + 2.5 * x1 - 1.25 * x2 + rng.normal(0, 0.01, n)
    rows = [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    r = ols_fit(df, "y", ["x1", "x2"]).collect()[0]
    # numpy reference fit
    X = np.column_stack([np.ones(n), x1, x2])
    beta = np.linalg.lstsq(X, y, rcond=None)[0]
    assert r["n"] == n
    assert abs(r["intercept"] - beta[0]) < 1e-8
    assert abs(r["coef_x1"] - beta[1]) < 1e-9
    assert abs(r["coef_x2"] - beta[2]) < 1e-9
    assert r["r2"] > 0.999997
    # null rows excluded
    df2 = df.unionByName(spark.createDataFrame(
        [(None, 1.0, 1.0), (1.0, None, 1.0), (1.0, 1.0, None)],
        "x1 double, x2 double, y double",
    ))
    assert ols_fit(df2, "y", ["x1", "x2"]).collect()[0]["n"] == n


def test_ols_fit_ridge_and_collinearity(spark):
    import numpy as np

    from woodwork_spark.operators.regression import ols_fit

    rng = np.random.RandomState(5)
    x = rng.uniform(0, 1, 200)
    y = 1.0 + 2.0 * x
    rows = [(float(a), float(2 * a), float(b)) for a, b in zip(x, y)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    with pytest.raises(ValueError, match="singular"):
        ols_fit(df, "y", ["x1", "x2"])
    r = ols_fit(df, "y", ["x1", "x2"], ridge_lambda=1e-6).collect()[0]
    # ridge splits the collinear weight: effective slope x1 + 2*x2 = 2
    assert abs(r["coef_x1"] + 2 * r["coef_x2"] - 2.0) < 1e-3
    # ridge shrinks: large lambda -> slopes toward 0
    big = ols_fit(df, "y", "x1", ridge_lambda=1e9).collect()[0]
    assert abs(big["coef_x1"]) < 0.01
    with pytest.raises(ValueError, match="non-empty"):
        ols_fit(df, "y", [])


def test_bfs_hops_manual(spark):
    from woodwork_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5 plus a shortcut 1-4 and an unreachable island 8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (8, 9)],
        "src int, dst int",
    )
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds=[1], max_hops=10,
                          directed=False).collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}
    # directed: only forward edges
    got_d = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds=[2], max_hops=10).collect()
    }
    assert got_d == {2: 0, 3: 1, 4: 2, 5: 3}
    # max_hops bound + multi-seed minimum
    got_b = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds=[1, 5], max_hops=1,
                          directed=False).collect()
    }
    assert got_b == {1: 0, 5: 0, 2: 1, 4: 1}
    with pytest.raises(ValueError, match="seeds"):
        bfs_hops(edges)


def test_logrank_test_manual(spark):
    from woodwork_spark.operators.timeseries import logrank_test

    ta = [6, 6, 6, 7, 10, 13, 16, 22, 23, 6]
    ea = [1, 1, 1, 1, 1, 1, 1, 1, 1, 0]
    tb = [1, 1, 2, 2, 3, 4, 4, 5, 5, 8]
    eb = [1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
    rows = [("a", float(t), e) for t, e in zip(ta, ea)] + \
           [("b", float(t), e) for t, e in zip(tb, eb)] + \
           [("c", 1.0, 1), ("a", None, 1)]  # other group + null dropped
    df = spark.createDataFrame(rows, "g string, t double, e int")
    r = logrank_test(df, "t", "e", "g", "a", "b").collect()[0]

    # brute-force reference over pooled event times
    def at_risk(ts, t):
        return sum(1 for x in ts if x >= t)

    times = sorted({t for t, e in zip(ta + tb, ea + eb) if e == 1})
    O = V = 0.0
    for t in times:
        n1, n2 = at_risk(ta, t), at_risk(tb, t)
        n = n1 + n2
        d1 = sum(1 for x, e in zip(ta, ea) if x == t and e == 1)
        d2 = sum(1 for x, e in zip(tb, eb) if x == t and e == 1)
        d = d1 + d2
        O += d1 - d * n1 / n
        if n > 1:
            V += d * (n1 / n) * (n2 / n) * (n - d) / (n - 1)
    assert r["n_a"] == 10 and r["n_b"] == 10
    assert r["events_a"] == 9 and r["events_b"] == 10
    assert abs(r["o_minus_e"] - O) < 1e-9
    assert abs(r["variance"] - V) < 1e-9
    assert abs(r["chi2"] - O * O / V) < 1e-9
    # the planted separation is strongly significant
    assert r["chi2"] > 10


def test_roc_auc_manual(spark):
    from woodwork_spark.operators.evaluation import roc_auc

    # scores: pos {3, 2, 2}, neg {1, 2, 0}; pairs = 9:
    # gt: 3>{1,2,0}=3, 2>{1,0}=2 (x2) -> 7; ties: 2==2 (x2) -> 2
    rows = [(3.0, True), (2.0, True), (2.0, True),
            (1.0, False), (2.0, False), (0.0, False),
            (None, True), (5.0, None)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = roc_auc(df, "s", "y").collect()[0]
    assert r["n_pos"] == 3 and r["n_neg"] == 3
    exp_auc = (7 + 0.5 * 2) / 9
    assert abs(r["auc"] - exp_auc) < 1e-12
    assert abs(r["gini"] - (2 * exp_auc - 1)) < 1e-12
    # KS: CDFs over v in {0,1,2,3}: pos 0,0,2/3,1; neg 1/3,2/3,1,1
    assert abs(r["ks"] - 2 / 3) < 1e-12
    # single-class degenerate -> null metrics
    one = spark.createDataFrame([(1.0, True), (2.0, True)],
                                "s double, y boolean")
    r1 = roc_auc(one, "s", "y").collect()[0]
    assert r1["auc"] is None and r1["ks"] is None


def test_confusion_at_threshold_manual(spark):
    from woodwork_spark.operators.evaluation import confusion_at_threshold

    rows = [(0.9, True), (0.8, True), (0.7, False), (0.4, True),
            (0.3, False), (0.2, False), (None, True), (0.5, None)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    r = confusion_at_threshold(df, "s", "y", 0.5).collect()[0]
    assert (r["tp"], r["fp"], r["tn"], r["fn"]) == (2, 1, 2, 1)
    assert abs(r["precision"] - 2 / 3) < 1e-12
    assert abs(r["recall"] - 2 / 3) < 1e-12
    assert abs(r["f1"] - 2 / 3) < 1e-12
    assert abs(r["accuracy"] - 4 / 6) < 1e-12


def test_woe_iv_manual(spark):
    import math

    from woodwork_spark.operators.evaluation import woe_iv

    rows = (
        [("a", True)] * 30 + [("a", False)] * 10 +
        [("b", True)] * 10 + [("b", False)] * 30 +
        [("c", True)] * 5 +  # zero negatives -> null woe
        [(None, True)] * 2 + [(None, False)] * 3 +
        [("a", None)]  # null label excluded
    )
    df = spark.createDataFrame(rows, "lvl string, y boolean")
    got = {r["level"]: r for r in woe_iv(df, "lvl", "y").collect()}
    assert set(got) == {"a", "b", "c", None}
    tp, tn = 47, 43
    wa = math.log((30 / tp) / (10 / tn))
    assert abs(got["a"]["woe"] - wa) < 1e-12
    assert abs(got["a"]["iv_term"] - (30 / tp - 10 / tn) * wa) < 1e-12
    assert got["c"]["woe"] is None and got["c"]["iv_term"] is None
    assert got[None]["n"] == 5  # NULL level kept as its own level
    assert got["a"]["n"] == 40  # null-label row excluded


def test_lift_table_manual(spark):
    from woodwork_spark.operators.evaluation import lift_table

    # 20 rows, scores 20..1 (unique), top-5 scores all respond,
    # 1 responder in the bottom -> 4 buckets of 5
    rows = [(float(21 - i), i <= 5, i) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "s double, y boolean, id int")
    out = {r["bucket"]: r for r in lift_table(
        df, "s", "y", n_buckets=4, tiebreak="id").collect()}
    assert [out[b]["n"] for b in (1, 2, 3, 4)] == [5, 5, 5, 5]
    assert out[1]["responders"] == 5 and out[2]["responders"] == 0
    base = 5 / 20
    assert abs(out[1]["lift"] - 1.0 / base) < 1e-12
    assert abs(out[1]["cum_capture"] - 1.0) < 1e-12
    assert abs(out[4]["cum_lift"] - 1.0) < 1e-12  # full table = base rate
    assert abs(out[2]["cum_lift"] - (5 / 10) / base) < 1e-12


def test_best_split_gini_manual(spark):
    from woodwork_spark.operators.tree import best_split

    # feature separates perfectly at 2.5: {1,2}->False, {3,4}->True
    rows = [(1.0, False), (2.0, False), (3.0, True), (4.0, True),
            (None, True), (5.0, None)]
    df = spark.createDataFrame(rows, "x double, y boolean")
    r = best_split(df, "x", "y").collect()[0]
    assert r["threshold"] == 2.0  # left = x <= 2
    assert (r["n_left"], r["n_right"]) == (2, 2)
    assert (r["pos_left"], r["pos_right"]) == (0, 2)
    assert abs(r["parent_impurity"] - 0.5) < 1e-12
    assert abs(r["gain"] - 0.5) < 1e-12  # perfect split clears all gini


def test_best_split_brute_force_and_entropy(spark):
    import numpy as np

    from woodwork_spark.operators.tree import best_split

    rng = np.random.RandomState(17)
    x = np.round(rng.uniform(0, 10, 300), 1)
    y = (x + rng.normal(0, 2.0, 300)) > 5
    df = spark.createDataFrame(
        [(float(a), bool(b)) for a, b in zip(x, y)], "x double, y boolean",
    )

    def brute(crit):
        vals = np.unique(x)
        best = None
        for t in vals[:-1]:
            l, r = y[x <= t], y[x > t]

            def imp(s):
                if len(s) == 0:
                    return 0.0
                p = s.mean()
                if crit == "gini":
                    return 2 * p * (1 - p)
                h = 0.0
                for q in (p, 1 - p):
                    if q > 0:
                        h -= q * np.log(q)
                return h
            cost = (len(l) * imp(l) + len(r) * imp(r)) / len(y)
            parent = imp(y)
            if best is None or parent - cost > best[1] + 1e-15:
                best = (t, parent - cost)
        return best

    for crit in ("gini", "entropy"):
        bt, bg = brute(crit)
        r = best_split(df, "x", "y", criterion=crit).collect()[0]
        assert r["threshold"] == bt
        assert abs(r["gain"] - bg) < 1e-9
    with pytest.raises(ValueError, match="criterion"):
        best_split(df, "x", "y", criterion="mse")


def test_partial_correlation_manual(spark):
    import numpy as np

    from woodwork_spark.operators.stats_tests import partial_correlation

    rng = np.random.RandomState(23)
    n = 400
    z = rng.normal(0, 1, n)
    x = z + rng.normal(0, 0.5, n)   # x, y both driven by z
    y = 2 * z + rng.normal(0, 0.5, n)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        "x double, y double, z double",
    )
    r = partial_correlation(df, "x", "y", "z").collect()[0]
    rm = np.corrcoef(np.vstack([x, y, z]))
    exp = (rm[0, 1] - rm[0, 2] * rm[1, 2]) / np.sqrt(
        (1 - rm[0, 2] ** 2) * (1 - rm[1, 2] ** 2),
    )
    assert r["n"] == n
    assert abs(r["r_xy"] - rm[0, 1]) < 1e-9
    assert abs(r["partial_r"] - exp) < 1e-9
    # marginal is strong, partial collapses once z is controlled
    assert r["r_xy"] > 0.7 and abs(r["partial_r"]) < 0.2
    # collinear control -> null partial
    df2 = df.withColumn("z2", F.col("x"))
    assert partial_correlation(
        df2, "x", "y", ["z", "z2"]).collect()[0]["partial_r"] is None
    with pytest.raises(ValueError, match="control_cols"):
        partial_correlation(df, "x", "y", [])


def test_global_running_min_small_vs_distributed(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.rank import global_running_min

    import random

    rnd = random.Random(9)
    rows = [(i, rnd.uniform(0, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "id int, v double")
    small = global_running_min(df, [F.asc("id")], "v", "rm").collect()
    dist_df = global_running_min(
        df, [F.asc("id")], "v", "rm", small_threshold=0, num_partitions=7,
    )
    dist = dist_df.collect()
    exp = {}
    cur = float("inf")
    for i, v in rows:
        cur = min(cur, v)
        exp[i] = cur
    for got in (small, dist):
        assert len(got) == 500
        for r in got:
            assert abs(r["rm"] - exp[r["id"]]) < 1e-12
    release(dist_df)
    # exclusive: first row NULL
    ex = global_running_min(
        df, [F.asc("id")], "v", "rm", inclusive=False,
    ).collect()
    assert {r["id"]: r["rm"] for r in ex}[0] is None


def test_bh_fdr_matches_reference(spark):
    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.stats_tests import bh_fdr

    ps = [0.01, 0.02, 0.02, 0.04, 0.2, 0.5, 0.9, None]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "id int, p double",
    )
    out_df = bh_fdr(df, "p", tiebreak="id")
    out = {r["id"]: r["q_value"] for r in out_df.collect()}
    # reference BH on the 7 non-null ps
    import numpy as np

    pv = np.array([p for p in ps if p is not None])
    order = np.argsort(pv, kind="mergesort")
    m = len(pv)
    raw = pv[order] * m / np.arange(1, m + 1)
    q = np.minimum.accumulate(raw[::-1])[::-1]
    q = np.minimum(q, 1.0)
    exp = {}
    for rank, idx in enumerate(order):
        exp[int(idx)] = q[rank]
    assert len(out) == 7  # null p excluded
    for i, v in exp.items():
        assert abs(out[i] - v) < 1e-12
    release(out_df)


def test_pareto_frontier_2d_brute_force(spark):
    import random

    from woodwork_spark.lifecycle import release
    from woodwork_spark.operators.skyline import pareto_frontier_2d

    rnd = random.Random(31)
    pts = [(i, rnd.uniform(0, 100), rnd.uniform(0, 100))
           for i in range(300)]
    # planted duplicates of one frontier-ish point + a null row
    pts += [(300, 0.5, 99.5), (301, 0.5, 99.5)]
    df = spark.createDataFrame(pts + [(302, None, 1.0)],
                               "id int, x double, y double")
    # minimize x, maximize y
    got_df = pareto_frontier_2d(df, "x", "y")
    got = sorted(r["id"] for r in got_df.collect())

    def dominated(p, q):  # q dominates p
        return (q[1] <= p[1] and q[2] >= p[2]
                and (q[1] < p[1] or q[2] > p[2]))

    exp = sorted(
        p[0] for p in pts
        if not any(dominated(p, q) for q in pts if q[0] != p[0])
    )
    assert got == exp
    assert 300 in got and 301 in got  # duplicate frontier points survive
    release(got_df)
    # direction flips: maximize both
    got2_df = pareto_frontier_2d(df, "x", "y",
                                 minimize_x=False, maximize_y=True)

    def dom2(p, q):
        return (q[1] >= p[1] and q[2] >= p[2]
                and (q[1] > p[1] or q[2] > p[2]))

    exp2 = sorted(
        p[0] for p in pts
        if not any(dom2(p, q) for q in pts if q[0] != p[0])
    )
    assert sorted(r["id"] for r in got2_df.collect()) == exp2
    release(got2_df)


def test_shortest_paths_manual(spark):
    from woodwork_spark.operators.graph import shortest_paths

    # 1->2 (1), 2->3 (1), 1->3 (5), 3->4 (1); shortest 1->3 = 2 via 2
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0), (3, 4, 1.0), (8, 9, 1.0)],
        "src int, dst int, weight double",
    )
    got = {
        r["node"]: (r["distance"], r["hops"])
        for r in shortest_paths(edges, seeds=[1], max_hops=10).collect()
    }
    assert got == {1: (0.0, 0), 2: (1.0, 1), 3: (2.0, 2), 4: (3.0, 3)}
    # hop bound cuts the cheap-but-long path: direct 1->3 wins at H=1
    got1 = {
        r["node"]: r["distance"]
        for r in shortest_paths(edges, seeds=[1], max_hops=1).collect()
    }
    assert got1[3] == 5.0 and got1[2] == 1.0
    # undirected + multi-seed min
    got_u = {
        r["node"]: r["distance"]
        for r in shortest_paths(edges, seeds=[4, 9], max_hops=10,
                                directed=False).collect()
    }
    assert got_u[1] == 3.0 and got_u[8] == 1.0
    with pytest.raises(ValueError, match="negative"):
        shortest_paths(
            spark.createDataFrame([(1, 2, -1.0)],
                                  "src int, dst int, weight double"),
            seeds=[1],
        )
