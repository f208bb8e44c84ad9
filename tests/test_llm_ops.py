"""LLM-data-pipeline operators: dedup family, similarity search, text
analysis, multimodal plumbing (north-star extensions)."""

import pytest
from pyspark.sql import functions as F

from pippin_spark.operators import dedup as D
from pippin_spark.operators import multimodal as M
from pippin_spark.operators import similarity as S
from pippin_spark.operators import text as X

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "completely different content about spark engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (5, "THE  Quick   Brown fox jumps over the lazy dog"),  # normalized dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dedup_exact(spark, docs):
    groups = D.dedup_exact_groups(docs, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1 and groups[0]["dup_count"] == 3
    kept = D.dedup_exact(docs, "text", "doc_id").select("doc_id").collect()
    assert sorted(r[0] for r in kept) == [1, 2, 3]


def test_dedup_keep_best_elects_by_score_then_min_id(spark):
    rows = [
        # one dup cluster (same normalized text), scores 1.0/3.0/3.0:
        # winner is the score-3 member with the LOWER id -> 11
        (10, "the same text", 1.0),
        (11, "The  Same   Text", 3.0),
        (12, "the same text", 3.0),
        # singleton always survives regardless of score
        (20, "unique doc", 0.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "score"])
    kept = D.dedup_keep_best(df, "text", "doc_id", F.col("score"))
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 20]
    # exactly one survivor per distinct normalized text (dedup_exact's
    # invariant, independent of which member wins)
    assert kept.count() == df.select(
        X.fingerprint(F.col("text"))
    ).distinct().count()
    # string ids work too (dedup_exact's contract — ADVICE r8): ties
    # go to the lexicographically lowest id
    srows = [(f"id-{i}", t, s) for i, t, s in rows]
    sdf = spark.createDataFrame(srows, ["doc_id", "text", "score"])
    skept = D.dedup_keep_best(sdf, "text", "doc_id", F.col("score"))
    assert sorted(r["doc_id"] for r in skept.collect()) == ["id-11", "id-20"]


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = D.dedup_minhash_lsh(docs, "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 4) in got and (1, 5) in got and (4, 5) in got  # exact dups
    assert (1, 2) in got  # near-dup (jaccard 7/9-gram overlap ≥ .5)
    assert all(3 not in p for p in got)


def test_ngram_jaccard_golden(spark, docs):
    pairs = D.dedup_ngram_jaccard(docs, "text", "doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 4)] == 1.0 and got[(1, 5)] == 1.0
    assert 0.5 <= got[(1, 2)] < 1.0


def test_simhash_near_dups(spark, docs):
    pairs = D.dedup_simhash(docs, "text", "doc_id", max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 4)] == 0 and got[(1, 5)] == 0
    assert all(3 not in p for p in got)


def test_embedding_cosine_dedup(spark):
    vecs = spark.createDataFrame(
        [
            (1, "g1", [1.0, 0.0, 0.0]),
            (2, "g1", [0.999, 0.04, 0.0]),
            (3, "g1", [0.0, 1.0, 0.0]),
            (4, "g2", [1.0, 0.0, 0.0]),  # other block — never compared to 1
        ],
        ["vid", "blk", "vec"],
    )
    pairs = D.dedup_embedding_cosine(vecs, "vec", "vid", "blk", threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_brute_force_topk(spark):
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [0.1, 0.9]),
        ],
        ["vec_id", "embedding"],
    )
    out = S.brute_force_topk(corpus, corpus.filter(F.col("vec_id") == 1), "embedding", "vec_id", k=2)
    rows = sorted((r["rank"], r["neighbor_id"]) for r in out.collect())
    assert rows == [(1, 2), (2, 4)]


def test_ivf_topk_shapes(spark):
    import random

    random.seed(7)
    data = [(i, [random.random() for _ in range(8)]) for i in range(60)]
    corpus = spark.createDataFrame(data, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") < 3)
    out = S.ivf_topk(corpus, queries, "embedding", "vec_id", k=4, num_cells=8, nprobe=3)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(1 <= r["rank"] <= 4 for r in rows)
    # IVF recall vs brute force on probed queries should be decent
    bf = S.brute_force_topk(corpus, queries, "embedding", "vec_id", k=4)
    bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ivf_set = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(bf_set & ivf_set) / len(bf_set) >= 0.5


def test_knn_join_ivf_multiprobe(spark):
    # nprobe > 1 (VERDICT r4 #6): probing every cell makes the
    # candidate universe the whole corpus, so the result must EQUAL
    # the exact kNN graph; recall must be monotone in nprobe
    import random

    random.seed(23)
    data = [(i, [random.random() - 0.5 for _ in range(8)]) for i in range(50)]
    corpus = spark.createDataFrame(data, ["vec_id", "embedding"])
    bf = S.brute_force_topk(corpus, corpus, "embedding", "vec_id", k=3)
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in bf.collect()
    )
    full = S.knn_join_ivf(
        corpus, "embedding", "vec_id", k=3, num_cells=4, train_iters=1,
        nprobe=4,
    )
    got = sorted((r["id"], r["rank"], r["neighbor_id"]) for r in full.collect())
    assert got == exact
    exact_pairs = {(q, n) for q, _, n in exact}

    def recall(nprobe):
        out = S.knn_join_ivf(
            corpus, "embedding", "vec_id", k=3, num_cells=4, train_iters=1,
            nprobe=nprobe,
        )
        pairs = {(r["id"], r["neighbor_id"]) for r in out.collect()}
        return len(pairs & exact_pairs) / len(exact_pairs)

    r1, r2 = recall(1), recall(2)
    assert r1 <= r2 <= 1.0


def test_pq_topk_chunked_matches_single_chunk(spark):
    # |Q| > query_chunk must route through the chunked path and
    # produce EXACTLY the single-chunk result (queries are
    # independent, so chunking is exact) — VERDICT r4 #3
    import random

    random.seed(11)
    data = [(i, [random.random() - 0.5 for _ in range(8)]) for i in range(40)]
    corpus = spark.createDataFrame(data, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") < 7)
    kw = dict(k=3, m=4, codebook_k=8, train_iters=2, overfetch=8)
    one = S.pq_topk(corpus, queries, "embedding", "vec_id", **kw)
    chunked = S.pq_topk(
        corpus, queries, "embedding", "vec_id", query_chunk=3, **kw
    )
    a = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
               for r in one.collect())
    b = sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
               for r in chunked.collect())
    assert a == b and len({r[0] for r in a}) == 7


def test_pq_topk_max_queries_guard(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="max_queries"):
        S.pq_topk(
            corpus, corpus, "embedding", "vec_id", k=2, m=2, codebook_k=4,
            max_queries=5,
        )


def test_pq_codebooks_sized_to_trained_k(spark):
    # a training sample smaller than codebook_k must yield a codebook
    # sliced to the trained rows — zero-padded untrained codewords
    # would join the encode argmin and can win (r4 ADVICE)
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.6, 0.8]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    books = S.pq_codebooks(corpus, "embedding", "vec_id", m=2, codebook_k=16)
    assert books.shape == (2, 3, 1)
    # and the search path still returns well-formed top-k on it
    out = S.pq_topk(
        corpus, corpus.filter(F.col("vec_id") == 1), "embedding", "vec_id",
        k=2, m=2, codebook_k=16, overfetch=2,
    ).collect()
    assert {r["neighbor_id"] for r in out} == {2, 3}


def test_fused_pq_sample_matches_collect_sample(spark, monkeypatch, tmp_path):
    # the fused training collect of ann_index_write replays
    # _collect_sample(train_mod=1, normalize=True) on the driver; the
    # sample must be bit-identical (ids out of order, a zero-norm row
    # and a NaN row included), and a corpus past _KMEANS_LOCAL_MAX
    # must take the unfused path and train the same codebooks
    import numpy as np

    rows = [
        (i, [float((i * 7 + j) % 11) - 5.0 for j in range(8)])
        for i in range(40, 0, -1)
    ]
    rows += [(0, [0.0] * 8), (41, [1.0] * 7 + [float("nan")])]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def unfused(cap):
        return S._collect_sample(
            corpus, "embedding", "vec_id", train_mod=1, train_cap=cap,
            normalize=True,
        )

    fused = S._fused_train_rows(corpus, "embedding", "vec_id")
    for cap in (S._TRAIN_CAP, 7):
        got, want = S._fused_pq_sample(fused, cap=cap), unfused(cap)
        assert got.shape == want.shape
        finite = np.isfinite(want).all(axis=1)
        assert got[finite].tobytes() == want[finite].tobytes()
        assert np.array_equal(got, want, equal_nan=True)

    finite_corpus = corpus.filter(F.col("vec_id") != 41)
    books = []
    for name in ("fused", "fallback"):
        if name == "fallback":
            monkeypatch.setattr(S, "_KMEANS_LOCAL_MAX", 10)
            assert S._fused_train_rows(finite_corpus, "embedding", "vec_id") is None
        path = str(tmp_path / name)
        S.ann_index_write(
            finite_corpus, "embedding", "vec_id", path, num_cells=4,
            train_iters=2, layout="flat", pq=(2, 4, 2),
        )
        books.append(S._read_codebooks(spark, path)[0])
    assert books[0].tobytes() == books[1].tobytes()


def test_text_ops(spark, docs):
    out = docs.select(
        "doc_id",
        X.token_count(F.col("text")).alias("tc"),
        X.bpe_token_count(F.col("text")).alias("bc"),
        X.quality_score(F.col("text")).alias("q"),
        X.lang_id(F.col("text")).alias("lang"),
        X.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["tc"] == 9
    assert by_id[1]["bc"] == 9
    assert 0.0 <= by_id[1]["q"] <= 1.0
    assert by_id[1]["lang"] == "en"
    assert by_id[1]["fp"] == by_id[5]["fp"]  # normalization-invariant
    assert by_id[1]["fp"] != by_id[2]["fp"]


def test_multimodal_plumbing(spark, docs):
    media = M.attach_fake_media(docs, "text", "doc_id")
    assert media.schema["meta"].dataType.fieldNames() == ["mime", "n_bytes", "source"]
    feats = M.decode_media(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert len(feats) == 5
    assert by_id[1]["width"] == by_id[4]["width"]  # deterministic on same bytes
    assert len(by_id[1]["feature"]) == 8
    # metadata-only projection never touches binary (column pruning)
    meta_only = media.select("media_id", "meta.n_bytes")
    assert "content" not in meta_only.columns


def test_multimodal_real_decode_stubbed(spark, docs):
    media = M.attach_fake_media(docs, "text", "doc_id", kind="video")
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        M.decode_media(media, fake=False).collect()


def test_multimodal_resize_aspect_fit(spark, docs):
    media = M.attach_fake_media(docs, "text", "doc_id")
    out = {r["media_id"]: r for r in M.resize_images(media, 100, 100).collect()}
    for r in out.values():
        assert r["out_w"] <= 100 and r["out_h"] <= 100
        assert r["out_w"] <= r["width"] and r["out_h"] <= r["height"]  # never upscale
        if r["width"] > 100 or r["height"] > 100:  # binding side is exact
            assert r["out_w"] == 100 or r["out_h"] == 100
        assert r["content"] is not None  # bytes pass through the stub


def test_multimodal_frame_sample_count(spark, docs):
    media = M.attach_fake_media(docs, "text", "doc_id", kind="video")
    dur = {r["media_id"]: r["duration_ms"] for r in M.decode_media(media).collect()}
    counts: dict = {}
    for r in M.frame_sample(media, every_ms=500).collect():
        counts[r["media_id"]] = counts.get(r["media_id"], 0) + 1
    assert counts == {m: d // 500 + 1 for m, d in dur.items()}


def test_frame_sample(spark, docs):
    media = M.attach_fake_media(docs.limit(2), "text", "doc_id", kind="video")
    frames = M.frame_sample(media, every_ms=5000).collect()
    assert len(frames) >= 2
    assert all(r["frame_ts_ms"] % 5000 == 0 for r in frames)


def test_minhash_megabucket_emits_star_pairs(spark, docs):
    # 2 boilerplate classes of 60 identical docs; cap 50 → star pairs
    # (class-min id ↔ member) instead of the O(n²) clique expansion
    from pippin_spark.operators.dedup import dedup_minhash_lsh
    from pyspark.sql import functions as F

    # docs 1 and 3 are dissimilar (3 is "completely different content"),
    # so the two replica classes never share an LSH bucket
    base = docs.filter(F.col("doc_id").isin([1, 3])).select("doc_id", "text")
    rep = base.crossJoin(
        spark.range(0, 60).select(F.col("id").alias("i"))
    ).select((F.col("doc_id") * 1000 + F.col("i")).alias("doc_id"), "text")

    star = dedup_minhash_lsh(
        rep, "text", "doc_id", threshold=0.5, max_bucket_size=50
    )
    rows = star.collect()
    assert len(rows) == 2 * 59
    assert all(r["id_a"] % 1000 == 0 for r in rows)  # star center = class min
    assert all(r["jaccard"] == 1.0 for r in rows)

    full = dedup_minhash_lsh(
        rep, "text", "doc_id", threshold=0.5, max_bucket_size=None
    )
    assert full.count() == 2 * (60 * 59) // 2  # uncapped → full cliques


def test_pair_agreement_counts(spark):
    from pippin_spark.operators.dedup import pair_agreement

    exact = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], ["id_a", "id_b"])
    approx = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    r = pair_agreement(exact, approx).collect()[0]
    assert (r["n_exact"], r["n_approx"], r["n_common"]) == (3, 3, 2)
    assert abs(r["recall"] - 2 / 3) < 1e-15 and abs(r["prec"] - 2 / 3) < 1e-15


def test_dedup_clusters_chain_transitivity(spark):
    # a-b, b-c, d-e: two components; cluster id = min member; greedy
    # pair-dropping would handle this too, but clusters assign EVERY
    # member (including the kept one) its component
    from pippin_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_dedup_clusters_long_chain(spark):
    # a 12-node path graph needs multiple propagation rounds
    from pippin_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


def test_dedup_clusters_local_matches_distributed(spark, monkeypatch):
    # the small-graph fast path (one-task union-find) must equal the
    # distributed min-label propagation exactly — the min-label
    # fixpoint is unique. Mixed chain + clique + singleton-pair graph,
    # plus a string-id graph (Python min == Spark UTF8 order)
    from pippin_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5), (10, 11), (11, 12), (10, 12), (7, 20)],
        ["id_a", "id_b"],
    )
    spairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], ["id_a", "id_b"]
    )
    for p in (pairs, spairs):
        local = {
            (r["id"], r["cluster_id"]) for r in D.dedup_clusters(p).collect()
        }
        monkeypatch.setattr(D, "_LOCAL_EDGES_MAX", 0)
        dist = {
            (r["id"], r["cluster_id"]) for r in D.dedup_clusters(p).collect()
        }
        monkeypatch.undo()
        assert local == dist


def test_lsh_topk_subset_of_bruteforce_rerank(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    base = rng.standard_normal((4, 8))
    rows = []
    for i in range(40):
        v = base[i % 4] + 0.05 * rng.standard_normal(8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 4)
    out = S.lsh_topk(
        df, q, "embedding", "vec_id", k=3, num_tables=8, num_planes=4, dim=8
    )
    rows_out = out.collect()
    # shape: ranks are 1..k per query, no self-pairs
    for r in rows_out:
        assert r["query_id"] != r["neighbor_id"]
        assert 1 <= r["rank"] <= 3
    # tightly clustered corpus: every query finds its full top-3 and the
    # neighbors share the query's cluster (cosine ~1 within a cluster)
    by_q = {}
    for r in rows_out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for qid, rs in by_q.items():
        assert len(rs) == 3
        for r in rs:
            assert r["neighbor_id"] % 4 == qid % 4
            assert r["cosine"] > 0.9


def test_repetition_and_pii(spark):
    from pippin_spark.operators import text as TXT

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "all words here are different tokens"),
            (3, "mail me@x.co or 10.1.2.3 tel +15550100"),
        ],
        ["doc_id", "text"],
    )
    rep = {
        r["doc_id"]: (r["top2_frac"], r["ttr"])
        for r in TXT.repetition_stats(df, "text").collect()
    }
    assert rep[1] == (1.0, 0.25)  # "spam spam" covers everything
    assert rep[2][0] < 0.5 and rep[2][1] == 1.0
    red = df.select(
        "doc_id",
        TXT.pii_count(F.col("text"), "email").alias("ne"),
        TXT.pii_count(F.col("text"), "ip").alias("ni"),
        TXT.pii_count(F.col("text"), "phone").alias("np"),
        TXT.pii_redact(F.col("text")).alias("red"),
    ).collect()
    by = {r["doc_id"]: r for r in red}
    assert (by[3]["ne"], by[3]["ni"], by[3]["np"]) == (1, 1, 1)
    assert by[3]["red"] == "mail <EMAIL> or <IP> tel <PHONE>"
    assert by[1]["red"] == by[1]["red"] == "spam spam spam spam"


def test_label_centroids(spark):
    df = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("a", [3.0, 2.0]),
            ("b", [0.0, 8.0]),
        ],
        ["label", "embedding"],
    )
    out = {r["label"]: r["centroid"] for r in S.label_centroids(df, "embedding", "label").collect()}
    assert out == {"a": [2.0, 1.0], "b": [0.0, 8.0]}


def test_pack_sequences_invariants(spark):
    from pippin_spark.operators.packing import pack_sequences
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, 100) for i in range(200)], ["id", "ln"])
    out = pack_sequences(df, "id", F.col("ln"), target_len=250, num_shards=4)
    rows = out.orderBy("shard", "id").collect()
    # within a shard: offsets are the running sum of lengths in id order
    by_shard = {}
    for r in rows:
        expect = by_shard.get(r["shard"], 0)
        assert r["start_off"] == expect
        assert r["seq_id"] == expect // 250
        by_shard[r["shard"]] = expect + 100
    # every doc shipped exactly once
    assert len(rows) == 200


def test_decontaminate_finds_planted_overlap(spark):
    from pippin_spark.operators.dedup import decontaminate

    test = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma delta epsilon yy"),  # shares a 5-gram
            (2, "totally different words here entirely now"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"] for r in decontaminate(corpus, test, "text", "doc_id", n=5).collect()}
    assert got == {1}


def test_dedup_incremental_drops_seen_and_batch_dupes(spark):
    from pippin_spark.operators.dedup import dedup_incremental
    from pippin_spark.operators.text import fingerprint
    from pyspark.sql import functions as F

    seen_docs = spark.createDataFrame([(0, "old doc")], ["doc_id", "text"])
    seen = seen_docs.select(fingerprint(F.col("text")).alias("fp"))
    batch = spark.createDataFrame(
        [(1, "old doc"), (2, "new doc"), (3, "new doc"), (4, "another")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"] for r in dedup_incremental(batch, seen, "text", "doc_id").collect()}
    assert got == {2, 4}  # 1 seen before; 3 duplicates 2 within batch


def test_ngram_megablock_emits_star_pairs(spark, docs):
    # ground-truth ngram op gets the same guard as its LSH sibling:
    # identical docs share first-token AND length-bucket (one block),
    # so a 60-doc boilerplate class with cap 50 must emit 59 star
    # pairs per class — not the 1770-pair clique — inside ONE task
    from pippin_spark.operators.dedup import dedup_ngram_jaccard
    from pyspark.sql import functions as F

    base = docs.filter(F.col("doc_id").isin([1, 3])).select("doc_id", "text")
    rep = base.crossJoin(
        spark.range(0, 60).select(F.col("id").alias("i"))
    ).select((F.col("doc_id") * 1000 + F.col("i")).alias("doc_id"), "text")

    star = dedup_ngram_jaccard(
        rep, "text", "doc_id", threshold=0.5, max_block_size=50
    )
    rows = star.collect()
    assert len(rows) == 2 * 59
    assert all(r["id_a"] % 1000 == 0 for r in rows)  # star center = block min
    assert all(r["jaccard"] == 1.0 for r in rows)

    full = dedup_ngram_jaccard(
        rep, "text", "doc_id", threshold=0.5, max_block_size=None
    )
    assert full.count() == 2 * (60 * 59) // 2  # uncapped → full cliques


def _pil_available():
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _pil_available(), reason="pillow not installed")
def test_multimodal_real_decode_with_pil(spark):
    # deployment path: when executors have pillow, fake=False decodes
    # real image bytes — true pixel dims + 8-bin grayscale histogram
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (320, 200), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, "image", bytearray(png))], "media_id long, kind string, content binary"
    )
    row = M.decode_media(media, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (320, 200)
    assert abs(sum(row["feature"]) - 1.0) < 1e-5  # histogram sums to 1
    assert len(row["feature"]) == 8


@pytest.mark.skipif(not _pil_available(), reason="pillow not installed")
def test_multimodal_real_resize_with_pil(spark):
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (400, 100), (0, 255, 0)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()))],
        "media_id long, kind string, content binary",
    )
    row = M.resize_images(media, 224, 224, fake=False).collect()[0]
    assert (row["width"], row["height"]) == (400, 100)
    assert (row["out_w"], row["out_h"]) == (224, 56)  # width-binding exact fit
    got = Image.open(io.BytesIO(bytes(row["content"])))
    assert got.size == (224, 56)  # re-encoded bytes really are resized


def test_chunk_documents_overlap_and_coverage(spark):
    from pippin_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(200))
    df = spark.createDataFrame([(1, text), (2, "short doc only"), (3, "")],
                               "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_size=64, stride=48)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1 (200 tokens): starts 0,48,96,144,192 → 5 chunks; the last
    # two are truncated at the document end (56 and 8 tokens)
    d1 = [rows[(1, i)] for i in range(5)]
    assert [r["n_tokens"] for r in d1] == [64, 64, 64, 56, 8]
    # overlap: chunk k shares its last 16 tokens with chunk k+1's first 16
    assert d1[0]["chunk_text"].split()[48:] == d1[1]["chunk_text"].split()[:16]
    # coverage: every token appears in at least one chunk
    seen = set()
    for r in d1:
        seen.update(r["chunk_text"].split())
    assert len(seen) == 200
    # short doc → one chunk; empty doc → no chunks
    assert rows[(2, 0)]["n_tokens"] == 3
    assert not any(k[0] == 3 for k in rows)


def test_token_freq_spectrum_mass_conservation(spark, docs):
    from pippin_spark.operators.text import token_freq_spectrum, tokens
    from pyspark.sql import functions as F

    spec = token_freq_spectrum(docs, "text")
    mass = spec.select(F.sum(F.col("freq") * F.col("n_tokens")).alias("m")).collect()[0]["m"]
    total = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
        .count()
    )
    assert mass == total


def test_dedup_lines_first_occurrence_wins(spark):
    from pippin_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "keep me\nshared boilerplate\nunique to one"),
            (2, "shared boilerplate\nunique to two"),
            (3, "unique to three\nshared boilerplate"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines(docs, "text", "doc_id").collect()}
    # doc 1 owns the first occurrence of the shared line; 2 and 3 lose it
    assert out[1] == "keep me\nshared boilerplate\nunique to one"
    assert out[2] == "unique to two"
    assert out[3] == "unique to three"


def test_knn_join_blocked_exact_under_mass_ties(spark):
    # 40 identical vectors in one block (cosine 1.0 everywhere) with
    # k=3, overfetch=2: the true top-3 for every id is the three LOWEST
    # other ids — tie-aware candidate selection must find them even
    # though ties vastly outnumber k+overfetch
    from pippin_spark.operators.similarity import knn_join_blocked

    rows = [(i, "b", [1.0, 2.0, 3.0, 4.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    out = knn_join_blocked(df, "embedding", "vec_id", "label", k=3, overfetch=2)
    got = {}
    for r in out.collect():
        got.setdefault(r["id"], []).append((r["rank"], r["neighbor_id"]))
    assert len(got) == 40
    for i, pairs in got.items():
        expect = [x for x in (0, 1, 2, 3) if x != i][:3]
        assert sorted(pairs) == [(r + 1, n) for r, n in enumerate(expect)], (i, pairs)


def test_heavy_hitters_exact_under_adversarial_partitioning(spark):
    # 3 true heavy hitters (freq > n/k) hidden among 200 distinct light
    # items, sprayed over 16 partitions so no partition sees a clean
    # majority; the exact recount must return EXACTLY the true set with
    # exact counts, k-sketch nondeterminism notwithstanding
    from pippin_spark.operators.sketches import heavy_hitters

    rows = []
    for i in range(200):
        rows.append((f"light_{i}",))
    rows = rows * 4  # 800 light rows
    heavy = [("alpha",)] * 300 + [("beta",)] * 250 + [("gamma",)] * 180
    n = len(rows) + len(heavy)  # 1530
    k = 8  # threshold n/k = 191.25 -> alpha, beta qualify; gamma (180) not
    df = spark.createDataFrame(rows + heavy, "item string").repartition(16)
    got = {r["item"]: r["cnt"] for r in heavy_hitters(df, "item", k=k).collect()}
    assert got == {"alpha": 300, "beta": 250}


def test_cosine_zero_vector_is_zero_not_crash(spark):
    # ANSI mode (Spark 4 default) turned the unguarded division into a
    # job-killing DIVIDE_BY_ZERO for any zero embedding
    from pyspark.sql import functions as F

    from pippin_spark.operators.dedup import cosine_similarity

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r[0] for r in df.select(cosine_similarity(F.col("a"), F.col("b"))).collect()]
    assert got == [0.0, 1.0]


def test_shingles_short_doc_empty_not_crash(spark):
    from pyspark.sql import functions as F

    from pippin_spark.operators.dedup import shingles

    df = spark.createDataFrame([("hello world",), ("a b c d",)], "text string")
    got = [r[0] for r in df.select(shingles(F.col("text"), 3)).collect()]
    assert got[0] == []
    assert got[1] == ["a b c", "b c d"]


def test_lsh_candidates_rejects_band_overrun(spark):
    from pippin_spark.operators.dedup import lsh_candidates

    df = spark.createDataFrame(
        [(1, list(range(8))), (2, list(range(8, 16)))], "id long, sig array<long>"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="exceeds signature length|ASSERT"):
        lsh_candidates(df, "id", bands=4, rows_per_band=4).collect()


def test_dedup_lines_exempts_short_and_keeps_empty_docs(spark):
    from pippin_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "keep me\n\nshared line"),
            (2, "shared line"),            # fully deduplicated away
            (3, "x\n\nx"),                 # short lines under min kept
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedup_lines(docs, "text", "doc_id", min_line_chars=2).collect()}
    # doc 2 survives with empty text; empty + sub-min lines intact
    assert set(out) == {1, 2, 3}
    assert out[1] == "keep me\n\nshared line"
    assert out[2] == ""
    assert out[3] == "x\n\nx"


def test_asof_bucketed_null_value_parity(spark):
    # a bucket's LATEST right row holding NULL must not erase the
    # earlier value when carried across buckets (review finding)
    from pippin_spark.operators.relational import asof_join, asof_join_bucketed

    left = spark.createDataFrame([(1, 3700)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, None)], "k long, t long, x double"
    )
    a = asof_join(left, right, on="k", left_ts="t", right_ts="t", right_cols=["x"])
    b = asof_join_bucketed(
        left, right, on="k", left_ts="t", right_ts="t",
        right_cols=["x"], bucket_width=3600,
    )
    assert a.collect()[0]["x"] == 5.0
    assert b.collect()[0]["x"] == 5.0


def test_audio_chunks_bounds_and_hop(spark, docs):
    media = M.attach_fake_media(docs.limit(3), "text", "doc_id", kind="audio")
    feats = {r["media_id"]: r["duration_ms"] for r in M.decode_media(media).collect()}
    rows = M.audio_chunks(media, chunk_ms=5000, hop_ms=2500).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append((r["chunk_start_ms"], r["chunk_end_ms"]))
    for mid, chunks in by_id.items():
        dur = feats[mid]
        starts = sorted(s for s, _ in chunks)
        # hop grid, STRICTLY below duration: a start landing exactly
        # at duration would be a zero-length chunk and is dropped
        assert starts == list(range(0, dur, 2500))
        assert len(starts) == (dur + 2499) // 2500
        for s, e in chunks:
            assert e == min(s + 5000, dur)
            assert e > s  # no degenerate chunks, ever


def test_audio_chunks_boundary_durations(spark):
    # the hop-grid boundary the fixtures never hit by chance: a
    # duration that is an exact hop multiple must NOT emit the
    # trailing zero-length chunk, and a zero-length clip yields none
    rows = [
        (1, b"x", "audio", 5000),  # exact multiple of hop
        (2, b"y", "audio", 0),  # zero-length clip
        (3, b"z", "audio", 2400),  # shorter than one hop
    ]
    media = spark.createDataFrame(
        rows, "media_id long, content binary, kind string, duration_ms int"
    )
    orig = M.decode_media
    M.decode_media = lambda df, **kw: df.select("media_id", "duration_ms")
    try:
        got = {}
        for r in M.audio_chunks(media, chunk_ms=5000, hop_ms=2500).collect():
            got.setdefault(r["media_id"], []).append(
                (r["chunk_start_ms"], r["chunk_end_ms"])
            )
    finally:
        M.decode_media = orig
    for v in got.values():
        v.sort()
    assert got.get(1) == [(0, 5000), (2500, 5000)]  # no (5000, 5000)
    assert 2 not in got
    assert got.get(3) == [(0, 2400)]


def test_audio_chunks_ignores_non_audio(spark, docs):
    media = M.attach_fake_media(docs.limit(2), "text", "doc_id", kind="video")
    assert M.audio_chunks(media).count() == 0


def test_random_projection_preserves_relative_distance(spark):
    # JL sanity on a rigged corpus: near-duplicate pair vs an opposite
    # pair — the projected distance must keep the ordering by a wide
    # margin (signed ±1 projections preserve pairwise distances)
    from pippin_spark.operators.similarity import random_projection

    base = [1.0] * 16
    near = [1.0] * 15 + [0.9]
    far = [-1.0] * 16
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id long, embedding array<float>"
    )
    proj = {}
    for r in random_projection(df, in_dim=16, out_dim=8).collect():
        proj.setdefault(r["vec_id"], {})[r["j"]] = r["val"]
    assert set(proj) == {0, 1, 2} and all(len(v) == 8 for v in proj.values())

    def dist2(a, b):
        return sum((a[j] - b[j]) ** 2 for j in range(8))

    assert dist2(proj[0], proj[1]) < dist2(proj[0], proj[2]) / 10


def test_random_projection_plan_is_narrow(spark):
    # one map stage: no Python eval, and no KEYED exchange — the sign
    # matrix rides in the plan as literals. The only exchange allowed
    # is the ensure_parallelism round-robin spread guard for compact
    # single-split inputs (absent once the input already has enough
    # partitions, as at scale).
    from pippin_spark.operators.similarity import random_projection

    df = spark.createDataFrame([(0, [1.0] * 16)], "vec_id long, embedding array<float>")
    out = random_projection(df, in_dim=16, out_dim=4)
    p = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    import re

    def n_exchanges(plan: str) -> int:
        return len(re.findall(r"\(\d+\) Exchange", plan))

    assert "EvalPython" not in p and "hashpartitioning" not in p
    assert n_exchanges(p) <= 1  # the spread guard only
    # an input that already has enough partitions keeps the pure
    # narrow plan: no exchange beyond the explicit repartition below
    wide = spark.createDataFrame(
        [(i, [1.0] * 16) for i in range(64)],
        "vec_id long, embedding array<float>",
    ).repartition(spark.sparkContext.defaultParallelism)
    out2 = random_projection(wide, in_dim=16, out_dim=4)
    p2 = out2._sc._jvm.PythonSQLUtils.explainString(out2._jdf.queryExecution(), "formatted")
    assert "EvalPython" not in p2
    assert n_exchanges(p2) <= 1  # the explicit repartition above


def test_lm_score_matches_plain_python(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the log"),
        (4, "a cat and a dog"),
        (8, "the cat sat quietly"),
        (9, "zebra quantum flux"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counts = X.lm_bigram_counts(docs.filter(F.col("doc_id") % 10 < 8))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["score_scaled"])
        for r in X.lm_score_docs(
            docs.filter(F.col("doc_id") % 10 >= 8), counts
        ).collect()
    }
    # plain-python reference: Laplace-smoothed bigram LM on docs 0,1,4
    from collections import Counter
    train = [t for i, s in rows if i % 10 < 8 for t in [s.lower().split()]]
    big = Counter()
    for toks in train:
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
    ctx = Counter()
    for (a, _), c in big.items():
        ctx[a] += c
    v = len({b for _, b in big}) + 1
    exp = {}
    for i, s in rows:
        if i % 10 < 8:
            continue
        toks = s.lower().split()
        ps = [
            (big.get((a, b), 0) + 1) * 10 ** 9 // (ctx.get(a, 0) + v)
            for a, b in zip(toks, toks[1:])
        ]
        exp[i] = (len(ps), sum(ps))
    assert got == exp


def test_lm_min_count_prunes_but_contexts_precede_pruning(spark):
    docs = spark.createDataFrame(
        [(0, "x y x y x z")], "doc_id long, text string"
    )
    counts = X.lm_bigram_counts(docs, min_count=2)
    got = {(r["w1"], r["w2"]): r["cnt"] for r in counts.collect()}
    # (x,y)=2 survives; (y,x)=2 survives; (x,z)=1 pruned
    assert got == {("x", "y"): 2, ("y", "x"): 2}


def test_span_stats_cross_doc_only(spark):
    # doc 0 and 1 share an exact 60-char prefix → their grid windows
    # (three of them at stride 20, W=40) are cross-doc dups; doc 2 is
    # unique; doc 3 repeats ITS OWN span twice (intra-doc) which must
    # NOT count as duplicated
    shared = "a" * 25 + "b" * 35  # 60 chars
    rows = [
        (0, shared + " tail zero " + "x" * 30),
        (1, shared + " other continuation " + "y" * 20),
        (2, "completely different text " + "z" * 50),
        (3, "q" * 100),  # all windows identical within ONE doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_ppm"])
        for r in D.dedup_span_stats(docs, "text", "doc_id").collect()
    }
    for i, t in rows:
        assert got[i][0] == (len(t) - 40) // 20 + 1
    # docs 0/1: windows at offsets 0 and 20 lie inside the shared
    # 60-char prefix on both grids → exactly 2 dup windows each
    assert got[0][1] == 2 and got[1][1] == 2
    assert got[2][1] == 0
    # doc 3's windows are all "q"*40 — present only in doc 3
    assert got[3][1] == 0 and got[3][2] == 0
    assert got[0][2] == 2 * 1000000 // got[0][0]


def test_span_stats_short_docs_dropped(spark):
    docs = spark.createDataFrame(
        [(0, "tiny"), (1, "x" * 39), (2, "y" * 40)],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in D.dedup_span_stats(docs, "text", "doc_id").collect()}
    assert got == {2}


def _ref_bpe(word_counts, rounds):
    # plain-python Sennrich BPE: max-count pair (lexicographic min on
    # ties), greedy left-to-right merge application
    from collections import Counter

    seqs = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for r in range(1, rounds + 1):
        pairs = Counter()
        for w, c in word_counts.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        top = max(pairs.values())
        a, b = min(p for p, c in pairs.items() if c == top)
        merges.append((r, a, b, a + b, top))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == (a, b):
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_bpe_matches_reference(spark):
    from pippin_spark.operators import bpe as B

    corpus = [
        "low low low lower lowest",
        "new newer newest newer",
        "wide wider widest low new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [
        (r["step"], r["w1"], r["w2"], r["merged"], r["pair_count"])
        for r in B.bpe_train_merges(docs, rounds=5).orderBy("step").collect()
    ]
    from collections import Counter

    wc = Counter(w for t in corpus for w in t.lower().split())
    exp, _ = _ref_bpe(wc, 5)
    assert got == exp


def test_bpe_overlap_run_semantics(spark):
    from pippin_spark.operators import bpe as B

    # best pair is (a,a); greedy must merge "aaaa" -> [aa, aa, </w>]
    # and "aaa" -> [aa, a, </w>]
    docs = spark.createDataFrame(
        [(0, "aaaa aaa aaaa")], "doc_id long, text string"
    )
    m = B.bpe_train_merges(docs, rounds=1).collect()[0]
    assert (m["w1"], m["w2"]) == ("a", "a")
    wc_exp, seqs = _ref_bpe({"aaaa": 2, "aaa": 1}, 1)
    assert seqs["aaaa"] == ["aa", "aa", "</w>"]
    words = spark.createDataFrame([("aaaa",), ("aaa",)], "word string")
    seg = {
        r["word"]: r["pieces"]
        for r in B.bpe_segment(
            words, B.bpe_train_merges(docs, rounds=1)
        ).collect()
    }
    assert seg == {"aaaa": ["aa", "aa", "</w>"], "aaa": ["aa", "a", "</w>"]}


def test_bpe_segment_replays_training(spark):
    from pippin_spark.operators import bpe as B
    from collections import Counter

    corpus = ["the cat the cats there then", "that cat sat on the mat"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    table = B.bpe_train_merges(docs, rounds=4)
    wc = Counter(w for t in corpus for w in t.lower().split())
    _, seqs = _ref_bpe(wc, 4)
    words = spark.createDataFrame([(w,) for w in wc], "word string")
    seg = {r["word"]: r["pieces"] for r in B.bpe_segment(words, table).collect()}
    assert seg == seqs


def test_collocations_pmi_ranks_phrases_over_common_pairs(spark):
    # "new york" always co-occurs (PMI high); "the cat"/"the dog" pair
    # a frequent word with varying partners (PMI low)
    text = " ".join(["new york"] * 6 + ["the cat"] * 6 + ["the dog"] * 6)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = X.collocations_topk(docs, k=10, min_count=5).collect()
    by_pair = {(r["w1"], r["w2"]): r for r in rows}
    assert ("new", "york") in by_pair
    ny, tc = by_pair[("new", "york")], by_pair[("the", "cat")]
    assert ny["pmi_scaled"] > tc["pmi_scaled"]
    assert ny["rank"] < tc["rank"]
    # exact integer check: N tokens, counts from construction
    n = 36
    assert ny["pmi_scaled"] == ny["pair_cnt"] * n * 10 ** 6 // (6 * 6)


def test_winnowing_guarantee_shared_substring(spark):
    # Schleimer et al. guarantee: any shared substring of length
    # >= window + k - 1 (= 14 here) produces at least one shared
    # selected fingerprint
    shared = "the quick brown fox jumps over it"  # 33 chars
    docs = spark.createDataFrame(
        [
            (0, "prefix junk 123 " + shared + " suffix alpha"),
            (1, "totally different opening " + shared),
            (2, "no overlap with anything here at all"),
        ],
        "doc_id long, text string",
    )
    fps = D.winnow_fingerprints(docs, "text", "doc_id", k=5, window=10)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared substring must share a fingerprint"
    assert not (by_doc[2] & by_doc[0]) or len(by_doc[2] & by_doc[0]) < 2


def test_winnowing_matches_plain_python(spark):
    import hashlib

    def ref(text, k=5, w=10):
        if len(text) < k + w - 1:
            return set()
        hs = [
            int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(text) - k + 1)
        ]
        sel = set()
        for j in range(len(hs) - w + 1):
            win = hs[j : j + w]
            mn = min(win)
            # rightmost minimum
            pos = j + max(i for i, h in enumerate(win) if h == mn)
            sel.add((pos + 1, hs[pos]))  # 1-based
        return sel

    texts = [
        (0, "abcabcabcabcabcabcabcabc"),  # periodic → many hash ties
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "short"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in D.winnow_fingerprints(docs, "text", "doc_id").collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, t in texts:
        assert got.get(i, set()) == ref(t), f"doc {i}"


def test_bpe_vocab_after_matches_reference(spark):
    from pippin_spark.operators import bpe as B
    from collections import Counter

    corpus = ["low low lower newest newest", "widest new newer lowest"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    wc = Counter(w for t in corpus for w in t.lower().split())
    _, seqs = _ref_bpe(wc, 3)
    got = {
        r["word"]: (r["cnt"], r["pieces"])
        for r in B.bpe_vocab_after(docs, rounds=3).collect()
    }
    assert got == {w: (c, " ".join(seqs[w])) for w, c in wc.items()}


def test_feature_hashing_deterministic_and_signed(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha gamma"), (1, "alpha")],
        "doc_id long, text string",
    )
    rows = X.feature_hash_vectors(docs, dim=64).collect()
    got = {(r["doc_id"], r["idx"]): (r["feat_val"], r["n_terms"]) for r in rows}

    def hidx(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        return h % 64, 1 if (h // 64) % 2 == 0 else -1

    from collections import defaultdict

    exp = defaultdict(lambda: [0, 0])
    for d, text in [(0, "alpha beta alpha gamma"), (1, "alpha")]:
        for t in text.split():
            i, s = hidx(t)
            exp[(d, i)][0] += s
            exp[(d, i)][1] += 1
    assert got == {k: tuple(v) for k, v in exp.items()}


def test_compression_ratio_matches_zlib(spark):
    import zlib

    rows = [
        (0, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),  # boilerplate
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.compression_ratio(docs).collect()}
    for i, t in rows:
        raw = t.encode()
        cl = len(zlib.compress(raw, 6))
        assert got[i]["raw_len"] == len(raw)
        assert got[i]["compressed_len"] == cl
        assert got[i]["ratio_ppm"] == cl * 1_000_000 // max(len(raw), 1)
    # repetitive text must compress much harder than natural text
    assert got[0]["ratio_ppm"] < got[1]["ratio_ppm"]


def test_cache_handle_releases_operator_persists(spark):
    # VERDICT r4 #7: set_similarity_join / decontaminate_winnow accept
    # a CacheHandle so long-running pipelines release the operator's
    # internal persists deterministically — after release, the
    # session's persistent-RDD set must be back to its pre-call state
    from pippin_spark.operators.util import CacheHandle

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(i, f"token{i} shared common words here {i}") for i in range(20)],
        ["doc_id", "text"],
    )
    sets = docs.select(
        "doc_id", F.split("text", " ").alias("sh")
    )
    with CacheHandle() as h:
        pairs = D.set_similarity_join(sets, "doc_id", "sh", 1, 2, caches=h)
        flagged = D.decontaminate_winnow(
            docs, "text", "doc_id", eval_pred=F.col("doc_id") % 2 == 0,
            caches=h,
        )
        pairs.count()
        flagged.count()
        assert h.registered == 2
        assert jsc.getPersistentRDDs().size() > before
    assert jsc.getPersistentRDDs().size() == before
    # release is idempotent; registering afterwards fails loud
    h.release()
    with pytest.raises(ValueError, match="released"):
        h.register(docs)


def test_winnowing_pos_bound_guard_fails_loud(spark):
    import pytest as _pt

    docs = spark.createDataFrame([(0, "x" * 50)], "doc_id long, text string")
    # within bound: works
    assert D.winnow_fingerprints(docs, "text", "doc_id", pos_bound=64).count() > 0
    # beyond bound: must raise, never silently mis-order
    with _pt.raises(Exception, match="pos_bound"):
        D.winnow_fingerprints(docs, "text", "doc_id", pos_bound=32).count()


def test_bpe_pairs_run_dry_preserves_vocab(spark):
    # after round 1 merges ('a','</w>') every word is a single symbol:
    # rounds 2-3 have no pairs; the vocab must survive and the merge
    # table simply stops early
    from pippin_spark.operators import bpe as B

    docs = spark.createDataFrame([(0, "a a a")], "doc_id long, text string")
    merges = B.bpe_train_merges(docs, rounds=3).collect()
    assert [(m["step"], m["w1"], m["w2"]) for m in merges] == [
        (1, "a", "</w>")
    ]
    vocab = B.bpe_vocab_after(docs, rounds=3).collect()
    assert [(v["word"], v["cnt"], v["pieces"]) for v in vocab] == [
        ("a", 3, "a</w>")
    ]


def test_unigram_segments_cover_exactly(spark):
    # the coverage + bookkeeping invariants of the unigram trainer:
    # pieces concatenate back to the word exactly, n_pieces matches,
    # no piece exceeds max_piece, and every word longer than max_piece
    # is genuinely segmented (singles always available, so the DP is
    # total). Value-level parity with DuckDB is the declared-query
    # gate (unigram_vocab_segments); this pins the algebra.
    from pippin_spark.operators import unigram as UNI

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = UNI.unigram_train_segments(docs, "text").collect()
    assert len(rows) > 0
    saw_multi = False
    for r in rows:
        parts = r["pieces"].split(" ")
        assert "".join(parts) == r["word"]
        assert len(parts) == r["n_pieces"]
        assert all(1 <= len(p) <= 4 for p in parts)
        saw_multi = saw_multi or r["n_pieces"] > 1
    assert saw_multi  # words longer than max_piece must split
    # the seed artifact is bounded and fully positive-cost
    seed = UNI.unigram_seed_table(docs, "text").collect()
    assert 0 < len(seed) <= 300 + 64
    assert all(s["cost"] >= 1 and s["freq"] >= 1 for s in seed)


def test_unigram_raises_past_unroll_depth(spark):
    # the SQL oracle unrolls the Viterbi DP MAXLEN levels deep; the
    # Spark side must fail loudly (not silently diverge) on longer
    # words
    import pytest as _pt

    from pippin_spark.operators import unigram as UNI

    docs = spark.createDataFrame(
        [(0, "a" * 40)], "doc_id long, text string"
    )
    with _pt.raises(Exception, match="MAXLEN"):
        UNI.unigram_train_segments(docs, "text").collect()


def test_winnowing_null_text_excluded_not_crash(spark):
    docs = spark.createDataFrame(
        [(0, None), (1, "x" * 40)], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in D.winnow_fingerprints(docs, "text", "doc_id").collect()}
    assert got == {1}


def test_lm_bigram_model_contexts_from_unpruned(spark):
    docs = spark.createDataFrame(
        [(0, "x y x y x z")], "doc_id long, text string"
    )
    counts, ctx, vocab = X.lm_bigram_model(docs, min_count=2)
    got_counts = {(r["w1"], r["w2"]): r["cnt"] for r in counts.collect()}
    assert got_counts == {("x", "y"): 2, ("y", "x"): 2}  # (x,z) pruned
    got_ctx = {r["w1"]: r["ctx_cnt"] for r in ctx.collect()}
    # x context total includes the PRUNED (x,z): 2 + 1 = 3
    assert got_ctx == {"x": 3, "y": 2}
    # vocab counts pruned w2 'z' too: {y, x, z} + OOV = 4
    assert vocab.collect()[0]["v"] == 4


def test_compression_ratio_respects_id_col(spark):
    docs = spark.createDataFrame([(7, "hello world")], "uid long, text string")
    row = X.compression_ratio(docs, id_col="uid").collect()[0]
    assert row["uid"] == 7 and "doc_id" not in row.asDict()


def test_count_min_null_and_absent_probe_keys(spark):
    from pippin_spark.operators.sketches import count_min_frequencies

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "k string"
    )
    probes = spark.createDataFrame([("a",), ("zz",), (None,)], "k string")
    got = {
        r["k"]: (r["n_exact"], r["within_band"])
        for r in count_min_frequencies(df, "k", probe_keys=probes).collect()
    }
    # absent key comes back as a zero count, not silent loss; NULL is
    # documented un-probeable and dropped from the probe set
    assert got["a"] == (2, True)
    assert got["zz"] == (0, True)
    assert None not in got


def test_count_min_bigint_keys(spark):
    # the probe-key frame must carry the key column's REAL type: a
    # bigint key column probed through a string-typed field would
    # mistype the exact-recount join (r4 ADVICE)
    from pippin_spark.operators.sketches import count_min_frequencies

    df = spark.createDataFrame(
        [(10,), (10,), (10,), (20,), (99,)], "k bigint"
    )
    got = {
        r["k"]: (r["n_exact"], r["within_band"])
        for r in count_min_frequencies(df, "k").collect()
    }
    assert got[10] == (3, True)
    assert got[20] == (1, True)
    assert got[99] == (1, True)


def test_span_corrupt_golden(spark):
    # pin the exact sentinel semantics on a hand-checkable doc: block=2,
    # mask_pct=100 masks EVERY span -> input is all sentinels, target
    # replays every span with its sentinel prefix, in order
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    r = X.span_corrupt(df, "text", "doc_id", block=2, mask_pct=100).first()
    assert r["input_text"] == "<extra_id_0> <extra_id_1> <extra_id_2>"
    assert r["target_text"] == (
        "<extra_id_0> a b <extra_id_1> c d <extra_id_2> e"
    )
    assert r["n_masked"] == 5
    # mask_pct=0 is the identity on input and yields an empty target
    r0 = X.span_corrupt(df, "text", "doc_id", block=2, mask_pct=0).first()
    assert r0["input_text"] == "a b c d e"
    assert r0["target_text"] == "" and r0["n_masked"] == 0


def test_fim_transform_reconstructible(spark):
    # every FIM'd doc must reassemble to the original text:
    # prefix + middle + suffix == text, and non-picked docs untouched
    df = spark.createDataFrame(
        [(i, f"doc {i} body with some middle content {i}") for i in range(40)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in X.fim_transform(df, "text", "doc_id").collect()}
    orig = {i: f"doc {i} body with some middle content {i}" for i in range(40)}
    n_fim = 0
    for i, r in out.items():
        if not r["is_fim"]:
            assert r["fim_text"] == orig[i] and r["middle_len"] == 0
            continue
        n_fim += 1
        s = r["fim_text"]
        assert s.startswith("<fim_prefix>")
        pre, rest = s[len("<fim_prefix>"):].split("<fim_suffix>", 1)
        suf, mid = rest.split("<fim_middle>", 1)
        assert pre + mid + suf == orig[i]
        assert len(mid) == r["middle_len"]
    assert 0 < n_fim < 40  # the 50% pick rate actually splits the set


def test_assign_cells_matches_pure_python_reference(spark):
    # the Arrow matmul pass must reproduce the documented contract
    # exactly: argmax score, ties -> LOWEST cell id, cosine zero-norm
    # guard, keep_score returns the exact (non-expanded) -L2^2 / cosine
    import math
    import random

    from pippin_spark.operators.similarity import _assign_cells
    from pippin_spark.operators.util import local_table

    rng = random.Random(13)
    dim = 5
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)
    ]
    vecs.append((40, [0.0] * dim))  # zero-norm row
    vecs.append((41, list(vecs[3][1])))  # exact duplicate of a vector
    cents = [(c + 1, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(6)]
    # two identical centroids force a genuine tie -> lowest cell wins
    cents.append((7, list(cents[0][1])))

    vdf = local_table(spark, vecs, "id long, cv array<double>", num_partitions=0)
    cdf = local_table(spark, cents, "cell int, centroid array<double>")

    for metric in ("cosine", "l2"):
        got = {
            r["id"]: (r["cell"], r["csim"])
            for r in _assign_cells(vdf, cdf, metric, keep_score=True).collect()
        }
        for vid, v in vecs:
            best = None
            for cell, c in cents:
                if metric == "l2":
                    s = -sum((a - b) ** 2 for a, b in zip(v, c))
                else:
                    na = math.sqrt(sum(a * a for a in v))
                    nb = math.sqrt(sum(b * b for b in c))
                    s = (
                        sum(a * b for a, b in zip(v, c)) / (na * nb)
                        if na * nb > 0
                        else 0.0
                    )
                if best is None or s > best[1] + 1e-12 or (
                    abs(s - best[1]) <= 1e-12 and cell < best[0]
                ):
                    best = (cell, s)
            cell, csim = got[vid]
            assert cell == best[0], (metric, vid, cell, best)
            assert csim == pytest.approx(best[1], abs=1e-9), (metric, vid)


def test_dedup_embedding_cosine_null_and_ragged_rows(spark):
    from pippin_spark.operators.dedup import dedup_embedding_cosine

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.0], "a"),        # exact dup of 1 -> cosine 1.0
        (3, None, "a"),              # NULL vector: dropped, never crashes
        (4, [1.0, 0.0, 0.0], "a"),   # ragged: pairs only within a length
        (5, [1.0, 0.0, 0.0], "a"),   # dup of 4 at the other length
        (6, [0.0, 0.0], "a"),        # zero-norm: cosine 0 with everything
    ]
    df = spark.createDataFrame(
        rows, "vid long, emb array<double>, label string"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup_embedding_cosine(
            df, "emb", "vid", "label", threshold=0.9
        ).collect()
    )
    assert got == [(1, 2, 1.0), (4, 5, 1.0)]


def test_dedup_embedding_cosine_threshold_on_rounded_value(spark):
    import math

    from pippin_spark.operators.dedup import dedup_embedding_cosine

    # raw cosine just UNDER the threshold but rounding to exactly it:
    # cos = 0.9999996 -> round6 = 1.0 -> must survive threshold 1.0,
    # matching the former F.round-then-filter Catalyst pipeline
    theta = math.acos(0.9999996)
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [math.cos(theta), math.sin(theta)], "a"),
    ]
    df = spark.createDataFrame(rows, "vid long, emb array<double>, label string")
    got = dedup_embedding_cosine(df, "emb", "vid", "label", threshold=1.0).collect()
    assert [(r["id_a"], r["id_b"], r["cosine"]) for r in got] == [(1, 2, 1.0)]


# --- span scrub (Lee et al. rewrite step) ---------------------------------


def _py_span_scrub(docs, W=40, S=20):
    """Pure-Python reference for dedup_span_scrub semantics."""
    span_docs = {}
    wins = {}
    for d, t in docs:
        ps = list(range(0, len(t) - W + 1, S)) if len(t) >= W else []
        wins[d] = ps
        for p in ps:
            span_docs.setdefault(t[p:p + W], set()).add(d)
    out = {}
    for d, t in docs:
        ivs = sorted(
            (p, p + W) for p in wins[d] if len(span_docs[t[p:p + W]]) >= 2
        )
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        pos, acc, rm = 0, "", 0
        for s, e in merged:
            acc += t[pos:s]
            pos = e
            rm += e - s
        acc += t[pos:]
        out[d] = (acc, rm)
    return out


def test_span_scrub_golden(spark):
    shared = "X" * 40  # exactly the window at offset 0; the offset-20
    # window straddles into each doc's unique tail so only [0, 40) is
    # cross-doc duplicated
    docs = [
        (1, shared + " unique tail one with extra words here"),
        (2, shared + " another totally different suffix text"),
        (3, "no duplicated content in this document at all, it stands alone"),
        (4, "short"),
    ]
    ref = _py_span_scrub(docs)
    got = {
        r["doc_id"]: (r["text"], r["n_removed_chars"])
        for r in D.dedup_span_scrub(
            spark.createDataFrame(docs, ["doc_id", "text"]), "text", "doc_id"
        ).collect()
    }
    assert got == ref
    # the duplicated prefix must actually be gone from both carriers
    assert got[1][1] > 0 and not got[1][0].startswith("X")
    assert got[4] == ("short", 0)  # sub-window doc untouched
    # removed chars == length delta
    for d, t in docs:
        assert got[d][1] == len(t) - len(got[d][0])


def test_span_scrub_merges_touching_intervals(spark):
    # two duplicated windows at stride distance merge into ONE interval
    # covering [0, 60): window@0 and window@20 both duplicated
    shared = "Y" * 60
    docs = [(1, shared + " tail a"), (2, shared + " tail b")]
    got = {
        r["doc_id"]: (r["text"], r["n_removed_chars"])
        for r in D.dedup_span_scrub(
            spark.createDataFrame(docs, ["doc_id", "text"]), "text", "doc_id"
        ).collect()
    }
    ref = _py_span_scrub(docs)
    assert got == ref
    assert got[1][0] == " tail a" and got[1][1] == 60


def test_span_scrub_whole_doc_removed(spark):
    t = "Z" * 40
    docs = [(1, t), (2, t)]
    got = {
        r["doc_id"]: (r["text"], r["n_removed_chars"])
        for r in D.dedup_span_scrub(
            spark.createDataFrame(docs, ["doc_id", "text"]), "text", "doc_id"
        ).collect()
    }
    assert got == {1: ("", 40), 2: ("", 40)}


def test_hard_negative_topk_matches_pure_python(spark):
    import itertools
    import math
    import random

    rng = random.Random(5)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3) for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    anchors = df.filter(F.col("vec_id") < 4)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in S.hard_negative_topk(
            df, anchors, "embedding", "vec_id", "label", k=3
        ).collect()
    )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(y * y for y in b))
        return round(num / (na * nb), 6) if na > 0 and nb > 0 else 0.0

    want = []
    for qid, qv, qlab in vecs[:4]:
        cands = sorted(
            ((cos(qv, cv), -nid) for nid, cv, nlab in vecs if nlab != qlab),
            reverse=True,
        )
        for rank, (c, negid) in enumerate(cands[:3], 1):
            want.append((qid, rank, -negid, c))
    assert got == sorted(want)
    # every mined negative really is cross-label
    lab = {i: l for i, _, l in vecs}
    for qid, _, nid, _ in got:
        assert lab[qid] != lab[nid]


def test_corpus_manifest_partition_invariant_and_corruption_sensitive(spark, docs):
    def rows(df):
        return sorted(tuple(r) for r in X.corpus_manifest(df, "text", "doc_id", 8).collect())

    base = rows(docs)
    assert base == rows(docs.repartition(7))
    assert base == rows(docs.orderBy(F.desc("doc_id")))
    # single-char corruption moves exactly that doc's bucket digest
    corrupted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.concat(F.col("text"), F.lit("!"))).otherwise(
            F.col("text")
        ),
    )
    diff = set(base) ^ set(rows(corrupted))
    buckets = {b for b, *_ in diff}
    assert buckets == {3 % 8}
    # counts/id-range arms unchanged by an in-place edit
    for b, n, _, lo, hi in rows(corrupted):
        match = [r for r in base if r[0] == b][0]
        assert (n, lo, hi) == (match[1], match[3], match[4])


def test_hard_negative_ivf_single_cell_parity_and_monotone_recall(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)], i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    want = sorted(
        tuple(r)
        for r in S.hard_negative_topk(
            df, df, "embedding", "vec_id", "label", k=3
        ).collect()
    )
    # one cell = one block = the exact all-pairs cross-label top-k
    got = sorted(
        tuple(r)
        for r in S.hard_negative_ivf(
            df, "embedding", "vec_id", "label", k=3, num_cells=1
        ).collect()
    )
    assert got == want
    # multi-cell/multi-probe: cross-label only, recall monotone in nprobe
    lab = {i: l for i, _, l in rows}
    exact_pairs = {(t[0], t[1]) for t in want}

    def pairs(nprobe):
        out = S.hard_negative_ivf(
            df, "embedding", "vec_id", "label",
            k=3, num_cells=4, train_iters=1, nprobe=nprobe,
        ).collect()
        assert all(lab[r["query_id"]] != lab[r["neighbor_id"]] for r in out)
        return {(r["query_id"], r["neighbor_id"]) for r in out}

    r1 = len(pairs(1) & exact_pairs)
    r2 = len(pairs(2) & exact_pairs)
    assert r1 <= r2 <= len(exact_pairs)


def test_hard_negative_topk_empty_anchors(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(10)],
        ["vec_id", "embedding", "label"],
    )
    out = S.hard_negative_topk(
        df, df.filter(F.col("vec_id") < 0), "embedding", "vec_id", "label", k=3
    )
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0


def test_pack_bins_report_matches_python(spark):
    import random

    from pippin_spark.operators.packing import (
        pack_bins_nextfit,
        pack_bins_report,
    )

    rng = random.Random(3)
    rows = [(i, rng.randint(1, 900)) for i in range(150)]
    # one oversize doc: gets a bin of its own, util can exceed 1e6 there
    rows.append((150, 2500))
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    packed = pack_bins_nextfit(df, "doc_id", "n", target_len=1000, num_shards=4)
    got = {
        r["shard"]: (r["n_bins"], r["total_len"], r["capacity"], r["util_ppm"])
        for r in pack_bins_report(packed, target_len=1000).collect()
    }
    # recompute from the packed assignment itself
    from collections import defaultdict

    loads: dict = defaultdict(dict)
    for r in packed.collect():
        b = loads[r["shard"]]
        b[r["bin"]] = max(b.get(r["bin"], 0), r["fill"])
    want = {}
    for sh, bins in loads.items():
        nb, tot = len(bins), sum(bins.values())
        want[sh] = (nb, tot, nb * 1000, tot * 1_000_000 // (nb * 1000))
    assert got == want
    # every shard is accounted for and utilization is sane
    assert sum(t for _, t, _, _ in got.values()) == sum(n for _, n in rows)


def test_centroid_drift_identity_subset_and_missing_label(spark):
    import random

    rng = random.Random(9)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)], i % 3) for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    # identical snapshots: zero drift, equal counts
    same = {
        r["label"]: r
        for r in S.centroid_drift(df, df, "embedding", "label").collect()
    }
    for lab, r in same.items():
        assert r["n_left"] == r["n_right"] and r["drift_sq"] == 0.0
    # subset snapshot: drift >= 0 (strictly > for a moved mean), counts drop
    sub = df.filter(F.col("vec_id") % 5 != 0)
    d = {
        r["label"]: r
        for r in S.centroid_drift(df, sub, "embedding", "label").collect()
    }
    for lab, r in d.items():
        assert r["n_left"] > r["n_right"] > 0
        assert r["drift_sq"] is not None and r["drift_sq"] >= 0.0
    assert any(r["drift_sq"] > 0 for r in d.values())
    # label missing on the right: NULL drift, zero right count
    no2 = df.filter(F.col("label") != 2)
    m = {
        r["label"]: r
        for r in S.centroid_drift(df, no2, "embedding", "label").collect()
    }
    assert m[2]["n_right"] == 0 and m[2]["drift_sq"] is None
    assert m[0]["drift_sq"] == 0.0 and m[1]["drift_sq"] == 0.0


def test_cross_source_dup_matrix_pair_math(spark):
    rows = [
        (1, "alpha text", "a"),
        (2, "alpha text", "a"),   # within-a dup pair
        (3, "alpha text", "b"),   # crosses a-b (2x) and b-c via 7
        (4, "beta text", "b"),
        (5, "beta text", "c"),    # crosses b-c
        (6, "unique text", "c"),
        (7, "alpha text", "c"),   # alpha: a=2, b=1, c=1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r["source_a"], r["source_b"]): r["dup_pairs"]
        for r in D.cross_source_dup_matrix(df, "text", "source").collect()
    }
    # alpha digest counts a:2 b:1 c:1 -> aa C(2,2)=1, ab 2, ac 2, bc 1
    # beta  digest counts b:1 c:1    -> bc 1
    assert got == {("a", "a"): 1, ("a", "b"): 2, ("a", "c"): 2, ("b", "c"): 2}


def test_corpus_doc_diff_statuses(spark):
    left = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], ["doc_id", "text"]
    )
    right = (
        left.filter(F.col("doc_id") != 3)  # removed
        .withColumn(
            "text",
            F.when(F.col("doc_id") == 5, F.lit("edited")).otherwise(
                F.col("text")
            ),
        )
        .unionByName(
            spark.createDataFrame([(100, "new doc")], ["doc_id", "text"])
        )
    )
    got = {
        r["doc_id"]: r["status"]
        for r in X.corpus_doc_diff(left, right, "text", "doc_id").collect()
    }
    assert got == {3: "removed", 5: "changed", 100: "added"}
    # identical snapshots: empty diff
    assert X.corpus_doc_diff(left, left, "text", "doc_id").count() == 0


def test_corpus_manifest_diff_statuses_and_identity(spark):
    corpus = spark.createDataFrame(
        [(i, f"document number {i} body") for i in range(20)],
        ["doc_id", "text"],
    )
    m = X.corpus_manifest(corpus, "text", "doc_id", 8)
    # identical manifests -> empty diff (the overwhelmingly common case)
    assert X.corpus_manifest_diff(m, m).count() == 0
    # edit doc 0 (bucket 0), drop doc 1 (bucket 1); hide bucket 7 on
    # the left and bucket 6 on the right so all three statuses appear
    right_src = corpus.filter(F.col("doc_id") != 1).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 0, F.concat(F.col("text"), F.lit("?"))
        ).otherwise(F.col("text")),
    )
    m2 = X.corpus_manifest(right_src, "text", "doc_id", 8)
    m_l = m.filter(F.col("bucket") != 7)
    m_r = m2.filter(F.col("bucket") != 6)
    d = {r["bucket"]: r for r in X.corpus_manifest_diff(m_l, m_r).collect()}
    assert set(d) == {0, 1, 6, 7}  # untouched buckets 2-5 emit no row
    assert d[7]["status"] == "only_right" and d[7]["l_n_docs"] is None
    assert d[6]["status"] == "only_left" and d[6]["r_n_docs"] is None
    # edited bucket: counts equal, digest differs
    assert d[0]["status"] == "changed"
    assert d[0]["l_n_docs"] == d[0]["r_n_docs"]
    assert d[0]["l_digest_sum"] != d[0]["r_digest_sum"]
    # dropped bucket: count down by one
    assert d[1]["status"] == "changed"
    assert d[1]["l_n_docs"] == d[1]["r_n_docs"] + 1


def test_hard_negative_topk_max_queries_guard(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(30)],
        ["vec_id", "embedding", "label"],
    )
    with pytest.raises(ValueError, match="max_queries"):
        S.hard_negative_topk(
            df, df, "embedding", "vec_id", "label", k=3, max_queries=10
        )


def test_pack_bins_nextfit_invariants_and_python_parity(spark):
    import random

    from pippin_spark.operators.packing import pack_bins_nextfit

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 900)) for i in range(200)]
    rows += [(1000, 5000), (1001, 2048), (1002, 2049)]  # oversize edges
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    got = pack_bins_nextfit(df, "doc_id", "n", target_len=2048, num_shards=4)
    out = [(r["doc_id"], r["shard"], r["bin"], r["fill"]) for r in got.collect()]
    assert len(out) == len(rows)  # every doc placed exactly once

    # replay the documented fold in pure python per shard
    from pippin_spark.operators.sampling import hash_bucket  # noqa: F401

    def shard_of(i):
        return ((i % 2147483647) * 2654435761) % 4294967296 % 4

    lens = dict(rows)
    expect = {}
    for s in range(4):
        docs = sorted(
            (i for i, _ in rows if shard_of(i) == s),
            key=lambda i: (-lens[i], i),
        )
        b, fill, first = 0, 0, True
        for i in docs:
            n = lens[i]
            if not first and fill + n > 2048:
                b, fill = b + 1, n
            else:
                fill += n
                first = False
            expect[i] = (s, b, fill)
    assert {i: (s, b, f) for i, s, b, f in out} == expect

    # invariants: per (shard, bin) the max fill exceeds target only
    # when the bin holds a single oversize doc
    from collections import defaultdict

    bins = defaultdict(list)
    for i, s, b, f in out:
        bins[(s, b)].append(i)
    for (s, b), members in bins.items():
        load = sum(lens[i] for i in members)
        if load > 2048:
            assert len(members) == 1 and lens[members[0]] > 2048
    # determinism under repartitioning
    again = pack_bins_nextfit(
        df.repartition(7), "doc_id", "n", target_len=2048, num_shards=4
    )
    assert sorted(tuple(r) for r in again.collect()) == sorted(out)


def test_hard_negative_topk_empty_anchor_schema_parity(spark):
    # ADVICE r7: the empty-anchor guard used a hardcoded 'long' DDL, so
    # int-typed id columns produced different schemas for empty vs
    # non-empty anchor sets. Both must derive from the inputs.
    df = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(10)],
        "vec_id int, embedding array<double>, label int",
    )
    full = S.hard_negative_topk(df, df, "embedding", "vec_id", "label", k=2)
    empty = S.hard_negative_topk(
        df, df.filter(F.col("vec_id") < 0), "embedding", "vec_id", "label", k=2
    )
    assert empty.schema == full.schema
    assert empty.count() == 0 and full.count() > 0


def test_pack_stream_offsets_matches_python_fold(spark):
    import random

    from pippin_spark.operators.packing import pack_stream_offsets

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 500)) for i in range(200)]
    perm = list(range(200))
    rng.shuffle(perm)
    rank = {doc: r + 1 for r, doc in enumerate(perm)}
    df = spark.createDataFrame(
        [(i, n, rank[i]) for i, n in rows], ["doc_id", "n", "rank"]
    )
    got = {
        r["doc_id"]: (r["start_off"], r["seq_id"])
        for r in pack_stream_offsets(
            df, "n", "rank", target_len=700, docs_per_bucket=16
        ).collect()
    }
    # python replay: exclusive prefix sum in rank order
    off = 0
    for doc in perm:
        n = dict(rows)[doc]
        assert got[doc] == (off, off // 700)
        off += n
    # sequences must span bucket boundaries seamlessly: total length
    # conservation
    assert off == sum(n for _, n in rows)


def test_changed_id_ranges_merges_and_guards(spark):
    from pippin_spark.operators.text import changed_id_ranges, id_ranges_predicate

    diff = spark.createDataFrame([(0,), (1,), (5,), (6,), (9,)], ["bucket"])
    # width 10: buckets 0,1 merge to [0,19]; 5,6 to [50,69]; 9 alone
    assert changed_id_ranges(diff, bucket_width=10) == [
        (0, 19), (50, 69), (90, 99),
    ]
    with pytest.raises(ValueError, match="not localized"):
        changed_id_ranges(diff, bucket_width=10, max_buckets=3)
    # empty diff -> always-false predicate (nothing to re-scan)
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    assert df.filter(id_ranges_predicate("doc_id", [])).count() == 0
    assert df.filter(id_ranges_predicate("doc_id", [(1, 3)])).count() == 3


def test_ivf_prebuilt_equals_fresh_build_exactly(spark, tmp_path):
    # build-once/query-many contract: parquet round-trips float64
    # bit-exactly, so the prebuilt probe must equal the fresh-build
    # ivf_topk EXACTLY (ids, cosines, ranks), not just in recall
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    fresh = S.ivf_topk(
        emb, q, "embedding", "vec_id", k=4, num_cells=16, nprobe=3,
        train_iters=2,
    )
    path = str(tmp_path / "ivf")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=16, train_iters=2
    )
    pre = S.ivf_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=4, nprobe=3
    )
    key = lambda r: (r["query_id"], r["rank"])
    a = sorted(map(tuple, fresh.collect()), key=lambda t: (t[0], t[3]))
    b = sorted(map(tuple, pre.collect()), key=lambda t: (t[0], t[3]))
    assert a == b and len(a) > 0


def test_hard_negative_topk_same_mode(spark):
    # mode='same' returns nearest SAME-label neighbors, never self,
    # never cross-label; mode='cross' (default) never same-label
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    lab = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    pos = S.hard_negative_topk(
        emb, q, "embedding", "vec_id", "label", k=2, mode="same"
    ).collect()
    assert len(pos) > 0
    for r in pos:
        assert r["query_id"] != r["neighbor_id"]
        assert lab[r["query_id"]] == lab[r["neighbor_id"]]
    neg = S.hard_negative_topk(
        emb, q, "embedding", "vec_id", "label", k=2
    ).collect()
    for r in neg:
        assert lab[r["query_id"]] != lab[r["neighbor_id"]]
    with pytest.raises(ValueError, match="mode"):
        S.hard_negative_topk(
            emb, q, "embedding", "vec_id", "label", mode="bogus"
        )


def test_training_manifest_invariants(spark):
    # structural invariants beyond the full value oracle: each
    # (domain, epoch) slot is one permutation prefix — ords contiguous
    # from 1, offsets strictly increasing, no duplicate doc within a
    # slot; and every domain gets at least one epoch row
    from pippin_spark.entry_queries import ENTRY_QUERIES

    df = ENTRY_QUERIES["training_manifest_e2e"](
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert len(rows) > 0
    slots = {}
    for r in rows:
        slots.setdefault((r["lang"], r["epoch"]), []).append(
            (r["ord"], r["doc_id"], r["cum_chars"])
        )
    langs = {k[0] for k in slots}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert langs == {r["lang"] for r in docs.select("lang").distinct().collect()}
    for (lang, ep), members in slots.items():
        members.sort()
        ords = [m[0] for m in members]
        assert ords == list(range(1, len(members) + 1)), (lang, ep)
        ids = [m[1] for m in members]
        assert len(set(ids)) == len(ids), (lang, ep)
        cums = [m[2] for m in members]
        assert all(a < b for a, b in zip(cums, cums[1:])), (lang, ep)


def test_hard_negative_prebuilt_equals_fresh_exactly(spark, tmp_path):
    # the prebuilt hard-negative probe (label persisted via
    # extra_cols, no retrain) must equal hard_negative_ivf EXACTLY for
    # the same build parameters — ids, cosines, ranks; and every pair
    # must be cross-label
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fresh = S.hard_negative_ivf(
        emb, "embedding", "vec_id", "label",
        k=3, num_cells=4, train_iters=2, nprobe=2,
    )
    path = str(tmp_path / "hn_ivf")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=4, train_iters=2,
        train_mode="sample", extra_cols=("label",),
    )
    pre = S.hard_negative_ivf_prebuilt(spark, path, "label", k=3, nprobe=2)
    a = sorted(map(tuple, fresh.collect()), key=lambda t: (t[0], t[3]))
    b = sorted(map(tuple, pre.collect()), key=lambda t: (t[0], t[3]))
    assert a == b and len(a) > 0
    # cross-label invariant holds on the prebuilt path too
    lab = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for qid, nid, _, _ in b:
        assert lab[qid] != lab[nid]


def test_ann_index_maintain_append_compact_isolation(spark, tmp_path):
    # index maintenance (VERDICT r8 #3): (a) append writes new files
    # under ONLY the target cells and never rewrites an existing file;
    # (b) compaction rewrites ONLY fragmented (hot) cells — a cold
    # cell's file set is byte-identical after; (c) row counts survive
    # both; (d) the maintained probe equals a fresh rebuild that
    # assigns the augmented corpus to the same base-trained centroids.
    import glob
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    # a TINY append (5 vectors, 16 cells) so some cells stay cold
    new = emb.filter(F.col("vec_id") >= 495)
    path = str(tmp_path / "maint_ivf")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=16, train_iters=3,
        layout="cells",
    )
    snap = lambda: {  # noqa: E731
        f: os.path.getsize(f)
        for f in glob.glob(f"{path}/assigned/cell=*/*.parquet")
    }
    pre = snap()
    S.ann_index_append(spark, path, new, "embedding", "vec_id")
    post = snap()
    # (a) every pre-append file survives byte-identical; new files
    # appeared only in the appended vectors' cells
    assert all(post.get(f) == sz for f, sz in pre.items())
    hot = {
        os.path.dirname(f) for f in post if f not in pre
    }
    assert 0 < len(hot) <= new.count()
    _, assigned = S.ann_index_read(spark, path)
    total = base.count() + new.count()
    assert assigned.count() == total
    # (b)+(c): compaction touches exactly the multi-file cells
    compacted = S.ann_index_compact(spark, path)
    assert sorted(f"{path}/assigned/cell={c}" for c in compacted) == \
        sorted(hot)
    post_c = snap()
    cold = {f: sz for f, sz in post.items() if os.path.dirname(f) not in hot}
    assert all(post_c.get(f) == sz for f, sz in cold.items())
    _, assigned2 = S.ann_index_read(spark, path)
    assert assigned2.count() == total
    # (d) probe equality vs fresh rebuild on augmented corpus with the
    # SAME base-trained centroids
    q = emb.filter(F.col("vec_id") < 5)
    maint = S.ivf_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=5, nprobe=4
    )
    fresh_path = str(tmp_path / "maint_ivf_fresh")
    S.ann_index_write(
        base.unionByName(new), "embedding", "vec_id", fresh_path,
        num_cells=16, train_iters=3, layout="cells", train_on=base,
    )
    fresh = S.ivf_topk_prebuilt(
        spark, fresh_path, q, "embedding", "vec_id", k=5, nprobe=4
    )
    assert sorted(map(tuple, maint.collect())) == \
        sorted(map(tuple, fresh.collect()))
    # drift gate exists and is computable on the maintained index
    drift = S.ann_index_drift(spark, path)
    rows = drift.collect()
    assert len(rows) > 0 and all(r["drift"] >= 0 for r in rows)


def test_ann_index_append_recovers_parked_dirs_first(spark, tmp_path):
    # ADVICE r10 (medium): a compact that crashed between its two
    # renames leaves cell=N parked under assigned_old/. If an append
    # then recreated assigned/cell=N with only the batch's files, the
    # NEXT compact's recovery (dst exists → drop orphan) would delete
    # the only copy of the original rows. The reconcile pass at the
    # top of append must restore the parked cell before writing.
    import glob
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    new = emb.filter(F.col("vec_id") >= 495)
    path = str(tmp_path / "crash_ivf")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=16, train_iters=3,
        layout="cells",
    )
    total = base.count()
    # simulate the crash: one populated cell displaced to assigned_old/
    cdir = sorted(glob.glob(f"{path}/assigned/cell=*"))[0]
    parked = f"{path}/assigned_old/{os.path.basename(cdir)}"
    os.makedirs(f"{path}/assigned_old", exist_ok=True)
    os.rename(cdir, parked)
    S.ann_index_append(spark, path, new, "embedding", "vec_id")
    # no rows lost: parked cell restored BEFORE the batch landed, and
    # a follow-up compact (the documented recovery) keeps every row
    _, assigned = S.ann_index_read(spark, path)
    assert assigned.count() == total + new.count()
    assert not os.path.exists(f"{path}/assigned_old")
    S.ann_index_compact(spark, path)
    _, assigned2 = S.ann_index_read(spark, path)
    assert assigned2.count() == total + new.count()
    # same contract for a retrain crash (whole table parked): append
    # must restore it rather than raise on the missing layout
    os.rename(f"{path}/assigned", f"{path}/assigned_retrain_old")
    S.ann_index_append(spark, path, new.limit(2), "embedding", "vec_id")
    _, assigned3 = S.ann_index_read(spark, path)
    assert assigned3.count() == total + new.count() + 2


def test_ann_index_repair_ledger_restores_uncounted_append(spark, tmp_path):
    # ADVICE r10: append's two writes (assigned files, pq_stats row)
    # are not atomic — simulate a crash between them by dropping the
    # second batch's ledger row, then assert ann_index_repair_ledger
    # re-derives the appended side from the table so err_ratio equals
    # the uncrashed history's value exactly.
    from pippin_spark.operators.util import local_table

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    b1 = emb.filter((F.col("vec_id") >= 495) & (F.col("vec_id") < 498))
    b2 = emb.filter(F.col("vec_id") >= 498)
    path = str(tmp_path / "ledger_ivfpq")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=8, train_iters=3,
        layout="cells", pq=(8, 16, 2),
    )
    S.ann_index_append(spark, path, b1, "embedding", "vec_id")
    S.ann_index_append(spark, path, b2, "embedding", "vec_id")
    truth = S.ann_index_pq_drift(spark, path).collect()[0]
    ledger = spark.read.parquet(f"{path}/pq_stats").collect()
    # drop exactly one appended row (the crash-window state)
    keep = [r for r in ledger if r["phase"] == "base"] + [
        r for r in ledger if r["phase"] == "appended"
    ][:1]
    local_table(
        spark,
        [(r["phase"], r["n"], r["sum_qerr"]) for r in keep],
        "phase string, n long, sum_qerr double",
    ).write.mode("overwrite").parquet(f"{path}/pq_stats")
    broken = S.ann_index_pq_drift(spark, path).collect()[0]
    assert broken["n_appended"] < truth["n_appended"]  # detectably wrong
    S.ann_index_repair_ledger(spark, path)
    fixed = S.ann_index_pq_drift(spark, path).collect()[0]
    assert fixed["n_appended"] == truth["n_appended"]
    assert fixed["err_ratio"] == truth["err_ratio"]
    assert abs(fixed["appended_mqerr"] - truth["appended_mqerr"]) < 1e-6


def test_pq_drift_broken_base_is_null_not_one(spark, tmp_path):
    # ADVICE r10: appended rows with a lost/zero base row must NOT
    # read as err_ratio=1.0 ("no drift") — the gate would silently
    # never fire. It reads NULL, and repair refuses (no anchor).
    from pippin_spark.operators.util import local_table

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    path = str(tmp_path / "nobase_ivfpq")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=8, train_iters=3,
        layout="cells", pq=(8, 16, 2),
    )
    S.ann_index_append(
        spark, path, emb.filter(F.col("vec_id") >= 495), "embedding",
        "vec_id",
    )
    ledger = spark.read.parquet(f"{path}/pq_stats").collect()
    appended_only = [r for r in ledger if r["phase"] == "appended"]
    local_table(
        spark,
        [(r["phase"], r["n"], r["sum_qerr"]) for r in appended_only],
        "phase string, n long, sum_qerr double",
    ).write.mode("overwrite").parquet(f"{path}/pq_stats")
    row = S.ann_index_pq_drift(spark, path).collect()[0]
    assert row["err_ratio"] is None and row["n_appended"] > 0
    with pytest.raises(ValueError, match="no base row"):
        S.ann_index_repair_ledger(spark, path)
    # while a pristine no-appends index still pins to exactly 1.0
    path2 = str(tmp_path / "pristine_ivfpq")
    S.ann_index_write(
        base, "embedding", "vec_id", path2, num_cells=8, train_iters=3,
        layout="cells", pq=(8, 16, 2),
    )
    row2 = S.ann_index_pq_drift(spark, path2).collect()[0]
    assert row2["err_ratio"] == 1.0 and row2["n_appended"] == 0


def test_sft_render_multiturn_offsets_reconstruct(spark):
    # per-turn loss-mask offsets must index into the CONCATENATED
    # conversation: rebuilding each doc's conversation from its
    # rendered turns, conversation[mask_start:mask_end] must equal the
    # turn's chunk text, and loss must flag exactly assistant turns
    from pippin_spark.entry_queries import ENTRY_QUERIES

    out = ENTRY_QUERIES["sft_render_multiturn"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.orderBy("doc_id", "turn_idx").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) > 0
    for doc_id, turns in list(by_doc.items())[:50]:
        conv = "".join(t["rendered_turn"] for t in turns)
        for t in turns:
            hdr = "<|user|>\n" if t["role"] == "user" else "<|assistant|>\n"
            chunk = t["rendered_turn"][len(hdr):-1]
            assert conv[t["mask_start"]:t["mask_end"]] == chunk, (
                doc_id, t["turn_idx"]
            )
            assert t["loss"] == (1 if t["role"] == "assistant" else 0)
        # roles strictly alternate starting at user
        assert [t["role"] for t in turns[:2]] == \
            ["user", "assistant"][: len(turns[:2])]


def test_contrastive_inbatch_no_label_collisions(spark):
    # the whole point of the export: inside any batch no two pairs
    # share a label (so every other pair is a valid in-batch
    # negative), batches hold at most 4 pairs, and each pair's
    # positive is the exact nearest same-label non-self vector
    from pippin_spark.entry_queries import ENTRY_QUERIES

    sf = "/root/testdata/sf0.001"
    out = ENTRY_QUERIES["contrastive_inbatch_export"](spark, sf).collect()
    assert len(out) == 25  # one positive per anchor
    batches = {}
    for r in out:
        batches.setdefault((r["round"], r["sub_batch"]), []).append(r)
    for bid, members in batches.items():
        labels = [m["label"] for m in members]
        assert len(set(labels)) == len(labels), bid
        assert len(members) <= 4, bid
    emb = {
        r["vec_id"]: (r["label"], list(r["embedding"]))
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6) if na and nb else 0.0

    for r in out:
        qlab, qv = emb[r["query_id"]]
        assert emb[r["pair_id"]][0] == qlab and r["pair_id"] != r["query_id"]
        best = max(
            ((cos(qv, v), -i) for i, (lab, v) in emb.items()
             if lab == qlab and i != r["query_id"]),
        )
        assert (best[0], -best[1]) == (r["cosine"], r["pair_id"])


def test_sft_pack_masked_offsets_tile_the_stream(spark):
    # within a shard the packed examples tile the concat stream with
    # no gaps (start_off[i+1] = start_off[i] + rendered_len[i]), the
    # mask region sits inside the example, and the in-sequence offset
    # re-bases consistently with mask_seq
    from pippin_spark.entry_queries import ENTRY_QUERIES

    out = ENTRY_QUERIES["sft_pack_masked"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert sum(len(v) for v in by_shard.values()) == 500
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["start_off"])
        assert rows[0]["start_off"] == 0
        for a, b in zip(rows, rows[1:]):
            assert b["start_off"] == a["mask_end_g"], shard
        for r in rows:
            assert r["start_off"] < r["mask_start_g"] < r["mask_end_g"]
            assert r["mask_seq"] == r["mask_start_g"] // 2048
            assert r["mask_in_seq_off"] == r["mask_start_g"] % 2048
            assert r["seq_id"] == r["start_off"] // 2048


def test_ann_index_append_labeled_hard_negative_parity(spark, tmp_path):
    # maintenance composes with the LABELED index family too: append
    # rides extra_cols, and a hard-negative probe of the maintained
    # index equals the probe of a fresh index that assigned the
    # augmented corpus to the same base-trained centroids
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    new = emb.filter(F.col("vec_id") % 10 >= 8)
    path = str(tmp_path / "hn_maint")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=4, train_iters=2,
        train_mode="sample", extra_cols=("label",), layout="cells",
    )
    S.ann_index_append(
        spark, path, new, "embedding", "vec_id", extra_cols=("label",)
    )
    maint = S.hard_negative_ivf_prebuilt(spark, path, "label", k=3, nprobe=2)
    fresh_path = str(tmp_path / "hn_fresh")
    S.ann_index_write(
        emb, "embedding", "vec_id", fresh_path, num_cells=4, train_iters=2,
        train_mode="sample", extra_cols=("label",), layout="cells",
        train_on=base,
    )
    fresh = S.hard_negative_ivf_prebuilt(
        spark, fresh_path, "label", k=3, nprobe=2
    )
    a = sorted(map(tuple, maint.collect()))
    b = sorted(map(tuple, fresh.collect()))
    assert a == b and len(a) > 0


def test_ann_index_drift_triggers_rebuild_on_shifted_appends(spark, tmp_path):
    # the rebuild gate must actually fire when appended traffic drags
    # cell means away from the stored centroids, and a rebuild (fresh
    # Lloyd on the augmented corpus) must bring it back down. Note the
    # drift an append CAN cause is bounded by the assignment rule —
    # every appended vector lands in its NEAREST cell, so even a flood
    # of NEGATED vectors (7x the base here) shifts means toward
    # near-orthogonal, not flipped (measured ~3.4x the fresh-build
    # drift, not ~1.0) — hence a RELATIVE gate, which is also how a
    # real maintenance loop should set its threshold
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 60)
    path = str(tmp_path / "drift_maint")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=4, train_iters=2,
        layout="cells",
    )
    mx = lambda: S.ann_index_drift(spark, path).agg(  # noqa: E731
        F.max("drift").alias("d")
    ).collect()[0]["d"]
    low0 = mx()
    assert low0 < 0.1  # freshly built: means ARE near the centroids
    shifted = emb.filter(F.col("vec_id") >= 60).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    S.ann_index_append(spark, path, shifted, "embedding", "vec_id")
    high = mx()
    assert high > 2.5 * low0 and high > 0.1  # gate fires -> rebuild
    aug = base.select("vec_id", "embedding").unionByName(shifted)
    S.ann_index_write(
        aug, "embedding", "vec_id", path, num_cells=4, train_iters=2,
        layout="cells",
    )
    assert mx() < high  # rebuild re-centers the cells


def test_ann_index_append_rejects_flat_layout(spark, tmp_path):
    # appending partitioned files into a flat index would silently mix
    # layouts — must fail loudly instead
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "flat_ivf")
    S.ann_index_write(emb, "embedding", "vec_id", path, num_cells=4)
    with pytest.raises(ValueError, match="layout"):
        S.ann_index_append(
            spark, path, emb.limit(5), "embedding", "vec_id"
        )


def test_ivfpq_matches_bruteforce_on_tiny_and_masks_cells(spark):
    # on a tiny corpus with nprobe == num_cells and generous PQ
    # budgets, IVF-PQ candidates cover everything and the exact
    # re-rank makes the output EQUAL brute force; with nprobe=1 the
    # per-query candidate set must only contain probed-cell members
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 60)
    q = emb.filter(F.col("vec_id") < 4)
    full = S.ivfpq_topk(
        emb, q, "embedding", "vec_id", k=3, num_cells=4, nprobe=4,
        m=8, codebook_k=16, train_iters=2, overfetch=60,
    )
    bf = S.brute_force_topk(emb, q, "embedding", "vec_id", k=3)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, bf.collect()))
    # nprobe=1: every neighbor must live in its query's single probed
    # cell (recompute the assignment/probe to check)
    one = S.ivfpq_topk(
        emb, q, "embedding", "vec_id", k=3, num_cells=4, nprobe=1,
        m=8, codebook_k=16, train_iters=2, overfetch=60,
    )
    cents, assigned = S.ivf_build(emb, "embedding", "vec_id", 4, 2)
    cell_of = {r["id"]: r["cell"] for r in assigned.collect()}
    qcell = {
        r["id"]: r["cell"]
        for r in S._assign_cells(
            q.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("cv"),
            ),
            cents,
        ).collect()
    }
    rows = one.collect()
    assert len(rows) > 0
    for r in rows:
        assert cell_of[r["neighbor_id"]] == qcell[r["query_id"]]


def test_ivfpq_prebuilt_equals_fresh_exactly(spark, tmp_path):
    # PQ codes round-trip parquet losslessly, so the persisted-index
    # probe must equal the fresh ivfpq_topk EXACTLY (ids, cosines,
    # ranks) for the same build parameters
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfpq")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=16, train_iters=2,
        layout="cells", pq=(8, 16, 2),
    )
    pre = S.ivfpq_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=4, nprobe=3, overfetch=20
    )
    fresh = S.ivfpq_topk(
        emb, q, "embedding", "vec_id", k=4, num_cells=16, nprobe=3,
        m=8, codebook_k=16, train_iters=2, overfetch=20,
    )
    a = sorted(map(tuple, pre.collect()))
    b = sorted(map(tuple, fresh.collect()))
    assert a == b and len(a) > 0


def test_ann_index_append_encodes_pq_codes(spark, tmp_path):
    # appending to a PQ index must encode codes against the STORED
    # codebooks, and the maintained probe must equal a fresh-arm
    # rebuild (augmented corpus, base-trained centroids, same
    # codebooks trained on the base corpus)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    new = emb.filter(F.col("vec_id") % 10 >= 8)
    path = str(tmp_path / "ivfpq_maint")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=16, train_iters=2,
        layout="cells", pq=(8, 16, 2),
    )
    S.ann_index_append(spark, path, new, "embedding", "vec_id")
    _, assigned = S.ann_index_read(spark, path)
    assert "codes" in assigned.columns
    assert assigned.filter(F.col("codes").isNull()).count() == 0
    assert assigned.count() == emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    maint = S.ivfpq_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=5, nprobe=8, overfetch=30
    )
    # fresh arm: same base-trained centroids AND base-trained codebooks
    # (write the fresh index from the base model, then append the same
    # delta — byte-equivalent construction, different file history)
    fresh_path = str(tmp_path / "ivfpq_fresh")
    S.ann_index_write(
        base, "embedding", "vec_id", fresh_path, num_cells=16,
        train_iters=2, layout="cells", pq=(8, 16, 2),
    )
    S.ann_index_append(spark, fresh_path, new, "embedding", "vec_id")
    S.ann_index_compact(spark, fresh_path)
    fresh = S.ivfpq_topk_prebuilt(
        spark, fresh_path, q, "embedding", "vec_id", k=5, nprobe=8,
        overfetch=30,
    )
    assert sorted(map(tuple, maint.collect())) == \
        sorted(map(tuple, fresh.collect()))


def test_ivfpq_residual_beats_plain_and_prebuilt_parity(spark, tmp_path):
    # residual encoding (FAISS by_residual=True) must not lose recall
    # vs plain codes at identical budgets (it measures +2/25 on every
    # fixture), and its persisted form must equal the fresh build
    # exactly (codes + the residual flag round-trip the codebooks
    # table)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(
            emb, q, "embedding", "vec_id", k=5
        ).collect()
    }
    common = {}
    for residual in (False, True):
        out = S.ivfpq_topk(
            emb, q, "embedding", "vec_id", k=5, num_cells=16, nprobe=8,
            m=8, codebook_k=16, train_iters=2, overfetch=30,
            by_residual=residual,
        )
        pairs = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
        common[residual] = len(pairs & bf)
    assert common[True] >= common[False]
    path = str(tmp_path / "ivfpq_resid")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=16, train_iters=2,
        layout="cells", pq=(8, 16, 2), pq_residual=True,
    )
    pre = S.ivfpq_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=5, nprobe=8, overfetch=30
    )
    fresh = S.ivfpq_topk(
        emb, q, "embedding", "vec_id", k=5, num_cells=16, nprobe=8,
        m=8, codebook_k=16, train_iters=2, overfetch=30, by_residual=True,
    )
    assert sorted(map(tuple, pre.collect())) == \
        sorted(map(tuple, fresh.collect()))
    # appends to a RESIDUAL index encode with the stored residual rule
    new = emb.filter(F.col("vec_id") >= 490).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    S.ann_index_append(spark, path, new, "embedding", "vec_id")
    _, assigned = S.ann_index_read(spark, path)
    assert assigned.filter(F.col("codes").isNull()).count() == 0
    assert assigned.count() == emb.count() + 10


def test_pq_codebook_drift_gate_fires_where_centroid_gate_does_not(
    spark, tmp_path
):
    # VERDICT r9 #4: appends residual-encode against the STORED
    # codebooks, so a distribution shift grows the quantization error
    # of new vectors with no signal from the centroid gate. This pins
    # both halves of the claim on one maintained index:
    #   1. an IN-DISTRIBUTION append passes BOTH gates (calibration:
    #      err_ratio ~ 1, the relative gate's design point);
    #   2. a shifted flood built as symmetric pairs c_n ± s*delta with
    #      delta orthogonal to EVERY centroid — orthogonality makes the
    #      +/- members' centroid cosines IDENTICAL (same cell for both,
    #      by construction), and the pair cancels in the cell MEAN, so
    #      the centroid gate stays silent — while each member lands far
    #      from any trained codeword and the PQ gate fires.
    # The corpus must be one PQ actually compresses (the fixture
    # embeddings are diffuse — base mqerr 0.57 of a 1.0 ceiling, so NO
    # flood can double it): 8 orthonormal cluster directions + 5%
    # noise, the regime an IVF-PQ index exists for (base mqerr ~0.15).
    import numpy as np

    from pippin_spark.operators.util import local_table

    dirs, _ = np.linalg.qr(np.random.RandomState(7).standard_normal((64, 8)))

    def clustered(n_per, seed, start_id):
        r = np.random.RandomState(seed)
        rows, vid = [], start_id
        for ci in range(8):
            for _ in range(n_per):
                v = dirs[:, ci] + 0.05 * r.standard_normal(64)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return rows

    schema = "vec_id long, embedding array<double>"
    base = local_table(spark, clustered(50, 1, 0), schema)
    path = str(tmp_path / "pq_drift_gate")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=8, train_iters=3,
        layout="cells", pq=(8, 16, 3),
    )
    # 0. no appends yet = no drift by definition: the gate comparison a
    # maintenance loop runs unconditionally must see 1.0, never None
    pq0 = S.ann_index_pq_drift(spark, path).collect()[0]
    assert pq0["n_appended"] == 0 and pq0["err_ratio"] == 1.0, pq0
    # 1. in-distribution append: same generator, fresh draw
    S.ann_index_append(
        spark, path, local_table(spark, clustered(12, 2, 100000), schema),
        "embedding", "vec_id",
    )
    pq1 = S.ann_index_pq_drift(spark, path).collect()[0]
    assert pq1["n_appended"] == 96
    assert pq1["err_ratio"] < 1.5, pq1
    d1 = S.ann_index_drift(spark, path).agg(F.max("drift")).collect()[0][0]
    assert d1 < 0.2
    # 2. shifted flood: delta from the orthogonal complement of the
    # centroid span (64-dim, 8 centroids — plenty of room)
    cents = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r["cell"],
    )
    C = np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in cents])
    Cn = C / np.linalg.norm(C, axis=1)[:, None]
    Q, _ = np.linalg.qr(Cn.T)  # orthonormal basis of the centroid span
    rng = np.random.RandomState(11)
    rows, vid = [], 10_000_000
    for ci in range(len(Cn)):
        for _ in range(20):
            delta = rng.standard_normal(Cn.shape[1])
            # exact projection onto the orthogonal complement
            delta -= Q @ (Q.T @ delta)
            delta /= np.linalg.norm(delta)
            for sgn in (3.0, -3.0):
                v = Cn[ci] + sgn * delta
                rows.append((vid, [float(x) for x in v]))
                vid += 1
    flood = local_table(spark, rows, "vec_id long, embedding array<double>")
    S.ann_index_append(spark, path, flood, "embedding", "vec_id")
    pq2 = S.ann_index_pq_drift(spark, path).collect()[0]
    d2 = S.ann_index_drift(spark, path).agg(F.max("drift")).collect()[0][0]
    assert d2 < 0.2, d2          # centroid gate alone: silent
    assert pq2["err_ratio"] > 2.0, pq2  # PQ gate: fires
    assert pq2["n_appended"] == pq1["n_appended"] + len(rows)
    # 3. the gate's ACTION: retrain codebooks on the current contents
    # and re-encode — the shifted distribution becomes in-sample, the
    # ledger resets to the new in-sample baseline, and a fresh
    # in-distribution append measures ~1 against it again
    n_total = pq2["n_base"] + pq2["n_appended"]
    S.ann_index_retrain_codebooks(spark, path)
    pq3 = S.ann_index_pq_drift(spark, path).collect()[0]
    assert pq3["n_base"] == n_total and pq3["n_appended"] == 0
    # flood error is in-sample now: the new base error sits strictly
    # below the stale-codebook flood error the gate flagged
    assert pq3["base_mqerr"] < pq2["appended_mqerr"], (pq3, pq2)
    _, assigned = S.ann_index_read(spark, path)
    assert assigned.count() == n_total
    assert assigned.filter(F.col("codes").isNull()).count() == 0
    S.ann_index_append(
        spark, path, local_table(spark, clustered(10, 3, 200000), schema),
        "embedding", "vec_id",
    )
    pq4 = S.ann_index_pq_drift(spark, path).collect()[0]
    assert pq4["err_ratio"] < 1.5, pq4


def test_corpus_datacard_grouping_sets_consistency(spark):
    from pippin_spark.entry_queries import ENTRY_QUERIES

    rows = ENTRY_QUERIES["corpus_datacard"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["grouping_id"], []).append(r)
    # all four granularities present: (lang,source)=0, (lang)=1,
    # (source)=2, ()=3
    assert set(by_gid) == {0, 1, 2, 3}
    total = by_gid[3][0]
    # the corpus-total row reconciles with the per-lang slices
    assert sum(r["n_docs"] for r in by_gid[1]) == total["n_docs"]
    assert sum(r["chars"] for r in by_gid[1]) == total["chars"]
    assert sum(r["ws_tokens"] for r in by_gid[2]) == total["ws_tokens"]
    for r in rows:
        # exact dup accounting on every row at every granularity
        assert r["distinct_texts"] + r["dup_docs"] == r["n_docs"]
        assert r["dup_docs"] >= 0
        assert r["chars_per_doc"] == r["chars"] // r["n_docs"]
    # a (lang, source) cell has exactly one source by construction
    assert all(r["n_sources"] == 1 for r in by_gid[0])
    # source breadth only aggregates upward
    assert total["n_sources"] >= max(r["n_sources"] for r in by_gid[1])


def test_tokenizer_fertility_units_reconcile(spark):
    from pyspark.sql import functions as F

    from pippin_spark.entry_queries import ENTRY_QUERIES
    from pippin_spark.operators import bpe as BPE

    sf = "/root/testdata/sf0.001"
    out = ENTRY_QUERIES["tokenizer_fertility"](spark, sf)
    rows = out.collect()
    assert rows, "no languages"
    for r in rows:
        # every whitespace word costs >= 1 learned piece and >= 1
        # regex-proxy piece, so both fertilities are >= 1.0 in ppm
        assert r["bpe_pieces"] >= r["ws_tokens"] > 0
        assert r["proxy_pieces"] >= r["ws_tokens"]
        assert r["fertility_ppm"] >= 1_000_000
        assert (
            r["fertility_ppm"]
            == r["bpe_pieces"] * 1_000_000 // r["ws_tokens"]
        )
    # the per-lang totals are exactly the per-doc learned costs
    # (bpe_encode_docs) re-aggregated — composition loses nothing
    docs = spark.read.parquet(sf + "/documents.parquet")
    per_doc = BPE.bpe_doc_piece_counts(docs, "text", rounds=3)
    want = per_doc.agg(
        F.sum("n_bpe_pieces").alias("p"), F.sum("n_words").alias("w")
    ).collect()[0]
    got_p = sum(r["bpe_pieces"] for r in rows)
    got_w = sum(r["ws_tokens"] for r in rows)
    assert (got_p, got_w) == (want["p"], want["w"])


def test_wordpiece_diverges_from_bpe_and_scores_are_exact(spark):
    from pippin_spark.operators import bpe as BPE

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wp = BPE.wordpiece_train_merges(docs, "text", rounds=3).collect()
    bp = BPE.bpe_train_merges(docs, "text", rounds=3).collect()
    assert len(wp) == 3 and len(bp) == 3
    # the criteria genuinely diverge: WordPiece downweights merges of
    # individually-frequent symbols (classic: (q, u) first)
    assert (wp[0]["w1"], wp[0]["w2"]) != (bp[0]["w1"], bp[0]["w2"])
    assert {(r["w1"], r["w2"]) for r in wp} != {
        (r["w1"], r["w2"]) for r in bp
    }
    for r in wp:
        # score = pair_count * 1e12 // (c1 * c2) with pair_count <=
        # min(c1, c2) and c1, c2 >= 1 -> score in (0, 1e12]
        assert 0 < r["score"] <= 10**12, r
        assert r["merged"] == r["w1"] + r["w2"]


def test_encode_docs_triad_reconciles(spark):
    from pippin_spark.entry_queries import ENTRY_QUERIES

    sf = "/root/testdata/sf0.001"
    bpe = {
        r["doc_id"]: r
        for r in ENTRY_QUERIES["bpe_encode_docs"](spark, sf).collect()
    }
    wp = {
        r["doc_id"]: r
        for r in ENTRY_QUERIES["wordpiece_encode_docs"](spark, sf).collect()
    }
    uni = {
        r["doc_id"]: r
        for r in ENTRY_QUERIES["unigram_encode_docs"](spark, sf).collect()
    }
    # all three tokenizers cost the same document set and agree on the
    # whitespace word count — only the piece unit differs
    assert set(bpe) == set(wp) == set(uni)
    diverged = 0
    for d in bpe:
        assert (
            bpe[d]["n_words"] == wp[d]["n_words"] == uni[d]["n_words"]
        )
        # every word costs >= 1 piece under every tokenizer
        assert bpe[d]["n_bpe_pieces"] >= bpe[d]["n_words"]
        assert wp[d]["n_wp_pieces"] >= wp[d]["n_words"]
        assert uni[d]["n_uni_pieces"] >= uni[d]["n_words"]
        if wp[d]["n_wp_pieces"] != bpe[d]["n_bpe_pieces"]:
            diverged += 1
    # the criteria chose different merges, so per-doc costs must
    # actually differ somewhere
    assert diverged > 0


def test_retrain_inflight_marker_fences_mismatched_index(spark, tmp_path):
    # round-11 self-review: a retrain that crashes between committing
    # the NEW codebooks and swapping the re-encoded table leaves books
    # and codes from different generations. The retrain_inflight
    # marker must make every codebook-paired consumer refuse the
    # index (a probe would silently decode old codes with new books),
    # and the documented recovery — re-running retrain — must clear
    # it and converge.
    import os

    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "pq_ivf")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=8, train_iters=2,
        layout="cells", pq=(4, 16, 2),
    )
    q = emb.filter(F.col("vec_id") < 5)
    clean = S.ivfpq_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=3, nprobe=3
    ).collect()
    # simulate the crash window: marker present, generations suspect
    with open(f"{path}/retrain_inflight", "w") as fh:
        fh.write("crash\n")
    with pytest.raises(RuntimeError, match="retrain_inflight"):
        S.ivfpq_topk_prebuilt(
            spark, path, q, "embedding", "vec_id", k=3, nprobe=3
        )
    with pytest.raises(RuntimeError, match="retrain_inflight"):
        S.ann_index_append(
            spark, path, emb.limit(3), "embedding", "vec_id"
        )
    with pytest.raises(RuntimeError, match="retrain_inflight"):
        S.ann_index_pq_drift(spark, path).collect()
    with pytest.raises(RuntimeError, match="retrain_inflight"):
        S.ann_index_compact(spark, path)
    # recovery 1: re-running retrain converges and clears the fence
    S.ann_index_retrain_codebooks(spark, path)
    assert not os.path.exists(f"{path}/retrain_inflight")
    after = S.ivfpq_topk_prebuilt(
        spark, path, q, "embedding", "vec_id", k=3, nprobe=3
    ).collect()
    assert len(after) == len(clean)
    assert S.ann_index_pq_drift(spark, path).collect()[0]["n_appended"] == 0
    # recovery 2: a full rebuild also resolves the marker
    with open(f"{path}/retrain_inflight", "w") as fh:
        fh.write("crash\n")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=8, train_iters=2,
        layout="cells", pq=(4, 16, 2),
    )
    assert not os.path.exists(f"{path}/retrain_inflight")


def test_ann_index_write_recovers_parked_before_overwrite(spark, tmp_path):
    # round-11 self-review: a rebuild that crashed AFTER the parquet
    # commit but BEFORE the old post-write parked-dir sweep used to
    # leave assigned_old/cell=N beside the fresh index; the next
    # writer's _recover_parked would then resurrect pre-rebuild rows
    # into it. The reconcile pass at the TOP of ann_index_write must
    # consume parked state before the overwrite so it cannot outlive
    # the rebuild.
    import glob
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "rebuild_ivf")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=8, train_iters=2,
        layout="cells",
    )
    cdir = sorted(glob.glob(f"{path}/assigned/cell=*"))[0]
    os.makedirs(f"{path}/assigned_old", exist_ok=True)
    os.rename(cdir, f"{path}/assigned_old/{os.path.basename(cdir)}")
    S.ann_index_write(
        emb, "embedding", "vec_id", path, num_cells=8, train_iters=2,
        layout="cells",
    )
    assert not os.path.exists(f"{path}/assigned_old")
    _, assigned = S.ann_index_read(spark, path)
    assert assigned.count() == emb.count()


def _ref_wordpiece(word_counts, rounds):
    # plain-python WordPiece (Schuster & Nakajima): per round, symbol
    # counts over current sequences, score = pair_cnt * 10^12 //
    # (c1 * c2) (exact integer, mirroring _WP_SCORE), argmax by
    # (score DESC, (w1, w2) lexicographic ASC), greedy left-to-right
    # merge application — identical application rule to BPE
    from collections import Counter

    seqs = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for r in range(1, rounds + 1):
        pairs, syms = Counter(), Counter()
        for w, c in word_counts.items():
            s = seqs[w]
            for sym in s:
                syms[sym] += c
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        if not pairs:
            break
        scored = {
            p: cnt * 10**12 // (syms[p[0]] * syms[p[1]])
            for p, cnt in pairs.items()
        }
        top = max(scored.values())
        a, b = min(p for p, sc in scored.items() if sc == top)
        merges.append((r, a, b, a + b, pairs[(a, b)], scored[(a, b)]))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == (a, b):
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


def test_wordpiece_matches_reference(spark):
    from collections import Counter

    from pippin_spark.operators import bpe as B

    corpus = [
        "low low low lower lowest",
        "new newer newest newer",
        "wide wider widest low new",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [
        (r["step"], r["w1"], r["w2"], r["merged"], r["pair_count"],
         r["score"])
        for r in B.wordpiece_train_merges(docs, rounds=5)
        .orderBy("step")
        .collect()
    ]
    wc = Counter(w for t in corpus for w in t.lower().split())
    exp, ref_seqs = _ref_wordpiece(wc, 5)
    assert got == exp
    segs = {
        r["word"]: r["pieces"]
        for r in B.wordpiece_vocab_after(docs, rounds=5).collect()
    }
    assert segs == {w: " ".join(s) for w, s in ref_seqs.items()}


def test_bpe_local_train_matches_distributed(spark, monkeypatch):
    # the local-vocab fast path (_train_py, whole merge loop in driver
    # Python off one cached collect) must be bit-identical to the
    # distributed per-round argmax loop — merges AND the final
    # segmented vocabulary, under both scoring criteria
    from pippin_spark.operators import bpe as B

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for scoring in ("count", "wordpiece"):
        local_merges, local_seq = B._train(docs, "text", 4, scoring)
        monkeypatch.setattr(B, "_LOCAL_VOCAB_MAX", 0)
        dist_merges, dist_seq = B._train(docs, "text", 4, scoring)
        monkeypatch.undo()
        assert local_merges == dist_merges
        lv = {
            r["word"]: (r["cnt"], list(r["s"]))
            for r in local_seq.collect()
        }
        dv = {
            r["word"]: (r["cnt"], list(r["s"]))
            for r in dist_seq.collect()
        }
        assert lv == dv


def test_bpe_prebuilt_encode_equals_fresh(spark, tmp_path):
    from pippin_spark.operators import bpe as B

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "merges")
    B.bpe_write_merges(docs, path, "text", rounds=3)
    fresh = {
        (r["doc_id"], r["n_words"], r["n_bpe_pieces"])
        for r in B.bpe_doc_piece_counts(docs, "text", rounds=3).collect()
    }
    pre = {
        (r["doc_id"], r["n_words"], r["n_bpe_pieces"])
        for r in B.bpe_doc_piece_counts_prebuilt(
            spark, path, docs, "text"
        ).collect()
    }
    assert pre == fresh
    # the artifact round-trips the merge table exactly, in order
    stored = [
        (r["step"], r["w1"], r["w2"])
        for r in spark.read.parquet(path).orderBy("step").collect()
    ]
    trained = [
        (r["step"], r["w1"], r["w2"])
        for r in B.bpe_train_merges(docs, "text", rounds=3)
        .orderBy("step")
        .collect()
    ]
    assert stored == trained


def test_hard_negative_both_matches_single_modes(spark):
    # mode="both" (one fused corpus pass, two mask variants) must
    # reproduce each single-mode call's rows exactly, per role, for
    # the same k — pos = mode="same", neg = mode="cross"
    import random

    rng = random.Random(17)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3) for i in range(60)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    anchors = df.filter(F.col("vec_id") < 5)
    both = S.hard_negative_topk(
        df, anchors, "embedding", "vec_id", "label", k=3, mode="both"
    ).collect()
    for role, mode in (("pos", "same"), ("neg", "cross")):
        got = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in both
            if r["role"] == role
        )
        want = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
            for r in S.hard_negative_topk(
                df, anchors, "embedding", "vec_id", "label", k=3, mode=mode
            ).collect()
        )
        assert got == want


def test_probe_mismatch_driver_matches_join(spark):
    # batch-12 equality pin: the driver-side set compare the
    # maintenance rows use (_probe_set / len-union arithmetic) counts
    # EXACTLY what the all-JVM full_outer-join compare counts, on
    # overlapping, disjoint and identical probe results — including a
    # double column, where join equality is IEEE-bit equality, the
    # same identity tuple() preserves through collect()
    from pippin_spark.entry_queries import _n_mismatch_join, _probe_set

    def df(rows):
        return spark.createDataFrame(
            rows, "query_id long, neighbor_id long, cosine double, rank int"
        )

    a = df([(1, 10, 0.5, 1), (1, 11, 0.25, 2), (2, 10, 1.0, 1)])
    same = df([(2, 10, 1.0, 1), (1, 10, 0.5, 1), (1, 11, 0.25, 2)])
    b = df([(1, 10, 0.5, 1), (1, 12, 0.25, 2), (2, 10, 0.75, 1)])
    empty = df([]).limit(0)
    for x, y in [(a, same), (a, b), (a, empty), (empty, a), (a, a)]:
        sx, sy = _probe_set(x), _probe_set(y)
        assert len(sx | sy) - len(sx) == _n_mismatch_join(x, y)


def test_pq_drift_driver_matches_spark(spark, tmp_path):
    # batch-14 equality pin: the driver-computed gate (pyarrow ledger
    # read + replicated Spark arithmetic) returns the EXACT row the
    # Spark aggregation computes — on a fresh build (no appends → the
    # 1.0 pin), after appends, and after a ledger repair merge.
    import pippin_spark.operators.similarity as SS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 10 < 8)
    path = str(tmp_path / "gate_ivfpq")
    S.ann_index_write(
        base, "embedding", "vec_id", path, num_cells=8, train_iters=3,
        layout="cells", pq=(8, 16, 2),
    )

    def both():
        a = S.ann_index_pq_drift(spark, path).collect()[0]
        b = SS._pq_drift_spark(spark, path).collect()[0]
        return a, b

    a, b = both()
    assert a == b and a["err_ratio"] == 1.0
    S.ann_index_append(
        spark, path, emb.filter(F.col("vec_id") >= 495), "embedding",
        "vec_id",
    )
    S.ann_index_append(
        spark, path,
        emb.filter((F.col("vec_id") >= 490) & (F.col("vec_id") < 495)),
        "embedding", "vec_id",
    )
    a, b = both()
    assert a == b and a["n_appended"] == 10
    S.ann_index_repair_ledger(spark, path)
    a, b = both()
    assert a == b
