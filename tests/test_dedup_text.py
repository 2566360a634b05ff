import glob
import math
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from dataqtor_spark.operators import ann as A
from dataqtor_spark.operators import dedup as D
from dataqtor_spark.operators import similarity as S
from dataqtor_spark.operators import textstats as T


# --- textstats --------------------------------------------------------------

def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("one",), (None,)], "text string")
    out = {r["text"]: r["n_tokens"] for r in T.add_token_counts(df).collect()}
    assert out["a b  c"] == 3
    assert out[""] == 0
    assert out["  "] == 0
    assert out["one"] == 1
    assert out[None] is None


def test_subword_tokens(spark):
    df = spark.createDataFrame([("hello, world42!",)], "text string")
    r = T.add_token_counts(df).collect()[0]
    # hello | , | world | 42 | !
    assert r["n_subword_tokens"] == 5


def test_quality_score_ordering(spark):
    good = "the quick brown fox jumps over the lazy dog and it is a fine day for all of us"
    bad = "!!! ??? ;;; 12345 67890 :::"
    df = spark.createDataFrame([(good,), (bad,)], "text string")
    out = {r["text"]: r["quality_score"] for r in T.add_quality(df).collect()}
    assert out[good] > out[bad]
    assert 0 <= out[good] <= 1


def test_lang_id(spark):
    cases = [
        ("the cat and the dog is with that man", "en"),
        ("der hund und die katze ist nicht da", "de"),
        ("le chien et la maison est dans les bois", "fr"),
        ("el perro y los gatos es que en la casa", "es"),
        ("zzz qqq www", "und"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    out = {r["text"]: r["lang_pred"] for r in T.add_lang_id(df).collect()}
    for t, expect in cases:
        assert out[t] == expect, f"{t!r}: got {out[t]}, want {expect}"


def test_fingerprint_clusters(spark):
    df = spark.createDataFrame(
        [(1, "The quick  brown fox"), (2, "fox brown THE quick"),
         (3, "quick brown fox the"), (4, "something else entirely")],
        "doc_id long, text string",
    )
    clusters = T.fingerprint_clusters(df).collect()
    assert len(clusters) == 1
    assert clusters[0]["cluster_size"] == 3
    assert clusters[0]["members"] == [1, 2, 3]


# --- dedup ------------------------------------------------------------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa", 1.0), (2, "aaa", 1.0), (3, "bbb", 2.0), (4, "aaa", None), (5, "aaa", None)],
        "id long, s string, v double",
    )
    groups = D.exact_duplicate_groups(df, ["s", "v"], "id").collect()
    members = sorted(tuple(g["members"]) for g in groups)
    assert members == [(1, 2), (4, 5)]  # null-tagged: (aaa,NULL) is its own group
    kept = sorted(r["id"] for r in D.dedup_exact(df, ["s", "v"], "id").collect())
    assert kept == [1, 3, 4]


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different content about spark query engines and columnar formats"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),     # exact dup of 1
    (5, "unrelated short text"),
]


def test_minhash_finds_planted_near_dups(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in D.minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs  # near-dup caught
    assert all(3 not in p and 5 not in p for p in pairs)


def test_minhash_bucket_cap_skips_hot_cluster(spark):
    # 12 identical docs form one hot bucket per band; with the cap below
    # the cluster size their 66 internal pairs are skipped, while a small
    # distinct near-dup pair elsewhere must survive
    rows = [(i, "the same boilerplate footer text repeated here " * 4)
            for i in range(12)]
    rows += [(100, "a quick brown fox jumps over the lazy dog today"),
             (101, "a quick brown fox jumps over the lazy dog tonight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = D.minhash_signatures(df, "doc_id", "text")
    uncapped = D.minhash_candidates(sig, "doc_id").collect()
    capped = D.minhash_candidates(sig, "doc_id", max_bucket_size=8).collect()
    hot = {(a, b) for a in range(12) for b in range(12) if a < b}
    assert hot <= {(r["id_a"], r["id_b"]) for r in uncapped}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert not (hot & capped_pairs)          # hot cluster skipped
    assert (100, 101) in capped_pairs        # small buckets unaffected


def test_auto_guard_engages_above_corpus_threshold(spark, monkeypatch):
    # default "auto" cap: unguarded below AUTO_GUARD_MIN_DOCS, engaged at
    # max(floor, sqrt(n)) above it — shrink the constants so a 14-doc
    # corpus with a 12-doc hot cluster crosses the threshold
    rows = [(i, "the same boilerplate footer text repeated here " * 4)
            for i in range(12)]
    rows += [(100, "a quick brown fox jumps over the lazy dog today"),
             (101, "a quick brown fox jumps over the lazy dog tonight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = D.minhash_signatures(df, "doc_id", "text")
    hot = {(a, b) for a in range(12) for b in range(12) if a < b}

    # below the threshold: auto resolves to no cap, hot pairs all expand
    below = {(r["id_a"], r["id_b"])
             for r in D.minhash_candidates(sig, "doc_id").collect()}
    assert hot <= below

    monkeypatch.setattr(D, "AUTO_GUARD_CAP_FLOOR", 8)
    monkeypatch.setattr(D, "AUTO_GUARD_MIN_DOCS", 10)
    above = {(r["id_a"], r["id_b"])
             for r in D.minhash_candidates(sig, "doc_id").collect()}
    assert not (hot & above)            # guard engaged: hot bucket skipped
    assert (100, 101) in above          # small buckets unaffected

    # explicit opt-out restores exact banding even above the threshold
    opt_out = {(r["id_a"], r["id_b"])
               for r in D.minhash_candidates(
                   sig, "doc_id", max_bucket_size=None).collect()}
    assert hot <= opt_out


def test_resolve_auto_cap_threshold_and_floor(monkeypatch):
    assert D.resolve_auto_cap(99_999) is None
    assert D.resolve_auto_cap(100_000) == 1024     # floor dominates
    assert D.resolve_auto_cap(4_000_000) == 2000   # sqrt(n) above floor
    monkeypatch.setattr(D, "AUTO_GUARD_MIN_DOCS", 10)
    monkeypatch.setattr(D, "AUTO_GUARD_CAP_FLOOR", 4)
    assert D.resolve_auto_cap(50) == 7


def test_ngram_auto_guard_cuts_hot_shingle(spark, monkeypatch):
    # one ultra-common shingle shared by every doc; above the threshold the
    # auto doc-freq cut drops it, so docs sharing ONLY that shingle vanish
    common = "alpha beta gamma delta epsilon"
    rows = [(i, f"{common} unique{i} filler{i} words{i} here{i}")
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(D, "AUTO_GUARD_CAP_FLOOR", 4)
    uncut = D.ngram_jaccard_pairs(df, "doc_id", "text", n=5,
                                  threshold=0.1).collect()
    monkeypatch.setattr(D, "AUTO_GUARD_MIN_DOCS", 10)
    cut = D.ngram_jaccard_pairs(df, "doc_id", "text", n=5,
                                threshold=0.1).collect()
    assert len(uncut) == 66             # all pairs share the hot shingle
    assert len(cut) == 0                # cut removed the only shared gram
    explicit = D.ngram_jaccard_pairs(df, "doc_id", "text", n=5,
                                     threshold=0.1,
                                     max_doc_freq=None).collect()
    assert len(explicit) == 66          # opt-out wins over the threshold


@pytest.mark.parametrize("n", [9, 10, 24, 35, 36, 37])
def test_cap_groups_in_plan_auto_cap_equals_resolve_auto_cap(
        spark, monkeypatch, n):
    # differential: the in-plan "auto" threshold (broadcast count + isqrt
    # correction) must keep exactly the list sizes resolve_auto_cap allows.
    # min_docs 10, floor 4: n=9 is below the threshold (no cap), n=10 and
    # n=24 are floor-dominated (isqrt 3 and 4), and 35/36/37 straddle the
    # perfect square 6² above the floor (caps 5, 6, 6)
    monkeypatch.setattr(D, "AUTO_GUARD_MIN_DOCS", 10)
    monkeypatch.setattr(D, "AUTO_GUARD_CAP_FLOOR", 4)
    grouped = spark.createDataFrame(
        [(s, list(range(s))) for s in range(1, 10)], "k int, ids array<int>")
    kept = {r["k"] for r in D._cap_groups(grouped, "auto",
                                           spark.range(n)).collect()}
    cap = D.resolve_auto_cap(n)
    assert kept == {s for s in range(1, 10) if cap is None or s <= cap}
    assert D._cap_groups(grouped, None, spark.range(n)) is grouped
    assert {r["k"] for r in D._cap_groups(grouped, 3, spark.range(n))
            .collect()} == {1, 2, 3}


def _guard_case_minhash(spark):
    rows = [(i, "the same boilerplate footer text repeated here " * 4)
            for i in range(12)]
    rows += [(100, "a quick brown fox jumps over the lazy dog today"),
             (101, "a quick brown fox jumps over the lazy dog tonight")]
    sig = D.minhash_signatures(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text")
    return "max_bucket_size", lambda **cap: D.minhash_candidates(
        sig, "doc_id", **cap)


def _guard_case_simhash(spark):
    rows = [(i, 0x1111222233334444) for i in range(12)]
    rows += [(100, 0x5555666677778888), (101, 0x5555666677778889)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    return "max_bucket", lambda **cap: D.simhash_near_pairs(
        sig, "doc_id", **cap)


def _hot_shingle_docs(spark):
    # the 12 hot docs share ONLY one 5-gram; the control pair is identical
    common = "alpha beta gamma delta epsilon"
    rows = [(i, f"{common} unique{i} filler{i} words{i} here{i}")
            for i in range(12)]
    rows += [(100, "zeta eta theta iota kappa lambda"),
             (101, "zeta eta theta iota kappa lambda")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _guard_case_ngram_jaccard(spark):
    df = _hot_shingle_docs(spark)
    return "max_doc_freq", lambda **cap: D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=5, threshold=0.1, **cap)


def _guard_case_ngram_containment(spark):
    df = _hot_shingle_docs(spark)
    return "max_doc_freq", lambda **cap: D.ngram_containment_pairs(
        df, "doc_id", "text", n=5, threshold=0.1, **cap)


def _guard_case_video(spark):
    from dataqtor_spark.operators import multimodal as MM

    rows = [(i, -1) for i in range(12)] + [(100, 42), (101, 42)]
    frames = spark.createDataFrame(rows, "media_id long, phash long")
    return "max_bucket", lambda **cap: MM.video_near_dup_pairs(
        frames, "media_id", "phash", min_matches=1, **cap)


def _guard_case_copurchase(spark):
    from dataqtor_spark.operators import behavior as B

    # baskets 1-4 hold items {0, 1, 2}; basket 99 holds the 12 hot items
    rows = [(b, i) for b in range(1, 5) for i in (0, 1, 2)]
    rows += [(99, i) for i in range(200, 212)]
    df = spark.createDataFrame(rows, "basket long, item long")
    return "basket_cap", lambda **cap: B.copurchase_pairs(
        df, "basket", "item", top_k=500, **cap)


@pytest.mark.parametrize("case", [
    _guard_case_minhash, _guard_case_simhash, _guard_case_ngram_jaccard,
    _guard_case_ngram_containment, _guard_case_video,
    _guard_case_copurchase], ids=lambda c: c.__name__[len("_guard_case_"):])
def test_every_guarded_operator_follows_the_cap_rule(spark, monkeypatch,
                                                      case):
    # one 12-member hot group (ids 0-11, or items 200-211) and one
    # 2-member control group in a corpus of 14-24 rows.  With the
    # threshold at 1 and the floor at 4, "auto" resolves to a cap of 4:
    # the hot group is dropped, the control survives.  An int cap of 8
    # also drops it; None keeps every hot pair.
    monkeypatch.setattr(D, "AUTO_GUARD_MIN_DOCS", 1)
    monkeypatch.setattr(D, "AUTO_GUARD_CAP_FLOOR", 4)
    kw, run = case(spark)
    base = 200 if kw == "basket_cap" else 0
    hot = {(a, b) for a in range(base, base + 12)
           for b in range(base, base + 12) if a < b}
    control = (0, 1) if kw == "basket_cap" else (100, 101)

    def pairs(**cap):
        return {(r[0], r[1]) for r in run(**cap).collect()}

    auto, pinned, unguarded = pairs(), pairs(**{kw: 8}), pairs(**{kw: None})
    assert not (hot & auto) and control in auto
    assert not (hot & pinned) and control in pinned
    assert hot <= unguarded and control in unguarded


def test_simhash_near_pairs(spark):
    # hamming≤3 is a long-document regime: use ~400-token docs where a
    # single-token edit flips only a few signature bits
    base = " ".join(f"w{i}tok" for i in range(400))
    edited = base.replace("w200tok", "zzzz")
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, base), (4, "entirely different short text")],
        "doc_id long, text string",
    )
    sig = D.simhash(df, "doc_id", "text")
    vals = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert vals[1] == vals[3]  # identical text → identical signature
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_near_pairs(sig, "doc_id", max_hamming=3).collect()}
    assert pairs.get((1, 3)) == 0
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 3  # one-token edit
    assert all(4 not in p for p in pairs)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3).collect()}
    assert pairs[(1, 4)] == 1.0
    # doc1 vs doc2: 14 words → 12 distinct 3-grams each, 11 shared (only the
    # trigram containing the changed last word differs), union 13
    assert pairs[(1, 2)] == pytest.approx(11 / 13, abs=1e-6)
    assert (3, 5) not in pairs


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "x"),
        (2, [0.999, 0.01, 0.0], "x"),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], "x"),
        (4, [1.0, 0.0, 0.0], "y"),      # same as 1 but different block
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>, blk string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.embedding_near_dup_pairs(df, "id", "vec", threshold=0.99).collect()}
    assert pairs == {(1, 2), (1, 4), (2, 4)}
    blocked = {(r["id_a"], r["id_b"]) for r in
               D.embedding_near_dup_pairs(df, "id", "vec", threshold=0.99,
                                          block_col="blk").collect()}
    assert blocked == {(1, 2)}


# --- ANN --------------------------------------------------------------------

def test_brute_force_topk_exact(spark, tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3)
    topk = A.brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        cos = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cos == sorted(cos, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_lsh_topk_finds_strong_neighbors(spark, tables):
    emb = tables["embeddings"]
    # queries = scaled copies of corpus vectors: cosine to the twin is 1.0
    # and scaling preserves every hyperplane sign, so the twin lands in the
    # SAME bucket — the LSH mechanism must recover it at rank 1
    queries = (emb.filter(F.col("vec_id") < 10)
               .select((F.col("vec_id") + 10000).alias("vec_id"),
                       F.transform("embedding", lambda x: x * 2.0).alias("embedding")))
    approx = A.lsh_topk(emb, queries, "vec_id", "embedding", k=3, n_planes=8,
                        dim=64)
    top1 = {r["query_id"]: r["neighbor_id"] for r in approx.collect() if r["rank"] == 1}
    for q in range(10):
        assert top1[q + 10000] == q, f"query {q + 10000}: twin not at rank 1 ({top1})"


def test_lsh_topk_beats_random_candidates(spark, tables):
    # on weak-structure data LSH recall tracks the candidate fraction; just
    # assert the approximate result is well-formed and nonempty per query
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    approx = A.lsh_topk(emb, queries, "vec_id", "embedding", k=5, n_planes=5,
                        dim=64).collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))


# --- A13 similarity ---------------------------------------------------------

NAMES = ["Mehmet Yılmaz", "Mehmet Yilmaz", "Ayşe Demir", "Ayse Demir",
         "John Smith", "Jon Smith", "Zeynep Arslan", "Totally Different"]


def test_similar_strings_exact(spark):
    df = spark.createDataFrame([(n,) for n in NAMES], "name string")
    pairs = {(r["left_side"], r["right_side"]): r["similarity"]
             for r in S.similar_strings(df, "name", min_similarity=0.4).collect()}
    assert ("Mehmet Yilmaz", "Mehmet Yılmaz") in pairs
    assert ("Ayse Demir", "Ayşe Demir") in pairs  # ~0.45: one-char edit on 9 grams
    assert ("John Smith", "Jon Smith") in pairs
    assert all("Totally Different" not in p for p in pairs)
    assert all(0 < s <= 1.0 + 1e-9 for s in pairs.values())


def test_similar_strings_stop_gram_cut(spark):
    # 'abc' is shared by both close values AND dominates a hot gram set:
    # with max_doc_freq=1 every shared gram disappears, so no pair clears
    # the threshold; without the cut the close pair is found
    vals = ["abcd", "abce", "xyzw"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    uncut = S.similar_strings(df, "s", min_similarity=0.1, top_n=None)
    cut = S.similar_strings(df, "s", min_similarity=0.1, top_n=None,
                            max_doc_freq=1)
    assert uncut.count() == 1 and cut.count() == 0
    # a cut above every df is a no-op: same result as uncut
    same = S.similar_strings(df, "s", min_similarity=0.1, top_n=None,
                             max_doc_freq=10)
    assert [tuple(r) for r in same.collect()] == \
        [tuple(r) for r in uncut.collect()]


def test_similar_strings_tfidf_matches_sklearn_formula(spark):
    # hand-check one pair: cosine of L2-normalized smooth-idf tf-idf vectors
    vals = ["abcd", "abce", "xyzw"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {(r["left_side"], r["right_side"]): r["similarity"]
           for r in S.similar_strings(df, "s", min_similarity=0.0, top_n=None).collect()}
    # grams: abcd→{abc,bcd}, abce→{abc,bce}, xyzw→{xyz,yzw}; N=3
    idf_shared = math.log(4 / 3) + 1   # df=2 (abc)
    idf_unique = math.log(4 / 2) + 1   # df=1
    num = idf_shared * idf_shared
    den = math.sqrt(idf_shared**2 + idf_unique**2) ** 2
    assert got[("abcd", "abce")] == pytest.approx(num / den, abs=1e-6)
    assert ("abcd", "xyzw") not in got or got[("abcd", "xyzw")] == 0.0


def test_similar_strings_lsh_candidates(spark):
    df = spark.createDataFrame([(n,) for n in NAMES], "name string")
    pairs = {(r["left_side"], r["right_side"])
             for r in S.similar_strings_lsh(df, "name", jaccard_threshold=0.3).collect()}
    assert ("Mehmet Yilmaz", "Mehmet Yılmaz") in pairs


def test_ivf_recall_vs_brute(tables):
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = ANN.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ANN.ivf_topk(emb, queries, "vec_id", "embedding",
                          k=5, n_clusters=8, n_probe=3)
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"
    # probing ALL clusters must recover the exact result
    full = ANN.ivf_topk(emb, queries, "vec_id", "embedding",
                        k=5, n_clusters=8, n_probe=8)
    got_full = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert got_full == want


def test_ivf_portable_recall_and_determinism(tables):
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    exact = ANN.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ANN.ivf_topk_portable(emb, queries, "vec_id", "embedding",
                                   k=5, n_clusters=8, n_probe=3)
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(want & got) / len(want) >= 0.6
    # full probe recovers exact; repeated run is bit-identical (determinism)
    full = ANN.ivf_topk_portable(emb, queries, "vec_id", "embedding",
                                 k=5, n_clusters=8, n_probe=8)
    assert {(r["query_id"], r["neighbor_id"]) for r in full.collect()} == want
    again = ANN.ivf_topk_portable(emb, queries, "vec_id", "embedding",
                                  k=5, n_clusters=8, n_probe=3)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, approx.collect()))


def test_pq_codes_bounded_and_deterministic(tables):
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    sub, books = ANN.train_pq_codebooks_portable(
        emb, "vec_id", "embedding", m=4, ks=8, n_iter=2)
    assert sub == 16 and len(books) == 4
    assert all(len(c) == 16 for book in books for _cid, c in book)
    enc = ANN.pq_encode(
        emb.selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v"),
        "vec_id", "v", sub, books)
    rows = enc.collect()
    assert all(len(r["codes"]) == 4 for r in rows)
    valid = [{cid for cid, _c in book} for book in books]
    assert all(r["codes"][j] in valid[j] for r in rows for j in range(4))
    # retraining is bit-identical (deterministic seeds + unrolled Lloyd)
    sub2, books2 = ANN.train_pq_codebooks_portable(
        emb, "vec_id", "embedding", m=4, ks=8, n_iter=2)
    assert (sub2, books2) == (sub, books)


def test_trainer_memo_keys_on_the_data(spark, tmp_path):
    """A ``cache_key`` memo hit needs the same input files at the same size
    and mtime: the parquet rewritten in place, under the same path and
    key, trains anew on its new vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "embeddings.parquet")

    def write(shift):
        pq.write_table(pa.table({
            "vec_id": list(range(24)),
            "embedding": [[float((i * 7 + shift * j) % 11) for j in range(4)]
                          for i in range(24)]}), path)

    def train(key):
        emb = spark.read.parquet(path)
        return (A.train_ivf_centroids_portable(emb, "vec_id", "embedding",
                                               3, 2, cache_key=key),
                A.train_pq_codebooks_portable(emb, "vec_id", "embedding", m=2,
                                              ks=3, n_iter=1, cache_key=key))

    write(0)
    old = train(path)
    write(5)
    new = train(path)
    assert new == train(None)
    assert new != old


def test_trainer_memo_is_a_bounded_lru(monkeypatch):
    from collections import OrderedDict

    monkeypatch.setattr(A, "_CENTROID_CACHE", OrderedDict())
    for i in range(16):
        A._memo_put((i,), i)
    assert A._memo_get((0,)) == 0  # now the most recently used
    A._memo_put((16,), 16)
    assert len(A._CENTROID_CACHE) == 16
    assert A._memo_get((1,)) is None
    assert A._memo_get((0,)) == 0


def test_pq_adc_finds_planted_near_duplicate(spark):
    from dataqtor_spark.operators import ann as ANN

    # structured corpus: 4 well-separated archetype directions, members
    # jittered around them; a query's nearest (its own archetype twin)
    # must rank in the ADC top-3 even through 4x8 codebook compression
    import itertools
    rows = []
    vid = 0
    for a in range(4):
        base = [1.0 if (i // 16) == a else 0.05 * ((i * 7 + a) % 5 - 2)
                for i in range(64)]
        for mbr in range(25):
            jit = [x + 0.01 * ((vid + i) % 7 - 3) for i, x in enumerate(base)]
            rows.append((vid, jit))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin(0, 25, 50, 75))
    rows_out = ANN.pq_topk_portable(df, queries, "vec_id", "embedding",
                                    k=3, m=4, ks=8, n_iter=2).collect()
    # every ADC hit is a same-archetype member (cross-archetype cosine is
    # near zero, same-archetype near one — the codes must preserve that
    # separation; WITHIN an archetype the jitter sits below quantization
    # resolution, so member-level ordering is legitimately tie-broken)
    arch = lambda v: v // 25
    assert len(rows_out) == 12
    assert all(arch(r["query_id"]) == arch(r["neighbor_id"])
               for r in rows_out)
    assert all(r["adc_cosine"] > 0.9 for r in rows_out)


def test_ivfpq_residual_beats_plain_on_clustered_data(spark):
    from dataqtor_spark.operators import ann as ANN

    # archetype corpus (see the PQ ADC test): coarse clusters land on the
    # archetypes, so residuals carry ONLY the member jitter — quantizing
    # them recovers member-level ordering that direct-x codes collapse
    rows = []
    vid = 0
    for a in range(4):
        base = [1.0 if (i // 16) == a else 0.05 * ((i * 7 + a) % 5 - 2)
                for i in range(64)]
        for _mbr in range(25):
            jit = [x + 0.01 * ((vid + i) % 7 - 3) for i, x in enumerate(base)]
            rows.append((vid, jit))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin(0, 25, 50, 75))
    exact = ANN.brute_force_topk(df, queries, "vec_id", "embedding", k=3)
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(residual):
        got = ANN.ivfpq_topk_portable(
            df, queries, "vec_id", "embedding", k=3, n_clusters=4,
            n_probe=2, m=4, ks=8, n_iter=2, residual=residual)
        hits = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
        return len(want & hits) / len(want), hits

    plain_r, _ = recall(False)
    res_r, res_hits = recall(True)
    assert res_r >= plain_r          # residual codes can't do worse here
    assert res_r >= 0.5              # and actually recover member order
    again_r, again_hits = recall(True)
    assert again_hits == res_hits    # deterministic


def test_chunking_overlap_semantics(spark):
    from dataqtor_spark.operators import textstats as TX

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "")],
                               "doc_id long, text string")
    rows = TX.chunk_documents(df, max_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts at tokens 0, 30, 60, 90 → 4 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    assert len(c1) == 4
    assert c1[0]["n_chunk_tokens"] == 40
    assert c1[0]["chunk_text"].split()[:2] == ["w0", "w1"]
    assert c1[1]["chunk_text"].split()[0] == "w30"   # step = 30
    # consecutive chunks share `overlap` tokens
    assert c1[0]["chunk_text"].split()[-10:] == c1[1]["chunk_text"].split()[:10]
    assert c1[3]["n_chunk_tokens"] == 10             # tail chunk
    assert by_doc[2][0]["chunk_text"] == "short doc"
    # empty doc → one empty-token chunk filtered out entirely
    assert 3 not in by_doc or all(r["chunk_text"] for r in by_doc[3])


def test_pii_scrub(spark):
    from dataqtor_spark.operators import textstats as TX

    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@ex-co.org or call +90 555 123 45 67 room 12")],
        "doc_id long, text string")
    got = TX.scrub_pii(df).collect()[0]["text"]
    assert "<EMAIL>" in got and "<PHONE>" in got and "<NUM>" in got
    assert "jo.doe" not in got and "555" not in got


def _cc_pairs(spark):
    # chain 1-2-3-4-5 (diameter 4), clique {10,11,12}, isolated pair {20,21}
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "id_a long, id_b long")


def test_connected_components_chain_and_cliques(spark):
    comp = {r["id"]: r["component"]
            for r in D.connected_components(_cc_pairs(spark)).collect()}
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert {comp[i] for i in (10, 11, 12)} == {10}
    assert {comp[i] for i in (20, 21)} == {20}


def test_connected_components_null_endpoints(spark, monkeypatch):
    """A NULL endpoint is not a node and links nothing; its non-NULL
    partner is still a node — on the driver and the distributed path."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 7), (3, 1), (None, None)],
        "id_a long, id_b long")
    want = [(1, 1), (2, 1), (3, 1), (5, 5), (7, 7)]
    assert sorted(D.connected_components(pairs).collect()) == want
    monkeypatch.setattr(D, "_CC_DRIVER_EDGES_MAX", 0)
    assert sorted(D.connected_components(pairs).collect()) == want


def test_connected_components_reliable_checkpoint_path(spark, tmp_path,
                                                       monkeypatch):
    """With a checkpoint dir set, every CC barrier is a RELIABLE checkpoint
    (durable at cluster scale): same components, checkpoint files land
    under the dir, and the call leaves the dir setting as it found it.
    (The distributed loop: the driver path writes no barrier.)"""
    monkeypatch.setattr(D, "_CC_DRIVER_EDGES_MAX", 0)
    sc = spark.sparkContext
    ckpt = tmp_path / "cc_ckpt"
    want = {r["id"]: r["component"]
            for r in D.connected_components(_cc_pairs(spark)).collect()}
    sc.setCheckpointDir(str(ckpt))
    try:
        set_to = sc.getCheckpointDir()
        got = {r["id"]: r["component"]
               for r in D.connected_components(_cc_pairs(spark)).collect()}
        assert sc.getCheckpointDir() == set_to
    finally:
        # clear, never "restore" a prior dir string: setCheckpointDir
        # nests a fresh UUID subdir under whatever it is given
        sc.setCheckpointDir(None)
    assert got == want
    landed = [p for p in ckpt.rglob("*") if p.is_file()]
    assert landed, "reliable checkpoint wrote nothing under the dir"


def _cc_temp_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(),
                                      "dataqtor_cc_*")))


def test_shard_assignment_uniform_and_stable(spark, tables):
    from dataqtor_spark.operators import textstats as TX

    docs = tables["documents"]
    n = docs.count()
    out = TX.assign_shards(docs, "doc_id", n_shards=8)
    counts = {r["shard"]: r["n"] for r in
              out.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == set(range(8))
    # rough uniformity: every shard within ±50% of the mean
    mean = n / 8
    assert all(0.5 * mean <= c <= 1.5 * mean for c in counts.values()), counts
    # deterministic: same assignment on recompute
    again = {r["shard"]: r["n"] for r in
             TX.assign_shards(docs, "doc_id", n_shards=8)
             .groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == again
    # different seed → different permutation (almost surely)
    other = {r["shard"]: r["n"] for r in
             TX.assign_shards(docs, "doc_id", n_shards=8, seed=99)
             .groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(other) == set(range(8))


def test_sequence_packing_budget(spark):
    from dataqtor_spark.operators import textstats as TX

    text = " ".join(f"w{i}" for i in range(1000))
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    chunks = TX.assign_shards(
        TX.chunk_documents(df, max_tokens=100, overlap=0), "doc_id", 1)
    packed = TX.pack_sequences(chunks, token_budget=300)
    bins = {}
    for r in packed.collect():
        bins.setdefault(r["bin"], 0)
        bins[r["bin"]] += r["n_chunk_tokens"]
    # each bin ≤ budget + one chunk (greedy boundary), bins contiguous
    assert set(bins) == set(range(len(bins)))
    assert all(v <= 300 + 100 for v in bins.values())
    assert sum(bins.values()) == 2000


def test_vocab_and_unigram_logprob(spark):
    import math

    from dataqtor_spark.operators import textstats as TX

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog"), (3, "  "), (4, "THE the")],
        "doc_id long, text string")
    v = {r["token"]: r["count"] for r in TX.vocab(df, "text", "doc_id").collect()}
    assert v == {"the": 4, "cat": 1, "sat": 1, "dog": 1}
    top = TX.vocab(df, "text", "doc_id", top_k=2).collect()
    assert [(r["token"], r["rank"]) for r in
            sorted(top, key=lambda r: r["rank"])] == [("the", 1), ("cat", 2)]

    nll = {r["doc_id"]: r for r in TX.unigram_logprob(df, "doc_id", "text").collect()}
    assert 3 not in nll  # blank doc has no tokens
    total = 7
    want2 = -(math.log(4 / total) + math.log(1 / total)) / 2
    assert abs(nll[2]["nll"] - round(want2, 6)) < 1e-9
    assert nll[4]["n_tokens"] == 2 and abs(nll[4]["nll"] - round(-math.log(4 / total), 6)) < 1e-9


def test_decontaminate_flags_overlap(spark):
    from dataqtor_spark.operators import textstats as TX

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # contains bench 5-gram
         (2, "one two three four five six"),
         (3, "alpha beta gamma X delta epsilon")],     # broken 5-gram: clean
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           TX.decontaminate(corpus, bench, "doc_id", "text", shingle_n=5).collect()}
    assert out[1]["contaminated"] and out[1]["shared_shingles"] == 1
    assert not out[2]["contaminated"] and out[2]["shared_shingles"] == 0
    assert not out[3]["contaminated"]
    assert set(out) == {1, 2, 3}  # every corpus row present


def test_select_survivors_quality_argmax(spark):
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "id long, component long")
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.5), (8, 0.5)],
        "doc_id long, quality_score double")
    out = {r["doc_id"]: r for r in
           D.select_survivors(comp, scores).collect()}
    # component 1: 2 and 3 tie on score -> lowest id (2) wins
    assert out[2]["keep"] and out[2]["survivor_id"] == 2
    assert not out[3]["keep"] and out[3]["survivor_id"] == 2
    assert not out[1]["keep"]
    # component 7: tie -> 7 wins
    assert out[7]["keep"] and not out[8]["keep"]
    assert len(out) == 5


def test_embedding_quantize_and_normalize(spark):
    from dataqtor_spark.operators import embeddings as EB

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    q = {(r["vec_id"], r["dim"]): r for r in
         EB.quantize_int8(df, "vec_id", "embedding").collect()}
    # scale = round(1/127, 9) = 0.007874016, so -0.5/scale = -63.49998 -> -63
    assert q[(1, 0)]["q"] == 127 and q[(1, 1)]["q"] == -63
    assert q[(1, 2)]["q"] == 32 and q[(1, 3)]["q"] == 0
    assert all(q[(2, d)]["q"] == 0 for d in range(4))  # zero vector stays zero
    # max relative reconstruction error <= 0.5 * scale
    for (vid, d), r in q.items():
        if vid == 1:
            orig = [1.0, -0.5, 0.25, 0.0][d]
            assert abs(r["q"] * r["scale"] - orig) <= 0.5 * r["scale"] + 1e-12

    norm = EB.l2_normalize(df, "embedding").collect()
    by_id = {r["vec_id"]: r["normalized"] for r in norm}
    n1 = sum(x * x for x in by_id[1]) ** 0.5
    assert abs(n1 - 1.0) < 1e-12
    assert by_id[2] == [0.0, 0.0, 0.0, 0.0]


def test_embedding_dim_stats(spark):
    from dataqtor_spark.operators import embeddings as EB

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0]), (3, [2.0, 5.0])],
        "vec_id long, embedding array<double>")
    st = {r["dim"]: r for r in EB.dim_stats(df, "embedding").collect()}
    assert st[0]["mean"] == 2.0 and st[0]["min"] == 1.0 and st[0]["max"] == 3.0
    assert st[0]["n_zero"] == 0 and st[1]["n_zero"] == 2
    assert st[0]["std"] == 1.0


def test_embedding_drift_detects_planted_shift(spark):
    import pyspark.sql.functions as F

    from dataqtor_spark.operators import embeddings as EB

    # snapshot A along +x, snapshot B along +y, B at 3x the norm:
    # centroid cosine collapses to 0, norm means split 1 vs 3
    rows = [(i, [1.0, 0.0]) for i in range(4)] + \
           [(10 + i, [0.0, 3.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = EB.embedding_drift(df, F.col("vec_id") < 10, "vec_id").collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 4
    assert r["centroid_cosine"] == 0.0
    assert r["norm_mean_a"] == 1.0 and r["norm_mean_b"] == 3.0
    # every vector IS its snapshot centroid direction
    assert r["cohesion_a"] == 1.0 and r["cohesion_b"] == 1.0

    # no drift: identical snapshots agree on every number
    same = [(i, [0.6, 0.8]) for i in range(6)]
    df2 = spark.createDataFrame(same, "vec_id long, embedding array<double>")
    r2 = EB.embedding_drift(df2, F.col("vec_id") % 2 == 0, "vec_id") \
        .collect()[0]
    assert r2["centroid_cosine"] == 1.0
    assert r2["cohesion_a"] == 1.0 and r2["cohesion_b"] == 1.0
    assert r2["norm_mean_a"] == 1.0 and r2["norm_mean_b"] == 1.0


def test_ivf_at_rest_prunes_partitions(spark, tables, tmp_path):
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    path = str(tmp_path / "ivf_index")
    ANN.write_ivf_index(emb, path, "vec_id", "embedding", n_clusters=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 8)

    at_rest = ANN.ivf_topk_at_rest(spark, path, queries, "vec_id", "embedding",
                                   k=5, n_probe=3)
    live = ANN.ivf_topk_portable(emb, queries, "vec_id", "embedding",
                                 k=5, n_clusters=8, n_probe=3, n_iter=2)
    assert sorted(map(tuple, at_rest.collect())) == sorted(map(tuple, live.collect()))

    # the probe scan must carry partition filters on the cluster directory
    # column — i.e. the read is pruned, not a full-index scan
    probed = ANN.ivf_topk_at_rest(spark, path, queries, "vec_id", "embedding",
                                  k=5, n_probe=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan.split("PartitionFilters", 1)[1][:400]


def test_filtered_ann_at_rest_pushes_filter_and_matches_live(
        spark, tables, tmp_path):
    """Filtered ANN over the STORED index (the ann14 path): the metadata
    predicate must land as PushedFilters in the pruned scan ALONGSIDE the
    cluster PartitionFilters (the ann.py docstring's claim), with results
    identical to the live ivf_topk_portable path under the same
    corpus_filter (pre-filter semantics: quantizer keeps the full
    corpus's geometry)."""
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    path = str(tmp_path / "ivf_filt_index")
    ANN.write_ivf_index(emb, path, "vec_id", "embedding",
                        n_clusters=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 8)
    pred = F.col("vec_id") >= 100
    at_rest = ANN.ivf_topk_at_rest(spark, path, queries, "vec_id",
                                   "embedding", k=5, n_probe=3,
                                   corpus_filter=pred)
    live = ANN.ivf_topk_portable(emb, queries, "vec_id", "embedding",
                                 k=5, n_clusters=8, n_probe=3, n_iter=2,
                                 corpus_filter=pred)
    assert (sorted(map(tuple, at_rest.collect()))
            == sorted(map(tuple, live.collect())))
    # every neighbor satisfies the predicate (pre-filter semantics)
    assert all(r["neighbor_id"] >= 100 for r in at_rest.collect())
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, "index scan must carry PartitionFilters"
    assert "__cluster" in scan[0].split("PartitionFilters", 1)[1][:400]
    assert ("PushedFilters" in scan[0]
            and "vec_id" in scan[0].split("PushedFilters", 1)[1][:200]), \
        "metadata predicate must push into the pruned scan"
    # IVF-PQ twin accepts the same filter over the code table
    pq_path = str(tmp_path / "ivfpq_filt_index")
    ANN.write_ivfpq_index(emb, pq_path, "vec_id", "embedding",
                          n_clusters=8, m=4, ks=8, n_iter=2)
    pq = ANN.ivfpq_topk_at_rest(spark, pq_path, queries, "vec_id",
                                "embedding", k=5, n_probe=3,
                                corpus_filter=pred)
    rows = pq.collect()
    assert rows and all(r["neighbor_id"] >= 100 for r in rows)
    pq_plan = pq._jdf.queryExecution().executedPlan().toString()
    pq_scan = [ln for ln in pq_plan.splitlines() if "PartitionFilters" in ln]
    # the PQ layout stores the id as neighbor_id; the user-facing filter
    # (written against vec_id) must still push through the alias
    assert pq_scan and "PushedFilters" in pq_scan[0] \
        and "neighbor_id" in pq_scan[0].split("PushedFilters", 1)[1][:200]


def test_sq8_at_rest_prunes_quantizes_and_recalls(spark, tables, tmp_path):
    """SQ8 index: the stored layout holds int8 codes + integer-exact
    norms (no raw vectors), the probe scan partition-prunes, cosines sit
    within the int8 quantization error of the exact raw-vector IVF path,
    and recall@5 vs that path stays high."""
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    path = str(tmp_path / "sq8_index")
    ANN.write_sq8_index(emb, path, "vec_id", "embedding",
                        n_clusters=8, n_iter=2)
    stored = spark.read.parquet(f"{path}/corpus")
    assert set(stored.columns) == {"neighbor_id", "__scale", "codes",
                                   "__rn", "__cluster"}
    row = stored.limit(1).collect()[0]
    assert all(-127 <= q <= 127 for q in row["codes"])
    queries = emb.filter(F.col("vec_id") < 8)
    sq8 = ANN.sq8_topk_at_rest(spark, path, queries, "vec_id", "embedding",
                               k=5, n_probe=3)
    plan = sq8._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and "__cluster" in scan[0].split("PartitionFilters", 1)[1][:400]
    assert "codes#" in scan[0] and "embedding#" not in scan[0], \
        "serving must read codes, never raw vectors"
    exact = ANN.ivf_topk_portable(emb, queries, "vec_id", "embedding",
                                  k=5, n_clusters=8, n_probe=3, n_iter=2)
    ex = {(r["query_id"], r["neighbor_id"]): r["cosine"]
          for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in sq8.collect()}
    overlap = len(set(ex) & set(got))
    assert overlap >= int(0.8 * len(ex)), f"recall@5 too low: {overlap}/{len(ex)}"
    for key in set(ex) & set(got):
        assert abs(ex[key] - got[key]) < 0.02  # int8 error envelope


def test_ivfpq_at_rest_matches_portable_and_prunes(spark, tables, tmp_path):
    """The persisted IVF-PQ layout serves IDENTICAL results to the live
    ivfpq_topk_portable path with the same training params (training is
    deterministic, the index stores codes + norms), and the probe scan
    is partition-pruned on the coarse cluster directories."""
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    path = str(tmp_path / "ivfpq_index")
    ANN.write_ivfpq_index(emb, path, "vec_id", "embedding",
                          n_clusters=8, m=4, ks=8, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 8)
    at_rest = ANN.ivfpq_topk_at_rest(spark, path, queries, "vec_id",
                                     "embedding", k=5, n_probe=3)
    live = ANN.ivfpq_topk_portable(emb, queries, "vec_id", "embedding",
                                   k=5, n_clusters=8, n_probe=3,
                                   m=4, ks=8, n_iter=2)
    assert (sorted(map(tuple, at_rest.collect()))
            == sorted(map(tuple, live.collect())))
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert ("PartitionFilters" in plan
            and "__cluster" in plan.split("PartitionFilters", 1)[1][:400])
    # the pruned FileScan reads the code table (codes + stored norm) —
    # raw vectors are not even stored in the index layout
    pruned = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pruned and "codes#" in pruned[0] and "__rn#" in pruned[0]
    # codebook sidecar round-trips the trainer's shape
    sub, books = ANN.load_pq_codebooks(spark, path)
    sub2, books2 = ANN.train_pq_codebooks_portable(
        emb, "vec_id", "embedding", m=4, ks=8, n_iter=2)
    assert sub == sub2
    assert [[(c, [round(x, 9) for x in v]) for c, v in b] for b in books] \
        == [[(c, [round(x, 9) for x in v]) for c, v in b] for b in books2]


def test_ivfpq_append_serves_new_vectors(spark, tables, tmp_path):
    """append_to_ivfpq_index: vectors appended with the STORED quantizers
    become retrievable through the same partition-pruned probes — an
    exact duplicate of a query vector appended post-build must surface
    as its top ADC neighbor."""
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    path = str(tmp_path / "ivfpq_app")
    ANN.write_ivfpq_index(emb, path, "vec_id", "embedding",
                          n_clusters=8, m=4, ks=8, n_iter=2)
    delta = (emb.filter(F.col("vec_id") < 4)
             .select((F.col("vec_id") + 50000).alias("vec_id"),
                     F.col("embedding")))
    ANN.append_to_ivfpq_index(delta, path, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 4)
    got = ANN.ivfpq_topk_at_rest(spark, path, queries, "vec_id",
                                 "embedding", k=3, n_probe=3)
    top = {r["query_id"]: r["neighbor_id"]
           for r in got.filter(F.col("rank") == 1).collect()}
    # identical vector -> identical codes -> maximal ADC cosine; min-id
    # tiebreak can prefer another exact-dup id, so assert the clone is
    # in the top ranks with the query's own ADC self-similarity
    ranked = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    for q in range(4):
        assert (q, q + 50000) in ranked or top.get(q) == q + 50000, (
            q, sorted(p for p in ranked if p[0] == q))


def test_edit_distance_pairs_matches_quadratic(spark, tables):
    from pyspark.sql import functions as F
    from dataqtor_spark.operators import dedup as DD

    c = tables["customer"].select("c_custkey", "c_nationkey", "c_name")
    a, b = c.alias("a"), c.alias("b")
    quad = (a.join(b, (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
                   & (F.col("a.c_custkey") < F.col("b.c_custkey")))
            .filter(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
            .select(F.col("a.c_custkey").alias("id_a"),
                    F.col("b.c_custkey").alias("id_b")))
    sym = DD.edit_distance_pairs(c, "c_custkey", "c_name",
                                 block_col="c_nationkey")
    assert ({(r.id_a, r.id_b) for r in quad.collect()}
            == {(r.id_a, r.id_b) for r in sym.collect()})


def test_edit_distance_pairs_insertions(spark):
    from dataqtor_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abcd"),   # insertion: dist 1
         (3, "axc"),                # substitution vs abc: dist 1
         (4, "zzz")],               # unrelated
        "id long, s string")
    got = {(r.id_a, r.id_b)
           for r in DD.edit_distance_pairs(df, "id", "s").collect()}
    assert got == {(1, 2), (1, 3)}


def test_connected_components_deep_chain(spark, monkeypatch):
    from pyspark.sql import functions as F
    from dataqtor_spark.operators import dedup as DD

    # a 5000-node path: diameter far beyond any per-round propagation;
    # pointer jumping must converge in O(log n) spill rounds of the
    # distributed loop
    monkeypatch.setattr(DD, "_CC_DRIVER_EDGES_MAX", 0)
    e = spark.range(4999).select(F.col("id").alias("id_a"),
                                 (F.col("id") + 1).alias("id_b"))
    before = _cc_temp_dirs()
    comp = DD.connected_components(e)
    rows = comp.agg(F.countDistinct("component").alias("c"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
    assert rows.c == 1 and rows.n == 5000
    # 13 rounds, two of them parquet barriers: the temp dir is gone
    assert _cc_temp_dirs() - before == set()


def test_connected_components_temp_dir_gone_on_every_exit(spark,
                                                         monkeypatch):
    """A 50-node path converges on round 6, a parquet round: the result is
    the previous round's memory barrier, so the temp dir can go.  A
    300-node path needs 9 rounds, so max_iter=6 raises after one parquet
    round: the dir goes on that exit too.  (The distributed loop.)"""
    from pyspark.sql import functions as F

    monkeypatch.setattr(D, "_CC_DRIVER_EDGES_MAX", 0)

    def path(n):
        return spark.range(n - 1).select(F.col("id").alias("id_a"),
                                         (F.col("id") + 1).alias("id_b"))

    before = _cc_temp_dirs()
    comp = D.connected_components(path(50))
    assert _cc_temp_dirs() - before == set()
    assert sorted((r["id"], r["component"]) for r in comp.collect()) \
        == [(i, 0) for i in range(50)]
    with pytest.raises(RuntimeError, match="not stable after 6 rounds"):
        D.connected_components(path(300), max_iter=6)
    assert _cc_temp_dirs() - before == set()


def test_semantic_dedup_keeps_min_id_of_similar_group(spark):
    from dataqtor_spark.operators import dedup as DD

    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.001, 0.0, 0.0]),   # ~identical to 1
            (3, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
            (4, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = {r.id: r.keep
           for r in DD.semantic_dedup(df, "id", "vec", threshold=0.95,
                                      n_clusters=2).collect()}
    assert out[1] is True and out[2] is False
    assert out[3] is True and out[4] is True


def test_paragraph_dedup_drops_cross_doc_chunks(spark):
    from dataqtor_spark.operators import textstats as TX

    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [(1, boiler + " " + " ".join(f"u{i}" for i in range(10))),
            (2, boiler + " " + " ".join(f"v{i}" for i in range(10))),
            (3, " ".join(f"w{i}" for i in range(10)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.paragraph_dedup(
        df, chunk_tokens=10).collect()}
    assert out[1].n_chunks == 2 and out[1].n_dropped == 1
    assert out[1].clean_text == " ".join(f"u{i}" for i in range(10))
    assert out[2].n_dropped == 1
    assert out[3].n_dropped == 0 and out[3].clean_text == rows[2][1]


def test_paragraph_dedup_all_shared_gives_empty_text(spark):
    from dataqtor_spark.operators import textstats as TX

    t = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    out = {r.doc_id: r for r in TX.paragraph_dedup(
        df, chunk_tokens=10).collect()}
    assert out[1].clean_text == "" and out[1].n_dropped == 1


def test_ivf_append_visible_to_probe_without_rebuild(spark, tables, tmp_path):
    import os

    from pyspark.sql import functions as F
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    path = str(tmp_path / "ivf")
    ANN.write_ivf_index(emb, path, "vec_id", "embedding", n_clusters=4)
    files_before = {os.path.join(r, f) for r, _d, fs in
                    os.walk(f"{path}/corpus") for f in fs
                    if f.endswith(".parquet")}

    # append clones of the first 3 vectors under new ids
    new = (emb.limit(3)
           .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                   "embedding", "label"))
    ANN.append_to_ivf_index(new, path, "vec_id", "embedding")

    files_after = {os.path.join(r, f) for r, _d, fs in
                   os.walk(f"{path}/corpus") for f in fs
                   if f.endswith(".parquet")}
    assert files_before < files_after          # strictly additive
    # a clone is its original's exact neighbor: probe must surface it
    q = emb.limit(3)
    got = ANN.ivf_topk_at_rest(spark, path, q, "vec_id", "embedding",
                               k=3, n_probe=2)
    top1 = {r["query_id"]: r["neighbor_id"]
            for r in got.filter("rank = 1").collect()}
    for qid, nid in top1.items():
        assert nid == qid + 1_000_000


def test_hard_negatives_excludes_same_label(spark):
    rows = [(1, [1.0, 0.0], "a"), (2, [0.99, 0.14], "a"),
            (3, [0.95, 0.31], "b"), (4, [0.0, 1.0], "b"),
            (5, [0.9, 0.44], "a")]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = {r["rank"]: r for r in A.hard_negatives(
        df, df.filter(F.col("vec_id") == 1), "vec_id", "embedding",
        "label", k=2).collect()}
    # nearest overall is 2 (same label, excluded); hard negatives are the
    # closest b-labeled vectors: 3 then 4
    assert got[1]["neighbor_id"] == 3 and got[1]["neighbor_label"] == "b"
    assert got[2]["neighbor_id"] == 4
    assert all(r["query_label"] == "a" for r in got.values())


def test_mips_augmentation_reduces_to_cosine_order(spark):
    """Norm-augmented cosine ranking must reproduce exact dot-product
    ranking — the reduction that lets LSH/IVF/PQ serve MIPS."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import ann as ANN

    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-2, 2) for _ in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = {(r["query_id"], r["rank"]): r["neighbor_id"]
             for r in ANN.mips_topk(emb, queries, "vec_id", "embedding",
                                    k=5).collect()}
    aug_c, aug_q = ANN.mips_augment(emb, queries, "vec_id", "embedding")
    via_cos = {(r["query_id"], r["rank"]): r["neighbor_id"]
               for r in ANN.brute_force_topk(
                   aug_c, aug_q, "vec_id", "embedding", k=5).collect()}
    assert via_cos == exact
    # augmented corpus norms are all the max norm (constant M)
    norms = [r["n"] for r in aug_c.select(
        ANN.l2_norm(F.col("embedding")).alias("n")).collect()]
    assert max(norms) - min(norms) < 1e-9


def test_stream_ivf_ingest_sink_appends_and_replays(spark, tables, tmp_path):
    """Streaming index maintenance: micro-batches of new embeddings land
    in the partitioned IVF layout with stored-centroid assignment; the
    epoch ledger makes recovery replays no-ops; a full probe over the
    grown index is exact."""
    from dataqtor_spark.operators import ann as ANN
    from dataqtor_spark.streaming import profiler as SP

    emb = tables["embeddings"]
    seed = emb.filter(F.col("vec_id") < 40)
    path = str(tmp_path / "ivf_stream_index")
    ANN.write_ivf_index(seed, path, "vec_id", "embedding",
                        n_clusters=4, n_iter=2)
    n0 = spark.read.parquet(f"{path}/corpus").count()

    src = str(tmp_path / "emb_src")
    ck = str(tmp_path / "ivf_ck")
    b1 = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    b2 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    b1.write.mode("overwrite").parquet(src)
    SP.stream_ivf_ingest_sink(
        spark.readStream.schema(b1.schema).parquet(src), path, ck
    ).awaitTermination()
    b2.write.mode("append").parquet(src)
    SP.stream_ivf_ingest_sink(
        spark.readStream.schema(b1.schema).parquet(src), path, ck
    ).awaitTermination()

    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == n0 + 40
    assert {r["vec_id"] for r in corpus.select("vec_id").collect()} \
        == set(range(80))
    # checkpoint-recovery replay of an already-ledgered epoch: no-op
    assert SP.ivf_ingest_batch(b1, 0, path, "vec_id", "embedding") is False
    assert spark.read.parquet(f"{path}/corpus").count() == n0 + 40

    # the grown index is EXACT under a full probe (placement only
    # affects pruning, and every cluster is scanned here)
    queries = emb.filter(F.col("vec_id") < 4)
    full80 = emb.filter(F.col("vec_id") < 80)
    at_rest = ANN.ivf_topk_at_rest(spark, path, queries, "vec_id",
                                   "embedding", k=5, n_probe=4)
    brute = ANN.brute_force_topk(full80, queries, "vec_id", "embedding",
                                 k=5)
    assert sorted(map(tuple, at_rest.collect())) \
        == sorted(map(tuple, brute.collect()))


def test_stream_ivfpq_ingest_sink_appends_and_replays(spark, tables,
                                                      tmp_path):
    """PQ-coded streaming index maintenance: micro-batches are encoded
    with the STORED codebooks into the partitioned code layout; the
    epoch ledger makes recovery replays no-ops; serving over the grown
    index equals the portable path over the same union corpus with the
    same (seed-trained) quantizers."""
    from dataqtor_spark.operators import ann as ANN
    from dataqtor_spark.streaming import profiler as SP

    emb = tables["embeddings"]
    seed = emb.filter(F.col("vec_id") < 40)
    path = str(tmp_path / "ivfpq_stream_index")
    ANN.write_ivfpq_index(seed, path, "vec_id", "embedding",
                          n_clusters=4, m=4, ks=8, n_iter=2)
    n0 = spark.read.parquet(f"{path}/corpus").count()

    src = str(tmp_path / "pq_emb_src")
    ck = str(tmp_path / "ivfpq_ck")
    b1 = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 60))
    b2 = emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 80))
    b1.write.mode("overwrite").parquet(src)
    SP.stream_ivfpq_ingest_sink(
        spark.readStream.schema(b1.schema).parquet(src), path, ck
    ).awaitTermination()
    b2.write.mode("append").parquet(src)
    SP.stream_ivfpq_ingest_sink(
        spark.readStream.schema(b1.schema).parquet(src), path, ck
    ).awaitTermination()

    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == n0 + 40
    assert {r["neighbor_id"] for r in
            corpus.select("neighbor_id").collect()} == set(range(80))
    # ledgered-epoch replay: no-op
    assert SP.ivfpq_ingest_batch(b1, 0, path, "vec_id",
                                 "embedding") is False
    assert spark.read.parquet(f"{path}/corpus").count() == n0 + 40

    # serving over the grown index == the portable IVF-PQ path over the
    # union corpus with quantizers trained on the SEED corpus (the
    # stored sidecars pin training; cache_key replays it for portable)
    queries = emb.filter(F.col("vec_id") < 4)
    got = ANN.ivfpq_topk_at_rest(spark, path, queries, "vec_id",
                                 "embedding", k=5, n_probe=4)
    coarse = ANN.load_ivf_centroids(spark, path)
    sub, books = ANN.load_pq_codebooks(spark, path)
    full80 = emb.filter(F.col("vec_id") < 80)
    enc = ANN._ivfpq_encode_frame(full80, "vec_id", "embedding",
                                  coarse, sub, books)
    # replicate the at-rest scorer over the in-memory encode to prove
    # the stored codes are exactly the stored-quantizer encode
    stored = (spark.read.parquet(f"{path}/corpus")
              .select("neighbor_id", "codes", "__rn", "__cluster"))
    diff = (enc.select("neighbor_id", "codes", "__rn", "__cluster")
            .exceptAll(stored))
    assert diff.count() == 0
    assert got.count() == 4 * 5


def test_two_stage_rerank_recall_dominates_adc(spark, tables):
    """Exact re-scoring of a k'-deep ADC shortlist can only improve
    recall@k over cutting the ADC ranking at k directly — and within the
    shortlist the final order must equal exact brute-force order."""
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 8)
    kw = dict(n_clusters=8, n_probe=3, m=4, ks=16, n_iter=2)
    truth = {(r["query_id"], r["neighbor_id"]) for r in ANN.brute_force_topk(
        emb, queries, "vec_id", "embedding", k=5).collect()}
    adc = {(r["query_id"], r["neighbor_id"]) for r in
           ANN.ivfpq_topk_portable(emb, queries, "vec_id", "embedding",
                                   k=5, **kw).collect()}
    short = ANN.ivfpq_topk_portable(emb, queries, "vec_id", "embedding",
                                    k=20, **kw)
    rr = ANN.rerank_topk(short, emb, "vec_id", "embedding", k=5)
    rr_pairs = {(r["query_id"], r["neighbor_id"]) for r in rr.collect()}
    assert len(rr_pairs & truth) >= len(adc & truth)
    # within-shortlist exactness: rerank cosines equal brute cosines
    brute = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in ANN.brute_force_topk(emb, queries, "vec_id",
                                           "embedding", k=499).collect()}
    for r in rr.collect():
        assert r["cosine"] == brute[(r["query_id"], r["neighbor_id"])]


def test_minhash_decontaminate_planted_paraphrase(spark):
    """A train doc that is a light paraphrase of a benchmark doc (one
    word changed in 30) is flagged with high estimated Jaccard; an
    unrelated doc is not; exact copies score 1.0."""
    from dataqtor_spark.operators import dedup as DD

    base = " ".join(f"tok{i}" for i in range(30))
    near = base.replace("tok7", "changed")
    other = " ".join(f"zzz{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, near), (2, other), (3, base)], "doc_id long, text string")
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in DD.minhash_decontaminate(
        corpus, bench, "doc_id", "text", threshold=0.5).collect()}
    assert 3 in got and got[3]["max_est_jaccard"] == 1.0
    assert 1 in got and got[1]["max_est_jaccard"] >= 0.5
    assert 2 not in got
    assert got[1]["n_bench_hits"] == 1


def test_filtered_ann_pre_filter_semantics(spark, tables):
    """corpus_filter restricts eligible neighbors without moving the
    quantizer: every returned neighbor satisfies the predicate, results
    equal brute force restricted to the same subset on queries whose
    probed clusters hold >= k eligible vectors, and the unfiltered run
    is unchanged by the parameter's existence."""
    from dataqtor_spark.operators import ann as ANN

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") < 4)
    kw = dict(k=3, n_clusters=4, n_probe=4, n_iter=2)   # full probe
    got = ANN.ivf_topk_portable(
        emb, queries, "vec_id", "embedding",
        corpus_filter=F.pmod(F.col("vec_id"), F.lit(2)) == 0, **kw)
    rows = got.collect()
    assert rows and all(r["neighbor_id"] % 2 == 0 for r in rows)
    # full probe => IVF == exact brute force over the filtered subset
    brute = ANN.brute_force_topk(
        emb.filter(F.col("vec_id") % 2 == 0), queries,
        "vec_id", "embedding", k=3)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, brute.collect()))


def test_minhash_threshold_sensitivity_monotone(spark):
    """The tuning table is monotone non-increasing in the threshold, keeps
    zero-hit rows, and the exact-duplicate pair survives every cutoff."""
    from dataqtor_spark.operators import dedup as DD

    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(28)) + " zz yy"
    rows = [(1, base), (2, base), (3, near),
            (4, " ".join(f"q{i}" for i in range(30)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["threshold_pct"]: r for r in DD.minhash_threshold_sensitivity(
        df, thresholds_pct=(25, 50, 99), shingle_n=3).collect()}
    assert set(out) == {25, 50, 99}
    assert out[25]["n_pairs"] >= out[50]["n_pairs"] >= out[99]["n_pairs"]
    assert out[25]["n_docs_flagged"] >= out[99]["n_docs_flagged"]
    assert out[99]["n_pairs"] >= 1          # the exact twin (1,2)
    assert out[99]["n_docs_flagged"] >= 2


def test_ann16_recall_sweep_monotone(spark, tables):
    """More probes never lose recall; full-probe (= n_clusters) recall
    is 1.0 on the IVF path (every candidate scanned)."""
    import os

    from dataqtor_spark.queries import QUERIES
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    rows = {r["n_probe"]: r for r in
            QUERIES["ann16_nprobe_recall_sweep"](spark, sf).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["recall"] <= rows[2]["recall"] <= rows[3]["recall"]
    assert all(r["n_brute"] == 40 for r in rows.values())


def test_quantize_int8_clamps_codes_to_int8_range(spark):
    """When round(max|v|/127, 9) rounds the scale DOWN, v/scale can land
    above 127 — codes must clamp to ±127, never emit ±128.  max=1.6e-7:
    scale_raw=1.2598e-9 → 9dp round → 1e-9, and 1.6e-7/1e-9 = 160."""
    from dataqtor_spark.operators import embeddings as EB

    df = spark.createDataFrame(
        [(1, [1.6e-7, -1.6e-7, 0.0, 8e-8])],
        "vec_id long, embedding array<double>")
    got = {r["dim"]: r for r in
           EB.quantize_int8(df, "vec_id", "embedding").collect()}
    assert got[0]["scale"] == pytest.approx(1e-9)
    assert got[0]["q"] == 127 and got[1]["q"] == -127
    assert all(-127 <= r["q"] <= 127 for r in got.values())


def test_sq8_index_codes_clamped(spark, tmp_path):
    """write_sq8_index applies the same ±127 clamp as quantize_int8."""
    df = spark.createDataFrame(
        [(i, [1.6e-7 if i % 2 else 1.0, -1.6e-7, 0.0, 8e-8])
         for i in range(8)],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "sq8clamp")
    A.write_sq8_index(df, path, "vec_id", "embedding", n_clusters=2)
    codes = spark.read.parquet(f"{path}/corpus").select(
        F.explode("codes").alias("q")).collect()
    assert codes and all(-127 <= r["q"] <= 127 for r in codes)


def test_binary_sign_topk_packs_and_ranks(spark):
    """Sign-bit packing matches a Python recomputation; Hamming of a
    vector against itself is 0 (self excluded from results); rerank
    output is the exact-cosine order of the Hamming shortlist."""
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = A.binary_sign_topk(df, df.filter(F.col("vec_id") < 2),
                             "vec_id", "embedding", dim=64, k=3,
                             rerank_from=10).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    vecs = dict(rows)

    def words(v):
        ws = []
        for w in range(0, 64, 32):
            ws.append(sum(1 << i for i in range(32) if v[w + i] >= 0))
        return ws

    for r in out:
        a, b = words(vecs[r["query_id"]]), words(vecs[r["neighbor_id"]])
        ham = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        assert r["hamming"] == ham
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rank"] <= 3 and r["cosine"] is not None
    # per query, ranks ordered by cosine desc
    for qid in (0, 1):
        rs = sorted((r for r in out if r["query_id"] == qid),
                    key=lambda r: r["rank"])
        assert all(rs[i]["cosine"] >= rs[i + 1]["cosine"]
                   for i in range(len(rs) - 1))


def test_binary_at_rest_matches_brute_binary(spark, tmp_path):
    """The at-rest binary tier returns exactly the in-memory
    binary_sign_topk result when every cluster is probed, and its stage
    one reads partition-pruned (PartitionFilters on __cluster)."""
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "binidx")
    A.write_binary_index(df, path, "vec_id", "embedding", dim=64,
                         n_clusters=4)
    q = df.filter(F.col("vec_id") < 2)
    at_rest = A.binary_topk_at_rest(spark, path, q, "vec_id", "embedding",
                                    dim=64, k=3, n_probe=4, rerank_from=10)
    brute = A.binary_sign_topk(df, q, "vec_id", "embedding", dim=64, k=3,
                               rerank_from=10)
    ar = sorted(map(tuple, at_rest.collect()))
    br = sorted(map(tuple, brute.collect()))
    assert ar == br
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cluster" in plan


def test_containment_pairs_flags_embedded_doc(spark):
    # doc 1 verbatim-embedded inside doc 2 (10x wrapper): containment is
    # exactly 1.0 while Jaccard stays under the same threshold — the
    # near-superset shape the asymmetric metric exists to catch
    from dataqtor_spark.operators import dedup as DD

    core = "alpha beta gamma delta epsilon zeta eta theta"
    wrapper = " ".join(f"w{i}" for i in range(12))
    tail = " ".join(f"v{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, core), (2, f"{wrapper} {core} {tail}"),
         (3, "totally unrelated words only here nothing shared at all")],
        "doc_id long, text string")
    cont = {(r.id_a, r.id_b): r.containment
            for r in DD.ngram_containment_pairs(
                df, "doc_id", "text", n=5, threshold=0.8,
                max_doc_freq=None).collect()}
    assert cont == {(1, 2): 1.0}
    jac = DD.ngram_jaccard_pairs(df, "doc_id", "text", n=5, threshold=0.8,
                                 max_doc_freq=None).collect()
    assert jac == []
    # the capped path computes the same metric over cut posting lists
    cont_cut = {(r.id_a, r.id_b): r.containment
                for r in DD.ngram_containment_pairs(
                    df, "doc_id", "text", n=5, threshold=0.8,
                    max_doc_freq=64).collect()}
    assert cont_cut == {(1, 2): 1.0}


def test_minhash_containment_estimates_identical_docs(spark):
    # two identical docs: every signature position agrees (k = H) so the
    # estimate collapses to (na+nb)/(2*min) = 1.0 exactly; the unrelated
    # doc never pairs.  Also pins the documented recall limit: the
    # embedded-short-doc pair (true containment 1.0, low Jaccard) is NOT
    # required to surface — banding keys on overall similarity.
    from dataqtor_spark.operators import dedup as DD

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, text), (2, text),
         (3, "completely different content nothing shared here at all")],
        "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.est_containment
           for r in DD.minhash_containment_pairs_portable(
               df, "doc_id", "text", threshold=0.5,
               num_hashes=64, bands=16, shingle_n=3).collect()}
    assert out == {(1, 2): 1.0}
