"""Edge-case tests for the corpus-hygiene operators (repetition signals,
Gopher gate, repeated spans, source mixing, stratified sampling, IQR
outliers).  Happy paths are covered by the DuckDB oracle gate
(t14–t18, pr08); these pin the degenerate inputs the oracle data lacks."""

import pyspark.sql.functions as F
import pytest

from dataqtor_spark.operators import profile as P
from dataqtor_spark.operators import textstats as T
from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_signals_degenerate(spark):
    df = _docs(spark, [
        (1, "word word word word"),          # fully repeated
        (2, "a b c d"),                      # all distinct
        (3, "single"),                       # one token: no bigrams
        (4, "   "),                          # blank: no tokens
    ])
    out = {r["doc_id"]: r for r in T.repetition_signals(df).collect()}
    assert out[1]["dup_unigram_frac"] == 0.75
    assert out[1]["repeat_adjacent_frac"] == 1.0
    assert out[1]["top_2gram_frac"] == 1.0
    assert out[2]["dup_unigram_frac"] == 0.0
    assert out[2]["repeat_adjacent_frac"] == 0.0
    # 3 distinct bigrams out of 3 total
    assert abs(out[2]["top_2gram_frac"] - 1 / 3) < 1e-6
    assert out[3]["n_tokens"] == 1
    assert out[3]["top_2gram_frac"] == 0.0
    assert out[4]["n_tokens"] == 0
    assert out[4]["dup_unigram_frac"] == 0.0


def test_gopher_filter_flags(spark):
    # 42 distinct tokens incl. stopwords: passes every gate
    long_ok = "the a " + " ".join(f"word{i}" for i in range(40))
    df = _docs(spark, [
        (1, long_ok),
        (2, "too short"),                               # word_count fails
        (3, " ".join(["spam"] * 60)),                   # repetition fails
        (4, " ".join(f"w{i}" for i in range(40))),      # no stopwords
    ])
    out = {r["doc_id"]: r for r in T.gopher_filter(df).collect()}
    assert out[1]["keep"]
    assert not out[2]["word_count_ok"] and not out[2]["keep"]
    assert not out[3]["repetition_ok"] and not out[3]["keep"]
    assert not out[4]["stopword_ok"] and not out[4]["keep"]


def test_repeated_spans_detects_boilerplate(spark):
    boiler = "this exact boilerplate license header appears in many files"
    df = _docs(spark, [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, "completely different content with no shared windows at all ok"),
        (4, "tiny"),                                     # shorter than span
    ])
    out = {r["doc_id"]: r for r in
           T.repeated_spans(df, span_tokens=8, min_docs=2).collect()}
    assert out[1]["n_shared_windows"] > 0
    assert out[2]["n_shared_windows"] > 0
    assert out[3]["n_shared_windows"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["shared_frac"] == 0.0
    # doc 1: 13 tokens -> 6 windows; the 9-token boilerplate yields 2 shared
    assert out[1]["n_windows"] == 6
    assert out[1]["n_shared_windows"] == 2


def test_scrub_shared_spans_removes_boilerplate(spark):
    boiler = "this exact boilerplate license header appears in many files"
    df = _docs(spark, [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, "completely different content with no shared windows at all ok"),
        (4, "tiny"),                                     # shorter than span
        (5, boiler),                                     # pure boilerplate
    ])
    out = {r["doc_id"]: r for r in
           T.scrub_shared_spans(df, span_tokens=8, min_docs=2).collect()}
    # the 9 boilerplate tokens are covered by the 2 shared windows
    # (starts 1 and 2, each spanning 8 tokens -> tokens 1..9 removed)
    assert out[1]["n_removed"] == 9
    assert out[1]["cleaned_text"] == "alpha beta gamma delta"
    assert out[2]["cleaned_text"] == "epsilon zeta eta theta"
    # untouched doc survives verbatim (lowercased tokens re-joined)
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"].startswith("completely different")
    # sub-span doc has no windows, nothing removed
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"] == "tiny"
    # fully-boilerplate doc scrubs to NULL (canonical empty join)
    assert out[5]["n_removed"] == 9 and out[5]["cleaned_text"] is None


def test_collapse_repeated_spans_within_doc(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"   # 8 tokens
    df = _docs(spark, [
        (1, base + " filler one two " + base),   # self-repeat later in doc
        (2, base),                                # single occurrence
        (3, " ".join(["loop"] * 20)),             # degenerate full repeat
        (4, "tiny"),                              # shorter than span
    ])
    out = {r["doc_id"]: r for r in
           T.collapse_repeated_spans(df, span_tokens=8).collect()}
    # doc 1: the second 8-token copy (positions 12..19) is scrubbed;
    # the first copy and the filler survive
    assert out[1]["n_removed"] == 8
    assert out[1]["cleaned_text"] == base + " filler one two"
    # single occurrence untouched
    assert out[2]["n_removed"] == 0 and out[2]["cleaned_text"] == base
    # degenerate loop: every window equals the first -> only the tokens
    # no duplicate window covers survive (positions 2..20 are covered)
    assert out[3]["n_tokens"] == 20 and out[3]["n_removed"] == 19
    assert out[3]["cleaned_text"] == "loop"
    # sub-span doc has no windows
    assert out[4]["n_removed"] == 0 and out[4]["cleaned_text"] == "tiny"


def test_scrub_collapse_null_text_oracle_parity(spark, tmp_path):
    # NULL text: both scrub operators emit (NULL, NULL, NULL); the
    # oracles must NOT coalesce n_removed to 0 for those rows, and the
    # t41 plant must not let concat_ws coerce a NULL into '' (the
    # pack01/chunk01 NULL-parity device, applied to the t40/t41 pair —
    # doc_id 5 also exercises the plant's %5==0 branch on a NULL).
    import duckdb
    import pandas as pd

    from dataqtor_spark.queries import ORACLES, QUERIES
    from tools.check_oracle import compare

    docs = pd.DataFrame({
        "doc_id": [1, 2, 5],
        "text": [None, "one two three four five six seven eight nine", None],
        "lang": ["en"] * 3, "source": ["s"] * 3, "n_chars": [0, 44, 0]})
    docs.to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS SELECT *
                    FROM read_parquet('{tmp_path}/documents.parquet')""")
    for name in ["t40_exact_substring_scrub", "t41_within_doc_collapse"]:
        sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
        odf = con.execute(ORACLES[name]).fetchdf()
        assert compare(name, sdf, odf) == [], name
    out = {r["doc_id"]: r for r in
           QUERIES["t41_within_doc_collapse"](spark, str(tmp_path)).collect()}
    assert out[1]["n_tokens"] is None and out[1]["n_removed"] is None
    assert out[5]["cleaned_text"] is None    # planted branch on NULL text


def test_ngram_novelty_reference_overlap(spark):
    ref = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, ref, True),
         (2, ref, False),                       # verbatim copy: 0 novelty
         (3, "totally different words entirely here now", False),
         (4, "hi", False)],                     # sub-3-word doc
        "doc_id long, text string, is_ref boolean")
    out = {r["doc_id"]: r for r in
           T.ngram_novelty(df, F.col("is_ref"), n=3).collect()}
    assert out[1]["novelty_ppm"] == 0          # ref scores 0 by construction
    assert out[2]["novelty_ppm"] == 0 and out[2]["n_seen"] == out[2]["n_shingles"]
    assert out[3]["novelty_ppm"] == 1000000 and out[3]["n_seen"] == 0
    # whole-text shingle convention: one shingle, unseen
    assert out[4]["n_shingles"] == 1 and out[4]["novelty_ppm"] == 1000000
    # 9 words -> 7 windows, one repeated ("the") dedups nothing at 3-gram
    assert out[1]["n_shingles"] == 7


def test_token_budget_epochs_and_dup_ppm(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "s1"), (2, "a b c d", "s1"),    # exact dup pair
         (3, "e f", "s1"),
         (4, "g h i j k l", "s2")],
        "doc_id long, text string, source string")
    out = {r["source"]: r for r in
           T.token_budget(df, budget=12).collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 3 and s1["n_unique_docs"] == 2
    assert s1["n_tokens"] == 10 and s1["n_unique_tokens"] == 6
    assert s1["dup_token_ppm"] == 400000           # 4 of 10 tokens are copies
    # budget 12 over 2 sources = 6 tokens/source; s1 unique = 6 -> 1 epoch
    assert s1["epochs_ppm"] == 1000000
    assert out["s2"]["dup_token_ppm"] == 0
    assert out["s2"]["epochs_ppm"] == 1000000      # 6 / 6
    assert dict(T.token_budget(df, budget=12).dtypes)["epochs_ppm"] == "bigint"


def test_source_mix_targets_and_uniform(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "s1"), (2, "e f", "s1"), (3, "g h i j k l", "s2")],
        "doc_id long, text string, source string")
    uni = {r["source"]: r for r in T.source_mix(df).collect()}
    assert uni["s1"]["n_tokens"] == 6 and uni["s2"]["n_tokens"] == 6
    assert uni["s1"]["token_share"] == 0.5
    assert uni["s1"]["weight"] == 1.0  # uniform target over 2 sources
    tgt = {r["source"]: r for r in
           T.source_mix(df, targets={"s1": 0.75, "s2": 0.25}).collect()}
    assert tgt["s1"]["weight"] == 1.5
    assert tgt["s2"]["weight"] == 0.5
    # ppm mode: same quantities as scaled BIGINTs, no double column at all
    ppm = {r["source"]: r for r in T.source_mix(df, ppm=True).collect()}
    assert ppm["s1"]["token_share_ppm"] == 500000
    assert ppm["s1"]["weight_ppm"] == 1000000
    assert dict(T.source_mix(df, ppm=True).dtypes)["weight_ppm"] == "bigint"


def test_stratified_sample_quota_and_determinism(spark):
    rows = [(i, f"text {i}", f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = T.stratified_sample(df, "source", quota=4)
    counts = {r["source"]: r["count"] for r in
              out.groupBy("source").count().collect()}
    assert counts == {"s0": 4, "s1": 4, "s2": 4}
    # deterministic: same ids across invocations
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in
                  T.stratified_sample(df, "source", quota=4).collect())
    assert ids1 == ids2
    # quota above stratum size keeps everything
    assert T.stratified_sample(df, "source", quota=100).count() == 30


def test_outlier_iqr_exact_and_approx(spark):
    vals = [(float(v),) for v in list(range(1, 101)) + [1000.0, -1000.0]]
    df = spark.createDataFrame(vals, "x double")
    r = P.outlier_iqr(df, "x").collect()[0]
    # q1/q3 of 1..100 plus two extremes; the two extremes are the outliers
    assert r["n_outliers"] == 2
    assert r["lo"] < 1 and r["hi"] > 100
    ra = P.outlier_iqr(df, "x", approx=True).collect()[0]
    assert ra["n_outliers"] == 2


def test_outlier_iqr_nulls_ignored(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (None,), (3.0,), (100.0,)],
                               "x double")
    r = P.outlier_iqr(df, "x").collect()[0]
    assert r["n_outliers"] == 1


def test_top_terms_tfidf_prefers_rare_tokens(spark):
    df = _docs(spark, [(i, f"common common rare{i}") for i in range(1, 6)])
    from dataqtor_spark.operators.textstats import top_terms_tfidf
    out = {(r["doc_id"], r["rank"]): r["token"]
           for r in top_terms_tfidf(df, k=2).collect()}
    # smooth idf: rare (1·(ln(6/2)+1) ≈ 2.099) beats common (2·(ln(6/6)+1) = 2)
    assert out[(1, 1)] == "rare1"
    assert out[(2, 1)] == "rare2"
    assert out[(1, 2)] == "common"


def test_ks_drift_bounds(spark):
    from dataqtor_spark.operators.profile import ks_drift

    rows = ([(float(i), "a") for i in range(50)]
            + [(float(i), "b") for i in range(50)])
    same = spark.createDataFrame(rows, "v double, g string")
    r = ks_drift(same, "v", "g", "a", "b").collect()[0]
    assert r["ks"] == 0.0 and r["n_a"] == r["n_b"] == 50

    rows2 = ([(float(i), "a") for i in range(50)]
             + [(float(i + 100), "b") for i in range(50)])
    disjoint = spark.createDataFrame(rows2, "v double, g string")
    assert ks_drift(disjoint, "v", "g", "a", "b").collect()[0]["ks"] == 1.0


def test_rolling_user_stats_window_edges(spark):
    import datetime

    from dataqtor_spark.streaming.profiler import rolling_user_stats

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, 10.0),
        (2, 1, t0 + datetime.timedelta(seconds=3600), 20.0),   # exactly 1h: in
        (3, 1, t0 + datetime.timedelta(seconds=7201), 30.0),   # 2h+1s: alone
        (4, 2, t0, 40.0),                                      # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double")
    out = {r["event_id"]: r for r in
           rolling_user_stats(df, "user_id", "ts", "value", 3600).collect()}
    assert out[1]["n_trailing"] == 1 and out[1]["sum_trailing"] == 10.0
    assert out[2]["n_trailing"] == 2 and out[2]["sum_trailing"] == 30.0
    assert out[3]["n_trailing"] == 1
    assert out[4]["n_trailing"] == 1


def test_impute_by_group_mean_median_and_all_null_group(spark):
    from dataqtor_spark.operators.repair import impute_by_group

    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", 3.0), ("g1", None),
         ("g2", 5.0), ("g2", None),
         ("g3", None)],
        "g string, x double")
    mean = {(r["g"], i): r["x"] for i, r in
            enumerate(impute_by_group(df, "x", ["g"], "mean")
                      .orderBy("g", "x").collect())}
    vals = [v for (g, _), v in mean.items() if g == "g1"]
    assert sorted(vals) == [1.0, 2.0, 3.0]          # null -> mean(1,3)
    assert any(v == 5.0 for (g, _), v in mean.items() if g == "g2")
    assert all(v is None for (g, _), v in mean.items() if g == "g3")

    med = impute_by_group(df, "x", ["g"], "median").filter("g = 'g1'")
    assert sorted(r["x"] for r in med.collect()) == [1.0, 2.0, 3.0]


def test_zipf_fit_negative_slope_on_skewed_corpus(spark):
    from dataqtor_spark.queries import t25_zipf_fit

    r = t25_zipf_fit(spark, "/root/testdata/sf0.001").collect()[0]
    assert 10 <= r["n_points"] <= 100  # small corpus: vocab < top_k cap
    assert r["zipf_slope"] < 0      # frequency falls with rank, always
    assert r["intercept"] > 0


def test_last_digit_and_isotropy_invariants(spark):
    from dataqtor_spark.queries import (e04_embedding_isotropy,
                                        pr21_last_digit_uniformity)

    digits = pr21_last_digit_uniformity(spark, "/root/testdata/sf0.001").collect()
    assert abs(sum(r["pct"] for r in digits) - 100.0) < 0.01
    assert all(0 <= r["last_digit"] <= 9 for r in digits)

    iso = e04_embedding_isotropy(spark, "/root/testdata/sf0.001").collect()[0]
    assert -1.0 <= iso["min_cosine"] <= iso["mean_cosine"] \
        <= iso["max_cosine"] <= 1.0


def test_weighted_resample_deterministic_and_unbiased(spark):
    from dataqtor_spark.operators import textstats as T

    df = spark.createDataFrame(
        [(i, "src", 2.5) for i in range(1000)],
        "doc_id long, source string, wt double")
    r1 = T.weighted_resample(df, "wt")
    n1 = r1.count()
    # every row emits 2 or 3 copies; expected total = 2500 +- hash noise
    assert 2300 <= n1 <= 2700
    per = r1.groupBy("doc_id").count().collect()
    assert all(r["count"] in (2, 3) for r in per)
    # bit-deterministic: identical output on rerun and repartition
    n2 = T.weighted_resample(df.repartition(7), "wt").count()
    assert n2 == n1
    # weight < 1 downsamples
    down = spark.createDataFrame([(i, 0.25) for i in range(1000)],
                                 "doc_id long, wt double")
    nd = T.weighted_resample(down, "wt").count()
    assert 150 <= nd <= 350


def test_leakage_safe_split_keeps_dups_together(spark):
    # same content under different ids and word order/duplication MUST
    # share a split; assignments are stable under repartitioning
    rows = [(1, "alpha beta gamma"), (2, "gamma beta alpha alpha"),
            (3, "totally different text here")] + \
           [(i, f"doc number {i} unique words") for i in range(10, 110)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r["doc_id"]: r["split"]
         for r in T.leakage_safe_split(df).collect()}
    assert s[1] == s[2]                     # near-dups share a split
    s2 = {r["doc_id"]: r["split"]
          for r in T.leakage_safe_split(df.repartition(9)).collect()}
    assert s == s2                          # partition-independent
    from collections import Counter

    c = Counter(s.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_c4_line_filters_rules(spark):
    docs = [
        (1, "a good sentence here.\nno\nno terminal punct line\n"
            "please enable javascript to continue.\nshort.\nfine one too!"),
        (2, "contains lorem ipsum filler.\nperfectly fine line."),
        (3, "code sample { return 1; }\nreal prose sentence."),
        (4, "everything here survives nicely.\nand this one as well?"),
        (5, "nothing survives here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.c4_line_filters(df).collect()}
    # line rules: terminal punct + >=3 words + no javascript
    assert got[1]["n_lines"] == 6 and got[1]["n_kept"] == 2
    assert got[1]["cleaned"] == "a good sentence here.\nfine one too!"
    # document rules: lorem ipsum / brace drop the whole doc
    assert got[2]["doc_dropped"] and got[2]["cleaned"] is None
    assert got[3]["doc_dropped"] and got[3]["cleaned"] is None
    assert not got[4]["doc_dropped"] and got[4]["n_kept"] == 2
    # nothing kept -> canonical NULL, not empty string
    assert got[5]["n_kept"] == 0 and got[5]["cleaned"] is None


def test_canonicalize_url_collapses_cosmetic_variants(spark):
    from dataqtor_spark.operators.textstats import canonicalize_url

    rows = [
        # same identity through case/www/default-port/tracking/order/slash
        ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&id=7#frag",
         "http://example.com/a/b?id=7"),
        ("http://example.com/a/b?id=7", "http://example.com/a/b?id=7"),
        ("https://Shop.NET:443/p/?fbclid=zz", "https://shop.net/p"),
        ("https://a.org/x?b=2&a=1", "https://a.org/x?a=1&b=2"),
        ("https://a.org/x?a=1&b=2", "https://a.org/x?a=1&b=2"),
        # non-default port and scheme differences are preserved identity
        ("https://a.org:8443/x", "https://a.org:8443/x"),
        ("http://a.org/x", "http://a.org/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r["c"] for r in
           df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in rows]


def test_quality_logistic_orders_prose_above_noise(spark):
    from dataqtor_spark.operators.textstats import quality_logistic

    rows = [
        (1, "The quick brown fox jumps over the lazy dog and it is a "
            "fine day for that in the park."),
        (2, "3842 9184 5521 0091 8273 4455 1203 9981 7432 5567"),
        (3, "!!! ??? ;;; ,,, ... !!! ??? ;;; ,,, ..."),
        (4, "AAAA BBBB CCCC DDDD EEEE FFFF GGGG HHHH"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in df.select(
        "doc_id", quality_logistic(F.col("text")).alias("p")).collect()}
    assert all(0.0 < v < 1.0 for v in got.values())
    assert got[1] > max(got[2], got[3], got[4])   # prose wins
    assert got[1] > 0.5                            # and is kept


def test_bpe_train_learns_chained_merges(spark):
    from dataqtor_spark.operators import textstats as T

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the hat and the cat chat")],
        "doc_id long, text string")
    merges, words = T.bpe_train(df, rounds=3)
    got = [(m["sym_a"], m["sym_b"], m["n"]) for m in merges]
    # 'at' appears in cat/sat/mat/hat/chat (6 incl. dup cat); then 'he'
    # inside the×4; round 3 merges t+he — a merge BUILT ON a merge
    assert got == [("a", "t", 6), ("h", "e", 4), ("t", "he", 4)]
    seqs = {r["word"]: r["seq"] for r in words.collect()}
    assert seqs["the"] == " the "
    assert seqs["chat"] == " c h at "


def test_apply_bpe_matches_trained_vocab_segmentation(spark):
    """The in-row expression path (apply_bpe) and the trained-words
    join path (bpe03's device) must segment identically."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import textstats as T

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["banana band bananas", "abab abab banana", "band of bananas",
             "the band played banana songs"])],
        "doc_id long, text string")
    merges, words = T.bpe_train(df, rounds=4)
    seg = {r["word"]: [s for s in r["seq"].split(" ") if s]
           for r in words.collect()}
    out = {r["doc_id"]: r["bpe_tokens"]
           for r in T.apply_bpe(df, merges).collect()}
    for r in df.collect():
        toks = [w for w in r["text"].lower().split() if w.isalpha()
                and w == w.lower() and w.isascii()]
        want = [s for w in toks for s in seg[w]]
        assert out[r["doc_id"]] == want, (r["doc_id"], out[r["doc_id"]], want)


def test_bpe_merge_two_pass_handles_back_to_back_pairs(spark):
    """' a b a b ' must merge BOTH occurrences (one replace pass misses
    the second — the matches share a boundary space)."""
    from pyspark.sql import functions as F

    from dataqtor_spark.operators.textstats import (_bpe_char_seq,
                                                    _bpe_merge_seq)

    df = spark.createDataFrame([("abab",), ("ababab",), ("aaaa",)],
                               "w string")
    merged = df.select(
        "w", _bpe_merge_seq(_bpe_char_seq(F.col("w")), "a", "b").alias("s"),
        _bpe_merge_seq(_bpe_char_seq(F.col("w")), "a", "a").alias("sa"))
    got = {r["w"]: (r["s"], r["sa"]) for r in merged.collect()}
    assert got["abab"][0] == " ab ab "
    assert got["ababab"][0] == " ab ab ab "
    assert got["aaaa"][1] == " aa aa "


# --- bpe_train pair-count ledger (incremental deltas) -------------------------

_BPE_CORPUS = [
    # back-to-back self-pairs (the two-pass replace convention), ties on
    # count (broken by pair asc), words that fully merge away, repeats
    ("aaaa bb ab abab the cat",),
    ("the cat sat on the mat aaaaa",),
    ("ababab banana bandana",),
    ("zz zz zz yy yy xyzzy",),
    ("a b c ab bc abc",),
]


def _bpe_train_full_reaggregation(words, rounds):
    """The retired r15 formulation: every round re-aggregates pair counts
    over the full word table and takes the (count desc, pair asc) top-1."""
    from dataqtor_spark.operators import textstats as TX

    merges = []
    for r in range(rounds):
        top = (TX._bpe_pair_counts(words)
               .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append({"round": r, "sym_a": a, "sym_b": b,
                       "merged": a + b, "n": n})
        words = words.withColumn(
            "seq", TX._bpe_merge_seq(F.col("seq"), a, b))
    return merges


def test_bpe_driver_path_equals_full_reaggregation(spark):
    """r16 collects small vocabularies and runs the merge rounds on the
    driver (the trainer bounded-collect contract).  The merge TABLE
    (pairs, order, counts) must be bit-identical to the retired
    full-re-aggregation formulation's."""
    from dataqtor_spark.operators import textstats as TX

    docs = spark.createDataFrame(_BPE_CORPUS, "text string")
    got, _ = TX.bpe_train(docs, rounds=10)

    words = (TX.bpe_word_counts(docs, "text", "^[a-z]+$")
             .withColumn("seq", TX._bpe_char_seq(F.col("word"))))
    want = _bpe_train_full_reaggregation(words, rounds=10)
    assert got == want


def test_bpe_distributed_ledger_path_matches(spark, monkeypatch):
    """The big-vocabulary path (distributed ledger + per-round pair-count
    deltas over only the changed words) must produce the same merges as
    the driver path / retired formulation."""
    from dataqtor_spark.operators import textstats as TX

    docs = spark.createDataFrame(_BPE_CORPUS, "text string")
    base, _ = TX.bpe_train(docs, rounds=6)
    monkeypatch.setattr(TX, "_BPE_DRIVER_VOCAB_MAX", 0)
    via_ledger, _ = TX.bpe_train(docs, rounds=6)
    assert via_ledger == base


def test_domain_mixture_plan_invariants(spark):
    """Largest-remainder quotas sum EXACTLY to the budget; allocation
    never exceeds availability; epochs = ceil(quota/avail); absent
    domains get zero avail and NULL epochs."""
    from dataqtor_spark.operators import textstats as TX

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1), ["a", "a", "a", "b", "c"][i % 5])
         for i in range(200)],
        "doc_id long, text string, domain string")
    budget = 1237
    plan = {r["domain"]: r for r in TX.domain_mixture_plan(
        docs, "domain", {"a": 3, "b": 2, "c": 1, "zz": 1}, budget
    ).collect()}
    assert set(plan) == {"a", "b", "c", "zz"}
    assert sum(r["quota_tokens"] for r in plan.values()) == budget
    for r in plan.values():
        assert r["alloc_tokens"] == min(r["quota_tokens"], r["avail_tokens"])
        assert r["shortfall_tokens"] == r["quota_tokens"] - r["alloc_tokens"]
        if r["avail_tokens"] > 0:
            q, a = r["quota_tokens"], r["avail_tokens"]
            assert r["epochs"] == -(-q // a)
    assert plan["zz"]["n_docs"] == 0 and plan["zz"]["avail_tokens"] == 0
    assert plan["zz"]["epochs"] is None
    assert plan["zz"]["shortfall_tokens"] == plan["zz"]["quota_tokens"]


def test_ngram_lm_score_prefers_reference_like_text(spark):
    """CCNet-style LM filter sanity: a document phrased like the
    reference slice scores a higher avg log-prob than gibberish, the
    single-token doc scores exactly the smoothed unigram start, and
    zero-token docs produce no row."""
    ref = "the cat sat on the mat . the dog sat on the rug ."
    rows = [
        (1, ref, "ref"),
        (2, "the cat sat on the rug .", "train"),   # reference-like
        (3, "zx qv wq pl mn zz kk jj", "train"),    # gibberish
        (4, "the", "train"),                        # single token
        (5, "   ", "train"),                        # zero tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in
           T.ngram_lm_score(df, F.col("source") == "ref").collect()}
    assert 5 not in out, "zero-token doc must produce no row"
    assert out[2]["n_tokens"] == 7 and out[3]["n_tokens"] == 8
    assert out[2]["avg_logprob"] > out[3]["avg_logprob"]
    # single token: exactly the smoothed unigram start ln((c+1)/(T+V))
    import math

    toks = ref.split()
    T_, V = len(toks), len(set(toks))
    c_the = toks.count("the")
    expect = round(round(math.log((c_the + 1) / (T_ + V)), 9), 6)
    assert out[4]["n_tokens"] == 1
    assert abs(out[4]["avg_logprob"] - expect) < 1e-9


def test_ngram_lm_fused_start_equals_union_formulation(spark):
    """r16 fused the start-token leg into the bigram gram stream (NULL
    ``__a`` marks position 1).  Replay the retired two-leg union
    formulation inline on real data and require bit-identical
    (n_tokens, avg_logprob) per doc — the DECIMAL terms are identical
    values routed through one join pipeline instead of two."""
    from dataqtor_spark.functions.exact import round_ratio
    from dataqtor_spark.operators import textstats as TX
    from dataqtor_spark.queries import _t

    docs = _t(spark, SF_DIR, "documents")
    new = TX.ngram_lm_score(docs, F.col("source") == "src0")

    # retired shape: separate firsts leg + bigram leg, unioned
    toks = docs.select(F.col("doc_id").alias("__id"),
                       (F.col("source") == "src0").alias("__t"),
                       TX._clean_tokens("text").alias("__tk")) \
        .withColumn("__n", F.size("__tk"))
    firsts = (toks.filter(F.col("__n") >= 1)
              .select("__id", "__t", F.element_at("__tk", 1).alias("__w")))
    bi = (toks.filter(F.col("__n") >= 2)
          .select("__id", "__t", F.explode(F.transform(
              F.sequence(F.lit(1), F.col("__n") - 1),
              lambda i: F.struct(
                  F.element_at("__tk", i).alias("a"),
                  F.element_at("__tk", i + 1).alias("b")))).alias("__g"))
          .select("__id", "__t", F.col("__g.a").alias("__a"),
                  F.col("__g.b").alias("__b")))
    uni = toks.select("__id", "__t", F.explode("__tk").alias("__w"))
    ref_uni = (uni.filter("__t").groupBy("__w")
               .agg(F.count(F.lit(1)).alias("__cu")))
    ref_tot = ref_uni.agg(F.sum("__cu").alias("__lmT"),
                          F.count(F.lit(1)).alias("__lmV"))
    lp9 = lambda num, den: F.round(F.log(num / den), 9) \
        .cast("decimal(18,9)")  # noqa: E731
    start = (firsts.join(ref_uni, "__w", "left")
             .crossJoin(F.broadcast(ref_tot))
             .select("__id", lp9(
                 F.coalesce(F.col("__cu"), F.lit(0)) + 1,
                 F.col("__lmT") + F.col("__lmV")).alias("__lp"),
                 F.lit(1).alias("__c")))
    docg_t = (bi.groupBy("__id", "__t", "__a", "__b")
              .agg(F.count(F.lit(1)).alias("__c")))
    ref_bi = (docg_t.filter("__t").groupBy("__a", "__b")
              .agg(F.sum("__c").cast("long").alias("__cb")))
    prev = ref_uni.select(F.col("__w").alias("__a"),
                          F.col("__cu").alias("__ca"))
    grams = (docg_t.drop("__t").join(ref_bi, ["__a", "__b"], "left")
             .join(prev, "__a", "left")
             .crossJoin(F.broadcast(ref_tot))
             .select("__id", lp9(
                 F.coalesce(F.col("__cb"), F.lit(0)) + 1,
                 F.coalesce(F.col("__ca"), F.lit(0)) + F.col("__lmV"))
                 .alias("__lp"), "__c"))
    terms = start.unionByName(grams)
    scored = (terms.groupBy("__id")
              .agg(F.sum(F.col("__c").cast("decimal(10,0)")
                         * F.col("__lp")).alias("__sum"),
                   F.sum("__c").cast("long").alias("__np")))
    old = scored.select(
        F.col("__id").alias("doc_id"),
        F.col("__np").alias("n_tokens"),
        round_ratio((F.col("__sum") * 1000000000).cast("decimal(38,0)"),
                    F.col("__np").cast("decimal(38,0)") * 1000000000,
                    6).alias("avg_logprob"))
    want = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
            for r in old.collect()}
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
           for r in new.collect()}
    assert got == want


def test_pii_scan_counts_and_checksum_screening(spark):
    """pii_scan finds planted e-mail/phone spans and screens 11-digit
    candidates through the real TCID checksum — digit runs that fail it
    count as candidates, never as valid IDs."""
    # base9=123456789: odd=25, even=20 -> d10=(7*25-20)%10=5,
    # d11=(45+5)%10=0 -> valid TCID 12345678950; ...51 fails
    rows = [
        (1, "yaz bana kisi1@ornek.example ya da kisi2@x.org", None),
        (2, "tel: 05321234567 ve 5321234567 numaralari", None),
        (3, "tc 12345678950 basvuru 12345678951 kayit 9999999999999", None),
        (4, "hicbir sey yok burada", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, pad string")
    out = {r["doc_id"]: r for r in T.pii_scan(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["has_pii"]
    assert out[2]["n_phones"] == 2
    # 13-digit run is \b-guarded out; the two 11-digit runs are candidates
    assert out[3]["n_id_candidates"] == 2
    assert out[3]["n_ids_valid"] == 1          # checksum screens ...51
    assert out[4]["n_emails"] == out[4]["n_phones"] == 0
    assert not out[4]["has_pii"]


def test_pii_redact_applies_placeholders(spark):
    rows = [
        (1, "yaz kisi1@ornek.example tel 05321234567 tc 12345678950 son", None),
        (2, "temiz metin", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, pad string")
    out = {r["doc_id"]: r for r in T.pii_redact(df).collect()}
    assert out[1]["n_redactions"] == 3
    assert out[1]["text_redacted"] == "yaz [EMAIL] tel [PHONE] tc [ID] son"
    assert out[2]["n_redactions"] == 0
    assert out[2]["text_redacted"] == "temiz metin"


def test_dsir_hash_buckets_bounds_features_and_keeps_target_bias(spark):
    """hash_buckets mode: per-doc n_feats totals are unchanged (hashing
    relabels grams, never drops them), the selection still prefers
    target-like documents, and the bucket ids the operator hashes to are
    reproducible from md5 (the portable device the oracle replays)."""
    from dataqtor_spark.operators import textstats as TX

    rows = [(i, "alpha beta gamma alpha", "tgt") for i in range(10)]
    rows += [(100 + i, "delta epsilon zeta eta theta", "other")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
    ident = TX.dsir_importance(docs, F.col("src") == "tgt", top_k=20)
    hashed = TX.dsir_importance(docs, F.col("src") == "tgt", top_k=20,
                                hash_buckets=64)
    gi = {r["doc_id"]: r for r in ident.collect()}
    gh = {r["doc_id"]: r for r in hashed.collect()}
    assert set(gi) == set(gh) == {r[0] for r in rows}
    # gram multiset is preserved under relabeling
    assert all(gi[d]["n_feats"] == gh[d]["n_feats"] for d in gi)
    # 64 buckets >> 12 distinct grams here, so collisions are unlikely to
    # flip the ordering: target docs must outrank non-target docs
    tgt_ranks = [gh[d]["rank"] for d in gh if d < 100]
    oth_ranks = [gh[d]["rank"] for d in gh if d >= 100]
    assert max(tgt_ranks) < min(oth_ranks)


def test_pii03_luhn_screens_card_candidates(spark, tmp_path):
    # the planted corpus: doc_id%19 carries a Luhn-VALID 16-digit card,
    # doc_id%29 a same-shape INVALID run — the validator must separate
    # them (candidates count both, valid counts only the real shape)
    from dataqtor_spark.queries import QUERIES
    import pyspark.sql.functions as F

    spark.createDataFrame(
        [(i, f"dokuman metni {i}", "en", "src0", 20) for i in range(60)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           QUERIES["pii03_payment_card_scan"](spark, str(tmp_path)).collect()}
    assert len(out) == 60
    for i, r in out.items():
        want_valid = 1 if i % 19 == 0 else 0
        want_cand = (1 if i % 19 == 0 else 0) + (1 if i % 29 == 0 else 0)
        assert r["n_card_candidates"] == want_cand, i
        assert r["n_cards_valid"] == want_valid, i
        assert r["has_payment_pii"] == (want_valid > 0), i


def test_t44_fertility_exact_ppm_and_null_text(spark, tmp_path):
    # "aa bb" = 2 words / 2 subwords -> fertility 1.0 = 1_000_000 ppm;
    # "a-b c" = 2 words / 4 subwords (a, -, b, c) -> 2_000_000 ppm;
    # NULL text contributes NULL sums (skipped) in BOTH engines; a
    # source with only empty text yields NULL ratios, never a div-0
    from dataqtor_spark.queries import QUERIES

    spark.createDataFrame(
        [(1, "aa bb", "en", "s1", 5), (2, None, "en", "s1", 0),
         (3, "a-b c", "en", "s2", 5), (4, "", "en", "s3", 0)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["source"]: r for r in
           QUERIES["t44_tokenizer_fertility"](spark, str(tmp_path)).collect()}
    assert out["s1"]["n_word_tokens"] == 2
    assert out["s1"]["subword_per_word_ppm"] == 1_000_000
    # bytes count the WHOLE text (whitespace included): 5 bytes / 2 pieces
    assert out["s1"]["bytes_per_subword_ppm"] == 2_500_000
    assert out["s2"]["n_subword_tokens"] == 4
    assert out["s2"]["subword_per_word_ppm"] == 2_000_000
    assert out["s3"]["n_word_tokens"] == 0
    assert out["s3"]["subword_per_word_ppm"] is None
    assert out["s3"]["bytes_per_subword_ppm"] is None


def test_t45_code_switch_flags_mixed_chunks(spark, tmp_path):
    # doc 2 switches en->de exactly at the 20-token chunk boundary ->
    # two determined chunk languages; doc 1 is pure en; doc 3 has no
    # stopword votes at all; doc 31 hits the %31 plant (German marker
    # appended) on an English base -> mixed
    from dataqtor_spark.queries import QUERIES

    en20 = "the and of is with that " * 3 + "a b"      # 20 tokens
    de20 = "der die und das nicht ist " * 3 + "x y"    # 20 tokens
    rows = [(1, en20 + " " + en20, "en", "s", 0),
            (2, en20 + " " + de20, "en", "s", 0),
            (3, "qq ww ee rr tt yy uu ii oo pp", "en", "s", 0),
            (31, en20, "en", "s", 0)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in
           QUERIES["t45_code_switch_scan"](spark, str(tmp_path)).collect()}
    assert out[1]["n_langs"] == 1 and not out[1]["is_mixed"]
    assert out[2]["n_langs"] == 2 and out[2]["is_mixed"]
    assert out[3]["n_lang_chunks"] == 0 and out[3]["n_langs"] == 0
    assert not out[3]["is_mixed"]
    assert out[31]["is_mixed"]  # the planted German marker


def test_repeated_spans_min_docs_above_two(spark):
    # the general-threshold branch (count of distinct docs per hash,
    # partial-agg — the r15 rewrite of the windowed collect_set): a span
    # in 3 docs passes min_docs=3, a span in only 2 does not
    tri = "alpha beta gamma delta epsilon zeta eta theta"      # 8 tokens
    duo = "one two three four five six seven eight"            # 8 tokens
    df = _docs(spark, [
        (1, tri + " aa bb"), (2, tri + " cc dd"), (3, tri + " ee ff"),
        (4, duo + " gg hh"), (5, duo + " ii jj")])
    out = {r["doc_id"]: r for r in
           T.repeated_spans(df, span_tokens=8, min_docs=3).collect()}
    assert out[1]["n_shared_windows"] == 1
    assert out[3]["n_shared_windows"] == 1
    assert out[4]["n_shared_windows"] == 0
    assert out[5]["n_shared_windows"] == 0
    # scrub honors the same threshold: the 3-doc span is removed, the
    # 2-doc span survives
    sc = {r["doc_id"]: r for r in
          T.scrub_shared_spans(df, span_tokens=8, min_docs=3).collect()}
    assert sc[1]["n_removed"] == 8 and sc[1]["cleaned_text"] == "aa bb"
    assert sc[4]["n_removed"] == 0
    assert sc[4]["cleaned_text"].startswith("one two three")


def test_paragraph_dedup_max_df_above_one(spark):
    # max_df=2: a 10-token chunk shared by THREE docs is dropped, one
    # shared by exactly two survives (count(DISTINCT doc) > max_df —
    # the r15 partial-agg rewrite of the windowed collect_set)
    c3 = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    c2 = "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    df = _docs(spark, [
        (1, c3 + " " + c2), (2, c3 + " " + c2),
        (3, c3 + " z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")])
    out = {r["doc_id"]: r for r in
           T.paragraph_dedup(df, chunk_tokens=10, max_df=2).collect()}
    assert out[1]["n_dropped"] == 1 and out[1]["clean_text"] == c2
    assert out[2]["n_dropped"] == 1 and out[2]["clean_text"] == c2
    assert out[3]["n_dropped"] == 1
    assert out[3]["clean_text"].startswith("z1")


def test_null_text_oracle_parity_pii03_t45_d14(spark, tmp_path):
    # NULL-text and sub-5-word documents: the r15 review fixes — plant
    # concat must skip NULLs like DuckDB concat() (pii03/t45), and d14's
    # oracle needs the whole-text shingle fallback for short docs.
    # Differential: Spark vs DuckDB on the SAME planted parquet.
    import duckdb
    import pandas as pd

    from dataqtor_spark.queries import ORACLES, QUERIES
    from tools.check_oracle import compare

    docs = pd.DataFrame({
        # 19 hits the pii03 valid-card plant on a NULL text; 31 hits the
        # t45 German plant on a NULL text; 3/6 are duplicate SHORT docs
        # (one whole-text shingle each -> a d14 containment-1.0 pair)
        "doc_id": [19, 31, 3, 6, 2],
        "text": [None, None, "hello world", "hello world",
                 "one two three four five six seven eight nine ten"],
        "lang": ["en"] * 5, "source": ["s"] * 5, "n_chars": [0] * 5})
    docs.to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS SELECT *
                    FROM read_parquet('{tmp_path}/documents.parquet')""")
    for name in ["pii03_payment_card_scan", "t45_code_switch_scan",
                 "d14_containment_pairs"]:
        sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
        odf = con.execute(ORACLES[name]).fetchdf()
        assert compare(name, sdf, odf) == [], name
    # and the semantics are the intended ones, not just engine-equal:
    pii = {r["doc_id"]: r for r in
           QUERIES["pii03_payment_card_scan"](spark, str(tmp_path)).collect()}
    assert pii[19]["n_cards_valid"] == 1          # planted card on NULL text
    t45 = {r["doc_id"]: r for r in
           QUERIES["t45_code_switch_scan"](spark, str(tmp_path)).collect()}
    assert t45[31]["n_langs"] == 1                # marker chunk alone
    d14 = {(r.id_a, r.id_b): r.containment for r in
           QUERIES["d14_containment_pairs"](spark, str(tmp_path)).collect()}
    assert d14[(3, 6)] == 1.0                     # duplicate short docs


def test_exploded_shingles_null_text_drops_rows(spark):
    # with_count explode_outer must not leak a NULL-hash posting row per
    # NULL-text doc (they would pool into ONE uncapped posting list and
    # expand ~N^2/2 pairs in a single task)
    from dataqtor_spark.operators import dedup as DD
    from dataqtor_spark.operators.dedup import _exploded_shingles

    df = spark.createDataFrame(
        [(i, None) for i in range(20)] + [(100, "a b"), (101, "a b")],
        "doc_id long, text string")
    ex = _exploded_shingles(df, "doc_id", "text", 5, with_count=True)
    assert ex.filter("__sh IS NULL").count() == 0
    pairs = DD.ngram_jaccard_pairs(df, "doc_id", "text", n=5,
                                   threshold=0.5,
                                   max_doc_freq=None).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in pairs] == [(100, 101, 1.0)]
