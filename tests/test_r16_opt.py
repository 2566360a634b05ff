"""Round-16 optimization internals.

These pin HOW the r16 rewrites compute, never WHAT (the oracle gate
proves output parity): the fused start+bigram LM leg must equal the
retired union formulation bit-for-bit, and the bpe trainer's driver and
ledger paths must equal the retired full re-aggregation.
"""
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


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


# --- bpe_train pair-count ledger (r16: incremental deltas) -------------------

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


def test_bpe_train_never_mutates_session_conf(spark):
    """The r15 AQE toggle is gone (ADVICE r15: session-global conf
    mutation is not thread-safe); training must leave the session conf
    untouched throughout."""
    from dataqtor_spark.operators import textstats as TX

    docs = spark.createDataFrame(_BPE_CORPUS, "text string")
    before = spark.conf.get("spark.sql.adaptive.enabled")
    TX.bpe_train(docs, rounds=3)
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
