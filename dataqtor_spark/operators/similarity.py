"""String-similarity self-match (SURVEY.md §2.4 A13).

The reference calls ``string_grouper.match_strings(col, min_similarity=.52)``
(/root/reference/home.py:265-270): TF-IDF vectors over character 3-grams
(after stripping ``[,-./]`` and whitespace), cosine similarity, self-join,
keep non-identical pairs, sort desc, head(50).

Two implementations:

- ``exact``: the sparse-dot-product trick — an inverted-index self-join on
  shared n-grams.  Per-string TF-IDF weights and L2 norms are computed with
  two aggregates (sklearn's smooth-idf formula, matching string_grouper's
  vectorizer); the pairwise cosine is one join + groupBy on n-gram.  Cost is
  Σ_gram df(gram)² — fine for dedup-scale columns; at 100 TB cap df with a
  stop-gram cut or switch to the LSH variant.
- ``lsh``: MinHash over the same n-gram sets via MLlib's ``MinHashLSH``
  (Jaccard, not cosine — a candidate generator whose output should be
  re-ranked by the exact scorer; recall < 1 by design, SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CLEAN_RE = r"[,\-./]|[ \t\n\r\f]"  # \s pinned: Java includes \x0B, RE2 does not


def char_ngrams(col: Column | str, n: int = 3,
                clean_regex: str = CLEAN_RE) -> Column:
    """Distinct character n-grams of the cleaned string (string_grouper's
    default preprocessing: remove ``[,-./]`` and whitespace;
    ``clean_regex`` mirrors the library's ``regex`` option)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    cleaned = F.regexp_replace(c, clean_regex, "")
    k = F.length(cleaned) - (n - 1)
    return F.when(k <= 0, F.array(cleaned)).otherwise(
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.substring(cleaned, i, n))  # type: ignore[arg-type]
    )


def tfidf_vectors(df: DataFrame, col: str, n: int = 3,
                  clean_regex: str = CLEAN_RE) -> DataFrame:
    """(value, gram, weight) with L2-normalized smooth-idf TF-IDF weights
    over the DISTINCT values of ``col`` (string_grouper vectorizes the
    unique corpus).  idf = ln((1+N)/(1+df)) + 1."""
    from dataqtor_spark.session import parallelize

    vals = parallelize(
        df.select(F.col(col).alias("value")).filter(F.col("value").isNotNull()).distinct())
    # N rides a broadcast scalar instead of a driver-side count() — one job
    # fewer per invocation, and the idf stage stays fully lazy
    n_docs = vals.agg(F.count(F.lit(1)).alias("__n"))
    grams = (vals.select("value",
                         F.explode(char_ngrams("value", n, clean_regex))
                         .alias("gram"))
             .groupBy("value", "gram").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = grams.groupBy("gram").agg(F.countDistinct("value").alias("df"))
    idf = (dfreq.crossJoin(F.broadcast(n_docs))
           .select("gram",
                   (F.log((F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("df")))
                    + 1.0).alias("idf")))
    w = (grams.join(F.broadcast(idf), "gram")
         .withColumn("w", F.col("tf") * F.col("idf")))
    norms = w.groupBy("value").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    return (w.join(norms, "value")
            .select("value", "gram", (F.col("w") / F.col("norm")).alias("weight")))


def similar_strings(df: DataFrame, col: str, min_similarity: float = 0.52,
                    n: int = 3, top_n: int | None = 50,
                    max_doc_freq: int | None = None,
                    clean_regex: str = CLEAN_RE) -> DataFrame:
    """A13 exact mode: (left_side, right_side, similarity) for non-identical
    value pairs with TF-IDF cosine ≥ threshold, ordered desc (ties by the
    pair, deterministic), limited to ``top_n`` like the reference.

    ``max_doc_freq`` is the stop-gram cut (same guard as
    ``dedup.ngram_jaccard_pairs``): grams shared by more than K values
    are dropped before pair expansion, bounding the per-gram df²/2
    blowup at corpus scale.  Dropped grams carry the LOWEST idf weights,
    so the similarity underestimate is small and one-sided (documented
    recall trade; leave None for exact string_grouper parity)."""
    # persist: both sides of the self-join read the SAME vector table;
    # without it the whole tokenize→tf→idf→norm pipeline is planned and
    # executed twice (the plan showed ~31 exchanges, half of them the
    # duplicated subtree).  The small ranked result is materialized via
    # localCheckpoint so the vectors can be unpersisted before returning —
    # no storage leak across repeated calls.
    vec = tfidf_vectors(df, col, n, clean_regex).persist()
    try:
        # posting-list sparse dot product: ONE exchange of the vector
        # table builds per-gram postings (sorted by value, so pairs come
        # out ordered), partial products expand in-row, and only pair
        # rows shuffle to the final sum — the aliased self-join form
        # exchanged the vectors twice.  Per-gram blowup is df²/2, same as
        # the join; the stop-gram cut is a FREE filter on posting size
        # (idf weights and norms are fixed before the cut, so dropping a
        # gram's postings here is identical to dropping its vector rows —
        # no separate doc-freq aggregate, no broadcast of the kept-gram
        # set).
        pairs = (vec.groupBy("gram")
                 .agg(F.sort_array(F.collect_list(F.struct("value", "weight")))
                      .alias("ps"))
                 .filter(F.size("ps") > 1))
        if max_doc_freq is not None:
            pairs = pairs.filter(F.size("ps") <= max_doc_freq)
        pairs = (pairs
                 .select(F.explode(F.expr(
                     "flatten(transform(ps, (x, i) -> "
                     "transform(slice(ps, i + 2, size(ps)), y -> struct("
                     "x.value as left_side, y.value as right_side, "
                     "x.weight * y.weight as p))))")).alias("p"))
                 .select("p.*")
                 .groupBy("left_side", "right_side")
                 .agg(F.round(F.sum("p"), 6).alias("similarity"))
                 .filter(F.col("similarity") >= min_similarity))
        out = pairs.orderBy(F.desc("similarity"), F.asc("left_side"), F.asc("right_side"))
        return (out.limit(top_n) if top_n else out).localCheckpoint()
    finally:
        vec.unpersist()


def similar_strings_lsh_portable(df: DataFrame, col: str,
                                 threshold: float = 0.4, num_hashes: int = 32,
                                 bands: int = 16, n: int = 3) -> DataFrame:
    """A13 scale mode on dedup's portable md5 hash family: MinHash+banding
    over distinct char n-gram sets of the distinct values, estimated
    Jaccard ≥ threshold.  Unlike the MLlib ``MinHashLSH`` variant (whose
    hash seeds are Spark-internal), every hash here derives from md5, so
    the whole candidate pipeline is differentially checkable against an
    ANSI-SQL oracle.  Returns (left_side, right_side, est_jaccard).

    Banding and verification are ``dedup.minhash_pairs``: on the driver
    up to ``dedup._MH_DRIVER_DOCS_MAX`` distinct values (an Arrow local
    relation back), by the distributed plan and a ``localCheckpoint``
    above it."""
    from dataqtor_spark.operators import dedup as DD
    from dataqtor_spark.session import parallelize

    base = (parallelize(df.select(F.col(col).alias("value"))
                        .filter(F.col("value").isNotNull()).distinct())
            .select("value",
                    F.transform(F.array_distinct(char_ngrams("value", n)),
                                DD.portable_string_hash).alias("__vs")))
    # map-only signatures (array_min family over the in-row gram hashes):
    # the distinct() above is the only shuffle this side of the banding
    sig = base.select(F.col("value").alias("__id"),
                      DD._portable_min_sig(num_hashes).alias("sig"))
    return (DD.minhash_pairs(sig, "__id", threshold, num_hashes, bands)
            .select(F.col("id_a").alias("left_side"),
                    F.col("id_b").alias("right_side"), "est_jaccard"))


def similar_strings_lsh(df: DataFrame, col: str, jaccard_threshold: float = 0.5,
                        n: int = 3, num_hash_tables: int = 8) -> DataFrame:
    """A13 scale mode: MinHashLSH candidate pairs on n-gram sets (Jaccard
    distance ≤ 1-threshold).  Feed through :func:`similar_strings`-style
    re-ranking when cosine parity matters."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    vals = (df.select(F.col(col).alias("value"))
            .filter(F.col("value").isNotNull()).distinct()
            .withColumn("grams", char_ngrams("value", n)))
    cv = CountVectorizer(inputCol="grams", outputCol="features", binary=True)
    model = cv.fit(vals)
    feats = model.transform(vals)
    # MinHashLSH requires ≥1 non-zero entry; cleaned-empty strings vectorize
    # to all-zeros — drop them (they have no n-grams to match on anyway)
    from pyspark.ml.functions import vector_to_array
    feats = feats.filter(
        F.aggregate(vector_to_array("features"), F.lit(0.0), lambda a, x: a + x) > 0)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes",
                     numHashTables=num_hash_tables, seed=42)
    lmodel = lsh.fit(feats)
    pairs = lmodel.approxSimilarityJoin(feats, feats, 1.0 - jaccard_threshold,
                                        distCol="jaccard_dist")
    return (pairs.filter(F.col("datasetA.value") < F.col("datasetB.value"))
            .select(F.col("datasetA.value").alias("left_side"),
                    F.col("datasetB.value").alias("right_side"),
                    F.round(1.0 - F.col("jaccard_dist"), 6).alias("est_jaccard")))
