"""Text-analysis operators for training-data pipelines (north-star
extensions, BASELINE.json §6): token counting, quality scoring, language
identification, document fingerprinting.

All pure column expressions — at 100 TB these run inside whole-stage
codegen with zero Python involvement, and every operator is a single
projection (no shuffle at all until an aggregate is asked for).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataqtor_spark.session import local_frame

# ---------------------------------------------------------------------------
# token counting — whitespace + a BPE-ish regex variant
# ---------------------------------------------------------------------------

# Pinned whitespace class.  Java's ``\s`` is ``[ \t\n\x0B\f\r]`` but RE2's
# (DuckDB oracle dialect) is ``[ \t\n\f\r]`` — a document containing a
# vertical tab would tokenize differently across engines.  Every tokenizing
# regex that feeds a hash-compared oracle uses this explicit class (and the
# oracle SQL uses the identical literal), so the two dialects can never
# diverge on the whitespace set regardless of engine version.
WS = r"[ \t\n\r\f]"
WS_PLUS = WS + "+"
# The same set spelled for *inside* an enclosing character class.
WS_IN_CLASS = r" \t\n\r\f"


def token_count(col: Column | str) -> Column:
    """Whitespace token count (empty/blank string → 0)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, WS_PLUS)))


def subword_token_count(col: Column | str) -> Column:
    """BPE-ish upper bound: word-piece runs (letter runs, digit runs, single
    punctuation) — ``regexp_count`` over one alternation, codegen-friendly."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + WS_IN_CLASS + "]"))


def add_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (df.withColumn("n_tokens", token_count(text_col))
            .withColumn("n_subword_tokens", subword_token_count(text_col)))


# ---------------------------------------------------------------------------
# quality scoring — length/punctuation/stopword ratios
# ---------------------------------------------------------------------------

EN_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic per-document quality signals (all ratios in [0,1])."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    n_chars = F.length(c)
    n_tok = token_count(c)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tok = F.greatest(n_tok, F.lit(1)).cast("double")
    n_punct = F.regexp_count(c, F.lit(r"[.,!?;:]"))
    n_digit = F.regexp_count(c, F.lit(r"[0-9]"))
    n_upper = F.regexp_count(c, F.lit(r"[A-Z]"))
    stop_pat = r"(?i)\b(" + "|".join(EN_STOPWORDS) + r")\b"
    n_stop = F.regexp_count(c, F.lit(stop_pat))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "avg_token_len": n_chars.cast("double") / safe_tok,
        "punct_ratio": n_punct.cast("double") / safe_chars,
        "digit_ratio": n_digit.cast("double") / safe_chars,
        "upper_ratio": n_upper.cast("double") / safe_chars,
        "stopword_ratio": n_stop.cast("double") / safe_tok,
    }


def quality_score(col: Column | str) -> Column:
    """Heuristic quality in [0,1]: rewards sane length and stopword
    presence, penalizes punctuation/digit noise.  Deterministic arithmetic
    (documented formula, SQL-twin-able)."""
    f = quality_features(col)
    length_ok = F.least(f["n_tokens"].cast("double") / 20.0, F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 4.0, F.lit(1.0))
    noise = F.least(f["punct_ratio"] * 5.0 + f["digit_ratio"] * 2.0, F.lit(1.0))
    return F.round(0.5 * length_ok + 0.5 * stop_ok - 0.25 * noise, 4)


def add_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    out = df
    for name, expr in quality_features(text_col).items():
        out = out.withColumn(name, F.round(expr, 4) if name.endswith(("ratio", "len")) else expr)
    return out.withColumn("quality_score", quality_score(text_col))


# ---------------------------------------------------------------------------
# language identification — stopword-vote n-gram heuristic
# ---------------------------------------------------------------------------

# distinctive function words per language; counted as ' word ' literals so
# Java and RE2 regex engines agree exactly
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with", "that"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "fr": ["le", "la", "les", "et", "est", "dans"],
    "es": ["el", "los", "las", "es", "en", "que"],
}
LANG_ORDER = ["en", "de", "fr", "es"]


def lang_votes(col: Column | str) -> dict[str, Column]:
    c = F.concat(F.lit(" "), F.lower((F.col(col) if isinstance(col, str) else col)), F.lit(" "))
    votes = {}
    for lang, words in LANG_MARKERS.items():
        v = F.lit(0)
        for w in words:
            v = v + F.regexp_count(c, F.lit(rf"{WS}{w}{WS}"))
        votes[lang] = v
    return votes


def lang_id(col: Column | str) -> Column:
    """argmax of stopword votes; ties resolved in LANG_ORDER; no votes at
    all → 'und' (undetermined)."""
    votes = lang_votes(col)
    best = F.greatest(*[votes[l] for l in LANG_ORDER])
    expr = F.when(best == 0, F.lit("und"))
    for l in LANG_ORDER:
        expr = expr.when(votes[l] == best, F.lit(l))
    return expr.otherwise(F.lit("und"))


def add_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id(text_col))


# ---------------------------------------------------------------------------
# document fingerprinting — key-collision fingerprint (sorted unique tokens)
# ---------------------------------------------------------------------------

def fingerprint(col: Column | str) -> Column:
    """OpenRefine-style fingerprint: lowercase → whitespace-split → distinct
    → sort → join → md5.  Word-order/duplication-insensitive near-dup key;
    fingerprint equality clusters in one groupBy (no pairwise join)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    toks = F.array_sort(F.array_distinct(F.split(F.trim(F.lower(c)), WS_PLUS)))
    return F.md5(F.concat_ws(" ", toks))


def fingerprint_clusters(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Clusters of documents sharing a fingerprint (size > 1)."""
    return (df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.sort_array(F.collect_list(id_col)).alias("members"))
            .filter(F.col("cluster_size") > 1))


# ---------------------------------------------------------------------------
# document chunking (training-data staple: token-bounded windows + overlap)
# ---------------------------------------------------------------------------

def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", max_tokens: int = 64,
                    overlap: int = 8) -> DataFrame:
    """Split each document into whitespace-token windows of ``max_tokens``
    with ``overlap`` tokens of context between consecutive chunks.

    Pure expressions: tokenize once, generate window starts with
    ``sequence``, slice + rejoin, posexplode — one Generate, no shuffle,
    no Python.  Output: (id, chunk_index, chunk_text, n_chunk_tokens).
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    step = max_tokens - overlap
    tokens = F.split(F.trim(F.col(text_col)), WS_PLUS)
    n = F.size(tokens)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    chunks = F.transform(starts, lambda s: F.slice(tokens, s, max_tokens))
    out = (df.select(F.col(id_col),
                     F.posexplode(chunks).alias("chunk_index", "__toks"))
           .select(id_col, "chunk_index",
                   F.concat_ws(" ", F.col("__toks")).alias("chunk_text"),
                   F.size("__toks").alias("n_chunk_tokens"))
           # empty/whitespace-only docs tokenize to [""] — drop those chunks
           .filter(F.length("chunk_text") > 0))
    return out


# ---------------------------------------------------------------------------
# PII scrubbing (mask structured identifiers before training)
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    # pattern → replacement; RE2/Java-compatible (no lookaround)
    r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}": "<EMAIL>",
    r"\+?[0-9][0-9 ()\-]{7,}[0-9]": "<PHONE>",
    r"[0-9]+": "<NUM>",
}


def scrub_pii(df: DataFrame, text_col: str = "text",
              out_col: str | None = None) -> DataFrame:
    """Chained ``regexp_replace`` masking — order matters (emails/phones
    before bare numbers so their digits aren't pre-masked).  Stays in
    codegen; patterns avoid lookaround so Java and RE2 agree."""
    c = F.col(text_col)
    for pat, rep in PII_PATTERNS.items():
        c = F.regexp_replace(c, pat, rep)
    return df.withColumn(out_col or text_col, c)


def lang_votes_tokens(col: Column | str) -> dict[str, Column]:
    """Token-set voting: tokenize ONCE, count marker hits with array
    filters — 1 split + |langs| array scans per row instead of
    |langs|×|markers| regex scans.  Semantics differ from the regex form
    only on adjacent markers ("the the" counts 2 here, 1 there, because
    the regex consumes the shared space); both forms have exact SQL twins.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), WS_PLUS)
    votes = {}
    for lang, words in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(w) for w in words])
        votes[lang] = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
    return votes


def lang_id_tokens(col: Column | str) -> Column:
    """Token-vote argmax — the scale form of :func:`lang_id`.

    Stays a when-chain on purpose: codegen subexpression elimination
    already evaluates each vote once, and an A/B at sf0.1 measured the
    "gather votes into an array + array_position(array_max)" rewrite ~35%
    SLOWER than this form."""
    votes = lang_votes_tokens(col)
    best = F.greatest(*[votes[l] for l in LANG_ORDER])
    expr = F.when(best == 0, F.lit("und"))
    for l in LANG_ORDER:
        expr = expr.when(votes[l] == best, F.lit(l))
    return expr.otherwise(F.lit("und"))


def add_lang_id_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id_tokens(text_col))


# ---------------------------------------------------------------------------
# training-set assembly: deterministic shuffle, sharding, binned sampling
# ---------------------------------------------------------------------------

# Knuth multiplicative hash — same arithmetic is expressible in ANSI SQL,
# so shuffle/shard assignments are reproducible across engines and runs.
_MIX = 2654435761


def shuffle_key(id_col: Column | str, seed: int = 0) -> Column:
    """Deterministic pseudo-random sort key from a numeric id."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod((c + F.lit(seed)) * F.lit(_MIX), F.lit(1 << 32))

def assign_shards(df: DataFrame, id_col: str, n_shards: int,
                  seed: int = 0) -> DataFrame:
    """Shard assignment for training-data writers: shard = mixed id mod n.
    Uniform, deterministic, reproducible — the write side then just
    ``partitionBy("shard")``; no global sort, no shuffle beyond the write."""
    return df.withColumn("shard",
                         F.pmod(shuffle_key(id_col, seed), F.lit(n_shards))
                         .cast("int"))


def shard_manifest(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", n_shards: int = 16,
                   seed: int = 0) -> DataFrame:
    """Per-shard reproducibility manifest — the artifact a training-data
    release publishes beside the shards (WebDataset/streaming-loader
    practice): for each shard of :func:`assign_shards`' deterministic
    layout, row count, token count, and an ORDER-INDEPENDENT content
    checksum ``bit_xor`` of a portable per-doc 60-bit md5 hash — any
    consumer (or any engine) can re-derive it from the shard's rows in
    any order, so a flipped byte or a lost row is one integer comparison
    away.  One groupBy(shard); partial aggregation means the shuffle
    carries n_shards rows per partition."""
    h = (F.conv(F.substring(F.md5(F.col(text_col).cast("string")), 1, 15),
                16, 10).cast("long"))
    base = (assign_shards(df, id_col, n_shards=n_shards, seed=seed)
            .select("shard", token_count(text_col).alias("__tok"),
                    h.alias("__h")))
    return (base.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__tok").cast("long").alias("n_tokens"),
                 F.expr("bit_xor(__h)").alias("content_checksum")))


def sample_by_bin(df: DataFrame, bin_col: Column, rates: dict[str, int],
                  id_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """Deterministic per-bin subsampling: keep a row iff
    ``mixed(id) mod 100 < rates[bin]`` (rates in percent).  The
    quality-weighted curriculum pattern — higher-quality bins keep more —
    with exact reproducibility and a pure-SQL twin."""
    r = F.lit(None).cast("int")
    expr = None
    for b, pct in rates.items():
        cond = bin_col == b
        expr = F.when(cond, F.lit(pct)) if expr is None else expr.when(cond, F.lit(pct))
    rate = expr.otherwise(F.lit(0))
    return df.withColumn("__rate", rate).filter(
        F.pmod(shuffle_key(id_col, seed), F.lit(100)) < F.col("__rate")
    ).drop("__rate")


def pack_sequences(chunks: DataFrame, token_budget: int = 512,
                   shard_col: str = "shard", order_col: str = "doc_id",
                   tokens_col: str = "n_chunk_tokens") -> DataFrame:
    """Greedy sequence packing: within each shard, chunks (in a
    deterministic order) are packed into consecutive bins of at most
    ``token_budget`` tokens — bin = floor(exclusive-prefix-sum / budget).

    The window partitions by shard, so packing parallelism = shard count
    and no shard's data leaves its partition.  Greedy-by-prefix-sum can
    split a chunk's bin boundary mid-budget (a chunk never splits, a bin
    may exceed budget by < one chunk) — the standard streaming-packing
    trade, documented rather than hidden.
    """
    from pyspark.sql.window import Window

    w = (Window.partitionBy(shard_col).orderBy(order_col, "chunk_index")
         .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum(F.col(tokens_col)).over(w), F.lit(0))
    return chunks.withColumn("bin",
                             F.floor(prefix / token_budget).cast("int"))


# ---------------------------------------------------------------------------
# corpus statistics: vocabulary, unigram-LM scoring, decontamination
# ---------------------------------------------------------------------------

def _tokens_exploded(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token): lowercase whitespace tokens, blanks dropped.  One
    explode; the string never travels further than the first aggregate."""
    from dataqtor_spark.session import parallelize

    c = F.col(text_col).cast("string")
    return (parallelize(df.select(F.col(id_col).alias("__id"), c.alias("__txt")))
            .select("__id",
                    F.explode(F.split(F.trim(F.lower(F.col("__txt"))), WS_PLUS))
                    .alias("token"))
            .filter(F.col("token") != ""))


def vocab(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
          top_k: int | None = None) -> DataFrame:
    """Corpus vocabulary: (token, count[, rank]).  One explode + one
    hash-groupBy — partial aggregation absorbs token skew (every mapper
    pre-counts 'the' locally before the shuffle), so the shuffle carries
    at most |local vocab| rows per partition regardless of corpus size.

    With ``top_k``, ranks by (count desc, token asc) — a deterministic
    total order — and keeps the top slice; the rank window runs on the
    already-aggregated vocab table, not the corpus.
    """
    counts = (_tokens_exploded(df, id_col, text_col)
              .groupBy("token").agg(F.count(F.lit(1)).alias("count")))
    if top_k is None:
        return counts
    from pyspark.sql.window import Window

    # limit first: orderBy+limit compiles to TakeOrderedAndProject (a
    # distributed per-partition top-k + driver merge), so the full vocab is
    # never sorted on one partition; the rank window then runs over k rows.
    top = counts.orderBy(F.desc("count"), F.asc("token")).limit(top_k)
    w = Window.orderBy(F.desc("count"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Perplexity-proxy quality score: per-document mean negative log
    unigram probability under the corpus's own unigram LM,
    ``nll = avg(-ln(count(t) / total_tokens))`` over the doc's tokens.

    High nll = rare-token-heavy (gibberish, codes, OCR noise); low nll =
    stop-word soup.  Two shuffles total: the vocab aggregate, then the
    token→vocab equi-join re-grouped by doc.  The scalar total rides a
    broadcast crossJoin; the token join is hash-partitioned on token, so
    LM size is unbounded (no broadcast of the vocabulary).

    Returns (id, n_tokens, nll) with nll rounded to 6 dp; empty/blank
    documents are absent (no tokens).
    """
    toks = _tokens_exploded(df, id_col, text_col)
    # LM from the same exploded frame — one tokenization pass, not two
    lm = toks.groupBy("token").agg(F.count(F.lit(1)).alias("count"))
    total = lm.agg(F.sum("count").alias("__total"))
    return (toks.join(lm, "token")
            .crossJoin(F.broadcast(total))
            .groupBy("__id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(-F.log(F.col("count") / F.col("__total"))), 6)
                 .alias("nll"))
            .withColumnRenamed("__id", id_col))


def _clean_tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens with blanks dropped — an array expression
    (no explode, no shuffle); the per-doc repetition stats below stay inside
    whole-stage codegen."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return F.filter(F.split(F.trim(F.lower(c)), WS_PLUS), lambda t: t != "")


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document repetition statistics — the Gopher-style repetition
    filters (Rae et al. 2021 §A1.1) adapted to unstructured text:

    - ``dup_unigram_frac``      1 − |distinct tokens| / |tokens|
    - ``repeat_adjacent_frac``  fraction of adjacent token pairs that are equal
    - ``top_2gram_frac``        occurrences of the most frequent word bigram
                                / total bigrams

    The unigram/adjacent stats are pure array expressions over the tokenized
    row (zero shuffle).  The bigram mode needs a per-(doc, bigram) count —
    one posexplode + one groupBy; the exploded value is ``xxhash64(bigram)``
    so the shuffle carries (id, 8-byte) pairs, never bigram strings (count
    equality is hash-collision-tolerant the same way the dedup family is).
    Docs with <2 tokens have no bigrams → ``top_2gram_frac`` 0.
    """
    from dataqtor_spark.session import parallelize

    # repartition RAW text, tokenize above the exchange: single-row-group
    # inputs otherwise evaluate the tokenizer inside the one-task scan
    # stage (and the exchange would carry token arrays, not raw text);
    # the two consumers below reuse the raw exchange and re-tokenize at
    # full width — cheap CPU against a serialized stage
    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", _clean_tokens("__txt").alias("__tk"))
            .withColumn("__n", F.size("__tk")))
    sig = base.select(
        "__id", "__n", "__tk",
        F.when(F.col("__n") > 0,
               F.lit(1.0) - F.size(F.array_distinct("__tk")) / F.col("__n"))
        .otherwise(F.lit(0.0)).alias("dup_unigram_frac"),
        F.when(F.col("__n") > 1,
               F.size(F.filter(
                   F.sequence(F.lit(1), F.col("__n") - 1),
                   lambda i: F.element_at(F.col("__tk"), i)
                   == F.element_at(F.col("__tk"), i + 1)))
               / (F.col("__n") - 1))
        .otherwise(F.lit(0.0)).alias("repeat_adjacent_frac"),
    )
    # the <2-token guard lives INSIDE the explode operand (explode of the
    # NULL `when` branch emits nothing): a `.filter(__n >= 2)` here is
    # pushed below the parallelize exchange with the whole tokenize
    # expression cloned into the single-task scan stage
    grams = (base.select("__id",
                         F.explode(F.when(F.col("__n") >= 2, F.transform(
                             F.sequence(F.lit(1), F.col("__n") - 1),
                             lambda i: F.xxhash64(F.concat_ws(
                                 " ", F.element_at(F.col("__tk"), i),
                                 F.element_at(F.col("__tk"), i + 1))))))
                         .alias("__g")))
    topg = (grams.groupBy("__id", "__g").agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("__id")
            .agg((F.max("__c") / F.sum("__c")).alias("top_2gram_frac")))
    return (sig.join(topg, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.col("__n").cast("long").alias("n_tokens"),
                    F.round(F.coalesce(F.col("top_2gram_frac"), F.lit(0.0)), 6)
                    .alias("top_2gram_frac"),
                    F.round("dup_unigram_frac", 6).alias("dup_unigram_frac"),
                    F.round("repeat_adjacent_frac", 6).alias("repeat_adjacent_frac")))


GOPHER_DEFAULTS = {
    "min_tokens": 30,
    "max_tokens": 50_000,
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 12.0,
    "min_distinct_stopwords": 1,
    "max_dup_unigram_frac": 0.8,
    "max_top_2gram_frac": 0.20,
    "max_repeat_adjacent_frac": 0.10,
}


def gopher_filter(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", **overrides) -> DataFrame:
    """Gopher-style document quality gate: per-doc boolean flags plus the
    combined ``keep`` decision.  Thresholds default to :data:`GOPHER_DEFAULTS`
    (adapted from Rae et al. 2021 Table A1 to whitespace-token text).

    Flags: ``word_count_ok`` (token count in bounds), ``avg_len_ok`` (mean
    token length in bounds), ``stopword_ok`` (≥N distinct stopwords),
    ``repetition_ok`` (all :func:`repetition_signals` under their caps).
    One groupBy total (inherited from the bigram stat); everything else is
    array arithmetic in the scan projection.
    """
    p = {**GOPHER_DEFAULTS, **overrides}
    toks = _clean_tokens(text_col)
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    feats = df.select(
        F.col(id_col),
        F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
        .alias("__n_stop"),
        (F.aggregate(toks, F.lit(0).cast("long"),
                     lambda acc, t: acc + F.length(t))
         / F.greatest(F.size(toks), F.lit(1))).alias("__avg_len"),
    )
    sig = repetition_signals(df, id_col, text_col)
    out = sig.join(feats, id_col)
    word_count_ok = F.col("n_tokens").between(p["min_tokens"], p["max_tokens"])
    avg_len_ok = F.col("__avg_len").between(p["min_avg_token_len"],
                                            p["max_avg_token_len"])
    stopword_ok = F.col("__n_stop") >= p["min_distinct_stopwords"]
    repetition_ok = (
        (F.col("dup_unigram_frac") <= p["max_dup_unigram_frac"])
        & (F.col("top_2gram_frac") <= p["max_top_2gram_frac"])
        & (F.col("repeat_adjacent_frac") <= p["max_repeat_adjacent_frac"]))
    return out.select(
        id_col, "n_tokens",
        word_count_ok.alias("word_count_ok"),
        avg_len_ok.alias("avg_len_ok"),
        stopword_ok.alias("stopword_ok"),
        repetition_ok.alias("repetition_ok"),
        (word_count_ok & avg_len_ok & stopword_ok & repetition_ok).alias("keep"),
    )


def repeated_spans(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", span_tokens: int = 8,
                   min_docs: int = 2) -> DataFrame:
    """Cross-document repeated-span detection — the exact-substring dedup
    signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), windowed instead of suffix-array'd: every
    ``span_tokens``-token window is hashed, and windows whose text occurs in
    ``min_docs``+ distinct documents are flagged as shared.

    Returns per-doc ``(id, n_windows, n_shared_windows, shared_frac)`` —
    the fraction of a document covered by cross-document boilerplate.

    Scale shape: one posexplode of xxhash64'd windows (8-byte rows, window
    text never shuffles), pre-aggregated per (hash, doc) — a hash
    aggregate with MAP-SIDE PARTIAL aggregation, so a boilerplate span
    present in millions of documents (license headers: the hot-key shape
    of real web corpora at 100 TB) collapses to one row per (hash, doc)
    per map task before anything shuffles, and AQE splits any residual
    skewed reduce partition.  [An earlier shape marked shared windows with
    ``Window.partitionBy(hash)``: a window function cannot partially
    aggregate and AQE cannot split a window partition, so one task had to
    buffer every occurrence of the hottest span — the exact failure mode
    boilerplate creates.]  The shared-hash set derived from the deduped
    frame is bounded by distinct shared windows and joins back as a hash
    semi-join AQE broadcasts when small and skew-splits when not; the
    (hash, doc) frame is pinned (lazy ``localCheckpoint``) so the explode
    feeding it runs once across both consumers.
    """
    from dataqtor_spark.session import parallelize

    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage)
    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", _clean_tokens("__txt").alias("__tk"))
            .withColumn("__n", F.size("__tk")))
    wins_expr = F.when(
        F.col("__n") >= span_tokens,
        F.transform(F.sequence(F.lit(1), F.col("__n") - (span_tokens - 1)),
                    lambda s: F.xxhash64(F.concat_ws(
                        " ", F.slice(F.col("__tk"), s, span_tokens)))))
    ex = base.select("__id", F.explode(wins_expr).alias("__h"))
    # per-(hash, doc) occurrence counts first: partial-agg, skew-immune
    hd = (ex.groupBy("__h", "__id")
          .agg(F.count(F.lit(1)).alias("__occ"))
          .localCheckpoint(eager=False))
    # "shared" per hash from the deduped frame.  min(id) ≠ max(id) covers
    # the default min_docs=2 with two agg buffers; hd rows are distinct
    # (hash, doc) pairs, so count(*) IS the distinct-doc count for the
    # general case — no per-group distinct table, no collect_set.
    if min_docs == 2:
        sh = (hd.groupBy("__h")
              .agg((F.min("__id") != F.max("__id")).alias("__m")))
    else:
        sh = (hd.groupBy("__h")
              .agg((F.count(F.lit(1)) >= min_docs).alias("__m")))
    shared = sh.filter("__m").select("__h")
    per = (hd.join(shared, "__h", "left_semi")
           .groupBy("__id")
           .agg(F.sum("__occ").alias("__shared")))
    tot = base.select("__id",
                      F.when(F.col("__n") >= span_tokens,
                             F.col("__n") - (span_tokens - 1))
                      .otherwise(F.lit(0)).alias("n_windows"))
    return (tot.join(per, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.col("n_windows").cast("long").alias("n_windows"),
                    F.coalesce(F.col("__shared"), F.lit(0)).cast("long")
                    .alias("n_shared_windows"),
                    F.round(F.coalesce(F.col("__shared"), F.lit(0))
                            / F.greatest(F.col("n_windows"), F.lit(1)), 6)
                    .alias("shared_frac")))


def dsir_importance(df: DataFrame, target_pred: Column,
                    id_col: str = "doc_id", text_col: str = "text",
                    top_k: int = 50,
                    hash_buckets: int | None = None) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its bag of n-gram
    features is under a TARGET distribution than under the raw corpus,
    and keep the top-k.  ``target_pred`` marks the target rows (e.g.
    ``F.col("source") == "src0"`` for in-domain seed data).

    Features are unigrams + bigrams.  ``hash_buckets=None`` keeps identity
    keys (at Spark scale the feature aggregate is a distributed groupBy,
    so exact keys cost one shuffle either way); ``hash_buckets=B`` applies
    the paper's feature hashing — every n-gram maps to
    ``int(md5(f)[:15], 16) % B`` — which BOUNDS the feature-distribution
    state at B rows no matter the corpus vocabulary (the right mode when
    the n-gram vocabulary itself is corpus-scale, e.g. web-crawl bigrams
    at 100 TB; the md5 form keeps the bucketing replayable in ANSI SQL —
    swap xxhash64 in only if the hash itself ever profiles, which it
    does not here: tokenize+explode dominates).  Both distributions are
    Laplace-smoothed over the joint vocabulary; the per-document log
    weight ``sum c_f * (ln p_t(f) - ln p_q(f))`` accumulates per-feature
    log-ratios rounded to 9 dp as DECIMAL so the sum is exact and
    summation order can never leak into the result.

    ONE corpus-scale pass total: the tokenized corpus (``toks``, one
    array row per doc — the smallest corpus-shaped frame in the
    pipeline) is persisted across the two gram consumers; explode is
    replayed from it in-memory.  The feature distribution aggregates
    straight off the occurrence stream (map-side partials reduce to the
    per-partition vocabulary before the exchange), and the per-document
    score joins the occurrence stream with the ratio table directly —
    ``Σ_f c_f·lr_f ≡ Σ_occurrences lr`` exactly in DECIMAL (decimal ×
    integer count is repeated exact addition), so the former per-(doc,
    feature) count aggregate — an occurrence-scale exchange whose keys
    were nearly unique per partition, i.e. zero map-side reduction —
    is gone outright; the per-doc aggregate's partials now collapse to
    ~1 row per doc per partition BEFORE its exchange (a doc's
    occurrences are colocated after explode).  Vocab totals ride
    broadcast scalars off the persisted (vocab-sized) ``feat``; the
    final top-k is a TakeOrderedAndProject, never a global sort.
    Returns ``(id, n_feats, log_weight, rank)`` for the k selected docs.
    """
    from dataqtor_spark.session import parallelize

    # repartition the RAW text first, tokenize above the exchange: the
    # driver testdata is one row group per file, so an inner tokenize
    # would run inside the single-task scan stage (and the exchange
    # would carry token arrays instead of the lighter raw text)
    toks = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  target_pred.alias("__t"),
                                  F.col(text_col).alias("__text")))
            .select("__id", "__t", _clean_tokens("__text").alias("__tk"))
            .withColumn("__n", F.size("__tk")).persist())
    feat = None
    try:
        bigrams = F.when(
            F.col("__n") >= 2,
            F.transform(F.sequence(F.lit(1), F.col("__n") - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at("__tk", i),
                            F.element_at("__tk", i + 1)))
        ).otherwise(F.array().cast("array<string>"))
        grams = toks.select("__id", "__t",
                            F.explode(F.concat("__tk", bigrams))
                            .alias("__f"))
        if hash_buckets is not None:
            grams = grams.select(
                "__id", "__t",
                (F.conv(F.substring(F.md5(F.col("__f")), 1, 15), 16, 10)
                 .cast("long") % F.lit(int(hash_buckets))).alias("__f"))
        # per-feature occurrence counts, straight from the gram stream —
        # partial aggregation reduces each partition to its vocabulary
        # before the exchange; persisted because tot AND ratio consume it
        feat = grams.groupBy("__f").agg(
            F.count(F.lit(1)).alias("__cr"),
            F.sum(F.when(F.col("__t"), F.lit(1)).otherwise(F.lit(0)))
            .alias("__ct")).persist()
        tot = feat.agg(F.sum("__cr").alias("__tr"),
                       F.sum("__ct").alias("__tt"),
                       F.count(F.lit(1)).alias("__v"))
        ratio = (feat.crossJoin(F.broadcast(tot))
                 .select("__f", F.round(
                     F.log((F.col("__ct") + 1)
                           / (F.col("__tt") + F.col("__v")))
                     - F.log((F.col("__cr") + 1)
                             / (F.col("__tr") + F.col("__v"))),
                     9).cast("decimal(18,9)").alias("__lr")))
        # with feature hashing the ratio table is bounded at B rows by
        # construction — broadcast it so grams never shuffle on __f (the
        # identity-key mode keeps a corpus-vocabulary ratio table, where
        # a broadcast would not survive scale; AQE decides there)
        if hash_buckets is not None:
            ratio = F.broadcast(ratio)
        # every occurrence contributes its feature's lr once: the DECIMAL
        # sum equals the former sum(c_f * lr_f) term for term, with the
        # 6dp round still applied IN DECIMAL SPACE before the double cast
        scored = (grams.join(ratio, "__f")
                  .groupBy("__id")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_feats"),
                       F.round(F.sum("__lr"), 6).cast("double")
                       .alias("log_weight")))
        top = (scored.orderBy(F.col("log_weight").desc(), F.col("__id"))
               .limit(top_k))
        from pyspark.sql.window import Window

        # rank AFTER the limit — TakeOrderedAndProject bounds the window
        w = Window.orderBy(F.col("log_weight").desc(), F.col("__id"))
        out = (top.select(F.col("__id").alias(id_col), "n_feats",
                          "log_weight",
                          F.row_number().over(w).cast("long").alias("rank"))
               .localCheckpoint())
        return out
    finally:
        if feat is not None:
            feat.unpersist()
        toks.unpersist()


def ngram_lm_score(df: DataFrame, ref_pred: Column,
                   id_col: str = "doc_id", text_col: str = "text"
                   ) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020):
    train a Laplace-smoothed BIGRAM LM on an in-domain reference slice
    (``ref_pred`` marks its rows) and score EVERY document by average
    token log-probability — the classic "keep what looks like the
    reference corpus" filter, where low ``avg_logprob`` (high perplexity)
    marks gibberish/boilerplate and suspiciously high marks templated
    text.  Returns ``(id, n_tokens, avg_logprob)``; perplexity is
    ``exp(-avg_logprob)`` if a consumer wants it (not emitted — libm exp
    is not cross-engine-stable, the log-space score is).

    Model: position 1 scores ``ln((c(w1)+1)/(T+V))`` (unigram start),
    positions 2..n score ``ln((c(prev,w)+1)/(c(prev)+V))`` with counts
    from the reference slice only, V = reference vocabulary size, T =
    reference token total.  Unseen words/bigrams fall through the +1
    smoothing with coalesced 0 counts.

    Portability: each per-position log rounds to 9 dp as DECIMAL before
    summation (the dsir01 device — sums are exact and order-free), and
    the final average is the EXACT integer-rational rounding of
    ``sum_lp / n_tokens`` (functions/exact.py) — no double ever meets
    ``round()``.

    Scale shape: ONE corpus pass (tokenize → explode → per-doc gram
    groupBy); the reference tables aggregate from the same exploded
    stream (conditional sums — the reference is never re-scanned); doc
    grams join the LM tables on token keys (hash joins, reference-sized
    build sides); one per-doc sum.  Linear in corpus tokens.
    """
    from dataqtor_spark.functions.exact import round_ratio
    from dataqtor_spark.session import parallelize

    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage)
    toks = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  ref_pred.alias("__t"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", "__t", _clean_tokens("__txt").alias("__tk"))
            .withColumn("__n", F.size("__tk"))
            # two consumers (fused gram stream, reference unigrams) —
            # persist the tokenized frame so the corpus is scanned and
            # tokenized ONCE, not twice; released in the finally
            # with ref_uni/docg_t (blocks spill to disk at cluster scale)
            .persist())
    # start + bigram terms FUSED into one gram stream (r16 opt round,
    # §2.4: the start leg previously ran its own firsts⋈ref_uni join and
    # a union into the per-doc sum — one more toks consumer, one more
    # join subtree).  Position 1 emits (a=NULL, b=w1); positions 2..n
    # emit (w_{i-1}, w_i).  A NULL ``__a`` uniquely marks the start term:
    # _clean_tokens never yields NULL elements, so no real bigram can
    # collide with the marker.  The when() guard keeps element_at from
    # ever seeing index 0 (ANSI): CaseWhen evaluates only the matched
    # branch.
    gram = (toks.filter(F.col("__n") >= 1)
            .select("__id", "__t", F.explode(F.transform(
                F.sequence(F.lit(1), F.col("__n")),
                lambda i: F.struct(
                    F.when(i >= 2, F.element_at("__tk", i - 1)).alias("a"),
                    F.element_at("__tk", i).alias("b")))).alias("__g"))
            .select("__id", "__t", F.col("__g.a").alias("__a"),
                    F.col("__g.b").alias("__b")))
    # unigram stream for the reference LM (ALL positions, not just
    # firsts).  NOTE (r15 opt round): deriving ref_uni from firsts +
    # the per-doc gram table (every token is a doc-first or the "b" of
    # exactly one bigram) was tried and REVERTED — the __t filter
    # already pushes below this explode so the stream is
    # reference-sized, and chaining ref_uni onto docg_t serializes two
    # branches that here run in parallel (measured 3.1 → 7-19 s)
    uni = toks.select("__id", "__t",
                      F.explode("__tk").alias("__w"))
    ref_uni = (uni.filter("__t").groupBy("__w")
               .agg(F.count(F.lit(1)).alias("__cu"))).persist()
    docg_t = None
    try:
        ref_tot = ref_uni.agg(F.sum("__cu").alias("__lmT"),
                              F.count(F.lit(1)).alias("__lmV"))
        lp9 = lambda num, den: F.round(F.log(num / den), 9) \
            .cast("decimal(18,9)")  # noqa: E731
        # per-doc gram counts: ONE explode feeds them (start term rides
        # along as the NULL-__a row, count 1 by construction — exactly
        # the old union leg's F.lit(1)), and the reference bigram LM
        # re-aggregates the (much smaller) per-doc table instead of
        # re-exploding the corpus — __t is constant per doc, so carrying
        # it through the groupBy costs nothing.  persist (released in
        # the finally, the ref_uni pattern) rather than a lazy
        # localCheckpoint, which would pin an O(corpus-grams) block
        # until Python GC drops the frame
        docg_t = (gram.groupBy("__id", "__t", "__a", "__b")
                  .agg(F.count(F.lit(1)).alias("__c"))).persist()
        # start rows (NULL __a) are excluded: the reference bigram table
        # must count positions 2..n only (and a NULL key could never
        # equi-join anyway)
        ref_bi = (docg_t.filter("__t").filter(F.col("__a").isNotNull())
                  .groupBy("__a", "__b")
                  .agg(F.sum("__c").cast("long").alias("__cb")))
        # one unigram lookup serves both term kinds: gram rows need
        # c(prev) = ref_uni[__a], the start row needs c(w1) = ref_uni[__b]
        docg = (docg_t.drop("__t")
                .withColumn("__k", F.coalesce("__a", "__b")))
        prev = ref_uni.select(F.col("__w").alias("__k"),
                              F.col("__cu").alias("__ck"))
        is_start = F.col("__a").isNull()
        ck0 = F.coalesce(F.col("__ck"), F.lit(0))
        terms = (docg.join(ref_bi, ["__a", "__b"], "left")
                 .join(prev, "__k", "left")
                 .crossJoin(F.broadcast(ref_tot))
                 .select("__id", lp9(
                     F.when(is_start, ck0 + 1)
                     .otherwise(F.coalesce(F.col("__cb"), F.lit(0)) + 1),
                     F.when(is_start, F.col("__lmT") + F.col("__lmV"))
                     .otherwise(ck0 + F.col("__lmV")))
                     .alias("__lp"), "__c"))
        scored = (terms.groupBy("__id")
                  .agg(F.sum(F.col("__c").cast("decimal(10,0)")
                             * F.col("__lp")).alias("__sum"),
                       F.sum("__c").cast("long").alias("__np")))
        # avg = sum/n as an exact rational: sum is DECIMAL(38,9) → ·10⁹
        # integer numerator over n·10⁹
        out = scored.select(
            F.col("__id").alias(id_col),
            F.col("__np").alias("n_tokens"),
            round_ratio((F.col("__sum") * 1000000000).cast("decimal(38,0)"),
                        F.col("__np").cast("decimal(38,0)") * 1000000000,
                        6).alias("avg_logprob")).localCheckpoint()
        return out
    finally:
        toks.unpersist()
        ref_uni.unpersist()
        if docg_t is not None:
            docg_t.unpersist()


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b0?5[0-9]{9}\b"          # TR mobile shapes (5xx…, 05xx…)
PII_TCID_RE = r"\b[1-9][0-9]{10}\b"        # 11-digit national-ID candidates


def _valid_tcids(text_col: str) -> Column:
    """The national-ID candidates of ``text_col`` that pass the TCID
    checksum: one ``filter`` with the checksum's SQL text as its lambda."""
    from dataqtor_spark.functions.checksums import tcid_expr
    from dataqtor_spark.functions.sqltext import ident, lit

    ids = f"regexp_extract_all(CAST({ident(text_col)} AS STRING), {lit(PII_TCID_RE)}, 0)"
    return F.expr(f"filter({ids}, x -> {tcid_expr('x')})")


def pii_scan(df: DataFrame, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """PII screening over free text — the pre-release scrub pass of a
    training-data pipeline: per document, counts of e-mail addresses,
    TR-mobile-shaped phone numbers, 11-digit national-ID *candidates*,
    and the subset of candidates that pass the real TCID checksum
    (functions/checksums.py — the reference's validator applied to
    EXTRACTED spans instead of a typed column, which kills the
    digit-run false positives a regex-only scanner reports).

    Returns ``(id, n_emails, n_phones, n_id_candidates, n_ids_valid,
    has_pii)``.  One codegen'd projection — regex extraction and the
    checksum arithmetic run in-row, no shuffle, no UDF; the patterns use
    the portable regex subset (classes, bounded quantifiers, ``\\b``)
    shared by Java regex and RE2 so the DuckDB oracle scans byte-for-byte
    the same spans.
    """
    c = F.col(text_col).cast("string")
    emails = F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0))
    phones = F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0))
    ids = F.regexp_extract_all(c, F.lit(PII_TCID_RE), F.lit(0))
    valid = _valid_tcids(text_col)
    out = df.select(
        F.col(id_col),
        F.size(emails).cast("long").alias("n_emails"),
        F.size(phones).cast("long").alias("n_phones"),
        F.size(ids).cast("long").alias("n_id_candidates"),
        F.size(valid).cast("long").alias("n_ids_valid"))
    return out.withColumn(
        "has_pii",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ids_valid")) > 0)


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """The APPLY step of :func:`pii_scan` (the t16→t35 detect→scrub
    pattern): e-mail and phone spans are regex-replaced with
    ``[EMAIL]``/``[PHONE]`` placeholders, and checksum-VALID national-ID
    candidates — extracted from the ORIGINAL text, validated per span —
    are removed with an in-row literal-replace fold (``F.aggregate`` over
    the bounded valid-span array → ``[ID]``).  Returns
    ``(id, text_redacted, n_redactions)``.

    One codegen'd projection, no shuffle.  Convention: the literal
    replace of a valid ID hits every occurrence of those exact digits,
    including inside a longer digit run that was not itself a candidate
    — deterministic and identical across engines (privacy errs toward
    over-redaction)."""
    c = F.col(text_col).cast("string")
    valid = _valid_tcids(text_col)
    n = (F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0)))
         + F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0)))
         + F.size(valid))
    t1 = F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]")
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "[PHONE]")
    t3 = F.aggregate(valid, t2,
                     lambda acc, x: F.replace(acc, x, F.lit("[ID]")))
    return df.select(F.col(id_col), t3.alias("text_redacted"),
                     n.cast("long").alias("n_redactions"))


def scrub_shared_spans(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", span_tokens: int = 8,
                       min_docs: int = 2) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2022): remove
    from every document the tokens covered by any ``span_tokens``-token
    window whose text also occurs in ``min_docs``-1 other documents —
    :func:`repeated_spans` detects the boilerplate, this op scrubs it.

    Returns per-doc ``(id, n_tokens, n_removed, cleaned_text)`` where
    ``cleaned_text`` is the space-joined surviving tokens (NULL when the
    whole document was boilerplate — the cross-engine canonical form of
    "empty join").

    Scale shape: one posexplode of xxhash64'd windows (8 bytes/row,
    pinned via lazy ``localCheckpoint`` so it materializes once for its
    two consumers), a skew-immune shared-hash derivation — groupBy(hash)
    with min/max agg buffers (map-side partials; a license-header span in
    millions of docs collapses per map task, and AQE splits any residual
    hot reduce partition — the shape a ``Window.partitionBy(hash)`` marker
    cannot achieve, since window partitions can neither partially
    aggregate nor be split), a semi-join back on the bounded shared set
    (AQE broadcasts it when small), one groupBy(doc) collecting the
    bounded list of shared start offsets, one hash-join back to the token
    arrays.  The in-row coverage test is O(doc_tokens x shared starts) —
    bounded by document length, never by corpus size, so the whole op is
    linear in corpus tokens at 100 TB.
    """
    from dataqtor_spark.session import parallelize

    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage)
    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", _clean_tokens("__txt").alias("__tk"))
            .withColumn("__n", F.size("__tk")))
    wins_expr = F.when(
        F.col("__n") >= span_tokens,
        F.transform(F.sequence(F.lit(1), F.col("__n") - (span_tokens - 1)),
                    lambda s: F.xxhash64(F.concat_ws(
                        " ", F.slice(F.col("__tk"), s, span_tokens)))))
    ex = (base.select("__id", F.posexplode(wins_expr).alias("__p", "__h"))
          .localCheckpoint(eager=False))
    # shared-hash set: min(id) ≠ max(id) for the default min_docs=2 (two
    # agg buffers, partial-agg); exact distinct-doc count otherwise —
    # Spark plans count(DISTINCT id) as the two-stage (hash, id) partial
    # dedupe, the same skew-immune shape.
    if min_docs == 2:
        sh = (ex.groupBy("__h")
              .agg((F.min("__id") != F.max("__id")).alias("__m")))
    else:
        sh = (ex.groupBy("__h")
              .agg((F.count_distinct("__id") >= min_docs).alias("__m")))
    shared = sh.filter("__m").select("__h")
    starts = (ex.join(shared, "__h", "left_semi")
              .groupBy("__id")
              # posexplode is 0-based; token offsets below are 1-based
              .agg(F.collect_list(F.col("__p") + 1).alias("__ss")))
    span = F.lit(span_tokens)
    ss = F.coalesce(F.col("__ss"), F.array().cast("array<int>"))
    covered = lambda i: F.exists(  # noqa: E731 — bound per-row, not stored
        ss, lambda s: (i >= s) & (i <= s + (span - 1)))
    kept = F.when(
        F.col("__n") > 0,
        F.transform(
            F.filter(F.sequence(F.lit(1), F.col("__n")),
                     lambda i: ~covered(i)),
            lambda i: F.element_at("__tk", i)),
    ).otherwise(F.array().cast("array<string>"))
    return (base.join(starts, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.col("__n").cast("long").alias("n_tokens"),
                    (F.col("__n") - F.size(kept)).cast("long")
                    .alias("n_removed"),
                    F.when(F.size(kept) > 0, F.concat_ws(" ", kept))
                    .alias("cleaned_text")))


def ngram_novelty(df: DataFrame, ref_pred: Column, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Reference-vocabulary novelty score: per document, the fraction of
    its distinct word ``n``-gram shingles that do NOT occur anywhere in
    the reference slice (``ref_pred`` marks its rows) — the
    vocabulary-overlap signal between exact decontamination (t13, full
    text match) and fuzzy decontamination (t37, LSH): high novelty =
    out-of-domain or gibberish, ~0 = the reference corpus already covers
    it (reference rows score 0 by construction, a built-in sanity row).

    Returns ``(id, n_shingles, n_seen, novelty_ppm)`` with novelty as an
    exact half-up ppm (the t17 integer surface).  Sub-``n``-word docs
    contribute their whole text as one shingle (the
    :func:`dedup.word_shingles` convention), so ``n_shingles >= 1``
    always and no division guard is needed.

    Scale shape: the full corpus is shingle-exploded ONCE through
    :func:`dedup._exploded_shingles` (word hashes computed once per row,
    per-shingle cost = n array reads + one fixed-arity hash, 8-byte rows
    — shingle STRINGS are never even allocated, the device that keeps
    d02's posting lists cheap); the reference set comes from its OWN
    scan with ``ref_pred`` pushed down to the source (reads only the
    reference slice, not a second full-corpus pass), is reference-sized
    after the distinct, and joins back as a hash join AQE can
    broadcast."""
    from dataqtor_spark.operators.dedup import _exploded_shingles

    ex = _exploded_shingles(df, id_col, text_col, n) \
        .select(F.col("__id"), F.col("__sh").alias("__h"))
    ref = (_exploded_shingles(df.filter(ref_pred), id_col, text_col, n)
           .select(F.col("__sh").alias("__h"))
           .distinct().withColumn("__seen", F.lit(True)))
    agg = (ex.join(ref, "__h", "left")
           .groupBy("__id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                F.sum(F.coalesce(F.col("__seen"), F.lit(False))
                      .cast("long")).cast("long").alias("n_seen")))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    two = F.lit(2).cast("decimal(38,0)")
    m = F.lit(1000000).cast("decimal(38,0)")
    ns, seen = dec(F.col("n_shingles")), dec(F.col("n_seen"))
    nov = F.call_function("div", two * (ns - seen) * m + ns, two * ns)
    return agg.select(F.col("__id").alias(id_col), "n_shingles", "n_seen",
                      nov.cast("long").alias("novelty_ppm"))


def token_budget(df: DataFrame, budget: int, source_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Training-token budget planner: per source, how many EPOCHS over
    its exact-deduped corpus a uniform ``budget`` split implies — the
    number a mixture owner reads before committing to target weights
    (>1e6 ppm = that source repeats; ≫1e6 = it memorizes).

    Per source: raw/unique doc counts (exact dedup on md5(text)),
    raw/unique token totals, ``dup_token_ppm`` (fraction of tokens that
    are duplicate copies, exact ppm), and ``epochs_ppm`` =
    round(budget / n_sources / unique_tokens · 10⁶) on the same exact
    integer surface as :func:`source_mix` (half-up via decimal ``div`` —
    no float meets a round).  Degenerate zero-token sources yield NULL
    ratios, the engine-identical convention.

    Scale shape: one groupBy (source, md5) — the exact-dedup pass, with
    map-side partial aggregation — then a |sources|-row re-aggregate
    and a broadcast 1-row total.  Token counts ride the dedup groupBy
    (identical across copies, ``min`` picks deterministically), so the
    corpus is scanned once."""
    # NOT parallelize()d (r15 opt round, measured): the (source, md5)
    # partial aggregation does not reduce rows — md5 is distinct per doc
    # — so a pre-exchange of raw text would ADD a corpus-row shuffle
    # while the existing exchange already carries only (md5, counts)
    # rows; at real scale the scan parallelizes on its own.
    per_text = (df.groupBy(F.col(source_col).alias("source"),
                           F.md5(F.col(text_col).cast("string"))
                           .alias("__h"))
                .agg(F.count(F.lit(1)).alias("__dups"),
                     F.min(token_count(text_col)).alias("__tok")))
    agg = per_text.groupBy("source").agg(
        F.sum("__dups").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique_docs"),
        F.sum(F.col("__dups") * F.col("__tok")).cast("long")
        .alias("n_tokens"),
        F.sum("__tok").cast("long").alias("n_unique_tokens"))
    tot = agg.agg(F.count(F.lit(1)).alias("__ns"))
    out = agg.crossJoin(F.broadcast(tot))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    two = F.lit(2).cast("decimal(38,0)")
    m = F.lit(1000000).cast("decimal(38,0)")
    b = F.lit(int(budget)).cast("decimal(38,0)")
    ns, nt = dec(F.col("__ns")), dec(F.col("n_tokens"))
    ut = dec(F.col("n_unique_tokens"))
    dup_ppm = F.when(F.col("n_tokens") > 0, F.call_function(
        "div", two * (nt - ut) * m + nt, two * nt).cast("long"))
    ep_ppm = F.when(F.col("n_unique_tokens") > 0, F.call_function(
        "div", two * b * m + ns * ut, two * ns * ut).cast("long"))
    return out.select("source", "n_docs", "n_unique_docs", "n_tokens",
                      "n_unique_tokens",
                      dup_ppm.alias("dup_token_ppm"),
                      ep_ppm.alias("epochs_ppm"))


def collapse_repeated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            span_tokens: int = 8) -> DataFrame:
    """WITHIN-document exact-substring collapse — the self-repeat half of
    Lee et al. 2022 ExactSubstr (:func:`scrub_shared_spans` handles the
    cross-document half): every ``span_tokens``-token window whose text
    already occurred EARLIER in the same document is a duplicate
    occurrence, and the tokens it covers are removed; the first
    occurrence always survives.  Returns per-doc
    ``(id, n_tokens, n_removed, cleaned_text)`` with NULL cleaned_text
    when nothing survives (cross-engine canonical empty join).

    The degenerate loop ("a a a a ...") collapses to its first token;
    templated boilerplate repeated mid-document keeps one copy.

    Scale shape: ZERO shuffle — everything is per-row array expressions
    (window hashes, first-occurrence test via ``array_position``, the
    same in-row coverage filter as :func:`scrub_shared_spans`).  The
    first-occurrence scan is O(windows²) per DOCUMENT in the worst case
    — bounded by document length, never corpus size, the same class as
    the cross-doc op's coverage test."""
    from dataqtor_spark.session import parallelize

    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage)
    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", _clean_tokens("__txt").alias("__tk"))
            .withColumn("__n", F.size("__tk")))
    span = F.lit(span_tokens)
    hashes = F.when(
        F.col("__n") >= span_tokens,
        F.transform(F.sequence(F.lit(1), F.col("__n") - (span_tokens - 1)),
                    lambda s: F.xxhash64(F.concat_ws(
                        " ", F.slice(F.col("__tk"), s, span_tokens))))
    ).otherwise(F.array().cast("array<bigint>"))
    base = base.withColumn("__hs", hashes)
    # duplicate-occurrence starts: windows whose hash first occurs
    # earlier.  Guard: sequence(1, 0) counts DOWN, so a window-less doc
    # must short-circuit to an empty start list (the t20 device).
    base = base.withColumn("__ss", F.expr(
        "CASE WHEN size(__hs) > 0 THEN "
        "filter(sequence(1, size(__hs)), "
        "s -> array_position(__hs, element_at(__hs, s)) < s) "
        "ELSE array() END"))
    ss = F.col("__ss")
    covered = lambda i: F.exists(  # noqa: E731 — bound per-row, not stored
        ss, lambda s: (i >= s) & (i <= s + (span - 1)))
    kept = F.when(
        F.col("__n") > 0,
        F.transform(
            F.filter(F.sequence(F.lit(1), F.col("__n")),
                     lambda i: ~covered(i)),
            lambda i: F.element_at("__tk", i)),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(F.col("__id").alias(id_col),
                       F.col("__n").cast("long").alias("n_tokens"),
                       (F.col("__n") - F.size(kept)).cast("long")
                       .alias("n_removed"),
                       F.when(F.size(kept) > 0, F.concat_ws(" ", kept))
                       .alias("cleaned_text"))


def source_mix(df: DataFrame, source_col: str = "source",
               text_col: str = "text",
               targets: dict[str, float] | None = None,
               ppm: bool = False) -> DataFrame:
    """Per-source corpus composition and mixture-reweighting factors — the
    data-mixing step of a training pipeline: measure each source's token
    share, then compute the sampling multiplier that would hit a target mix.

    ``targets`` maps source → target share (must cover every source it names;
    unnamed sources get target 0, read at 9-decimal precision); ``None``
    means uniform across observed sources.
    ``weight = target_share / actual_token_share``.

    Both 6-dp outputs are computed from EXACT integer rationals —
    ``round_half_up(a/b, 6) == (2·a·10⁶ + b) div (2·b)`` on DECIMAL(38,0) —
    never by rounding a double: a float ratio that lands within an ulp of a
    .5 tie at the 6th decimal rounds differently across engines/libm builds
    (observed: weight 0.9943265007320645, 7e-10 above the tie).  The
    integer quotient is tie-free by construction, and ``q / 1e6`` is a
    single correctly-rounded IEEE division on every platform.  A source
    with zero tokens gets weight NULL (its share is exactly 0).

    ``ppm=True`` skips even that final division and emits the scaled
    integers directly as BIGINT ``token_share_ppm`` / ``weight_ppm``
    (parts-per-million) — an all-integer output surface that no
    engine/environment float canonicalization difference can perturb.
    Hash-compared pipelines should prefer this form.

    One groupBy over (source) — partial aggregation reduces each partition
    to |sources| rows, so the shuffle is tiny no matter the corpus size; the
    grand total rides a broadcast scalar.
    """
    from dataqtor_spark.session import parallelize

    # exchange raw text first: token_count's regex split otherwise
    # evaluates inside the single-task scan stage on one-row-group input
    agg = (parallelize(df.select(source_col, text_col))
           .groupBy(F.col(source_col).alias("source"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(token_count(text_col)).alias("n_tokens")))
    tot = agg.agg(F.sum("n_tokens").alias("__tt"),
                  F.count(F.lit(1)).alias("__ns"))
    out = agg.crossJoin(F.broadcast(tot))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nt, tt, ns = dec(F.col("n_tokens")), dec(F.col("__tt")), dec(F.col("__ns"))

    def rppm(num, den):
        # (2·num·10⁶ + den) div (2·den) — `div` truncates the exact decimal
        # quotient, which for positive operands is floor, i.e. half-up.
        two = F.lit(2).cast("decimal(38,0)")
        m = F.lit(1000000).cast("decimal(38,0)")
        return F.call_function("div", two * num * m + den, two * den)

    def r6(num, den):
        return (rppm(num, den) / F.lit(1e6)).cast("double")

    if targets is None:
        # uniform target 1/ns → weight = tt / (ns · n_tokens)
        w_num, w_den = tt, ns * nt
    else:
        expr = None
        for s, t in targets.items():
            cond = F.col("source") == s
            t9 = F.lit(int(round(float(t) * 1e9))).cast("decimal(38,0)")
            expr = F.when(cond, t9) if expr is None else expr.when(cond, t9)
        t_num = expr.otherwise(F.lit(0).cast("decimal(38,0)"))
        # target t_num/10⁹ → weight = t_num · tt / (10⁹ · n_tokens)
        w_num = t_num * tt
        w_den = F.lit(1000000000).cast("decimal(38,0)") * nt
    if ppm:
        return out.select(
            "source", "n_docs", "n_tokens",
            rppm(nt, tt).cast("long").alias("token_share_ppm"),
            F.when(F.col("n_tokens") > 0,
                   rppm(w_num, w_den).cast("long")).alias("weight_ppm"))
    return out.select(
        "source", "n_docs", "n_tokens",
        r6(nt, tt).alias("token_share"),
        F.when(F.col("n_tokens") > 0, r6(w_num, w_den)).alias("weight"))


def stratified_sample(df: DataFrame, strata_col: str, quota: int,
                      id_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """Deterministic per-stratum quota sampling: keep the first ``quota``
    rows of each stratum under the :func:`shuffle_key` pseudo-random order
    (ties broken by id — fully reproducible across runs and engines).

    The window partitions by stratum, so parallelism = stratum count and
    each stratum sorts only its own rows.  For very large or very skewed
    strata prefer rate-based :func:`sample_by_bin` (no per-stratum sort);
    quota sampling is for the per-domain-cap pattern where an exact count
    matters more than a rate.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(
        shuffle_key(id_col, seed), F.col(id_col))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= quota).drop("__rn"))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    ``shingle_n``-gram with a held-out benchmark set (the standard
    train-set hygiene check before an eval release).

    Both sides shingle into the portable md5 hash space (8-byte join keys —
    shingle text never shuffles; family collision odds are irrelevant next
    to the n-gram heuristic itself).  The benchmark side is distinct-ed and
    broadcast — benchmarks are small by nature; the corpus never shuffles.
    Returns every corpus row's (id, shared_shingles, contaminated).
    """
    from dataqtor_spark.operators.dedup import portable_string_hash, word_shingles

    def grams(df: DataFrame) -> DataFrame:
        c = F.col(text_col).cast("string")
        return (df.select(F.col(id_col).alias("__id"), c.alias("__txt"))
                .select("__id",
                        F.explode(F.transform(word_shingles("__txt", shingle_n),
                                              portable_string_hash)).alias("__g")))

    bench = grams(benchmark).select("__g").distinct()
    hits = (grams(corpus).join(F.broadcast(bench), "__g")
            .groupBy("__id").agg(F.count(F.lit(1)).alias("shared_shingles")))
    return (corpus.select(F.col(id_col).alias("__id"))
            .join(hits, "__id", "left")
            .select(F.col("__id").alias(id_col),
                    F.coalesce(F.col("shared_shingles"), F.lit(0)).alias("shared_shingles"))
            .withColumn("contaminated", F.col("shared_shingles") > 0))


def top_terms_tfidf(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 5) -> DataFrame:
    """Per-document keyword extraction: top-``k`` tokens by smooth-idf
    TF-IDF (``tf · (ln((1+N)/(1+df)) + 1)``, the same family as the A13
    string vectorizer).  Returns (id, token, score, rank) with a fully
    deterministic order (rounded score desc, token asc).

    Shape: one explode + (doc, token) groupBy for tf; df and the corpus
    size N are aggregates OF that tf table (no second tokenization pass);
    N rides a broadcast scalar; the top-k window partitions by document, so
    parallelism = documents and no global sort exists anywhere.
    """
    from pyspark.sql.window import Window

    tf = (_tokens_exploded(df, id_col, text_col)
          .groupBy("__id", "token").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    nd = tf.agg(F.count_distinct("__id").alias("__n"))
    scored = (tf.join(dfreq, "token").crossJoin(F.broadcast(nd))
              .select("__id", "token",
                      F.round(F.col("tf")
                              * (F.log((1 + F.col("__n"))
                                       / (1 + F.col("__df"))) + 1), 6)
                      .alias("score")))
    w = Window.partitionBy("__id").orderBy(F.desc("score"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("__id").alias(id_col), "token", "score", "rank"))


# ---------------------------------------------------------------------------
# paragraph-level dedup (CCNet): drop chunks shared across documents and
# rebuild the cleaned text
# ---------------------------------------------------------------------------

def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", chunk_tokens: int = 10,
                    max_df: int = 1) -> DataFrame:
    """CCNet-style paragraph dedup (Wenzek et al. 2020), adapted to
    unstructured text: documents are split into non-overlapping
    ``chunk_tokens``-token chunks (the "paragraphs"), each chunk is hashed,
    chunks whose hash appears in more than ``max_df`` distinct documents
    are dropped corpus-wide, and the surviving chunks are re-joined in
    order into ``clean_text``.

    Returns ``(id, n_chunks, n_dropped, clean_text)``.

    Scale shape: one explode of (id, chunk_no, chunk, md5) rows, pinned
    (lazy ``localCheckpoint``) so it materializes once for its two
    consumers.  The shared-hash derivation is a groupBy(hash) over min/max
    agg buffers (count(DISTINCT id) for ``max_df`` > 1) — map-side partial
    aggregation, so a boilerplate chunk shared by millions of documents
    collapses per map task and AQE splits any residual hot reduce
    partition (the previous ``Window.partitionBy(hash)`` marker shuffled
    chunk TEXT by hash and pinned every occurrence of the hottest chunk
    in one window partition no runtime could split); the bounded shared
    set joins back as a hash join AQE broadcasts.  The in-order rebuild
    is sort_array over per-doc collected (chunk_no, chunk) structs —
    bounded by document length, never a global sort.  md5 (not xxhash64)
    keeps the hash replayable in the ANSI-SQL oracle; swap for xxhash64
    when differential checkability is not needed.
    """
    base = df.select(F.col(id_col).alias("__id"),
                     _clean_tokens(text_col).alias("__tk"))
    nchunks = F.ceil(F.size("__tk") / chunk_tokens).cast("int")
    # guard: sequence(0, -1) would count DOWN; token-less docs get no
    # chunk rows (and so drop from the output, like a filter would)
    chunk_arr = F.when(
        F.size("__tk") > 0,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(F.col("__tk"), i * chunk_tokens + 1,
                             chunk_tokens)))).otherwise(
        F.array().cast("array<string>"))
    chunks = (base.select(
        "__id",
        F.posexplode(chunk_arr).alias("__cno", "__chunk"))
        .withColumn("__h", F.md5(F.col("__chunk")))
        .localCheckpoint(eager=False))
    if max_df == 1:
        sh = (chunks.groupBy("__h")
              .agg((F.min("__id") != F.max("__id")).alias("__m")))
    else:
        sh = (chunks.groupBy("__h")
              .agg((F.count_distinct("__id") > max_df).alias("__m")))
    shared = (sh.filter("__m").select("__h")
              .withColumn("__sh_flag", F.lit(True)))
    marked = (chunks.join(shared, "__h", "left")
              .withColumn("__shared",
                          F.coalesce(F.col("__sh_flag"), F.lit(False))))
    return (marked.groupBy("__id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                 F.sum(F.col("__shared").cast("long")).alias("n_dropped"),
                 F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(F.when(
                             ~F.col("__shared"),
                             F.struct(F.col("__cno"), F.col("__chunk"))))),
                         lambda s: s["__chunk"]),
                     " ").alias("clean_text"))
            .select(F.col("__id").alias(id_col), "n_chunks", "n_dropped",
                    "clean_text"))


# ---------------------------------------------------------------------------
# BM25 ranked retrieval and vocabulary-coverage (OOV) profiling
# ---------------------------------------------------------------------------

def bm25_search(df: DataFrame, terms: list[str], id_col: str = "doc_id",
                text_col: str = "text", k1: float = 1.2, b: float = 0.75,
                top_k: int = 20) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a bag-of-terms query
    (Robertson/Sparck Jones; the classic lexical retrieval baseline).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).

    Plan shape: for a bag-of-terms query the token stream never leaves
    the row — per-doc length and each term's tf are in-row array ops
    (tokenize ONCE in its own projection; CollapseProject won't inline a
    non-cheap alias referenced |terms|+1 times), so the only exchanges
    are a single-row map-side-combinable corpus aggregate (N, Σdl, and
    df-per-term as a count of tf>0 docs) broadcast back, and the final
    TakeOrderedAndProject.  ZERO token-level shuffle, no explode, no
    vocabulary broadcast, no driver state — the same plan runs at 100 TB;
    cost is |terms| array scans per doc, the right trade for retrieval
    queries (|terms| ≲ dozens).  Per-(doc,term) contributions are rounded
    to 8 dp and summed in DECIMAL so the final score is independent of
    addend order (bit-identical across engines and partitionings); ties
    break on id.  Returns the top ``top_k`` (id, score).
    """
    terms = list(dict.fromkeys(terms))  # dedupe, keep order: a repeated
    # query term must not double its contribution (bag-of-DISTINCT-terms,
    # matching the tf-groupBy semantics of the SQL twin)
    if not terms:  # empty query matches nothing; keep the output schema
        return df.select(F.col(id_col),
                         F.lit(0.0).alias("score")).limit(0)
    c = F.col(text_col).cast("string")
    toks = F.filter(F.split(F.trim(F.lower(c)), WS_PLUS),
                    lambda x: x != "")
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))

    def _eq(term):  # factory: a 2-arg lambda would bind (element, index)
        return lambda x: x == F.lit(term)

    per_doc = (base.select(
        "__id", F.size("__toks").alias("dl"),
        *[F.size(F.filter("__toks", _eq(t))).alias(f"__tf{i}")
          for i, t in enumerate(terms)])
        # token-less docs (empty/whitespace/null text) are not documents
        # to BM25: they must not inflate N or deflate avgdl (null text →
        # null size, also dropped here)
        .filter(F.col("dl") > 0))
    # two consumers (corpus scalars, scoring); the persisted table is
    # (id, dl, |terms| ints) — narrow, unlike the exploded token stream
    # the previous form cached
    per_doc = per_doc.persist()
    try:
        corpus = per_doc.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
            *[F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
              for i in range(len(terms))])
        avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
        score = None
        for i in range(len(terms)):
            tf, dfq = F.col(f"__tf{i}"), F.col(f"__df{i}")
            idf = F.log(F.lit(1.0) + (F.col("n_docs") - dfq + 0.5)
                        / (dfq + 0.5))
            contrib = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * F.col("dl") / avgdl))
            piece = (F.when(tf > 0, F.round(contrib, 8))
                     .otherwise(F.lit(0.0)).cast("decimal(28,8)"))
            score = piece if score is None else score + piece
        return (per_doc.crossJoin(F.broadcast(corpus))
                .filter(sum((F.col(f"__tf{i}") for i in range(len(terms))),
                            F.lit(0)) > 0)
                .select(F.col("__id").alias(id_col),
                        F.round(score, 4).cast("double").alias("score"))
                .orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)
                .localCheckpoint())
    finally:
        per_doc.unpersist()


def hybrid_rrf_search(docs: DataFrame, emb: DataFrame, terms: list[str],
                      query_vec_id: int, id_col: str = "doc_id",
                      text_col: str = "text", vec_id_col: str = "vec_id",
                      vec_col: str = "embedding", k_each: int = 20,
                      top_k: int = 10, rrf_k: int = 60) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking + brute cosine semantic
    ranking, fused with Reciprocal Rank Fusion (Cormack et al. 2009) —
    ``rrf(d) = Σ_lists 1/(rrf_k + rank_list(d))``.

    The fused score is emitted as an EXACT scaled integer ``rrf_e12 =
    floor(num·10¹² / den)`` where num/den is the rational sum of the one
    or two reciprocal terms (ranks ≤ rrf_k + k_each, so den ≤ ~6400 and
    distinct rationals differ by ≥ 1/den² ≈ 2.4e-8 ≫ 1e-12 — the integer
    preserves the exact RRF order and no float ever enters the hashed
    surface).  Each leg reuses its proven engine: :func:`bm25_search`
    (zero token-shuffle) and :func:`ann.brute_force_topk` (6-dp cosine);
    both lists are ≤ ``k_each`` rows, so the fusion join, window, and
    output are driver-trivial no matter the corpus size — at 100 TB the
    cost is the two retrieval legs, which scale independently (swap the
    brute leg for ``ivfpq_topk_portable`` when the corpus outgrows it).
    Returns (id, rank_lex, rank_sem, rrf_e12, rank) for the top
    ``top_k``; a doc missing from one list gets NULL for that rank.
    """
    from pyspark.sql.window import Window

    from dataqtor_spark.operators import ann as ANN

    lex = bm25_search(docs, terms, id_col=id_col, text_col=text_col,
                      top_k=k_each)
    wl = Window.orderBy(F.desc("score"), F.asc(id_col))  # ≤ k_each rows
    lex = lex.select(F.col(id_col).alias("__id"),
                     F.row_number().over(wl).cast("long").alias("rank_lex"))
    q = emb.filter(F.col(vec_id_col) == int(query_vec_id))
    sem = (ANN.brute_force_topk(emb, q, vec_id_col, vec_col, k=k_each)
           .select(F.col("neighbor_id").alias("__id"),
                   F.col("rank").cast("long").alias("rank_sem")))
    j = lex.join(sem, "__id", "full_outer")
    a = F.lit(int(rrf_k)) + F.col("rank_lex")
    b = F.lit(int(rrf_k)) + F.col("rank_sem")
    both = F.col("rank_lex").isNotNull() & F.col("rank_sem").isNotNull()
    num = F.when(both, a + b).otherwise(F.lit(1)).cast("decimal(38,0)")
    den = (F.when(both, a * b).otherwise(F.coalesce(a, b))
           .cast("decimal(38,0)"))
    e12 = F.call_function(
        "div", num * F.lit(10 ** 12).cast("decimal(38,0)"), den)
    scored = j.select(F.col("__id").alias(id_col), "rank_lex", "rank_sem",
                      e12.cast("long").alias("rrf_e12"))
    wr = Window.orderBy(F.desc("rrf_e12"), F.asc(id_col))  # ≤ 2·k_each
    return (scored.withColumn("rank",
                              F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= top_k))


def oov_rate(df: DataFrame, vocab_size: int, id_col: str = "doc_id",
             text_col: str = "text",
             group_col: str = "source") -> DataFrame:
    """Vocabulary-coverage profile: build the corpus's top-``vocab_size``
    vocabulary (count desc, token asc — total order), then measure each
    group's out-of-vocabulary token rate.  The tokenizer-fit diagnostic
    for training pipelines: a source whose OOV rate spikes is feeding the
    model byte-soup.

    One tokenize pass feeds both the vocab aggregate and the per-group
    rate; the vocabulary (bounded by ``vocab_size``) broadcasts into a
    left join whose miss-flag is averaged per group — no second scan of
    the text.
    """
    toks = (_tokens_exploded(df, id_col, text_col)
            .join(df.select(F.col(id_col).alias("__id"),
                            F.col(group_col).alias("__grp")), "__id"))
    voc = (toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), F.asc("token")).limit(vocab_size)
           .select("token", F.lit(1).alias("__in_vocab")))
    return (toks.join(F.broadcast(voc), "token", "left")
            .groupBy(F.col("__grp").alias(group_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_oov"))
            .withColumn("oov_rate",
                        F.round(F.col("n_oov") / F.col("n_tokens"), 6)))


def bpe_merge_candidates(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         top_k: int = 20) -> DataFrame:
    """Top adjacent-token pair counts over the corpus — the statistic a
    BPE/WordPiece trainer computes each merge round (most frequent
    adjacent pair → new vocabulary symbol).

    Pure array expressions build the pair list per document inside
    codegen (tokenize once, ``transform`` over a slice — no posexplode,
    no per-token shuffle); only (pair, 1) rows reach the partial-
    aggregated count, so token skew collapses map-side.  The top-k is
    TakeOrderedAndProject with a total (count desc, pair asc) order.
    """
    from dataqtor_spark.session import parallelize

    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage).  The
    # short-doc guard lives INSIDE the explode operand (explode of the
    # NULL `when` branch emits nothing) — a `.filter(size(toks) > 1)`
    # here would be pushed below the exchange with the tokenize
    # expression cloned into the single-task scan stage.
    pairs = (parallelize(df.select(F.col(text_col).alias("__txt")))
             .select(_clean_tokens("__txt").alias("toks"))
             .select(F.explode(F.when(F.size("toks") > 1, F.expr(
                 "transform(slice(toks, 1, size(toks) - 1), "
                 "(x, i) -> struct(x AS a, toks[i + 1] AS b))"))).alias("p")))
    return (pairs.groupBy(F.col("p.a").alias("tok_a"),
                          F.col("p.b").alias("tok_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("tok_a"), F.asc("tok_b"))
            .limit(top_k))


def weighted_resample(df: DataFrame, weight_col: str,
                      id_col: str = "doc_id") -> DataFrame:
    """Materialize a per-row replication weight deterministically: each
    row is emitted floor(w) times, plus one more when the row's portable
    hash fraction falls below frac(w) — so expected copies equal w
    exactly, and the SAME rows get the extra copy on every engine, every
    run, every partitioning (no RNG, no seed drift).

    This executes the source-mix plan that ``source_mix`` computes
    (up-/down-sampling sources toward a target token share).  The copy
    column generates in-row (``sequence`` + explode); nothing shuffles
    until whatever aggregation follows.
    """
    from dataqtor_spark.operators.dedup import PORTABLE_P, portable_string_hash

    frac = (portable_string_hash(F.concat(F.lit("rs:"),
                                          F.col(id_col).cast("string")))
            .cast("double") / F.lit(float(PORTABLE_P)))
    n_copies = (F.floor(F.col(weight_col))
                + F.when(frac < (F.col(weight_col)
                                 - F.floor(F.col(weight_col))), 1)
                .otherwise(0)).cast("int")
    return (df.withColumn("__copies", n_copies)
            .filter(F.col("__copies") > 0)
            .withColumn("copy", F.explode(F.sequence(F.lit(1),
                                                     F.col("__copies"))))
            .drop("__copies"))


def leakage_safe_split(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       weights: tuple = (0.8, 0.1, 0.1)) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the split is a deterministic hash of the document's content
    FINGERPRINT (order/duplication-insensitive token set), not its id —
    so exact and fingerprint-level duplicates always land in the same
    split, the failure mode naive id-hash splits have (same text, two
    ids, one in train and one in test → evaluation contamination).

    Pure expressions: fingerprint (md5 of sorted distinct tokens) →
    portable hash → unit fraction → threshold cut at the cumulative
    weights.  Adding data never reshuffles old assignments (hash-stable),
    the property that makes the split usable incrementally.
    """
    from dataqtor_spark.operators.dedup import PORTABLE_P, portable_string_hash

    fp = fingerprint(text_col)
    frac = (portable_string_hash(F.concat(F.lit("split:"), fp))
            .cast("double") / F.lit(float(PORTABLE_P)))
    w_train, w_val, _ = weights
    split = (F.when(frac < w_train, "train")
             .when(frac < w_train + w_val, "val")
             .otherwise("test"))
    return df.select(F.col(id_col), fp.alias("fp"), split.alias("split"))


def c4_line_filters(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    min_words: int = 3) -> DataFrame:
    """C4-style line/document cleaning (Raffel et al. 2020 §2.2, the
    public "Colossal Clean Crawled Corpus" heuristics) — the classic
    first-pass web-text scrubber before dedup/quality gating:

    - keep only lines that end in terminal punctuation ([.!?]) AND have
      at least ``min_words`` words;
    - drop lines mentioning javascript (cookie/JS-warning boilerplate);
    - drop the whole DOCUMENT if it contains "lorem ipsum" or a curly
      brace (placeholder text / code);

    Everything is in-row array algebra (split → filter → rejoin): one
    projection, no shuffle, no Python — and every rule is a list-lambda
    ANSI SQL replays, so the operator is differentially testable.
    Returns (id, n_lines, n_kept, doc_dropped, cleaned) with
    ``cleaned`` NULL for dropped documents AND for documents no line of
    which survived (SQL dialects disagree on joining an empty list — ''
    in Spark, NULL in DuckDB — so "nothing left" is canonically NULL).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    keep = F.filter(lines, lambda l: (
        F.trim(l).rlike("[.!?]$")
        & (F.size(F.split(F.trim(l), WS_PLUS)) >= min_words)
        & ~F.lower(l).contains("javascript")))
    dropped = (F.lower(t).contains("lorem ipsum")
               | t.contains("{"))
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(keep).alias("n_kept"),
        dropped.alias("doc_dropped"),
        F.when(~dropped & (F.size(keep) > 0), F.array_join(keep, "\n"))
        .alias("cleaned"))


# ---------------------------------------------------------------------------
# URL canonicalization (web-corpus identity — CCNet/CommonCrawl hygiene)
# ---------------------------------------------------------------------------

_TRACKING_PARAM_RE = "^(utm_|fbclid|gclid|mc_eid|ref=)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL so that cosmetic variants collapse to one
    identity — the precondition for URL-level dedup, per-domain quality
    aggregation, and crawl-frontier dedup over a web corpus:

    - scheme and host lowercased, leading ``www.`` dropped;
    - default ports (``:80`` http, ``:443`` https) dropped;
    - fragment dropped;
    - tracking query params (utm_*, fbclid, gclid, mc_eid) dropped and
      the surviving params SORTED (param order is not identity);
    - trailing slash on the path dropped.

    Pure string/array expressions (regexp splits, list filter + sort) —
    one projection, no UDF, replayable in ANSI SQL.  "No query left"
    canonicalizes to no ``?`` at all (dialects disagree on joining an
    empty list, so the empty join is normalized away via NULL).
    """
    u = F.regexp_replace(url, "#.*$", "")                 # strip fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(host, ":443$", "")) \
        .otherwise(host)
    path = F.regexp_extract(u, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/$", "")
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE)))
    qs = F.when(F.size(kept) > 0,
                F.concat(F.lit("?"), F.array_join(kept, "&"))) \
        .otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qs)


# ---------------------------------------------------------------------------
# model-based quality filtering (fixed-weight linear classifier)
# ---------------------------------------------------------------------------

QUALITY_LOGISTIC_WEIGHTS = {
    "bias": -1.5,
    "stopword_ratio": 6.0,     # real prose has stopwords
    "punct_ratio": -8.0,       # punctuation noise (tables, code, OCR)
    "digit_ratio": -5.0,       # number dumps
    "upper_ratio": -3.0,       # SHOUTING / headers
    "token_len_dev": -0.4,     # |avg_token_len - 5| — gibberish skews both ways
    "log_len": 0.08,           # min(n_tokens, 100) — reward substance, capped
}


def quality_logistic(col: Column | str,
                     weights: dict[str, float] | None = None) -> Column:
    """Classifier-style document quality score in (0, 1): a linear model
    over the :func:`quality_features` signals squashed with the ALGEBRAIC
    sigmoid ``0.5 + 0.5·x/(1+|x|)`` — the fastText/DCLM "apply a trained
    quality model at scale" shape with a fixed published weight vector
    standing in for learned weights (swap ``weights`` for your model's).

    The algebraic sigmoid is chosen over ``exp`` deliberately: it uses
    only +,·,/,abs — IEEE-exact and therefore bit-identical across
    engines — where libm ``exp`` may differ by an ulp between the JVM
    and C implementations and flip a keep/drop decision at the margin.
    Keep-threshold p ≥ 0.5 is exactly logit ≥ 0.  Features arrive
    4 dp-rounded (the quality_features contract), so the whole score is
    engine-exact."""
    w = weights or QUALITY_LOGISTIC_WEIGHTS
    f = quality_features(col)
    r4 = {k: F.round(v, 4) for k, v in f.items()}
    logit = (F.lit(w["bias"])
             + F.lit(w["stopword_ratio"]) * r4["stopword_ratio"]
             + F.lit(w["punct_ratio"]) * r4["punct_ratio"]
             + F.lit(w["digit_ratio"]) * r4["digit_ratio"]
             + F.lit(w["upper_ratio"]) * r4["upper_ratio"]
             + F.lit(w["token_len_dev"]) * F.abs(r4["avg_token_len"] - 5.0)
             + F.lit(w["log_len"])
             * F.least(f["n_tokens"], F.lit(100)).cast("double"))
    return F.lit(0.5) + F.lit(0.5) * logit / (F.lit(1.0) + F.abs(logit))


def quality_logistic_exact(col: Column | str,
                           weights: dict[str, float] | None = None
                           ) -> dict[str, Column]:
    """Tie-proof integer form of :func:`quality_logistic` for
    hash-compared outputs: returns ``{"logit6": <long>, "p6": <long>}``
    where ``logit6 = logit·10⁶`` and ``p6 = round(p·10⁶)`` are EXACT
    scaled integers — ``round()`` never sees a double (functions/exact.py;
    the t17 rounding-tie class).

    Derivation: with features exactly rounded at 4 dp (scaled longs
    ``f4 = round(f·10⁴)``) and weights read at 2 dp (``w2 = round(w·100)``),

        logit·10⁶ = bias2·10⁴ + Σ w2ᵢ·f4ᵢ + wdev2·|atl4 − 5·10⁴|
                    + wlen2·min(n_tokens, 100)·10⁴               (integer)

    and the algebraic sigmoid ``p = 0.5 + 0.5·L/(1+|L|)`` becomes the
    integer rational ``p = (10⁶ + |M| + M) / (2·(10⁶ + |M|))`` with
    ``M = logit·10⁶``.  Keep-decision is ``p ≥ 0.5 ⟺ M ≥ 0`` — exact.
    ``quality_logistic`` (double, unrounded) remains for score consumers
    that never hash; this variant is for oracle-graded aggregates."""
    from dataqtor_spark.functions.exact import round_ratio_int

    w = weights or QUALITY_LOGISTIC_WEIGHTS
    w2 = {k: int(round(v * 100)) for k, v in w.items()}
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    n_chars = F.length(c)
    n_tok = token_count(c)
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_tok = F.greatest(n_tok, F.lit(1))
    f4 = {
        "avg_token_len": round_ratio_int(n_chars * 10000, safe_tok, 0),
        "punct_ratio": round_ratio_int(
            F.regexp_count(c, F.lit(r"[.,!?;:]")) * 10000, safe_chars, 0),
        "digit_ratio": round_ratio_int(
            F.regexp_count(c, F.lit(r"[0-9]")) * 10000, safe_chars, 0),
        "upper_ratio": round_ratio_int(
            F.regexp_count(c, F.lit(r"[A-Z]")) * 10000, safe_chars, 0),
        "stopword_ratio": round_ratio_int(
            F.regexp_count(
                c, F.lit(r"(?i)\b(" + "|".join(EN_STOPWORDS) + r")\b"))
            * 10000, safe_tok, 0),
    }
    logit6 = (F.lit(w2["bias"] * 10000)
              + F.lit(w2["stopword_ratio"]) * f4["stopword_ratio"]
              + F.lit(w2["punct_ratio"]) * f4["punct_ratio"]
              + F.lit(w2["digit_ratio"]) * f4["digit_ratio"]
              + F.lit(w2["upper_ratio"]) * f4["upper_ratio"]
              + F.lit(w2["token_len_dev"])
              * F.abs(f4["avg_token_len"] - F.lit(50000))
              + F.lit(w2["log_len"])
              * F.least(n_tok, F.lit(100)).cast("long") * F.lit(10000))
    m = logit6.cast("long")
    p6 = round_ratio_int(F.lit(1000000) + F.abs(m) + m,
                         (F.lit(1000000) + F.abs(m)) * 2, 6)
    return {"logit6": m, "p6": p6.cast("long")}


# ---------------------------------------------------------------------------
# BPE training (iterative merge-apply-recount) and application
# ---------------------------------------------------------------------------

def bpe_word_counts(df: DataFrame, text_col: str = "text",
                    word_pattern: str = "^[a-z]+$") -> DataFrame:
    """Distinct-word frequency table — the ONE data-sized pass of BPE
    training; every merge round after it runs on this bounded vocabulary
    (distinct words, not occurrences), which is what keeps the trainer
    viable at 100 TB: corpus size only affects this first groupBy."""
    from dataqtor_spark.session import parallelize

    # raw text through the exchange, tokenize above it (single-row-group
    # inputs otherwise tokenize inside the one-task scan stage).
    # explode_OUTER, deliberately: plain explode(attr) makes Catalyst
    # infer `size(__toks) > 0` and push it through the alias chain below
    # the repartition, cloning the whole tokenize expression into the
    # single-task scan stage (the d02 with_count trap).  Outer emits a
    # NULL word for empty/NULL token arrays, which the rlike filter
    # drops — identical output, tokenize runs once, after the exchange.
    return (parallelize(df.select(F.col(text_col).alias("__txt")))
            .select(_clean_tokens("__txt").alias("__toks"))
            .select(F.explode_outer("__toks").alias("word"))
            .filter(F.col("word").rlike(word_pattern))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def _bpe_char_seq(col: Column) -> Column:
    """word → space-delimited symbol string with leading AND trailing
    separators (`"cat"` → `" c a t "`), the representation merge rounds
    rewrite with literal ``replace``."""
    return F.concat(F.lit(" "), F.regexp_replace(col, "(.)", "$1 "))


def _bpe_merge_seq(seq: Column, a: str, b: str) -> Column:
    """Apply merge (a, b) to a symbol string: literal non-rescanning
    ``replace``, applied TWICE.  One pass misses every second occurrence
    of back-to-back pairs (the matches share a boundary space); the
    second pass catches them.  This exact two-pass semantics — identical
    in Spark and DuckDB, which is why the whole trainer is
    SQL-replayable — can differ from strict leftmost-sequential BPE on
    odd runs of ≥5 repeated self-pair symbols (``aaaaa``), where it may
    pick different merge POSITIONS (same symbol multiset); a documented,
    deterministic convention, not a bug."""
    pat, repl = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
    return F.replace(F.replace(seq, pat, repl), pat, repl)


def _bpe_syms(seq: Column) -> Column:
    """Symbol string → symbol array (drops the separator-padding empties)."""
    return F.filter(F.split(seq, " "), lambda x: x != "")


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency, from the
    ``seq`` column — in-row array expressions (split → slice/transform
    zip), only (a, b, partial count) rows reach the shuffle."""
    pairs = (words.select(F.col("cnt"), _bpe_syms(F.col("seq")).alias("l"))
             .filter(F.size("l") > 1)
             .select("cnt", F.explode(F.expr(
                 "transform(slice(l, 1, size(l) - 1), "
                 "(x, i) -> struct(x AS a, l[i + 1] AS b))")).alias("p")))
    return (pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").cast("long").alias("n")))


# vocabulary size up to which the merge rounds run ON THE DRIVER over
# the collected (word, cnt) table — the bounded-collect contract of the
# ann/kcenter trainers (driver state is vocabulary-sized, never
# corpus-sized).  Measured motivation (r16 opt round): each distributed
# round pays ~0.3 s of plan/codegen latency on a 31-row vocabulary —
# the per-round floor is job overhead, not compute.  Above the bound
# the rounds stay distributed (ledger + per-round pair-count DELTAS
# over only the words the merge changed — never a full re-aggregation
# after round 0).
_BPE_DRIVER_VOCAB_MAX = 1 << 18

# signature of a pair-delta row stream: old-seq pairs enter at -1,
# new-seq pairs at +1, weighted by the word count
_BPE_DELTA_EXPR = (
    "CASE WHEN size({l}) < 2 THEN "
    "CAST(array() AS array<struct<a:string,b:string,s:int>>) "
    "ELSE transform(slice({l}, 1, size({l}) - 1), "
    "(x, i) -> struct(x AS a, {l}[i + 1] AS b, {s} AS s)) END")


def _bpe_pair_delta(words: DataFrame, a: str, b: str) -> list:
    """Pair-count delta of applying merge ``(a, b)`` to ``words``.

    Only words whose seq contains ``" a b "`` change under the merge
    (``_bpe_merge_seq`` is a literal replace), so the delta job scans
    the word table once, keeps those rows, and emits every new-seq pair
    at ``+cnt`` and every old-seq pair at ``−cnt``, pre-aggregated by
    pair (output is bounded by the distinct-symbol-pair count).  Summed
    with the previous round's totals this is EXACTLY the full
    re-aggregation — pair counts are plain integer sums over words.
    Returns a list of ``((a, b), delta)``, either sign."""
    pat = f" {a} {b} "
    aff = (words.filter(F.col("seq").contains(pat))
           .select("cnt", _bpe_syms(F.col("seq")).alias("lo"),
                   _bpe_syms(_bpe_merge_seq(F.col("seq"), a, b))
                   .alias("ln")))
    rows = aff.select(
        "cnt",
        F.explode(F.concat(
            F.expr(_BPE_DELTA_EXPR.format(l="ln", s="1")),
            F.expr(_BPE_DELTA_EXPR.format(l="lo", s="-1")))).alias("p"))
    return [((rw["a"], rw["b"]), rw["d"])
            for rw in (rows.groupBy("p.a", "p.b")
                       .agg(F.sum(F.col("p.s") * F.col("cnt"))
                            .cast("long").alias("d")).collect())
            if rw["d"] != 0]


# Java regex "." (UNIX_LINES off) excludes all five line terminators;
# the driver-side replica of ``_bpe_char_seq``'s regexp_replace must
# match it exactly (tokens can never contain \n/\r — the tokenizer
# splits on them — but a caller-supplied word_pattern could admit
# / / , which Python's "." would otherwise space out)
_BPE_JAVA_DOT = "([^\\n\\r\\u0085\\u2028\\u2029])"


def _bpe_train_driver(vocab: list, rounds: int) -> list[dict]:
    """Merge-round loop over the COLLECTED (word, cnt) vocabulary — an
    exact driver-side replica of the distributed formulation, operation
    for operation:

    - char seq: ``" " + regexp_replace(word, "(.)", "$1 ")`` →
      ``re.sub`` with the Java-dot class above;
    - pair counts: adjacent symbol pairs of the space-split seq,
      weighted by word count, plain integer sums;
    - argmax: count desc, pair asc — Python str comparison is
      code-point order, which equals Spark's binary UTF8String order
      for any valid UTF-8;
    - merge: literal non-rescanning replace applied twice
      (``str.replace`` ≡ ``F.replace``), the documented two-pass
      convention of ``_bpe_merge_seq``.
    """
    import re

    words = [(" " + re.sub(_BPE_JAVA_DOT, r"\1 ", w), int(c))
             for w, c in vocab]
    merges: list[dict] = []
    for r in range(rounds):
        counts: dict = {}
        for seq, cnt in words:
            syms = [s for s in seq.split(" ") if s]
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] = counts.get((x, y), 0) + cnt
        if not counts:
            break
        a, b = min(counts, key=lambda k: (-counts[k], k))
        merges.append({"round": r, "sym_a": a, "sym_b": b,
                       "merged": a + b, "n": counts[(a, b)]})
        pat, repl = f" {a} {b} ", f" {a}{b} "
        words = [(s.replace(pat, repl).replace(pat, repl), c)
                 for s, c in words]
    return merges


# trained merge tables per cache key — the ann trainer-cache device:
# training is the OFFLINE step by contract, so serving-path consumers
# (bpe03 token counts) pass a key and retrain once per process while
# bpe02 (the training benchmark itself) never passes one.  Only the
# DRIVER-SIDE merges list is memoized (a live DataFrame would outlive
# its SparkSession); the segmented-vocabulary plan is rebuilt from the
# caller's CURRENT frame, which is also the apply-trained-tokenizer-to-
# new-data semantic.  The memo assumes the data behind a cache_key is
# immutable for the process lifetime (callers key on the corpus path;
# regenerating the files under that path in-process would serve stale
# merges) — benchmarks reset it via
# ``dataqtor_spark.clear_trainer_caches``.
_BPE_TRAIN_CACHE: dict = {}


def _bpe_words_from_merges(df: DataFrame, merges: list, text_col: str,
                           word_pattern: str) -> DataFrame:
    words = (bpe_word_counts(df, text_col, word_pattern)
             .withColumn("seq", _bpe_char_seq(F.col("word"))))
    for m in merges:
        words = words.withColumn(
            "seq", _bpe_merge_seq(F.col("seq"), m["sym_a"], m["sym_b"]))
    return words


def bpe_train(df: DataFrame, text_col: str = "text", rounds: int = 8,
              word_pattern: str = "^[a-z]+$",
              cache_key: str | None = None):
    """Train a BPE tokenizer: ``rounds`` iterations of count-pairs →
    pick argmax (count desc, pair asc tiebreak — total order) → merge
    everywhere.  Returns ``(merges, words)``: the ordered merge table
    (list of ``{round, sym_a, sym_b, merged, n}`` dicts) and the
    vocabulary DataFrame with the post-training ``seq`` segmentation.

    Distribution shape: one corpus-sized shuffle (word counts), after
    which everything is DISTINCT-WORD-bounded.  Small vocabularies
    (≤ ``_BPE_DRIVER_VOCAB_MAX``) collect the (word, cnt) table once
    and run the merge rounds on the driver (``_bpe_train_driver`` —
    the ann/kcenter bounded-collect trainer contract; zero jobs per
    round, measured ~0.3 s/round of plan+codegen latency removed).
    Larger vocabularies keep the rounds distributed: ONE full
    pair-count aggregation seeds a driver-side LEDGER, each round's
    argmax reads the ledger (no job, no sort), and a single filtered
    scan over only the words the merge CHANGED collects the exact
    integer pair-count delta (``_bpe_pair_delta``) — never a full
    re-aggregation after round 0.  The merge itself is a
    literal-replace column rewrite, no shuffle.  No session conf is
    mutated (the r15 AQE toggle is gone), so concurrently-planned
    queries are unaffected."""
    memo_key = None
    if cache_key is not None:
        memo_key = (cache_key, text_col, rounds, word_pattern)
        hit = _BPE_TRAIN_CACHE.get(memo_key)
        if hit is not None:
            return hit, _bpe_words_from_merges(df, hit, text_col,
                                               word_pattern)
    base = (bpe_word_counts(df, text_col, word_pattern)
            .withColumn("seq", _bpe_char_seq(F.col("word"))))
    merges: list[dict] = []
    cached = base.cache()
    words = cached
    try:
        # materialize the ONE corpus-sized pass (word counts) under AQE
        n_vocab = cached.count()
        if n_vocab <= _BPE_DRIVER_VOCAB_MAX:
            vocab = [(rw["word"], rw["cnt"])
                     for rw in cached.select("word", "cnt").collect()]
            merges = _bpe_train_driver(vocab, rounds)
            for m in merges:
                words = words.withColumn(
                    "seq", _bpe_merge_seq(F.col("seq"),
                                          m["sym_a"], m["sym_b"]))
        else:
            # full pair counts ONCE → driver ledger (exact integers)
            ledger = {(rw["a"], rw["b"]): rw["n"]
                      for rw in _bpe_pair_counts(words).collect()}
            for r in range(rounds):
                live = {k: v for k, v in ledger.items() if v > 0}
                if not live:
                    break  # vocabulary fully merged
                # argmax, count desc / pair asc — the same total order
                # as the retired orderBy(desc n, asc a, asc b): Python
                # str comparison is code-point order, which equals
                # Spark's binary UTF8String order for any valid UTF-8
                a, b = min(live, key=lambda k: (-live[k], k))
                merges.append({"round": r, "sym_a": a, "sym_b": b,
                               "merged": a + b, "n": live[(a, b)]})
                if r + 1 < rounds:
                    for k, d in _bpe_pair_delta(words, a, b):
                        ledger[k] = ledger.get(k, 0) + d
                words = words.withColumn(
                    "seq", _bpe_merge_seq(F.col("seq"), a, b))
    finally:
        cached.unpersist()
    if memo_key is not None:
        _BPE_TRAIN_CACHE[memo_key] = merges
    return merges, words


def apply_bpe(df: DataFrame, merges: list, text_col: str = "text",
              out_col: str = "bpe_tokens",
              word_pattern: str = "^[a-z]+$") -> DataFrame:
    """Segment each document with a trained merge table → ``out_col``
    array of subword tokens (pure expressions: per-word symbol string →
    the merge replaces in training order → split back).  Words not
    matching ``word_pattern`` are dropped, consistent with training.

    This is the expression path (re-segments every occurrence in-row,
    zero shuffle).  When the same corpus the merges were trained on is
    being counted, prefer joining the trainer's returned ``words`` table
    (seq already final, one hash join on the bounded vocabulary) — the
    bpe03 registry query takes that path."""
    def seg(w: Column) -> Column:
        s = _bpe_char_seq(w)
        for m in merges:
            s = _bpe_merge_seq(s, m["sym_a"], m["sym_b"])
        return F.filter(F.split(s, " "), lambda x: x != "")

    toks = F.filter(_clean_tokens(text_col),
                    lambda w: w.rlike(word_pattern))
    return df.withColumn(out_col, F.flatten(F.transform(toks, seg)))


def domain_mixture_plan(df: DataFrame, domain_col: str,
                        weights: dict[str, int], budget: int,
                        text_col: str = "text") -> DataFrame:
    """Budgeted domain-mixing allocation — the static data-mixing step of
    a training run (The Pile / DoReMi-style fixed weights), downstream of
    :func:`source_mix`'s diagnostics: given integer mixture ``weights``
    (parts of ``sum(weights)`` — integers so every quota is EXACT, no
    float shares) and a total token ``budget``, emit one row per weighted
    domain with

    - ``quota_tokens``: the domain's slice of the budget by the
      largest-remainder method (quotas sum to exactly ``budget``:
      floor(budget·w/W) plus +1 for the largest ``(budget·w) mod W``
      remainders, ties broken by domain name);
    - ``alloc_tokens`` = min(quota, available) — what one pass over the
      corpus can supply;
    - ``shortfall_tokens`` and ``epochs`` = ceil(quota/avail), the
      oversampling factor needed to meet quota by repeating the domain
      (NULL when the domain has no data at all).

    Scale shape: one groupBy(domain) with map-side partial aggregation
    (the only corpus-sized exchange), then all quota arithmetic runs on
    the |domains|-row frame — the unpartitioned rank window is over that
    provably bounded set, never the data."""
    from pyspark.sql.window import Window

    W = sum(weights.values())
    if W <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative with a positive sum")
    wtab = local_frame(
        df.sparkSession, sorted((d, int(w)) for d, w in weights.items()),
        "domain string, weight long")
    from dataqtor_spark.session import parallelize

    # exchange raw text first: token_count's regex split otherwise
    # evaluates inside the single-task scan stage
    avail = (parallelize(df.select(domain_col, text_col))
             .groupBy(F.col(domain_col).alias("domain"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(token_count(text_col)).alias("avail_tokens")))
    base = (wtab.join(avail, "domain", "left")
            .select(
                "domain", "weight",
                F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                F.coalesce("avail_tokens", F.lit(0)).alias("avail_tokens"),
                (F.lit(int(budget)) * F.col("weight")).alias("__num")))
    base = base.withColumn("__rem", F.col("__num") % F.lit(W)).withColumn(
        "__base", ((F.col("__num") - F.col("__rem")) / F.lit(W))
        .cast("long"))
    # bounded frames: |domains| rows
    rk = Window.orderBy(F.desc("__rem"), F.asc("domain"))
    tot = Window.partitionBy()
    quota = (F.col("__base")
             + F.when(F.row_number().over(rk)
                      <= F.lit(int(budget)) - F.sum("__base").over(tot),
                      F.lit(1)).otherwise(F.lit(0)))
    out = base.withColumn("quota_tokens", quota.cast("long"))
    alloc = F.least(F.col("quota_tokens"), F.col("avail_tokens"))
    return out.select(
        "domain", "weight", "n_docs", "avail_tokens", "quota_tokens",
        alloc.alias("alloc_tokens"),
        (F.col("quota_tokens") - alloc).alias("shortfall_tokens"),
        F.when(F.col("avail_tokens") > 0,
               ((F.col("quota_tokens") + F.col("avail_tokens") - F.lit(1))
                - (F.col("quota_tokens") + F.col("avail_tokens") - F.lit(1))
                % F.col("avail_tokens"))
               / F.col("avail_tokens")).cast("long").alias("epochs"))


def temperature_mixture_plan(df: DataFrame, domain_col: str, budget: int,
                             text_col: str = "text") -> DataFrame:
    """Temperature-scaled mixture allocation at α = 1/2 — the standard
    multilingual rebalancing (sample domain s ∝ n_s^α, α < 1 upweights
    tail languages): weights are derived FROM the corpus as
    ``isqrt(avail_tokens)`` instead of being hand-fixed like
    :func:`domain_mixture_plan`'s, then the same exact largest-remainder
    integer quota split applies.  α = 1/2 specifically because
    ``isqrt`` is the one fractional power computable EXACTLY in integer
    arithmetic on both engines (floor(sqrt) with the ±1 ulp correction —
    the dedup auto-cap device), so quotas stay bit-reproducible where a
    libm ``pow(x, 0.7)`` would not be.

    Output schema matches ``domain_mixture_plan`` (weight is the derived
    isqrt).  Scale shape: one corpus-sized groupBy(domain); every window
    after runs on the |domains|-row frame."""
    from pyspark.sql.window import Window

    from dataqtor_spark.session import parallelize

    # exchange raw text first: token_count's regex split otherwise
    # evaluates inside the single-task scan stage
    avail = (parallelize(df.select(domain_col, text_col))
             .groupBy(F.col(domain_col).alias("domain"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum(token_count(text_col)).alias("avail_tokens")))
    r = F.floor(F.sqrt(F.col("avail_tokens"))).cast("long")
    isq = (F.when((r + 1) * (r + 1) <= F.col("avail_tokens"), r + 1)
           .when(r * r > F.col("avail_tokens"), r - 1).otherwise(r))
    base = avail.withColumn("weight", isq)
    tot = Window.partitionBy()
    # budget·weight on DECIMAL(38,0): with weight ~ isqrt(avail_tokens),
    # a large budget × a 100 TB-scale corpus silently wraps int64 in
    # non-ANSI Spark while the DuckDB oracle's integer arithmetic stays
    # exact — decimal keeps the two dialects bit-identical at any scale
    base = (base.withColumn("__W", F.sum("weight").over(tot))
            .withColumn("__num",
                        F.lit(int(budget)).cast("decimal(38,0)")
                        * F.col("weight").cast("decimal(38,0)"))
            .withColumn("__rem",
                        F.pmod(F.col("__num"),
                               F.col("__W").cast("decimal(38,0)")))
            .withColumn("__base",
                        F.call_function(
                            "div", F.col("__num"),
                            F.col("__W").cast("decimal(38,0)"))
                        .cast("long")))
    rk = Window.orderBy(F.desc("__rem"), F.asc("domain"))
    quota = (F.col("__base")
             + F.when(F.row_number().over(rk)
                      <= F.lit(int(budget)) - F.sum("__base").over(tot),
                      F.lit(1)).otherwise(F.lit(0)))
    out = base.withColumn("quota_tokens", quota.cast("long"))
    alloc = F.least(F.col("quota_tokens"), F.col("avail_tokens"))
    return out.select(
        "domain", "weight", "n_docs", "avail_tokens", "quota_tokens",
        alloc.alias("alloc_tokens"),
        (F.col("quota_tokens") - alloc).alias("shortfall_tokens"),
        F.when(F.col("avail_tokens") > 0,
               ((F.col("quota_tokens") + F.col("avail_tokens") - F.lit(1))
                - (F.col("quota_tokens") + F.col("avail_tokens") - F.lit(1))
                % F.col("avail_tokens"))
               / F.col("avail_tokens")).cast("long").alias("epochs"))


def curriculum_phases(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      n_phases: int = 4) -> DataFrame:
    """Curriculum schedule: rank documents easy→hard by quality score
    (descending, id tiebreak) and split the ranking into ``n_phases``
    NTILE phases — the ordering a curriculum-learning run feeds phase by
    phase.  Per-phase report: ``(phase, n_docs, n_tokens, sum_quality,
    min_quality, max_quality)``.

    The global ranking uses the distributed total-order primitive
    (``ordered.ordered_prefix`` + ``ordered.ntile_expr`` bucket
    arithmetic) — no single-partition window anywhere, so a
    billion-document corpus ranks at full parallelism.  Quality sums
    accumulate as DECIMAL so the report is bit-stable across partition
    orders."""
    from dataqtor_spark.operators.ordered import ntile_expr, ordered_prefix

    scored = df.select(F.col(id_col),
                       token_count(text_col).alias("__tok"),
                       quality_score(text_col).alias("quality_score"))
    n_row = scored.agg(F.count(F.lit(1)).alias("__n"))
    base = scored.crossJoin(F.broadcast(n_row))
    ranked = ordered_prefix(
        base, [F.col("quality_score").desc(), F.col(id_col)],
        out_rn="__rn")
    phased = ranked.withColumn(
        "phase", ntile_expr(F.col("__rn"), F.col("__n"),
                            n_phases).cast("long"))
    return (phased.groupBy("phase")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__tok").cast("long").alias("n_tokens"),
                 F.round(F.sum(F.col("quality_score")
                               .cast("decimal(18,4)")), 4).cast("double")
                 .alias("sum_quality"),
                 F.min("quality_score").alias("min_quality"),
                 F.max("quality_score").alias("max_quality")))


def calibration_report(df: DataFrame, score: Column, label: Column,
                       n_bins: int = 10) -> DataFrame:
    """Reliability diagram of a [0,1] classifier score against a binary
    label: equal-width score bins with ``(n, avg_score, label_rate,
    abs_gap)`` per bin — the table behind expected calibration error
    (ECE = Σ n_b/N·|avg_score_b − rate_b|) and the first thing to check
    before trusting a quality filter's threshold at corpus scale.

    Cross-engine determinism: the score is 6-dp-rounded BEFORE binning
    and summing (DECIMAL accumulation, one divide at the end — the t31
    device), so bin membership and averages are bit-identical however
    the engines order their partial sums."""
    s6 = F.round(score, 6).cast("decimal(18,6)")
    b = F.least(F.floor(s6 * n_bins).cast("int"), F.lit(n_bins - 1))
    base = df.select(b.alias("bin"), s6.alias("__s"),
                     label.cast("int").alias("__y"))
    return (base.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round((F.sum("__s") / F.count(F.lit(1))), 4).cast("double").alias("avg_score"),
                 F.round(F.sum("__y") / F.count(F.lit(1)), 4)
                 .alias("label_rate"))
            .withColumn("abs_gap",
                        F.round(F.abs(F.col("avg_score")
                                      - F.col("label_rate")), 4)))


# ---------------------------------------------------------------------------
# sequence packing + chunking — the layout step between a curated corpus
# and a training/embedding job
# ---------------------------------------------------------------------------

def concat_chunk_packing(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         seq_len: int = 512) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pre-training
    layout): documents are laid end-to-end in ascending-id order into one
    token stream, which is cut into fixed ``seq_len`` blocks; a document
    spanning a block boundary is split across blocks.  Returns each
    document's placement::

        (doc_id, n_tokens, tok_start, first_block, last_block,
         n_blocks, is_split)

    with NULL block columns and ``n_blocks = 0`` for empty documents.

    The token-space offsets are a global prefix sum in id order —
    computed with the distributed total-order primitive
    (:func:`dataqtor_spark.operators.ordered.ordered_prefix`), so there
    is no single-partition window: a billion-document corpus lays out at
    full parallelism, and the result depends only on the id order, never
    on partitioning.  Block indexes use exact integer division (the
    ``div`` function), not float floor — offsets past 2^53 would
    misround through a double."""
    from dataqtor_spark.operators.ordered import ordered_prefix

    toks = df.select(F.col(id_col),
                     token_count(text_col).cast("long").alias("n_tokens"))
    cum = ordered_prefix(toks, [F.col(id_col)],
                         sums={"__cum": F.col("n_tokens")})
    start = (F.col("__cum") - F.col("n_tokens")).cast("long")
    L = F.lit(int(seq_len)).cast("long")
    first = F.call_function("div", start, L)
    last = F.call_function("div", (F.col("__cum") - 1).cast("long"), L)
    has = F.col("n_tokens") > 0
    return (cum.select(
        F.col(id_col), F.col("n_tokens"),
        start.alias("tok_start"),
        F.when(has, first).cast("long").alias("first_block"),
        F.when(has, last).cast("long").alias("last_block"),
        F.when(has, last - first + 1).otherwise(F.lit(0))
        .cast("long").alias("n_blocks"),
        F.when(has, last != first).alias("is_split")))


def doc_chunks(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", chunk_len: int = 1000,
               overlap: int = 200) -> DataFrame:
    """Overlapping fixed-width character chunks with offsets — the RAG /
    embedding-indexing splitter.  Chunk k of a document starts at
    ``k * (chunk_len - overlap)`` and carries ``chunk_len`` characters
    (shorter at the tail); every character position of a non-empty
    document is covered, empty documents produce no chunks.  Returns::

        (doc_id, chunk_idx, char_start, chunk_chars, chunk_md5)

    ``chunk_md5`` fingerprints the chunk text (md5 of its UTF-8 bytes)
    so downstream chunk-level dedup/audit never ships the text itself.
    One projection + explode — no shuffle, no Python; chunk counts per
    document are ~len/stride, so output size tracks corpus size
    linearly."""
    stride = int(chunk_len) - int(overlap)
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_len")
    c = F.col(text_col).cast("string")
    starts = F.when(
        F.length(c) > 0,
        F.sequence(F.lit(0), F.length(c) - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    ex = df.select(F.col(id_col), c.alias("__t"),
                   F.posexplode(starts).alias("chunk_idx", "char_start"))
    sub = F.substring(F.col("__t"), F.col("char_start") + 1,
                      F.lit(int(chunk_len)))
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("char_start").cast("long").alias("char_start"),
        F.length(sub).cast("long").alias("chunk_chars"),
        F.md5(F.encode(sub, "UTF-8")).alias("chunk_md5"))


def length_bucket_report(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Length-bucketed batching efficiency: documents bucket by
    ``floor(log2(n_tokens))`` (the standard power-of-two length bucketing
    that keeps batch shapes near-uniform), and each bucket reports the
    padding a batcher pays when every member pads to the bucket's actual
    longest document::

        (bucket, min_tokens, max_tokens, n_docs, sum_tokens,
         pad_waste, waste_ppm)

    ``pad_waste = n_docs·max_tokens − sum_tokens`` (tokens of padding);
    ``waste_ppm`` is the exact parts-per-million share of the padded
    volume that is padding.  Empty documents report as bucket −1 with
    zero waste.  The bucket index is computed as ``length(bin(n)) − 1``
    — exact integer bit-length, identical in both engines, where a float
    ``log2`` could misround at bucket boundaries.  One projection + one
    bounded groupBy (≤ ~40 buckets), nothing else."""
    from dataqtor_spark.functions import exact as XR

    n = token_count(text_col).cast("long")
    bucket = F.when(n > 0, F.length(F.bin(n)) - 1).otherwise(F.lit(-1))
    base = df.select(bucket.cast("long").alias("bucket"),
                     n.alias("__n"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (base.groupBy("bucket")
            .agg(F.min("__n").alias("min_tokens"),
                 F.max("__n").alias("max_tokens"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__n").alias("sum_tokens"))
            .select("bucket",
                    F.col("min_tokens").cast("long").alias("min_tokens"),
                    F.col("max_tokens").cast("long").alias("max_tokens"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("sum_tokens").cast("long").alias("sum_tokens"),
                    (F.col("n_docs") * F.col("max_tokens")
                     - F.col("sum_tokens")).cast("long").alias("pad_waste"),
                    # k=6 scales by 10^6 INSIDE round_ratio_int's decimal
                    # arithmetic — a 64-bit `waste * 1_000_000` would wrap
                    # past 2^63 at 100 TB count shapes (the ab02 class)
                    # while the HUGEINT oracle stays exact
                    XR.round_ratio_int(
                        dec(F.col("n_docs")) * dec(F.col("max_tokens"))
                        - dec(F.col("sum_tokens")),
                        F.greatest(dec(F.col("n_docs"))
                                   * dec(F.col("max_tokens")),
                                   F.lit(1).cast("decimal(38,0)")), 6)
                    .cast("long").alias("waste_ppm")))
