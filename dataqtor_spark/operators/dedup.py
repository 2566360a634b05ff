"""Deduplication operator family for training-data pipelines (north-star
extensions): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
near-dup.

Scale design (the point of each strategy):
- exact:    one hash-groupBy; shuffles only (hash, id) pairs, never text.
- minhash:  shingle→signature→band→bucket-join.  Candidate generation is a
            groupBy on (band, band-hash) — no pairwise comparison ever
            touches non-colliding documents, so cost tracks true-duplicate
            density, not n².
- simhash:  64-bit signature per doc; banding on 16-bit chunks (any doc
            within Hamming distance 3 shares ≥1 of 4 chunks — pigeonhole),
            then exact Hamming verify via xor+bit_count.
- ngram-jaccard: inverted-index self-join on shared shingles — the sparse
            dot-product trick; cost ∝ Σ_shingle df(shingle)², controlled by
            dropping ultra-common shingles (stop-shingle cut).
- embedding near-dup: cosine over a blocking key (or LSH buckets from
            operators/ann.py) instead of the full cross join.

Everything below is DataFrame-native: hashes via xxhash64 (seeded per hash
function), no Python in the hot path.
"""

from __future__ import annotations

import functools
import logging
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataqtor_spark.operators.textstats import WS_PLUS
from dataqtor_spark.session import local_frame

# Column trees here are large (64-hash families, 64-bit nibble extraction)
# and deterministic given their parameters; building them costs real
# driver-side py4j time per call (~1.5 s for the 64-agg minhash family).
# They only reference fixed internal aliases (__sh, __v, __h, sig), so the
# immutable Column objects are safely reusable across invocations —
# memoized exactly like functions/phone.py's format-class expression.

# ---------------------------------------------------------------------------
# scale guards (skew protection for the quadratic-capable paths)
# ---------------------------------------------------------------------------

# Corpora below this size run unguarded (small-data parity: the quadratic
# worst case is bounded and exact answers matter more than skew safety);
# above it the inverted-index paths default their caps ON — SCALE_PROBE.md's
# planted-skew probe measured a 16x candidate-pair blow-up on a 4x hot
# cluster without the cap vs 1.0x with it, and at 100 TB an uncapped hot
# bucket is a stage-sinker.
AUTO_GUARD_MIN_DOCS = 100_000
# Floor for the auto cap: buckets/posting-lists this small expand at most
# ~floor²/2 pairs — noise at any scale worth guarding.
AUTO_GUARD_CAP_FLOOR = 1024


def resolve_auto_cap(n_docs: int) -> int | None:
    """The ``"auto"`` cap as a Python reference of the in-plan formula
    ``_cap_groups`` evaluates: ``None`` (unguarded) below
    ``AUTO_GUARD_MIN_DOCS`` documents, ``max(AUTO_GUARD_CAP_FLOOR,
    isqrt(n_docs))`` at or above it.  √n keeps worst-case pair expansion
    per hot key at O(n) while leaving legitimate mid-size duplicate
    clusters intact."""
    if n_docs < AUTO_GUARD_MIN_DOCS:
        return None
    return max(AUTO_GUARD_CAP_FLOOR, math.isqrt(n_docs))


_log = logging.getLogger(__name__)


def _cap_groups(grouped: DataFrame, cap: int | str | None,
                count_src: DataFrame, size_col: str = "ids") -> DataFrame:
    """The one skew guard of every posting-list operator: drop groups
    whose ``size_col`` list is longer than ``cap`` before the quadratic
    pair expansion (pairs internal to a dropped group are skipped — the
    documented recall trade).

    ``cap`` is an int (a pinned bound), ``None`` (no guard; ``grouped``
    comes back untouched) or ``"auto"``: ``resolve_auto_cap`` over the
    row count of ``count_src``, applied WITHOUT an eager count.  The
    corpus total is a 1-row aggregate broadcast-cross-joined into the
    group frame, and the cap becomes a filter the optimizer evaluates
    inside the same job — no plan-construction-time Spark action, no
    upstream recompute for callers who didn't cache.  The in-plan
    integer sqrt mirrors ``math.isqrt`` exactly: the float
    ``floor(sqrt(n))`` candidate is corrected by one in either
    direction, which covers the ulp error band around perfect squares.

    Whether the auto cap engages is only known at run time (it depends
    on the count inside the plan), so a notice is logged unconditionally
    at INFO when the filter is built — at scale the guard must never
    drop candidate pairs silently."""
    if cap is None:
        return grouped
    if cap != "auto":
        return grouped.filter(F.size(size_col) <= cap)
    _log.info(
        "deferred auto skew guard attached: groups larger than "
        "max(%d, isqrt(n_docs)) are skipped when n_docs >= %d (decided "
        "in-plan from the corpus count; pass the operator's cap as None "
        "to opt out, or an int to pin it)", AUTO_GUARD_CAP_FLOOR,
        AUTO_GUARD_MIN_DOCS)
    total = count_src.agg(F.count(F.lit(1)).alias("__n_docs"))
    r = F.floor(F.sqrt(F.col("__n_docs"))).cast("long")
    isq = (F.when((r + 1) * (r + 1) <= F.col("__n_docs"), r + 1)
           .when(r * r > F.col("__n_docs"), r - 1).otherwise(r))
    auto_cap = F.greatest(F.lit(AUTO_GUARD_CAP_FLOOR).cast("long"), isq)
    keep = ((F.col("__n_docs") < F.lit(AUTO_GUARD_MIN_DOCS))
            | (F.size(size_col) <= auto_cap))
    return (grouped.crossJoin(F.broadcast(total))
            .filter(keep).drop("__n_docs"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_hash(cols: list[str]) -> Column:
    """Deterministic row-content key: md5 of null-tagged concatenation."""
    parts = []
    for c in cols:
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00null")))
    return F.md5(F.concat_ws("\x01", *parts))


def exact_duplicate_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """(content_hash, cluster_size, members) for groups of identical rows."""
    return (df.select(F.col(id_col), content_hash(cols).alias("chash"))
            .groupBy("chash")
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.sort_array(F.collect_list(id_col)).alias("members"))
            .filter(F.col("cluster_size") > 1))


def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep the minimum-id row of each content group.  min-by over a
    groupBy — one shuffle of (hash, id), then a semi-join to recover rows."""
    keep = (df.select(F.col(id_col), content_hash(cols).alias("chash"))
            .groupBy("chash").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------

def _words(col: Column | str) -> Column:
    """The ONE tokenization every shingle construction shares (lowercase,
    trim, whitespace split) — word_shingles and _exploded_shingles must
    tokenize identically or their consumers silently drift apart."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return F.split(F.trim(F.lower(c)), WS_PLUS)


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams as an array<string> (lowercased); a text of
    fewer than ``n`` words is ONE shingle (its whole token string), NULL
    text gives NULL.

    The doc is tokenized once per row: the word array is bound as the
    lambda variable ``ws`` of a one-element ``transform`` and the shingle
    lambda slices ``ws``.  Catalyst does not hoist common subexpressions
    out of lambda bodies, so a word array captured by the shingle lambda
    would be re-split once per shingle — O(words²) per doc, ~2× the
    whole signature cost on 60-word docs."""
    def over(ws: Column) -> Column:
        k = F.size(ws) - (n - 1)
        return F.when(k <= 0, F.array(F.concat_ws(" ", ws))).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
                )
            )
        )

    return F.transform(F.array(_words(col)), over)[0]


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int,
                       with_count: bool = False) -> DataFrame:
    """(id, shingle-hash) — shingles are xxhash64'd at the source so every
    downstream shuffle/join moves 8-byte longs instead of shingle strings
    (collision probability ~2⁻⁶⁴ per shingle pair: irrelevant next to the
    approximation the thresholds already accept).

    The shingle hash composes word hashes — ``xxhash64(h(w_i), …,
    h(w_{i+n-1}))`` over a once-per-row word-hash array — instead of
    concatenating n words into a throwaway string per shingle: each word
    is hashed once however many shingles cover it, and the per-shingle
    cost is n array reads + one fixed-arity hash (no string allocation).
    Same distinct-shingles-per-doc semantics as :func:`word_shingles`
    (distinct applied to the hash array; equal shingles ⇔ equal hash
    tuples up to the accepted 2⁻⁶⁴ collision odds).

    ``with_count=True`` additionally carries the doc's distinct-shingle
    count (``__nd``) on every exploded row — computed in-row from the
    same array, no extra pass — so an UNCAPPED pairs consumer needs no
    separate per-doc sizes aggregation or join-back (the count rides the
    posting lists as an (id, n) struct).  Only valid when no doc-freq
    cut follows: post-cut sizes must be re-derived from the surviving
    posting lists, which the capped path still does."""
    from dataqtor_spark.session import parallelize

    base = parallelize(df.select(F.col(id_col).alias("__id"),
                                 F.col(text_col).alias("__txt")))
    base = base.select("__id", _words("__txt").alias("__ws"))
    wh = F.transform(F.col("__ws"), lambda w: F.xxhash64(w))
    base = base.select("__id", F.col("__ws"), wh.alias("__wh"))
    k = F.size("__ws") - (n - 1)
    shingles = F.when(
        # degenerate short text: ONE shingle = the whole token string
        # (word_shingles' contract)
        k <= 0, F.array(F.xxhash64(F.concat_ws(" ", F.col("__ws"))))
    ).otherwise(F.array_distinct(F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.xxhash64(*[F.element_at(F.col("__wh"), i + j)
                               for j in range(n)]))))
    if with_count:
        # alias the array below the Generate so size() and explode()
        # share one computation of it.  explode_OUTER, deliberately:
        # plain explode(attr) makes Catalyst infer `size(__arr) > 0 AND
        # isnotnull(__arr)` and push it through the alias chain to the
        # SCAN, cloning the whole tokenize+hash expression into the
        # (single-task, pre-repartition) scan stage — measured 9x on
        # d02.  NULL text makes the whole array NULL (ANSI size(NULL)
        # short-circuits the k<=0 branch), and outer emits a NULL-hash
        # row where plain explode emitted nothing — the isNotNull filter
        # below restores drop semantics EXACTLY; without it every
        # NULL-text doc would pool into one uncapped __sh=NULL posting
        # list and expand ~N²/2 pairs in a single task.  (The filter is
        # on the GENERATED attribute, so it cannot be pushed back below
        # the Generate and re-trigger the inference.)
        arr = base.select("__id", shingles.alias("__arr"))
        return (arr.select("__id", F.size("__arr").alias("__nd"),
                           F.explode_outer("__arr").alias("__sh"))
                .filter(F.col("__sh").isNotNull())
                .select("__id", "__nd", "__sh"))
    return base.select("__id", F.explode(shingles).alias("__sh"))


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, shingle_n: int = 3) -> DataFrame:
    """(id, sig array<long>): sig[i] = min over shingles of xxhash64(shingle, i).

    Map-only: the shingle-hash array is built once per row (its own select
    — CollapseProject won't inline a non-cheap alias referenced 64×, so
    it is computed once), and each sig[i] is an ``array_min`` over an
    in-row ``transform`` re-mixing the 8-byte base hash with seed i.  No
    explode, no groupBy: signature building carries ZERO shuffle — the
    only shuffle in the whole MinHash pipeline is the band groupBy.  (The
    previous form exploded ~n_shingles rows/doc and shuffled (id, 64
    longs) through a 64-agg groupBy; same statistics, one fewer exchange,
    measured ~2× faster at sf0.1.)  Each doc is tokenized once, in
    :func:`word_shingles`.
    """
    from dataqtor_spark.session import parallelize

    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", F.transform(word_shingles("__txt", shingle_n),
                                        lambda s: F.xxhash64(s)).alias("__vs")))
    return base.select(F.col("__id").alias(id_col),
                       _xx_min_sig(num_hashes).alias("sig"))


@functools.lru_cache(maxsize=8)
def _xx_min_sig(num_hashes: int) -> Column:
    """xxhash64-family min-signature array over the fixed ``__vs`` base-hash
    array column (memoized: 64 lambda subtrees cost real py4j time)."""
    def mk(i):
        return lambda v: F.xxhash64(v, F.lit(i))

    return F.array(*[F.array_min(F.transform(F.col("__vs"), mk(i)))
                     for i in range(num_hashes)])


@functools.lru_cache(maxsize=8)
def _portable_min_sig(num_hashes: int) -> Column:
    """md5-family min-signature array over the fixed ``__vs`` column."""
    def mk(a, b):
        return lambda v: (F.lit(a) * v + F.lit(b)) % PORTABLE_P

    return F.array(*[F.array_min(F.transform(F.col("__vs"), mk(a, b)))
                     for a, b in portable_hash_constants(num_hashes)])


@functools.lru_cache(maxsize=8)
def _h_array(num_hashes: int) -> Column:
    return F.array(*[F.col(f"h{i}") for i in range(num_hashes)])


def minhash_candidates(sig: DataFrame, id_col: str,
                       num_hashes: int = 64, bands: int = 16,
                       max_bucket_size: int | str | None = "auto"
                       ) -> DataFrame:
    """LSH banding: docs colliding in ≥1 band become candidate pairs
    (id_a < id_b).  rows-per-doc = bands; join is a groupBy on band hash.

    ``max_bucket_size`` drops buckets larger than the cap before pair
    expansion — the skew guard for dup-heavy corpora, where one hot
    bucket of b near-identical docs would otherwise expand b²/2 pairs
    per band.  An over-full bucket is (by construction) an exact or
    near-exact duplicate *cluster*, which exact hash-dedup (``d01``)
    collapses in one linear pass — run that first and let banding handle
    the long tail; pairs internal to a capped-out bucket are
    intentionally skipped (see the skew probe in SCALE_PROBE.md for the
    measured blow-up without the cap).

    The cap follows the one rule of ``_cap_groups``: the default
    ``"auto"`` engages ``resolve_auto_cap`` (``max(1024, √n_docs)`` at
    or above ``AUTO_GUARD_MIN_DOCS`` signatures, resolved in-plan, so it
    costs no extra Spark action); below the threshold the pass runs
    unguarded, so small corpora keep exact banding semantics and
    differential oracles.  An int pins the cap; ``None`` opts out at any
    size."""
    exploded = sig.select(F.col(id_col).alias("__id"),
                          F.explode(_band_hash_array(num_hashes, bands))
                          .alias("__bh"))
    grouped = (exploded.groupBy("__bh")
               .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
               .filter(F.size("ids") > 1))
    return (_cap_groups(grouped, max_bucket_size, sig)
            .select(F.explode(F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
            )).alias("p"))
            .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
            .distinct())


@functools.lru_cache(maxsize=8)
def _band_hash_array(num_hashes: int, bands: int) -> Column:
    # one 64-bit key per band: xxhash64 straight over the band's signature
    # longs (no string concat / casts), with the band index as the first
    # argument so equal slices in different band positions never collide
    rows_per_band = num_hashes // bands
    return F.array(*[
        F.xxhash64(F.lit(b), *[F.col("sig")[b * rows_per_band + r]
                               for r in range(rows_per_band)])
        for b in range(bands)])


def minhash_similarity(sig: DataFrame, candidates: DataFrame,
                       id_col: str) -> DataFrame:
    """Estimated Jaccard = fraction of agreeing signature positions.

    The LSH-pruned pair set is broadcast and the signature table is
    probed map-side twice — no shuffle of the (much larger) signatures.
    Candidate volume tracks true-duplicate density, not corpus size, and
    the bucket cap of ``minhash_candidates`` bounds it on dup-heavy
    corpora.
    """
    a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    # hint the first probe; the (candidates ⋈ a) output is no bigger, so
    # AQE promotes the second join to broadcast from its runtime size
    joined = F.broadcast(candidates).join(a, "id_a").join(b, "id_b")
    return (joined
            .withColumn(
                "est_jaccard",
                F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                                lambda z: z))
                / F.size("sig_a"))
            .select("id_a", "id_b", "est_jaccard"))


# Signature count up to which minhash_pairs bands and verifies ON THE
# DRIVER over the collected signature table — the bounded-collect contract
# of _CC_DRIVER_EDGES_MAX.  Measured motivation: on 3k docs the
# distributed tail (band groupBy, auto-cap count, two broadcast probes,
# localCheckpoint) ran 12 Spark jobs, and its cost was the plan around a
# few hundred pairs, not the data.  Sized by timing both tails over
# pre-materialized signatures of near-dup corpora (10% copies, 4-core
# local[4], median of 3 alternating runs), driver vs distributed: 2^12
# 0.29 vs 1.02 s, 2^16 0.63 vs 2.09 s, 2^17 0.97 vs 2.07 s, and 2^18
# 3.5 vs 5.1 s with the pair bound lifted (at 2^18 the bucket pairs
# exceed _CC_DRIVER_EDGES_MAX, so the call declines after the collect:
# 7.2 s).  The driver path wins at every size measured, so the
# bound caps the driver's state instead: Arrow signatures plus the
# tracemalloc peak of the numpy matrices and the pairs are 33 + 43 MiB
# at 2^16 docs, 66 + 85 MiB at 2^17 and 131 + 171 MiB at 2^18.
# 0 turns the driver path off (no count, no collect).
_MH_DRIVER_DOCS_MAX = 1 << 16


def minhash_pairs(sig: DataFrame, id_col: str, threshold: float = 0.7,
                  num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """``(id_a, id_b, est_jaccard)`` for the rows of a signature table
    ``(id_col, sig)`` whose banded signatures collide in ≥1 band
    (:func:`minhash_candidates` with its ``"auto"`` cap) and whose
    :func:`minhash_similarity` estimate is ≥ ``threshold`` — the one tail
    of every MinHash Jaccard pair operator.

    The signatures are persisted and unpersisted before returning, so
    they are computed once and repeated calls in a long-lived session do
    not accumulate storage.  One job fills the cache and counts its rows
    (an Observation on a ``noop`` write).  Up to ``_MH_DRIVER_DOCS_MAX``
    rows, the cached table comes to the driver in one parallel
    ``toArrow`` collect, banding and verification run there in numpy
    (:func:`_driver_minhash_pairs`), and the pairs go back through
    ``session.local_frame`` as an Arrow local relation: 2 jobs in all,
    plus the stage jobs AQE runs for an exchange under the signatures.
    Otherwise, and where the driver path declines its input, the
    distributed plan runs over the same cached signatures and its small
    result is materialized with ``localCheckpoint``.  Both paths give the
    same rows and the same schema.  Ids that are neither integers nor
    binary-collated strings always take the distributed plan: only for
    those is Arrow's order of the ids Spark's."""
    from pyspark.sql import Observation
    from pyspark.sql.types import (DoubleType, IntegralType, StringType,
                                   StructField, StructType)

    id_type = sig.schema[id_col].dataType
    sig = sig.persist()
    try:
        if _MH_DRIVER_DOCS_MAX > 0 and (
                isinstance(id_type, IntegralType)
                or (isinstance(id_type, StringType)
                    and id_type.isUTF8BinaryCollation())):
            obs = Observation()
            (sig.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
            n_docs = obs.get["n"]
            if n_docs <= _MH_DRIVER_DOCS_MAX:
                pairs = _driver_minhash_pairs(
                    sig.toArrow(), id_col, num_hashes, bands, threshold,
                    resolve_auto_cap(n_docs))
                if pairs is not None:
                    return local_frame(sig.sparkSession, pairs, StructType([
                        StructField("id_a", id_type, False),
                        StructField("id_b", id_type, False),
                        StructField("est_jaccard", DoubleType(), True)]))
        cand = minhash_candidates(sig, id_col, num_hashes, bands)
        return (minhash_similarity(sig, cand, id_col)
                .filter(F.col("est_jaccard") >= threshold)
                .localCheckpoint())
    finally:
        sig.unpersist()


def _mix64(h):
    """splitmix64's finalizer over a uint64 array (wrapping arithmetic)."""
    import numpy as np

    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _driver_minhash_pairs(table, id_col: str, num_hashes: int, bands: int,
                          threshold: float, cap: int | None):
    """The distributed MinHash tail's rows, computed in numpy over the
    collected signature ``table``: a ``pyarrow.Table`` of
    ``(id_a, id_b, est_jaccard)``, or ``None`` where the distributed plan
    must answer instead.

    Row for row the same as :func:`minhash_candidates` +
    :func:`minhash_similarity` + the threshold filter:
    - band b is the ``num_hashes // bands`` consecutive signature
      positions from ``b * rows``; two docs collide in it when their
      slices are equal (Spark compares ``xxhash64(b, slice)``, the same
      test up to 2⁻⁶⁴).  ``xxhash64`` skips NULLs, so all-NULL slices
      (NULL text) collide with each other;
    - a NULL id never pairs (``collect_list`` drops it), buckets of one id
      or of more than ``cap`` ids expand nothing, and a pair is
      ``(id_a, id_b)`` with ``id_a < id_b`` in Spark's order of the type;
    - ``est_jaccard`` is the number of positions, trailing ones included,
      where both entries are non-NULL and equal, over ``num_hashes``.

    ``None`` when the ids are not unique, when a band slice mixes NULL
    and non-NULL entries, when a 64-bit slice hash collides between
    unequal slices, or when the buckets would expand more than
    ``_CC_DRIVER_EDGES_MAX`` pairs (the bound on pairs held on the
    driver; checked before any pair is built).  Grouping is a
    stable argsort of a per-band slice hash, so each bucket lists its
    rows in id order; verification gathers one signature position of
    every pair at a time."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = table.column(id_col).combine_chunks()
    m = len(ids) - ids.null_count
    order = pc.sort_indices(ids, null_placement="at_end")[:m].to_numpy()
    ids = ids.take(order)
    if m > 1 and pc.any(pc.equal(ids[1:], ids[:-1])).as_py():
        return None
    values = table.column("sig").combine_chunks().flatten()
    del table
    # (position, doc) matrices in the collected row order; position p of
    # the i-th doc in id order is sig[p][order[i]]
    sig = np.ascontiguousarray(
        values.fill_null(0).to_numpy().reshape(-1, num_hashes).T)
    valid = (None if values.null_count == 0 else np.ascontiguousarray(
        values.is_valid().to_numpy(zero_copy_only=False)
        .reshape(-1, num_hashes).T))
    del values
    rows = num_hashes // bands
    sizes, members = [], []
    for b in range(bands):
        key = sig[b * rows:(b + 1) * rows, order]
        if valid is not None:
            v = valid[b * rows:(b + 1) * rows, order]
            null_slice = ~v.any(axis=0)
            if (null_slice != ~v.all(axis=0)).any():
                return None
            key = np.vstack([key, null_slice])
        h = np.full(m, b, np.uint64)
        for part in key:
            h = _mix64(h ^ part.view(np.uint64))
        o = np.argsort(h, kind="stable")
        hs = h[o]
        start = np.flatnonzero(np.r_[True, hs[1:] != hs[:-1]]) if m else o
        size = np.diff(np.r_[start, m])
        if (key[:, o] != key[:, np.repeat(o[start], size)]).any():
            return None
        keep = size > 1
        if cap is not None:
            keep &= size <= cap
        sizes.append(size[keep])
        members.append(o[np.repeat(keep, size)])
    size = np.concatenate(sizes)
    if int((size * (size - 1) // 2).sum()) > _CC_DRIVER_EDGES_MAX:
        return None
    # expand each bucket's (a, b) pairs, a before b in the bucket's order
    members = np.concatenate(members)
    first = np.repeat(np.cumsum(size) - size, size)
    after = np.repeat(size, size) - 1 - (np.arange(len(members)) - first)
    a = np.repeat(np.arange(len(members)), after)
    b = a + 1 + np.arange(len(a)) - np.repeat(np.cumsum(after) - after, after)
    pair = np.unique(members[a] * np.int64(m) + members[b])
    a, b = np.divmod(pair, np.int64(m))
    ra, rb = order[a], order[b]
    agree = np.zeros(len(pair), np.int64)
    for h in range(num_hashes):
        same = sig[h][ra] == sig[h][rb]
        if valid is not None:
            same &= valid[h][ra] & valid[h][rb]
        agree += same
    est = agree / num_hashes
    hit = np.flatnonzero(est >= threshold)
    return pa.table({"id_a": ids.take(a[hit]), "id_b": ids.take(b[hit]),
                     "est_jaccard": est[hit]})


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        threshold: float = 0.7, num_hashes: int = 64,
                        bands: int = 16, shingle_n: int = 3) -> DataFrame:
    """End-to-end MinHash near-dup pairs above an estimated-Jaccard
    threshold: :func:`minhash_signatures`, then :func:`minhash_pairs`
    (banded on the driver up to ``_MH_DRIVER_DOCS_MAX`` docs, by the
    distributed plan and a ``localCheckpoint`` above it)."""
    return minhash_pairs(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_n),
        id_col, threshold, num_hashes, bands)


# ---------------------------------------------------------------------------
# portable (cross-engine) hash family
#
# xxhash64 is Spark-internal, so the sketches above can only be verified
# rows-only.  This family derives every hash from md5 — bit-identical in
# Spark, DuckDB, and Python's hashlib — so MinHash/SimHash built on it can
# be differentially tested against an ANSI-SQL oracle while keeping the
# exact same LSH statistics and distributed plan shape.
# ---------------------------------------------------------------------------

PORTABLE_P = 1_000_000_007  # modulus for the universal hash family


def portable_hash_constants(num_hashes: int,
                            salt: str = "mh") -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for h_i(v) = (a_i·v + b_i) mod P,
    derived from md5 so any engine (or the oracle generator) can recompute
    them.  ``salt`` names the family, so independent consumers (MinHash
    vs the count-min sketch) draw independent constants."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"{salt}:a:{i}".encode()).hexdigest()[:15], 16) % (PORTABLE_P - 1) + 1
        b = int(hashlib.md5(f"{salt}:b:{i}".encode()).hexdigest()[:15], 16) % PORTABLE_P
        out.append((a, b))
    return out


def portable_string_hash(col: Column) -> Column:
    """String → int in [0, P): first 15 hex chars of md5 parsed base-16.
    15 nibbles = 60 bits, always within a signed 64-bit long; the SQL
    oracle reproduces the parse with per-nibble strpos arithmetic."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % PORTABLE_P


def minhash_signatures_portable(df: DataFrame, id_col: str, text_col: str,
                                num_hashes: int = 64, shingle_n: int = 3) -> DataFrame:
    """(id, sig array<long>) like :func:`minhash_signatures`, but with the
    portable md5 family: sig[i] = min over shingles of (a_i·v + b_i) mod P
    where v = portable_string_hash(shingle).  Same map-only shape — the
    md5-derived base hashes are one per-row array, each family member an
    in-row ``array_min``; no explode, no shuffle."""
    from dataqtor_spark.session import parallelize

    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", F.transform(word_shingles("__txt", shingle_n),
                                        portable_string_hash).alias("__vs")))
    return base.select(F.col("__id").alias(id_col),
                       _portable_min_sig(num_hashes).alias("sig"))


def minhash_containment_pairs_portable(df: DataFrame, id_col: str,
                                       text_col: str,
                                       threshold: float = 0.5,
                                       num_hashes: int = 64,
                                       bands: int = 16,
                                       shingle_n: int = 3) -> DataFrame:
    """Sketch-estimated Broder CONTAINMENT on the banded MinHash pass —
    the d03-style scale sibling of :func:`ngram_containment_pairs`: the
    signatures and LSH candidates are the ones the Jaccard dedup pass
    already computes, per-doc distinct-shingle counts are an IN-ROW
    array size (no extra shuffle), and the containment estimate is pure
    integer arithmetic from the signature-agreement count k:

        Ĵ = k/H,  Î = Ĵ·(|A|+|B|)/(1+Ĵ)  ⇒
        containment ≈ k·(|A|+|B|) / ((H+k)·min(|A|,|B|))

    rounded on the exact integer-rational surface (functions/exact.py) —
    no float ever meets round(), so the SQL replay is bit-identical.

    Documented recall limit: candidates come from JACCARD banding, which
    under-recalls extreme size-ratio pairs (a tiny doc inside one 100×
    its length has high containment but Ĵ ≈ 0, so its bands rarely
    collide).  This op is the cheap containment column on the LSH pass
    you already run; exact :func:`ngram_containment_pairs` (d14) is the
    authority when superset recall itself is the requirement."""
    from dataqtor_spark.functions.exact import round_ratio
    from dataqtor_spark.session import parallelize

    # the signature pass carries the per-doc distinct-shingle count for
    # FREE (size of the same in-row hash array the signature minimizes
    # over) — no second tokenize pass, no sizes join-back; this is the
    # minhash_signatures_portable body plus one size() column
    base = (parallelize(df.select(F.col(id_col).alias("__id"),
                                  F.col(text_col).alias("__txt")))
            .select("__id", F.transform(word_shingles("__txt", shingle_n),
                                        portable_string_hash).alias("__vs")))
    sig = base.select(F.col("__id").alias(id_col),
                      _portable_min_sig(num_hashes).alias("sig"),
                      F.size("__vs").alias("__n"))
    sig = sig.persist()
    try:
        cand = minhash_candidates(sig.drop("__n"), id_col, num_hashes,
                                  bands)
        a = sig.select(F.col(id_col).alias("id_a"),
                       F.col("sig").alias("sig_a"),
                       F.col("__n").alias("__na"))
        b = sig.select(F.col(id_col).alias("id_b"),
                       F.col("sig").alias("sig_b"),
                       F.col("__n").alias("__nb"))
        k = F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                       lambda x, y: x == y), lambda z: z))
        est = round_ratio(
            F.col("__k") * (F.col("__na") + F.col("__nb")),
            (F.lit(num_hashes) + F.col("__k"))
            * F.least(F.col("__na"), F.col("__nb")), 6)
        out = (F.broadcast(cand).join(a, "id_a").join(b, "id_b")
               .withColumn("__k", k)
               .withColumn("est_containment", est)
               .filter(F.col("est_containment") >= threshold)
               .select("id_a", "id_b", "est_containment"))
        return out.localCheckpoint()
    finally:
        sig.unpersist()


def minhash_dedup_pairs_portable(df: DataFrame, id_col: str, text_col: str,
                                 threshold: float = 0.7, num_hashes: int = 64,
                                 bands: int = 16, shingle_n: int = 3) -> DataFrame:
    """:func:`minhash_dedup_pairs` on the portable family — identical
    banding/verification through :func:`minhash_pairs` (driver or
    distributed by its bound), differentially testable against SQL."""
    return minhash_pairs(
        minhash_signatures_portable(df, id_col, text_col, num_hashes,
                                    shingle_n),
        id_col, threshold, num_hashes, bands)


def minhash_threshold_sensitivity(df: DataFrame, id_col: str = "doc_id",
                                  text_col: str = "text",
                                  thresholds_pct: tuple[int, ...] = (
                                      25, 35, 50, 70, 90),
                                  num_hashes: int = 64, bands: int = 16,
                                  shingle_n: int = 3) -> DataFrame:
    """Dedup-threshold tuning report: ONE banding + scoring pass, then
    per candidate Jaccard threshold (integer percent — cross-engine
    exact comparisons) the pair count and the number of distinct
    documents those pairs touch.  The table a pipeline owner reads
    before picking the dedup cutoff: how much of the corpus each
    threshold would flag.

    Scored candidates come from the SAME LSH banding as the production
    pass, so thresholds far below the banding's recall curve undercount
    by construction — the report tunes the verification threshold, not
    the banding geometry (retune bands/rows for that).  Zero-hit
    thresholds keep their row (left join from the threshold frame).
    """
    scored = minhash_dedup_pairs_portable(
        df, id_col, text_col, threshold=0.0,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n)
    spark = df.sparkSession
    th = spark.range(1).select(F.explode(F.array(
        *[F.lit(int(t)) for t in thresholds_pct])).alias("threshold_pct"))
    hits = th.join(scored,
                   F.col("est_jaccard") >= F.col("threshold_pct") / 100.0)
    pairs_agg = hits.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    docs_agg = (hits.select("threshold_pct",
                            F.explode(F.array("id_a", "id_b")).alias("__d"))
                .groupBy("threshold_pct")
                .agg(F.countDistinct("__d").cast("long")
                     .alias("n_docs_flagged")))
    return (th.join(pairs_agg, "threshold_pct", "left")
            .join(docs_agg, "threshold_pct", "left")
            .select("threshold_pct",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.coalesce("n_docs_flagged", F.lit(0)).cast("long")
                    .alias("n_docs_flagged")))


def minhash_decontaminate(corpus: DataFrame, bench: DataFrame, id_col: str,
                          text_col: str, threshold: float = 0.7,
                          num_hashes: int = 64, bands: int = 16,
                          shingle_n: int = 3) -> DataFrame:
    """FUZZY benchmark decontamination (the GPT-3/PaLM-report practice):
    train docs whose MinHash signature agrees with any benchmark doc's
    on ≥ ``threshold`` of positions — catches paraphrased/truncated
    contamination that exact-shingle screens (``textstats.
    decontaminate``) miss.  Returns per-train-doc
    ``(id, n_bench_hits, max_est_jaccard)``.

    Asymmetric LSH: both sides sign with the portable family, the
    BENCHMARK side's band table broadcasts (eval sets are dimension-
    sized next to a training corpus), candidates come from band-key
    equality — the corpus never self-joins and never shuffles beyond
    its signature pass."""
    sc = minhash_signatures_portable(corpus, id_col, text_col,
                                     num_hashes, shingle_n)
    # the corpus signature frame feeds BOTH the band explode and the
    # scoring join — persist so the dominant shingle/signature pass over
    # the training corpus runs once (same device as
    # minhash_dedup_pairs_portable)
    sc = sc.persist()
    try:
        sb = minhash_signatures_portable(bench, id_col, text_col,
                                         num_hashes, shingle_n)
        barr = _band_hash_array(num_hashes, bands)
        cb = (sc.select(F.col(id_col).alias("__cid"), F.col("sig"))
              .select("__cid", F.explode(barr).alias("__bh")))
        bb = (sb.select(F.col(id_col).alias("__bid"), F.col("sig"))
              .select("__bid", F.explode(barr).alias("__bh")))
        cand = (cb.join(F.broadcast(bb), "__bh")
                .select("__cid", "__bid").distinct())
        a = sc.select(F.col(id_col).alias("__cid"),
                      F.col("sig").alias("__sa"))
        b = sb.select(F.col(id_col).alias("__bid"),
                      F.col("sig").alias("__sb"))
        agree = F.aggregate(
            F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int")),
            F.lit(0), lambda acc, v: acc + v)
        est = F.round(agree / F.lit(float(num_hashes)), 6)
        scored = (cand.join(a, "__cid").join(F.broadcast(b), "__bid")
                  .withColumn("est_jaccard", est)
                  .filter(F.col("est_jaccard") >= threshold))
        return (scored.groupBy(F.col("__cid").alias(id_col))
                .agg(F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
                     F.max("est_jaccard").alias("max_est_jaccard"))
                .localCheckpoint())
    finally:
        sc.unpersist()


def simhash_portable(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash with md5-nibble bits (cross-engine verifiable).

    Bit b of a token's hash = bit (b mod 4) of hex nibble (b div 4) of
    md5(token) — one md5 per token, 64 bits extracted with substring
    arithmetic that ANSI SQL replicates exactly.  Same ±1 sign-sum
    aggregation as :func:`simhash`.
    """
    from dataqtor_spark.session import parallelize

    c = F.col(text_col).cast("string")
    toks = (parallelize(df.select(F.col(id_col).alias("__id"), c.alias("__txt")))
            .select("__id",
                    F.explode(F.split(F.trim(F.lower(F.col("__txt"))), WS_PLUS)).alias("__t"))
            .withColumn("__h", F.md5("__t")))
    sums = toks.groupBy("__id").agg(*_simhash_portable_aggs())
    return sums.select(F.col("__id").alias(id_col),
                       _simhash_pack_expr().alias("simhash"))


@functools.lru_cache(maxsize=1)
def _simhash_portable_aggs() -> tuple[Column, ...]:
    aggs = []
    for b in range(64):
        j, k = b // 4 + 1, b % 4  # 1-based hex char, bit within nibble
        bit = F.expr(
            f"((instr('0123456789abcdef', substr(__h, {j}, 1)) - 1) div {2 ** k}) % 2")
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{b}"))
    return tuple(aggs)


@functools.lru_cache(maxsize=1)
def _simhash_pack_expr() -> Column:
    sig = F.lit(0).cast("long")
    for chunk in range(4):
        cexpr = F.lit(0).cast("long")
        for i in range(16):
            cexpr = cexpr + F.when(F.col(f"b{chunk * 16 + i}") > 0,
                                   F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = sig.bitwiseOR(F.shiftleft(cexpr, chunk * 16))
    return sig


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sign of Σ±1 across
    token hashes.  One explode + one groupBy with 64 conditional sums."""
    from dataqtor_spark.session import parallelize

    c = F.col(text_col).cast("string")
    toks = (parallelize(df.select(F.col(id_col).alias("__id"), c.alias("__txt")))
            .select("__id", F.explode(F.split(F.trim(F.lower(F.col("__txt"))), WS_PLUS)).alias("__t"))
            .withColumn("__h", F.xxhash64("__t")))
    sums = toks.groupBy("__id").agg(*_simhash_xxhash_aggs())
    return sums.select(F.col("__id").alias(id_col),
                       _simhash_xxhash_pack_expr().alias("simhash"))


@functools.lru_cache(maxsize=1)
def _simhash_xxhash_aggs() -> tuple[Column, ...]:
    aggs = []
    for i in range(64):
        bit = F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}"))
    return tuple(aggs)


@functools.lru_cache(maxsize=1)
def _simhash_xxhash_pack_expr() -> Column:
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (2 ** i) if i < 63
                   else F.lit(-(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long")))
    return sig


def simhash_near_pairs(sig: DataFrame, id_col: str, max_hamming: int = 3,
                       max_bucket: int | str | None = "auto") -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` via 16-bit-chunk
    banding (pigeonhole: ≤3 differing bits → ≥1 of 4 chunks identical),
    then exact verify with xor + bit_count.

    Candidate generation is posting-list shaped: signatures group on the
    (band, chunk) key and pairs expand in-row from each bucket's list, so
    only 16-byte (id, sig) structs shuffle and the per-bucket blowup is
    |bucket|²/2.  ``max_bucket`` bounds that term — at 100 TB a hot
    chunk value (millions of near-black frames or solid-color thumbnails
    sharing a 16-bit slice) otherwise makes the stage quadratic in the
    bucket.  The cap follows the one rule of ``_cap_groups``: the default
    ``"auto"`` engages ``max(1024, isqrt(n))`` at or above
    ``AUTO_GUARD_MIN_DOCS`` signatures, resolved in-plan from a broadcast
    1-row count, and below the threshold the pass is exact; an int pins
    the cap; ``None`` opts out.  Skipped buckets are near-identical
    clusters the linear exact-hash pass collapses first (documented
    recall trade)."""
    chunks = []
    for b in range(4):
        chunks.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias("bhash"),
        ))
    exploded = (sig.select(F.col(id_col).alias("__id"), F.col("simhash"),
                           F.explode(F.array(*chunks)).alias("c"))
                .select("__id", "simhash", "c.band", "c.bhash"))
    # ids are unique within a bucket (one row per signature per band), so
    # the sorted struct list ascends strictly by id → in-row expansion
    # yields id_a < id_b exactly like the former l.__id < r.__id join.
    buckets = (exploded.groupBy("band", "bhash")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.col("__id").alias("i"),
                            F.col("simhash").alias("s")))).alias("ids"))
               .filter(F.size("ids") > 1))
    buckets = _cap_groups(buckets, max_bucket, sig.select(id_col))
    pairs = (buckets.select(F.explode(F.expr(
                 "flatten(transform(ids, (x, i) -> "
                 "transform(slice(ids, i + 2, size(ids)), "
                 "y -> struct(x.i as id_a, y.i as id_b, "
                 "x.s as sh_a, y.s as sh_b))))")).alias("p"))
             .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
             .distinct())
    return (pairs.withColumn("hamming",
                             F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted index)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_doc_freq: int | str | None = "auto",
                        materialize: bool = True,
                        metric: str = "jaccard") -> DataFrame:
    """Exact Jaccard over distinct word n-grams via inverted-index
    self-join.  ``max_doc_freq`` drops shingles shared by more than that
    many docs (stop-shingle cut) — at scale this bounds the quadratic
    blowup on ultra-common shingles; pairs sharing ONLY dropped shingles
    can be missed (documented recall trade).

    The cut follows the one rule of ``_cap_groups``: the default
    ``"auto"`` engages ``max(1024, √n_docs)`` at or above the
    ``AUTO_GUARD_MIN_DOCS`` corpus-size threshold (``resolve_auto_cap``;
    the worst-case per-shingle pair expansion stays O(n)), resolved
    in-plan from a broadcast 1-row corpus total — no extra eager count
    job; below the threshold the pass is exact.  An int pins the cut;
    ``None`` gives exact semantics at any size (the d02
    string_grouper-parity registration passes it) on the uncapped fast
    path."""
    uncapped = max_doc_freq is None
    ex = _exploded_shingles(df, id_col, text_col, n, with_count=uncapped)
    if uncapped:
        # no doc-freq cut → per-doc sizes ride the exploded rows
        # (computed in-row, see _exploded_shingles with_count): one
        # consumer, no persist needed, two exchanges total
        pairs = _ngram_pairs_from_posts_nc(_ngram_posts_nc(ex), threshold,
                                           metric)
        return pairs if not materialize else pairs.localCheckpoint()
    # Posting lists FIRST: the one heavy exchange (exploded (id, hash) rows
    # hash-partitioned on the shingle) happens exactly once, and everything
    # else derives from the much smaller posting-list table:
    #   * the stop-shingle cut is a FREE filter on size(ids) — no separate
    #     doc-freq aggregation, no re-shingling pass, no broadcast of the
    #     (at scale huge) surviving-shingle set;
    #   * per-doc sizes re-explode only the kept 8-byte ids (a light
    #     exchange, and post-cut semantics fall out by construction);
    #   * pairs are expanded in-row from each list — per-shingle blowup is
    #     |df|²/2, bounded by the cut — and only pair rows shuffle again.
    # The self-join form exchanged the full inverted index twice and joined.
    posts = _cap_groups(
        ex.groupBy("__sh")
        .agg(F.sort_array(F.collect_list("__id")).alias("ids")),
        max_doc_freq, df.select(id_col))
    if not materialize:
        # LAZY form for callers that immediately rematerialize the pairs
        # themselves (connected_components caches its (src, dst)
        # projection, once for its size probe and its edges): the eager
        # localCheckpoint below would be a second materialization of the
        # same rows.  The posts subplan feeds two consumers (sizes, pair
        # expansion) but shares ONE shuffle — Catalyst's ReuseExchange
        # computes it once per action, so no persist is needed either.
        return _ngram_pairs_from_posts(posts, threshold, metric)
    # two consumers (sizes, pair expansion): persist the compact lists
    posts = posts.persist()
    try:
        return _ngram_pairs_from_posts(posts, threshold, metric) \
            .localCheckpoint()
    finally:
        posts.unpersist()


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, threshold: float = 0.8,
                            max_doc_freq: int | str | None = "auto",
                            materialize: bool = True) -> DataFrame:
    """Near-superset duplication pairs: Broder CONTAINMENT over distinct
    word n-grams — |A∩B| / min(|A|, |B|) — on the exact inverted-index
    device of :func:`ngram_jaccard_pairs` (same posting lists, same skew
    guards, same uncapped fast path; only the pair formula differs).

    Containment catches what symmetric Jaccard structurally cannot: a
    document fully embedded in another 10x its length scores containment
    1.0 but Jaccard ≤ 0.1 — the quote-farm / article-plus-boilerplate /
    doc-inside-digest duplication shape an LLM corpus accumulates, where
    the small side is pure redundancy once the large side is kept.
    Returns ``(id_a, id_b, containment)`` with id_a < id_b."""
    return ngram_jaccard_pairs(df, id_col, text_col, n=n,
                               threshold=threshold,
                               max_doc_freq=max_doc_freq,
                               materialize=materialize,
                               metric="containment")


def _ngram_posts_nc(ex: DataFrame) -> DataFrame:
    """Uncapped posting lists carrying (id, distinct-shingle-count)
    structs — sorted by id, so pair expansion stays a < b."""
    return (ex.groupBy("__sh")
            .agg(F.sort_array(F.collect_list(F.struct("__id", "__nd")))
                 .alias("ids")))


def _pair_metric(metric: str):
    """Similarity formula over (n_a, n_b, n_common) pair rows.

    ``jaccard``: |A∩B| / |A∪B| — the symmetric near-dup signal.
    ``containment``: |A∩B| / min(|A|, |B|) — Broder's containment taken
    from the smaller side: 1.0 means one document's shingle set is a
    SUBSET of the other's (quote farms, article + wrapper boilerplate,
    doc-inside-digest), the near-superset duplication Jaccard under-
    scores when the sizes differ (a doc fully contained in one 10x its
    length has containment 1.0 but Jaccard ≤ 0.1)."""
    if metric == "jaccard":
        return F.round(F.col("n_common")
                       / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                       6)
    if metric == "containment":
        return F.round(F.col("n_common")
                       / F.least(F.col("n_a"), F.col("n_b")), 6)
    raise ValueError(metric)


def _ngram_pairs_from_posts_nc(posts: DataFrame, threshold: float,
                               metric: str = "jaccard") -> DataFrame:
    """Pair expansion for the UNCAPPED path: per-doc sizes ride the
    posting-list structs, so there is no separate sizes aggregation and
    no join-back — two corpus-scale exchanges total (posting-list
    groupBy, pair groupBy) instead of three plus two joins.  Grouping by
    (id_a, n_a, id_b, n_b) has the same cardinality as (id_a, id_b):
    the count is functionally dependent on the id."""
    inter = (posts.filter(F.size("ids") > 1)
             .select(F.explode(F.expr(
                 "flatten(transform(ids, (x, i) -> "
                 "transform(slice(ids, i + 2, size(ids)), "
                 "y -> struct(x.__id as a, x.__nd as na, "
                 "y.__id as b, y.__nd as nb))))")).alias("p"))
             .groupBy(F.col("p.a").alias("id_a"),
                      F.col("p.na").alias("n_a"),
                      F.col("p.b").alias("id_b"),
                      F.col("p.nb").alias("n_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    score = _pair_metric(metric)
    return (inter.withColumn(metric, score)
            .filter(F.col(metric) >= threshold)
            .select("id_a", "id_b", metric))


def _ngram_pairs_from_posts(posts: DataFrame, threshold: float,
                            metric: str = "jaccard") -> DataFrame:
    sizes = (posts.select(F.explode("ids").alias("__id"))
             .groupBy("__id").agg(F.count(F.lit(1)).alias("__n")))
    inter = (posts.filter(F.size("ids") > 1)
             .select(F.explode(F.expr(
                 "flatten(transform(ids, (x, i) -> "
                 "transform(slice(ids, i + 2, size(ids)), "
                 "y -> struct(x as a, y as b))))")).alias("p"))
             .groupBy(F.col("p.a").alias("id_a"),
                      F.col("p.b").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn(metric, _pair_metric(metric))
            .filter(F.col(metric) >= threshold)
            .select("id_a", "id_b", metric))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, x: acc + x * x))


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95,
                             block_col: str | None = None) -> DataFrame:
    """Pairs with cosine ≥ threshold.  ``block_col`` restricts comparisons
    to equal blocking keys (cluster id / LSH bucket from operators/ann);
    without it this is the exact O(n²) path — only for modest n or as the
    verification stage after LSH candidate generation."""
    v = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
    ).withColumn("__n", _norm(F.col("__v")))
    cond = F.col("l.__id") < F.col("r.__id")
    if block_col:
        cond = cond & (F.col("l.__blk") == F.col("r.__blk"))
    pairs = v.alias("l").join(v.alias("r"), cond)
    return (pairs.withColumn(
                "cosine",
                F.round(_dot(F.col("l.__v"), F.col("r.__v"))
                        / (F.col("l.__n") * F.col("r.__n")), 6))
            .filter(F.col("cosine") >= threshold)
            .select(F.col("l.__id").alias("id_a"),
                    F.col("r.__id").alias("id_b"), "cosine"))


# ---------------------------------------------------------------------------
# connected components: near-dup pairs → clusters
# ---------------------------------------------------------------------------

# Storage-barrier cadence for connected_components: rounds between
# barriers use eager localCheckpoint (one job, no file commit — measured
# ~3x cheaper per round at probe scale); every K-th round lands on
# parquet, which truncates the checkpoint chain well below the >~15
# depth where Spark 4 AQE plans were measured to re-expand, and releases
# the intermediate rounds' pinned blocks (the GraphX/GraphFrames
# periodic-checkpoint cadence).  With a checkpoint dir set, every round
# is a reliable checkpoint instead.
_CC_STORAGE_EVERY = 6

# pair count up to which connected_components runs union-find ON THE
# DRIVER over the collected pairs — the bounded-collect contract of
# textstats._BPE_DRIVER_VOCAB_MAX and the ann/kcenter trainers (driver
# state is pair-sized, never corpus-sized).  Measured motivation: the
# distributed loop runs ~7 Spark jobs per round (AQE submits each query
# stage of a round's joins as its own job), so a 499-pair near-dup graph
# cost 22 jobs and ~1.9 s of which ~0.4 s was executor CPU — the cost
# was coordination, not data.  Sized by timing both paths on 2^12..2^20
# pairs (4-core local[4]): on a near-dup shape (5-node clusters, 3
# rounds) the driver path wins up to 2^19 (3.9 vs 4.7 s at 2^18) and the
# two meet at 2^20; on a random graph (~7 rounds) it wins 3.6 vs 27 s
# at 2^18.  The bound sits below that crossover to cap the driver's
# Python peak: 130 MiB by tracemalloc at 2^18 pairs on a near-dup shape
# (3-copy stars, 350k nodes), for the collected rows, the union-find and
# the columns handed to local_frame; the Arrow table adds ~6 MiB.
# 0 turns the driver path off (no collect).
_CC_DRIVER_EDGES_MAX = 1 << 18


def _union_find(pairs) -> list[tuple]:
    """(id, component) for every non-NULL endpoint of ``pairs``;
    component = min id of the node's component.  Unions always hang the
    larger root under the smaller, so every root is its set's minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent]


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50) -> DataFrame:
    """(id, component) for every node in ``pairs`` — component = min node
    id reachable (the dedup-cluster builder: pairs from any near-dup
    detector in, survivor groups out).

    NULL rule: a NULL endpoint is not a node and links nothing; the
    pair's non-NULL endpoint is still a node.  The id type is the
    widened type of ``id_a`` and ``id_b``.

    Graphs of at most ``_CC_DRIVER_EDGES_MAX`` pairs are resolved on the
    driver (the bounded-collect contract): one ``limit(K+1).collect()``
    of the pairs, union-find with min-id roots, and a local relation
    back.  No Spark job per round, so no barrier either.  Larger graphs
    run the distributed loop below; only it is bounded by ``max_iter``.

    Each distributed round combines min-label propagation (every node
    takes the min of its own and its neighbours' labels — one join + one
    groupBy) with a pointer-jumping step (label ← label(label), a
    self-join), so label distance doubles per round and convergence is
    O(log diameter) rounds rather than O(diameter).  Round 0 skips the
    label join entirely (labels are the identity, so the neighbour min is
    ``min(dst)``).

    Barriers follow the one durability rule of ``ordered.barrier``: when
    the session has a checkpoint dir, EVERY barrier — edges and each
    round's labels — is a reliable ``checkpoint()``, so an executor loss
    at any point of a long iteration restarts from the last completed
    round.  Otherwise the barriers are eager ``localCheckpoint``s, with a
    parquet barrier every ``_CC_STORAGE_EVERY`` rounds in a temp dir that
    is removed on every exit: near-dup graphs converge in 2-4 rounds,
    where the memory barrier is ~3x cheaper, while the periodic storage
    barrier keeps checkpoint-chain depth bounded (AQE plan re-expansion
    beyond ~15 chained checkpoints).

    Convergence is detected join-free: labels only ever decrease, so the
    exact (DECIMAL) sum of labels is stationary iff no label changed —
    one scalar aggregate per round (riding each barrier's job as an
    Observation metric) instead of a join + count.

    Raises ``RuntimeError`` if the distributed loop's labels have not
    stabilized after ``max_iter`` rounds (silent wrong clusters are worse
    than a loud failure for survivor selection downstream).
    """
    import shutil
    import tempfile

    from pyspark.sql import Observation
    from pyspark.sql.types import StructField, StructType

    from dataqtor_spark.operators.ordered import barrier, durable_barriers

    spark = pairs.sparkSession
    node = (pairs.select(F.col(id_a).alias("id"))  # the widened id type
            .unionByName(pairs.select(F.col(id_b).alias("id")))
            .schema["id"])
    ab = pairs.select(F.col(id_a).cast(node.dataType).alias("src"),
                      F.col(id_b).cast(node.dataType).alias("dst"))
    try:
        if _CC_DRIVER_EDGES_MAX > 0:
            # The caller's pairs plan is often lazy (ngram_jaccard_pairs
            # with materialize=False, a neighbour join): cached, it runs
            # once for the size probe and the loop's edges together.
            ab = ab.persist()
            rows = ab.limit(_CC_DRIVER_EDGES_MAX + 1).collect()
            if len(rows) <= _CC_DRIVER_EDGES_MAX:
                return local_frame(spark, _union_find(rows), StructType(
                    [StructField(c, node.dataType, node.nullable)
                     for c in ("id", "component")]))
        # Memory barrier per round (eager localCheckpoint: one job, no
        # file commit/listing) instead of a parquet round-trip: round time
        # on a probe-scale graph dropped ~1.0 s -> ~0.35 s (see
        # _CC_STORAGE_EVERY for the periodic storage barrier that bounds
        # chain depth).  A NULL endpoint's partner keeps a self-loop, so
        # it stays a node.
        e = barrier(ab.unionByName(ab.select(F.col("dst").alias("src"),
                                             F.col("src").alias("dst")))
                    .filter(F.col("src").isNotNull())
                    .select("src", F.coalesce("dst", "src").alias("dst"))
                    .distinct())
    finally:
        ab.unpersist()

    durable = durable_barriers(spark)
    d = None
    prev_sum = None
    labels = None
    try:
        for it in range(max_iter):
            if labels is None:
                # round 0: label(x) = x identically, so the neighbour minimum
                # is plain min(dst) — one aggregation, no label join (the
                # general round's 3-join shape collapses to agg + jump join)
                prop = (e.groupBy("src").agg(F.min("dst").alias("nb_min"))
                        .select(F.col("src").alias("id"),
                                F.least(F.col("src"), F.col("nb_min"))
                                .alias("label")))
            else:
                nb = (e.join(labels, e["dst"] == labels["id"])
                      .groupBy("src").agg(F.min("label").alias("nb_min")))
                prop = (labels.join(nb, labels["id"] == nb["src"], "left")
                        .select(labels["id"],
                                F.least(labels["label"],
                                        F.coalesce(F.col("nb_min"),
                                                   labels["label"]))
                                .alias("label")))
            # pointer jump: follow the label one hop (label is itself a node
            # id, so label(label) is ≤ label and reachable) — doubles
            # propagation distance per round
            parent = prop.select(F.col("id").alias("label"),
                                 F.col("label").alias("__grand"))
            new = (prop.join(parent, "label", "left")
                   .select(F.col("id"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("__grand"),
                                              F.col("label")))
                           .alias("label")))
            # the convergence sum rides the barrier action as an Observation
            # metric — no separate aggregate job per round (fires for both
            # barrier flavors: the checkpoint and the parquet write)
            obs = Observation(f"cc_sum_{it}")
            observed = new.observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
            stored = not durable and (it + 1) % _CC_STORAGE_EVERY == 0
            if stored:
                # one path, overwritten: the round before a parquet round is
                # a memory barrier, so this plan never reads the old files
                d = d or tempfile.mkdtemp(prefix="dataqtor_cc_")
                observed.write.mode("overwrite").parquet(f"{d}/labels")
            else:
                nxt = barrier(observed)
            s = obs.get["s"]
            if s == prev_sum:
                # equal sums: no label changed, so after a parquet round the
                # previous round's memory barrier holds the same rows — and,
                # unlike the parquet files, outlives the temp dir
                done = labels if stored else nxt
                return done.select(F.col("id"),
                                   F.col("label").alias("component"))
            if stored:
                nxt = spark.read.parquet(f"{d}/labels")
            labels, prev_sum = nxt, s
    finally:
        if d is not None:
            shutil.rmtree(d, ignore_errors=True)
    raise RuntimeError(
        f"connected_components: labels not stable after {max_iter} rounds; "
        "graph is deeper than expected — raise max_iter")


def select_survivors(components: DataFrame, scores: DataFrame,
                     id_col: str = "doc_id",
                     score_col: str = "quality_score") -> DataFrame:
    """Quality-aware survivor selection — the keep/drop decision that turns
    near-dup clusters into an actual dedup: within each component keep the
    row maximizing (score, then lowest id).

    ``components`` is :func:`connected_components` output (id, component);
    ``scores`` carries (id_col, score_col).  One id-join plus a window
    partitioned by component — cluster sizes are bounded by duplicate
    density, so no partition-skew risk at scale.  Returns every clustered
    row as (id, component, score, survivor_id, keep).
    """
    from pyspark.sql.window import Window

    joined = (components.withColumnRenamed("id", id_col)
              .join(scores.select(id_col, score_col), id_col))
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(id_col))
    ranked = joined.withColumn("__rn", F.row_number().over(w))
    surv = (ranked.filter(F.col("__rn") == 1)
            .select("component", F.col(id_col).alias("survivor_id")))
    return (ranked.drop("__rn").join(F.broadcast(surv), "component")
            .withColumn("keep", F.col(id_col) == F.col("survivor_id"))
            .select(id_col, "component", score_col, "survivor_id", "keep"))


# ---------------------------------------------------------------------------
# edit-distance-1 pairs via deletion neighborhoods (SymSpell-style)
# ---------------------------------------------------------------------------

def edit_distance_pairs(df: DataFrame, id_col: str, col: str,
                        block_col: str | None = None) -> DataFrame:
    """All pairs with Levenshtein distance ≤ 1, without a quadratic join.

    Two strings within edit distance 1 always share a *deletion variant*
    (the string itself, or the string with one character removed): a
    substitution at position i makes both i-deletions equal; an
    insertion makes the shorter string equal to one deletion of the
    longer.  So candidate generation is an equi-join on the exploded
    deletion neighborhood — |s|+1 keys per row instead of comparing
    every row pair in a block — followed by an exact Levenshtein verify.
    This is the SymSpell construction, the standard way to make
    edit-distance matching linear-ish at scale; a blocked quadratic
    join (a19) dies once blocks reach ~10⁴ rows.

    ``block_col`` (optional) is folded into the variant key, restricting
    matches to equal block values without changing the plan shape.
    """
    s = F.col("__s")
    variants = F.array_union(
        F.array(s),
        F.expr("transform(sequence(1, length(__s)), i -> "
               "concat(substring(__s, 1, i - 1), "
               "substring(__s, i + 1, length(__s))))"))
    base = df.select(F.col(id_col).alias("__id"),
                     F.col(col).cast("string").alias("__s"),
                     *([F.col(block_col).cast("string").alias("__blk")]
                       if block_col else []))
    key = (F.concat_ws("\x1f", F.col("__blk"), F.col("__v"))
           if block_col else F.col("__v"))
    exploded = (base.filter(s.isNotNull())
                .select("__id", "__s",
                        *(["__blk"] if block_col else []),
                        F.explode(variants).alias("__v"))
                .select("__id", "__s", key.alias("__k")))
    cand = (exploded.groupBy("__k")
            .agg(F.sort_array(F.collect_list(F.struct("__id", "__s")))
                 .alias("rows"))
            .filter(F.size("rows") > 1)
            .select(F.explode(F.expr(
                "flatten(transform(rows, (x, i) -> "
                "transform(slice(rows, i + 2, size(rows)), y -> "
                "struct(x.__id as id_a, x.__s as s_a, "
                "y.__id as id_b, y.__s as s_b))))")).alias("p"))
            .select("p.*").filter(F.col("id_a") != F.col("id_b"))
            .distinct())
    return (cand.filter(F.levenshtein(F.col("s_a"), F.col("s_b")) <= 1)
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"))
            .distinct())


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup): cluster embeddings, drop near-identical
# neighbours within each cluster
# ---------------------------------------------------------------------------

def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   threshold: float = 0.9, n_clusters: int = 8,
                   n_iter: int = 2, cache_key: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): coarse-cluster the
    embedding space, then inside each cluster drop every item that has a
    lower-id neighbour with cosine ≥ ``threshold``.

    Returns per-item ``(id, cluster, keep)`` — ``keep`` picks the minimal
    id of every ε-similar group, deterministically.

    Scale shape: the quantizer is the engine's portable deterministic
    Lloyd k-means (``ann.train_ivf_centroids_portable`` — train on a
    sample at 100 TB); assignment is a pure column expression, so the
    corpus never shuffles for it.  The pairwise stage is quadratic only
    *within* a cluster — the SemDeDup design point: pick ``n_clusters``
    ~ n/10⁴ so each cluster's pair block fits one task, and the self-join
    is an equi-join on cluster id that AQE splits on skewed (hot) clusters.
    """
    from dataqtor_spark.operators import ann as ANN

    centers = ANN.train_ivf_centroids_portable(
        df, id_col, vec_col, n_clusters, n_iter, cache_key=cache_key)
    # lazy localCheckpoint: the assigned table feeds three consumers (both
    # self-join sides + the final keep-join); without lineage truncation
    # the k×dim centroid-assignment expression would re-evaluate per use
    c = (df.select(F.col(id_col).alias("__id"),
                   F.transform(F.col(vec_col),
                               lambda x: x.cast("double")).alias("__v"))
         .withColumn("__nrm", _norm(F.col("__v")))
         .withColumn("__cluster",
                     F.expr(ANN._sql_nearest_cids("__v", centers, 1))[0])
         .localCheckpoint(eager=False))
    a, b = c.alias("a"), c.alias("b")
    removed = (a.join(b, (F.col("a.__cluster") == F.col("b.__cluster"))
                      & (F.col("a.__id") < F.col("b.__id")))
               .withColumn("__cos",
                           F.round(_dot(F.col("a.__v"), F.col("b.__v"))
                                   / (F.col("a.__nrm") * F.col("b.__nrm")), 6))
               .filter(F.col("__cos") >= threshold)
               .select(F.col("b.__id").alias("__rm")).distinct())
    return (c.join(removed, c["__id"] == removed["__rm"], "left")
            .select(F.col("__id").alias(id_col),
                    F.col("__cluster").alias("cluster"),
                    F.col("__rm").isNull().alias("keep")))


def split_leakage_repair(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", threshold: float = 0.35,
                         num_hashes: int = 64, bands: int = 16,
                         shingle_n: int = 5, val_mod: int = 10) -> DataFrame:
    """Contamination-aware train/val split audit + repair: docs split by
    the deterministic Knuth-hash rule ``((id·2654435761) mod 2³²) mod
    val_mod == 0`` (≈ 1/val_mod held out), near-duplicate pairs come from
    the banded MinHash screen, and every pair CROSSING the split boundary
    is leakage — its val-side member is quarantined back to train, so the
    held-out set shares no near-dup with training data (the leakage that
    silently inflates eval numbers).  Returns the two-row repair report
    ``(split, n_before, n_after, n_moved, leaked_pairs)``.

    Scale shape: the pair screen is the banded LSH join (never
    all-pairs); the split map is a pure projection joined twice on id;
    everything after the leak join is a scalar aggregate riding broadcast
    crossJoins.  All-integer output."""
    pairs = minhash_dedup_pairs_portable(
        df, id_col, text_col, threshold=threshold, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n).select("id_a", "id_b")
    is_val = (F.pmod(F.pmod(F.col(id_col).cast("long")
                            * F.lit(2654435761).cast("long"),
                            F.lit(4294967296).cast("long")),
                     F.lit(int(val_mod))) == 0)
    spl = df.select(F.col(id_col).alias("__id"), is_val.alias("is_val"))
    sa = spl.select(F.col("__id").alias("id_a"),
                    F.col("is_val").alias("__va"))
    sb = spl.select(F.col("__id").alias("id_b"),
                    F.col("is_val").alias("__vb"))
    leak = (pairs.join(sa, "id_a").join(sb, "id_b")
            .filter(F.col("__va") != F.col("__vb")))
    moved = (leak.select(F.when(F.col("__va"), F.col("id_a"))
                         .otherwise(F.col("id_b")).alias("__id"))
             .distinct())
    lt = leak.agg(F.count(F.lit(1)).alias("leaked_pairs"))
    mt = moved.agg(F.count(F.lit(1)).alias("n_moved"))
    st = spl.agg(F.sum(F.col("is_val").cast("long")).alias("__nv"),
                 F.sum((~F.col("is_val")).cast("long")).alias("__nt"))
    tot = st.crossJoin(F.broadcast(lt)).crossJoin(F.broadcast(mt))
    train = tot.select(
        F.lit("train").alias("split"),
        F.col("__nt").cast("long").alias("n_before"),
        (F.col("__nt") + F.col("n_moved")).cast("long").alias("n_after"),
        F.col("n_moved").cast("long").alias("n_moved"),
        F.col("leaked_pairs").cast("long").alias("leaked_pairs"))
    val = tot.select(
        F.lit("val").alias("split"),
        F.col("__nv").cast("long").alias("n_before"),
        (F.col("__nv") - F.col("n_moved")).cast("long").alias("n_after"),
        F.col("n_moved").cast("long").alias("n_moved"),
        F.col("leaked_pairs").cast("long").alias("leaked_pairs"))
    return train.unionByName(val)
