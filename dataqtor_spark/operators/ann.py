"""Similarity search over embedding columns (north-star extension):
brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path.

Scale design: brute force is a broadcast of the (small) query set against
the (huge) corpus — a map-side nested loop, no shuffle of the corpus, then
a per-query top-k aggregate.  The LSH variant cuts the per-query candidate
set to matching buckets: signatures are computed in one projection from a
deterministic seeded hyperplane set, bucketing is a groupBy, and exact
cosine re-ranks only within buckets (multi-probe over Hamming-1 neighbors
trades recall vs cost).
"""

from __future__ import annotations

import math
import os
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataqtor_spark.session import local_frame


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _f_lit(x) -> str:
    """Render a trained-codebook float as a Spark SQL double literal.
    ``repr(float)+'D'`` renders NaN/inf as ``nanD``/``infD``, which fail
    SQL parsing — a degenerate (non-finite) centroid from pathological
    training input maps to a dead 0.0 slot instead, matching the
    tolerance of the former ``F.lit`` expression-tree path."""
    import math

    v = float(x)
    return (repr(v) + "D") if math.isfinite(v) else "0.0D"


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold — deterministic summation order."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, x: acc + x)


def _sql_pq_lut_cols(books, sub: int) -> list[Column]:
    """Per-subspace ADC lookup tables over a ``__qv`` query vector, each
    built as ONE SQL expression string (the :func:`_sql_nearest_cids`
    device): ``__l{j}[cid+1]`` = dot(q's j-th slice, codebook-j centroid
    cid).  Identical numerics to the unrolled dot(slice, literal-array)
    form — same zip_with product order, same sequential left fold — but
    O(1) py4j round-trips instead of O(ks·sub) ``F.lit`` trees per
    subspace, which cost ~2 s of driver-side Column construction per
    probe batch in the at-rest serving path.  Vanished cids (emptied
    Lloyd clusters) keep a dead 0.0 slot no code can select."""
    zeros = [0.0] * sub
    cols = []
    for j, book in enumerate(books):
        cid_centers = dict(book)
        arr = "array(" + ",".join(
            "array(" + ",".join(_f_lit(x)
                                for x in cid_centers.get(i, zeros)) + ")"
            for i in range(max(cid_centers) + 1)) + ")"
        cols.append(F.expr(
            f"transform({arr}, b -> aggregate(zip_with("
            f"slice(__qv, {j * sub + 1}, {sub}), b, (x, y) -> x * y), "
            f"cast(0.0 as double), (a, x) -> a + x))").alias(f"__l{j}"))
    return cols


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 10,
                     query_id_col: str | None = None) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    ``queries`` is broadcast — corpus rows never shuffle; ranking is a
    window per query id over the (n_queries × n_corpus) scored pairs.
    Deterministic: scores rounded to 6 dp BEFORE ranking, ties broken by
    neighbor id — reproducible across partitionings and vs a SQL oracle.
    Self-matches (same id) are excluded.
    """
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("__cv"))
    c = c.withColumn("__cn", l2_norm(F.col("__cv")))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("__qv"))
    q = q.withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("__cv"), F.col("__qv"))
                                  / (F.col("__cn") * F.col("__qn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def hard_negatives(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, label_col: str, k: int = 10,
                   query_id_col: str | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the top-k most-cosine-similar corpus items with a DIFFERENT label —
    the "confusable but wrong" examples a retrieval/embedding trainer
    pairs against positives.

    Same scale shape as :func:`brute_force_topk` (queries broadcast,
    corpus never shuffles, deterministic 6-dp rounding + id tiebreak
    before ranking); the label inequality is part of the scored-join
    predicate, so ranks are dense over negatives only.  For
    corpus-scale query sets, swap the brute scored join for
    :func:`lsh_topk`/:func:`ivf_topk` blocking — the ranking contract
    is unchanged.
    """
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(label_col).alias("__cl"),
                      _as_double(F.col(vec_col)).alias("__cv"))
    c = c.withColumn("__cn", l2_norm(F.col("__cv")))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(label_col).alias("__ql"),
                       _as_double(F.col(vec_col)).alias("__qv"))
    q = q.withColumn("__qn", l2_norm(F.col("__qv")))
    scored = (c.crossJoin(F.broadcast(q))
              .filter((F.col("neighbor_id") != F.col("query_id"))
                      & (F.col("__cl") != F.col("__ql")))
              .withColumn("cosine",
                          F.round(dot(F.col("__cv"), F.col("__qv"))
                                  / (F.col("__cn") * F.col("__qn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("__ql").alias("query_label"),
                    "neighbor_id", F.col("__cl").alias("neighbor_label"),
                    "cosine", "rank"))


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure Python LCG so
    the plan is reproducible without numpy state)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u = (state >> 11) / float(1 << 53)         # [0,1)
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v = (state >> 11) / float(1 << 53)
            # Box-Muller
            row.append(math.sqrt(-2.0 * math.log(u + 1e-12)) * math.cos(2 * math.pi * v))
        planes.append(row)
    return planes


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bit i = sign(v · plane_i); packed into a long (n_planes ≤ 62)."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = dot(_as_double(vec_col), F.array(*[F.lit(x) for x in p]))
        sig = sig + F.when(d > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             k: int = 10, n_planes: int = 12, dim: int | None = None,
             query_id_col: str | None = None, multi_probe: bool = True) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to LSH-bucket
    candidates.  ``multi_probe`` also probes the ``n_planes`` Hamming-1
    buckets of each query signature (recall ↑, candidates ×(1+n_planes)).
    Output schema matches :func:`brute_force_topk` (rank may have < k rows
    when a bucket runs dry — that's the approximation showing)."""
    query_id_col = query_id_col or id_col
    if dim is None:
        # no driver-side job to sniff the dimension: a .first() here would
        # run a Spark job per call.  Take it from column metadata if the
        # producer attached one, else demand it explicitly.
        meta = corpus.schema[vec_col].metadata or {}
        dim = meta.get("dim")
        if dim is None:
            raise ValueError(
                "lsh_topk: pass dim= explicitly (or attach {'dim': n} "
                "metadata to the vector column); inferring it would run a "
                "driver-side job per call")
        dim = int(dim)
    planes = _hyperplanes(dim, n_planes)
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(F.col(vec_col)).alias("__cv"))
         .withColumn("__cn", l2_norm(F.col("__cv")))
         .withColumn("__bucket", lsh_signature(F.col("__cv"), planes)))
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__qsig", lsh_signature(F.col("__qv"), planes)))
    if multi_probe:
        probes = F.array(F.col("__qsig"),
                         *[F.col("__qsig").bitwiseXOR(F.lit(2 ** i).cast("long"))
                           for i in range(n_planes)])
        q = q.withColumn("__bucket", F.explode(probes))
    else:
        q = q.withColumn("__bucket", F.col("__qsig"))
    scored = (c.join(F.broadcast(q), "__bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("__cv"), F.col("__qv"))
                                  / (F.col("__cn") * F.col("__qn")), 6))
              .dropDuplicates(["query_id", "neighbor_id"]))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization
# ---------------------------------------------------------------------------

def _nearest_centroid_ids(vec: Column, centers: list[list[float]], n: int) -> Column:
    """Array of the ``n`` nearest centroid ids, as a pure column expression.

    Centers are a tiny driver-side list (k × dim literals), so assignment
    stays inside whole-stage codegen — no MLlib Vector conversion or UDF in
    the per-row hot path.  Ties break on centroid id via array_sort's
    struct ordering.
    """
    entries = []
    for j, c in enumerate(centers):
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(x) for x in c]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"), lambda acc, x: acc + x)
        entries.append(F.struct(F.round(d, 9).alias("dist"),
                                F.lit(j).alias("cid")))
    ranked = F.array_sort(F.array(*entries))
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cid"])


# The trainer memo: centroids, codebooks and BPE merge tables
# (``textstats.bpe_train``) of calls made with a ``cache_key``, least
# recently used first; holds at most 16 entries (see _memo_put).
_TRAINER_MEMO: OrderedDict = OrderedDict()


def _memo_key(corpus: DataFrame, cache_key: str, *params) -> tuple:
    """A trainer's memo key: the caller's ``cache_key``, the trainer's
    parameters, and each input file of ``corpus`` with its size and
    mtime, so a file rewritten in place under the same path trains anew.
    A file the driver cannot stat (not on a local file system) keys on
    its path alone."""
    files = []
    for f in sorted(corpus.inputFiles()):
        u = urlparse(f)
        try:
            st = os.stat(unquote(u.path)) if u.scheme in ("", "file") else None
        except OSError:
            st = None
        files.append((f, st.st_size, st.st_mtime_ns) if st else (f,))
    return (cache_key, *params, tuple(files))


def _memo_get(key: tuple):
    try:
        _TRAINER_MEMO.move_to_end(key)
        return _TRAINER_MEMO[key]
    except KeyError:  # never stored, or evicted by another thread
        return None


def _memo_put(key: tuple, value) -> None:
    _TRAINER_MEMO[key] = value
    _TRAINER_MEMO.move_to_end(key)
    while len(_TRAINER_MEMO) > 16:
        _TRAINER_MEMO.popitem(last=False)


# ---------------------------------------------------------------------------
# portable deterministic IVF (oracle-checkable k-means)
# ---------------------------------------------------------------------------

def _sql_nearest_cids(vec_sql: str, centers: list[tuple[int, list[float]]],
                      n: int) -> str:
    """Spark-SQL expression string: array of the ``n`` nearest centroid ids.

    Same semantics as :func:`_nearest_centroid_ids` (squared L2 rounded to
    9 dp, ties by centroid id) but built as ONE expression string — a single
    py4j round-trip instead of k × dim ``F.lit`` calls, which for 16 × 64
    literals costs real driver time per invocation.
    """
    cents = "array(" + ",".join(
        "array(" + ",".join(_f_lit(x) for x in c) + ")"
        for _cid, c in centers) + ")"
    cids = "array(" + ",".join(str(cid) for cid, _c in centers) + ")"
    # Per-centroid arithmetic is IDENTICAL to the former unrolled form
    # (same zip_with square-diff, same left fold, same 9 dp round, same
    # lexicographic struct sort), but the vector expression and the HOF
    # machinery appear ONCE instead of once per centroid — the expression
    # tree is O(k·dim) literals + O(1) operators, which cuts the per-call
    # Catalyst analysis cost that dominated ann06's bench number.
    d = (f"round(aggregate(zip_with({vec_sql}, c, (x, y) -> (x - y) * (x - y)), "
         f"cast(0.0 as double), (a, x) -> a + x), 9)")
    ranked = (f"array_sort(zip_with(transform({cents}, c -> {d}), {cids}, "
              f"(d, i) -> struct(d AS dist, i AS cid)))")
    return f"transform(slice({ranked}, 1, {n}), s -> s.cid)"


def train_ivf_centroids_portable(corpus: DataFrame, id_col: str, vec_col: str,
                                 n_clusters: int = 16, n_iter: int = 2,
                                 cache_key: str | None = None
                                 ) -> list[tuple[int, list[float]]]:
    """Deterministic, engine-portable coarse quantizer: Lloyd's k-means with

    - seeds = the ``n_clusters`` vectors minimal by ``md5(id)`` (a seeded
      pseudo-random draw both Spark and ANSI SQL reproduce exactly),
    - exactly ``n_iter`` assignment/recenter rounds,
    - centroids rounded to 6 dp each round (absorbs summation-order float
      drift across engines/partitionings),
    - assignment ties broken by centroid id on distance rounded to 9 dp.

    Returns ``[(cid, center_vector), ...]`` in cid order; a cid vanishes if
    its cluster empties (both engines drop it identically).  At 100 TB:
    train on a sample exactly like the MLlib path — every round is one
    map-side expression + a (cluster, dim)-grouped avg (k × dim rows out),
    so cost is n_iter full scans; the collected state is k × dim floats.
    """
    if cache_key is not None:
        key = _memo_key(corpus, cache_key, "portable", vec_col, n_clusters,
                        n_iter)
        hit = _memo_get(key)
        if hit is not None:
            return hit
    base = corpus.select(F.col(id_col).alias("__id"),
                         _as_double(F.col(vec_col)).alias("__v"))
    seeds = (base
             .withColumn("__ord", F.md5(F.encode(F.col("__id").cast("string"), "UTF-8")))
             .orderBy("__ord", "__id").limit(n_clusters).collect())
    centers = [(i, [float(x) for x in r["__v"]]) for i, r in enumerate(seeds)]
    dim = len(centers[0][1])
    vecs = base.select("__v")
    for _ in range(n_iter):
        # The assignment is bound as a LAMBDA VARIABLE around the per-dim
        # explosion: a plain select(__c, posexplode(__v)) lets
        # CollapseProject inline the k·dim nearest-centroid expression
        # into the post-explode project, re-evaluating it dim× per row.
        # transform(array(<nearest>), c -> …) pins one evaluation per row.
        exploded = vecs.select(F.expr(
            f"inline(flatten(transform(array("
            f"{_sql_nearest_cids('__v', centers, 1)}[0]), c -> "
            f"zip_with(__v, sequence(0, {dim - 1}), (v, p) -> "
            f"struct(c AS __c, p AS pos, v AS col)))))"))
        rows = (exploded
                .groupBy("__c", "pos").agg(F.round(F.avg("col"), 6).alias("m"))
                .collect())
        by_cid: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cid.setdefault(r["__c"], {})[r["pos"]] = r["m"]
        centers = [(cid, [d[i] for i in range(dim)])
                   for cid, d in sorted(by_cid.items())]
    if cache_key is not None:
        _memo_put(key, centers)
    return centers


def ivf_topk_portable(corpus: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, k: int = 10, n_clusters: int = 16,
                      n_probe: int = 3, n_iter: int = 2,
                      query_id_col: str | None = None,
                      cache_key: str | None = None,
                      corpus_filter: Column | None = None) -> DataFrame:
    """IVF top-k on the portable deterministic quantizer — same probe/
    re-rank plan as :func:`ivf_topk` (corpus never shuffles; queries explode
    to (query × probe) and broadcast-join on cluster id), but every stage is
    reproducible in ANSI SQL, so the whole pipeline is differentially
    checkable.  The MLlib-trained :func:`ivf_topk` remains the scale path
    when a stronger quantizer matters more than checkability.

    ``corpus_filter`` is FILTERED ANN (metadata-constrained retrieval):
    the predicate restricts which corpus rows are scored while training
    stays on the FULL corpus — the standard pre-filter semantics, where
    the quantizer's geometry doesn't shift with the query's filter.  On
    the at-rest layout the same predicate lands as PushedFilters beside
    the cluster PartitionFilters, so selective filters cut the scan, not
    just the score count.  A very selective filter starves probes
    (fewer than k survivors per query) — raise ``n_probe``, exactly the
    filtered-search recall trade every vector store documents."""
    query_id_col = query_id_col or id_col
    centers = train_ivf_centroids_portable(
        corpus, id_col, vec_col, n_clusters, n_iter, cache_key=cache_key)
    if corpus_filter is not None:
        corpus = corpus.filter(corpus_filter)
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(F.col(vec_col)).alias("__cv"))
         .withColumn("__cn", l2_norm(F.col("__cv")))
         .withColumn("__cluster", F.expr(_sql_nearest_cids("__cv", centers, 1))[0]))
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__cluster",
                     F.explode(F.expr(_sql_nearest_cids("__qv", centers, n_probe)))))
    scored = (c.join(F.broadcast(q), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("__cv"), F.col("__qv"))
                                  / (F.col("__cn") * F.col("__qn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# ---------------------------------------------------------------------------
# portable product quantization (PQ + ADC — the compressed-codes scale path)
#
# IVF prunes WHICH corpus rows are scored; PQ compresses HOW each row is
# stored and scored: a dim-D float vector becomes M small integer codes
# (one per subspace), ~D·4 bytes → M bytes, so a 100 TB embedding corpus's
# scan state shrinks ~32× and the per-candidate score is M table lookups
# (ADC) instead of a D-element dot product.  Deterministic construction
# throughout (the ann03 recipe per subspace: md5-ordered seed draw,
# unrolled Lloyd rounds with 6 dp recentering, 9 dp + cid-tiebreak
# assignment), so the entire pipeline — training, encoding, ADC ranking —
# replays in ANSI SQL for differential checking.
# ---------------------------------------------------------------------------

def train_pq_codebooks_portable(corpus: DataFrame, id_col: str, vec_col: str,
                                m: int = 4, ks: int = 8, n_iter: int = 2,
                                cache_key: str | None = None
                                ) -> tuple[int, list[list[tuple[int, list[float]]]]]:
    """Per-subspace deterministic Lloyd's k-means: the dim-D vectors split
    into ``m`` contiguous subvectors of D/m dims; each subspace gets its
    own ``ks``-entry codebook.  Returns ``(sub_len, books)`` with
    ``books[j] = [(cid, sub_center), ...]``.

    One full scan per iteration trains ALL subspaces at once: the m
    assignments are computed in-row (m nearest-centroid expressions over
    slices), then a single (subspace, cid, pos)-grouped avg recenters every
    codebook — collected state is m × ks × sub_len floats.  At 100 TB train
    on a sample, exactly like the IVF quantizer; encoding is the only
    full-corpus pass and it is a pure column expression."""
    if cache_key is not None:
        key = _memo_key(corpus, cache_key, "pq", vec_col, m, ks, n_iter)
        hit = _memo_get(key)
        if hit is not None:
            return hit
    base = corpus.select(F.col(id_col).alias("__id"),
                         _as_double(F.col(vec_col)).alias("__v"))
    seeds = (base
             .withColumn("__ord", F.md5(F.encode(F.col("__id").cast("string"), "UTF-8")))
             .orderBy("__ord", "__id").limit(ks).collect())
    dim = len(seeds[0]["__v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = [[(i, [float(x) for x in r["__v"][j * sub:(j + 1) * sub]])
              for i, r in enumerate(seeds)] for j in range(m)]
    for _ in range(n_iter):
        # Same CollapseProject hazard as the IVF trainer: bind the m
        # subspace assignments once per row via a lambda variable instead
        # of a project column that would be inlined dim× past posexplode.
        cids_sql = "array(" + ",".join(
            _sql_nearest_cids(f"slice(__v, {j * sub + 1}, {sub})",
                              books[j], 1) + "[0]" for j in range(m)) + ")"
        exploded = base.select(F.expr(
            f"inline(flatten(transform(array({cids_sql}), cs -> "
            f"zip_with(__v, sequence(0, {dim - 1}), (v, p) -> "
            f"struct(cast(p / {sub} as int) AS __j, "
            f"element_at(cs, cast(p / {sub} as int) + 1) AS __c, "
            f"pmod(p, {sub}) AS __p, v AS col)))))"))
        rows = (exploded
                .groupBy("__j", "__c", "__p")
                .agg(F.round(F.avg("col"), 6).alias("m")).collect())
        acc: list[dict[int, dict[int, float]]] = [{} for _ in range(m)]
        for r in rows:
            acc[r["__j"]].setdefault(r["__c"], {})[r["__p"]] = r["m"]
        books = [[(cid, [d[i] for i in range(sub)])
                  for cid, d in sorted(acc[j].items())] for j in range(m)]
    if cache_key is not None:
        _memo_put(key, (sub, books))
    return sub, books


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str, sub: int,
              books: list[list[tuple[int, list[float]]]]) -> DataFrame:
    """(id, codes array<int>) — the compressed corpus representation.
    Pure column expressions; at rest this is the table you persist instead
    of the raw vectors (M bytes/row), and the ADC scan reads only it."""
    m = len(books)
    codes = F.array(*[
        F.expr(_sql_nearest_cids(f"slice({vec_col}, {j * sub + 1}, {sub})",
                                 books[j], 1))[0] for j in range(m)])
    return corpus.select(F.col(id_col).alias("neighbor_id"),
                         codes.alias("codes"))


def pq_topk_portable(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5, m: int = 4, ks: int = 8,
                     n_iter: int = 2, query_id_col: str | None = None,
                     cache_key: str | None = None) -> DataFrame:
    """PQ/ADC approximate top-k: encode the corpus to M codes, score each
    (query, candidate) as cosine(q, reconstruction(codes)) via per-query
    lookup tables, rank per query.

    The scale shape: queries build their M LUTs in-row (lut_j[i] =
    dot(q_sub_j, center_j_i) — ks × m dot products per QUERY, not per
    candidate), then the scored join reads only the corpus CODES — each
    candidate costs m ``element_at`` lookups + a division.  The corpus
    never shuffles; queries broadcast.  Reconstruction norms fold in from
    driver-side ‖center‖² literals.  Deterministic: 6 dp rounding before
    ranking, neighbor-id tiebreak, self-matches excluded."""
    query_id_col = query_id_col or id_col
    sub, books = train_pq_codebooks_portable(
        corpus, id_col, vec_col, m, ks, n_iter, cache_key=cache_key)
    enc = pq_encode(
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv")),
        id_col, "__cv", sub, books)
    # lookup arrays are indexed BY CID (codes are centroid ids, which go
    # non-contiguous when a Lloyd round empties a cluster): vanished cids
    # get a dead 0.0 slot no code can ever select
    def by_cid(book, value):
        slots = {cid: value(c) for cid, c in book}
        return [slots.get(i, 0.0) for i in range(max(slots) + 1)]

    norm_arrs = [F.array(*[F.lit(v).cast("double")
                           for v in by_cid(books[j],
                                           lambda c: sum(x * x for x in c))])
                 for j in range(m)]
    recon_n = F.sqrt(sum(
        F.element_at(norm_arrs[j], F.col("codes")[j] + 1) for j in range(m)))
    enc = enc.withColumn("__rn", recon_n)
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .select("*", *_sql_pq_lut_cols(books, sub)))
    adc_dot = sum(F.element_at(F.col(f"__l{j}"), F.col("codes")[j] + 1)
                  for j in range(m))
    scored = (enc.crossJoin(F.broadcast(q.drop("__qv")))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("adc_cosine",
                          F.round(adc_dot / (F.col("__rn") * F.col("__qn")),
                                  6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_cosine", "rank"))


def ivfpq_topk_portable(corpus: DataFrame, queries: DataFrame, id_col: str,
                        vec_col: str, k: int = 5, n_clusters: int = 8,
                        n_probe: int = 3, m: int = 4, ks: int = 8,
                        n_iter: int = 2, query_id_col: str | None = None,
                        cache_key: str | None = None,
                        residual: bool = False) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN architecture — the IVF coarse
    quantizer prunes WHICH rows are scored (queries probe ``n_probe`` of
    ``n_clusters`` inverted lists; unprobed clusters are never read, and
    at rest they are partition-pruned directories), and PQ compresses HOW
    the survivors are scored (M codes + per-query LUTs instead of raw
    vectors).  This is the FAISS IVFPQ layout re-expressed as DataFrame
    ops.

    ``residual=False`` (default) quantizes x directly, keeping the entire
    pipeline (both trainers, encoding, probe, ADC ranking) replayable in
    ANSI SQL — the ann06 oracle pins this mode.  ``residual=True`` is the
    classic FAISS refinement: codes quantize x − coarse_centroid(x),
    whose spread is much tighter than x's, so the same code budget
    reconstructs more accurately; scoring then reconstructs
    x̂ = coarse + residual-decode in-row via the per-cluster centroid
    literals before the cosine.  The residual trainer's input embeds the
    coarse assignment (data-dependent), so this mode is pytest-verified
    (reconstruction-error dominance + determinism) rather than
    SQL-replayed.

    Corpus rows carry (cluster, codes, recon-norm) — never reshuffled;
    queries broadcast with their LUTs.  Deterministic end to end."""
    query_id_col = query_id_col or id_col
    coarse = train_ivf_centroids_portable(
        corpus, id_col, vec_col, n_clusters, n_iter, cache_key=cache_key)
    coarse_arr_sql = ("array(" + ",".join(
        "array(" + ",".join(_f_lit(x) for x in cvec) + ")"
        for _cid, cvec in coarse) + ")")
    cid_pos = {cid: i for i, (cid, _cv) in enumerate(coarse)}
    enc_src = corpus
    enc_col = vec_col
    if residual:
        # residual = x − its coarse centroid, as one in-row expression
        # (centroid literals indexed by the same nearest-cid expression)
        res_sql = (
            f"zip_with(transform({vec_col}, x -> cast(x as double)), "
            f"element_at({coarse_arr_sql}, "
            f"cast(array_position(array({','.join(str(c) for c, _ in coarse)}), "
            f"{_sql_nearest_cids(f'transform({vec_col}, x -> cast(x as double))', coarse, 1)}[0]) as int)"
            f"), (x, c) -> x - c)")
        enc_src = corpus.withColumn("__res", F.expr(res_sql))
        enc_col = "__res"
    sub, books = train_pq_codebooks_portable(
        enc_src, id_col, enc_col, m, ks, n_iter,
        cache_key=(f"{cache_key}|res" if cache_key and residual
                   else cache_key))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("__cv"))
    if residual:
        c = c.withColumn("__cluster",
                         F.expr(_sql_nearest_cids("__cv", coarse, 1))[0])
        c = c.withColumn("__rv", F.expr(
            f"zip_with(__cv, element_at({coarse_arr_sql}, "
            f"cast(array_position(array({','.join(str(cc) for cc, _ in coarse)}), "
            f"__cluster) as int)), (x, cc) -> x - cc)"))
        c = c.withColumn("codes", F.array(*[
            F.expr(_sql_nearest_cids(f"slice(__rv, {j * sub + 1}, {sub})",
                                     books[j], 1))[0] for j in range(m)]))
        return _ivfpq_residual_score(c, queries, coarse, sub, books, m,
                                     n_probe, k, query_id_col, vec_col)

    # Single-pass plan construction: every DataFrame transformation
    # re-analyzes the (large-literal) tree eagerly, so the serving plan is
    # assembled in as few select() calls as possible and the per-query LUTs
    # are ONE transform-over-literal-codebook expression per subspace
    # instead of ks python-built dot columns — this is what brings the
    # per-call fixed cost down (the plan is compile-bound at bench SFs; at
    # scale the executed operators are unchanged).
    codes = F.array(*[
        F.expr(_sql_nearest_cids(f"slice(__cv, {j * sub + 1}, {sub})",
                                 books[j], 1))[0] for j in range(m)])
    c = c.select("neighbor_id",
                 F.expr(_sql_nearest_cids("__cv", coarse, 1))[0]
                 .alias("__cluster"),
                 codes.alias("codes"))
    norm_arrs = _pq_norm_arrays(books, m)
    c = c.select("neighbor_id", "__cluster", "codes",
                 F.sqrt(sum(F.element_at(norm_arrs[j], F.col("codes")[j] + 1)
                            for j in range(m))).alias("__rn"))
    luts = _sql_pq_lut_cols(books, sub)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("__qv"))
    q = q.select("query_id", "__qv", l2_norm(F.col("__qv")).alias("__qn"),
                 F.explode(F.expr(_sql_nearest_cids("__qv", coarse,
                                                    n_probe)))
                 .alias("__cluster"), *luts)
    adc_dot = sum(F.element_at(F.col(f"__l{j}"), F.col("codes")[j] + 1)
                  for j in range(m))
    scored = (c.join(F.broadcast(q.drop("__qv")), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("adc_cosine",
                          F.round(adc_dot / (F.col("__rn") * F.col("__qn")),
                                  6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_cosine", "rank"))


def _ivfpq_residual_score(c: DataFrame, queries: DataFrame,
                          coarse: list[tuple[int, list[float]]], sub: int,
                          books: list[list[tuple[int, list[float]]]], m: int,
                          n_probe: int, k: int, query_id_col: str,
                          vec_col: str) -> DataFrame:
    """ADC ranking for residual-quantized IVF-PQ: x̂ = coarse_g + decode
    (codes), scored as cosine(q, x̂) with the FAISS precomputed-table
    trick — per-candidate cost stays M lookups + one coarse dot that is
    shared per (query, probed cluster):

      dot(q, x̂)  = dot(q, coarse_g) + Σ_j lut_j[code_j]
      ‖x̂‖²       = ‖coarse_g‖² + Σ_j (2·dot(coarse_g_sub_j, c_{j,code_j})
                                       + ‖c_{j,code_j}‖²)

    The (cluster, subspace, code) cross table is nc × m × ks driver-side
    literals — kilobytes, the same precomputed term-2+3 table FAISS
    builds."""
    cids = [cid for cid, _cv in coarse]
    gpos_sql = "array_position(array(" + ",".join(map(str, cids)) + "), {g})"

    def pad(book, value):
        slots = {cid: value(cvec) for cid, cvec in book}
        return [slots.get(i, 0.0) for i in range(max(slots) + 1)]

    # per-(cluster, code) norm/cross tables, one nested literal per subspace
    cross_tabs = []
    for j in range(m):
        per_cluster = []
        for _cid, cvec in coarse:
            seg = cvec[j * sub:(j + 1) * sub]
            per_cluster.append(F.array(*[F.lit(v).cast("double") for v in pad(
                books[j],
                lambda cc: 2.0 * sum(a * b for a, b in zip(seg, cc))
                + sum(x * x for x in cc))]))
        cross_tabs.append(F.array(*per_cluster))
    base_norm = F.array(*[F.lit(sum(x * x for x in cv)).cast("double")
                          for _cid, cv in coarse])
    coarse_arr = F.array(*[F.array(*[F.lit(x).cast("double") for x in cv])
                           for _cid, cv in coarse])

    gpos_c = F.expr(gpos_sql.format(g="__cluster")).cast("int")
    c = c.withColumn("__gp", gpos_c)
    c = c.withColumn("__rn", F.sqrt(
        F.element_at(base_norm, F.col("__gp"))
        + sum(F.element_at(F.element_at(cross_tabs[j], F.col("__gp")),
                           F.col("codes")[j] + 1) for j in range(m))))
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__cluster", F.explode(
             F.expr(_sql_nearest_cids("__qv", coarse, n_probe)))))
    q = q.withColumn("__gpq", F.expr(gpos_sql.format(g="__cluster"))
                     .cast("int"))
    # shared per (query, probed cluster): dot(q, coarse_g)
    q = q.withColumn("__qc", dot(F.col("__qv"),
                                 F.element_at(coarse_arr, F.col("__gpq"))))
    q = q.select("*", *_sql_pq_lut_cols(books, sub))
    adc_dot = F.col("__qc") + sum(
        F.element_at(F.col(f"__l{j}"), F.col("codes")[j] + 1)
        for j in range(m))
    scored = (c.join(F.broadcast(q.drop("__qv")), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("adc_cosine",
                          F.round(adc_dot / (F.col("__rn") * F.col("__qn")),
                                  6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_cosine", "rank"))


def train_ivf_centroids(corpus: DataFrame, vec_col: str, n_clusters: int = 16,
                        seed: int = 42, sample_fraction: float | None = None,
                        cache_key: str | None = None) -> list[list[float]]:
    """Train the coarse quantizer (MLlib KMeans, seeded → deterministic).

    At 100 TB train on a sample (``sample_fraction``) — centroid quality
    converges long before the full corpus is seen; the expensive full pass
    is only the *assignment*, which is the declarative expression above.

    ``cache_key``: a caller-supplied identity for the corpus (e.g. its
    path).  Training is deterministic given (data, k, seed), and the
    production pattern is train-once / probe-many — so repeated calls with
    the same key, on input files of the same size and mtime, reuse the
    centroids instead of re-fitting (``_memo_key``)."""
    if cache_key is not None:
        key = _memo_key(corpus, cache_key, "mllib", vec_col, n_clusters,
                        seed, sample_fraction)
        hit = _memo_get(key)
        if hit is not None:
            return hit
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(_as_double(F.col(vec_col)).alias("__v"))
    if sample_fraction:
        train = train.sample(fraction=sample_fraction, seed=seed)
    train = train.withColumn("features", array_to_vector("__v"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=10, tol=1e-3).fit(train)
    centers = [list(map(float, c)) for c in model.clusterCenters()]
    if cache_key is not None:
        _memo_put(key, centers)
    return centers


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             k: int = 10, n_clusters: int = 16, n_probe: int = 3,
             seed: int = 42, query_id_col: str | None = None,
             centers: list[list[float]] | None = None,
             cache_key: str | None = None) -> DataFrame:
    """IVF approximate top-k: exact cosine re-rank restricted to the
    ``n_probe`` nearest coarse clusters of each query.

    Scale path: the corpus is partitioned (and at rest: bucketed/
    partitioned-by) on its cluster id, so a probe touches ~n_probe/k of the
    data; queries explode to (query × probe) and broadcast-join the corpus
    on cluster id — the corpus never shuffles.  Output schema matches
    :func:`brute_force_topk`; fewer than k rows per query happens when the
    probed clusters run dry (the approximation showing).
    """
    query_id_col = query_id_col or id_col
    if centers is None:
        centers = train_ivf_centroids(corpus, vec_col, n_clusters, seed,
                                      cache_key=cache_key)
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(F.col(vec_col)).alias("__cv"))
         .withColumn("__cn", l2_norm(F.col("__cv")))
         .withColumn("__cluster",
                     _nearest_centroid_ids(F.col("__cv"), centers, 1)[0]))
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__cluster",
                     F.explode(_nearest_centroid_ids(F.col("__qv"), centers, n_probe))))
    scored = (c.join(F.broadcast(q), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("__cv"), F.col("__qv"))
                                  / (F.col("__cn") * F.col("__qn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# ---------------------------------------------------------------------------
# IVF at rest: the index IS the partition layout
# ---------------------------------------------------------------------------

def write_ivf_index(corpus: DataFrame, path: str, id_col: str, vec_col: str,
                    n_clusters: int = 16, n_iter: int = 2) -> None:
    """Persist an IVF index as a data-lake layout: the corpus written
    ``partitionBy(cluster id)`` plus a tiny centroid table.

    At 100 TB this is the entire point of IVF — the "index" is nothing but
    directory structure, so a probe is partition pruning: the scan touches
    ~n_probe/n_clusters of the files and no other structure exists to
    maintain.  Train once (portable deterministic k-means), assign with one
    codegen'd expression, one write-time shuffle on cluster id.
    """
    centers = train_ivf_centroids_portable(corpus, id_col, vec_col,
                                           n_clusters, n_iter, cache_key=path)
    assigned = corpus.withColumn(
        "__cluster", F.expr(_sql_nearest_cids(f"transform({vec_col}, x -> cast(x as double))",
                                              centers, 1))[0])
    (assigned.repartition("__cluster")
     .write.mode("overwrite").partitionBy("__cluster").parquet(f"{path}/corpus"))
    spark = corpus.sparkSession
    rows = [(cid, i, x) for cid, vec in centers for i, x in enumerate(vec)]
    (local_frame(spark, rows, "cid int, dim int, val double")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))


def load_ivf_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """Read the centroid sidecar of a :func:`write_ivf_index` layout."""
    crows = spark.read.parquet(f"{path}/centroids").collect()
    by_cid: dict[int, dict[int, float]] = {}
    for r in crows:
        by_cid.setdefault(r["cid"], {})[r["dim"]] = r["val"]
    return [(cid, [d[i] for i in range(len(d))])
            for cid, d in sorted(by_cid.items())]


def append_to_ivf_index(new_rows: DataFrame, path: str, id_col: str,
                        vec_col: str) -> None:
    """Incremental index maintenance: assign NEW vectors with the stored
    centroids (no retrain) and append them into the partitioned layout —
    only the touched cluster directories gain files, existing data never
    rewrites, and the next probe sees the additions through the same
    partition pruning.

    The quantizer ages as the distribution drifts (new vectors pile into
    few clusters, recall decays); monitor cluster-size skew
    (``profile.key_skew_profile`` over ``__cluster``) and rebuild with
    :func:`write_ivf_index` when it degrades — the standard
    IVF-maintenance trade, made explicit."""
    centers = load_ivf_centroids(new_rows.sparkSession, path)
    assigned = new_rows.withColumn(
        "__cluster",
        F.expr(_sql_nearest_cids(
            f"transform({vec_col}, x -> cast(x as double))", centers, 1))[0])
    (assigned.repartition("__cluster")
     .write.mode("append").partitionBy("__cluster").parquet(f"{path}/corpus"))


def ivf_topk_at_rest(spark, path: str, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 10, n_probe: int = 3,
                     query_id_col: str | None = None,
                     corpus_filter: Column | None = None) -> DataFrame:
    """Top-k against a :func:`write_ivf_index` layout.  The probed cluster
    ids become an ``isin`` filter on the partition column, so the scan
    reads only the probed directories (PartitionFilters in the plan —
    asserted in tests); re-ranking is the same broadcast-query cosine as
    :func:`ivf_topk`.

    ``corpus_filter`` is FILTERED ANN over the stored index — the "WHERE
    clause on a vector search" — with the same pre-filter semantics as
    :func:`ivf_topk_portable`: the quantizer (built at index-write time
    over the full corpus) keeps the full geometry; the predicate only
    restricts which stored rows are scored.  Applied directly on the
    partition-pruned read, so a parquet-pushable predicate (comparison /
    isin / null test on stored columns) lands as PushedFilters BESIDE the
    cluster PartitionFilters and is evaluated in the scan, touching no
    extra bytes (asserted in tests)."""
    query_id_col = query_id_col or id_col
    centers = load_ivf_centroids(spark, path)
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__cluster",
                     F.explode(F.expr(_sql_nearest_cids("__qv", centers, n_probe)))))
    probed = [r["__cluster"] for r in q.select("__cluster").distinct().collect()]
    c = spark.read.parquet(f"{path}/corpus").filter(
        F.col("__cluster").isin(probed))
    if corpus_filter is not None:
        c = c.filter(corpus_filter)
    c = (c.select("__cluster", F.col(id_col).alias("neighbor_id"),
                  _as_double(F.col(vec_col)).alias("__cv"))
         .withColumn("__cn", l2_norm(F.col("__cv"))))
    scored = (c.join(F.broadcast(q), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot(F.col("__cv"), F.col("__qv"))
                                  / (F.col("__cn") * F.col("__qn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _pq_norm_arrays(books, m: int) -> list[Column]:
    """Per-subspace literal arrays of ‖codeword‖²: element j of the sum
    reconstructs the encoded vector's norm from its codes (the same
    literal device as the per-query LUTs)."""
    def by_cid(book, value):
        slots = {cid: value(cvec) for cid, cvec in book}
        return [slots.get(i, 0.0) for i in range(max(slots) + 1)]

    return [F.array(*[F.lit(v).cast("double")
                      for v in by_cid(books[j],
                                      lambda cv: sum(x * x for x in cv))])
            for j in range(m)]


def _ivfpq_encode_frame(corpus: DataFrame, id_col: str, vec_col: str,
                        coarse, sub: int, books) -> DataFrame:
    """(neighbor_id, codes, __rn, __cluster) — the stored row shape of
    the IVF-PQ layout: coarse assignment, per-subspace codes, and the
    norm reconstructed FROM the codes (so serving never needs the
    vector)."""
    m = len(books)
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(F.col(vec_col)).alias("__cv"))
         .withColumn("__cluster",
                     F.expr(_sql_nearest_cids("__cv", coarse, 1))[0])
         .withColumn("codes", F.array(*[
             F.expr(_sql_nearest_cids(f"slice(__cv, {j * sub + 1}, {sub})",
                                      books[j], 1))[0] for j in range(m)])))
    norm_arrs = _pq_norm_arrays(books, m)
    return c.withColumn("__rn", F.sqrt(sum(
        F.element_at(norm_arrs[j], F.col("codes")[j] + 1)
        for j in range(m)))).drop("__cv")


def write_ivfpq_index(corpus: DataFrame, path: str, id_col: str,
                      vec_col: str, n_clusters: int = 8, m: int = 4,
                      ks: int = 8, n_iter: int = 2,
                      cache_key: str | None = None) -> None:
    """Persist the composed IVF-PQ index as a data-lake layout: PQ codes
    + reconstructed norms written ``partitionBy(coarse cluster)``, plus
    the two tiny quantizer sidecars (coarse centroids, PQ codebooks).

    This is the SERVING form of :func:`ivfpq_topk_portable`: training
    (the per-process-cached part that dominates a cold query) happens
    ONCE at build time; a probe afterwards is partition pruning over the
    code table plus codegen'd LUT arithmetic — no raw vectors are read
    or even stored (M ints + one double per row).  At 100 TB the index
    directory is ~1000× smaller than the corpus and rebuild cadence is
    an offline choice (see :func:`append_to_ivf_index` on quantizer
    aging)."""
    coarse = train_ivf_centroids_portable(
        corpus, id_col, vec_col, n_clusters, n_iter,
        cache_key=cache_key or path)
    sub, books = train_pq_codebooks_portable(
        corpus, id_col, vec_col, m, ks, n_iter, cache_key=cache_key or path)
    c = _ivfpq_encode_frame(corpus, id_col, vec_col, coarse, sub, books)
    (c.repartition("__cluster").write.mode("overwrite")
     .partitionBy("__cluster").parquet(f"{path}/corpus"))
    spark = corpus.sparkSession
    crows = [(cid, i, x) for cid, vec in coarse for i, x in enumerate(vec)]
    (local_frame(spark, crows, "cid int, dim int, val double")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))
    brows = [(j, cid, p, x) for j in range(m)
             for cid, cvec in books[j] for p, x in enumerate(cvec)]
    (local_frame(spark, brows, "j int, cid int, pos int, val double")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks"))


def append_to_ivfpq_index(new_rows: DataFrame, path: str, id_col: str,
                          vec_col: str) -> None:
    """Incremental IVF-PQ maintenance: encode NEW vectors with the
    STORED quantizers (no retrain — centroid + codebook sidecars load as
    bounded collects) and append their codes into the partitioned
    layout; only touched cluster directories gain files, and the next
    probe sees the additions through the same partition pruning.  The
    PQ sibling of :func:`append_to_ivf_index`, with the same documented
    quantizer-aging trade: reconstruction error of appended vectors
    grows as the distribution drifts from the training corpus — monitor
    cluster skew and rebuild with :func:`write_ivfpq_index`."""
    spark = new_rows.sparkSession
    coarse = load_ivf_centroids(spark, path)
    sub, books = load_pq_codebooks(spark, path)
    c = _ivfpq_encode_frame(new_rows, id_col, vec_col, coarse, sub, books)
    (c.repartition("__cluster").write.mode("append")
     .partitionBy("__cluster").parquet(f"{path}/corpus"))


def load_pq_codebooks(spark, path: str
                      ) -> tuple[int, list[list[tuple[int, list[float]]]]]:
    """Read the PQ codebook sidecar of a :func:`write_ivfpq_index`
    layout; returns the same ``(sub_len, books)`` shape the trainer
    produces."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    acc: dict[int, dict[int, dict[int, float]]] = {}
    for r in rows:
        acc.setdefault(r["j"], {}).setdefault(r["cid"], {})[r["pos"]] = r["val"]
    sub = max(len(d) for by_cid in acc.values() for d in by_cid.values())
    books = [[(cid, [d[i] for i in range(sub)])
              for cid, d in sorted(acc[j].items())]
             for j in sorted(acc)]
    return sub, books


def ivfpq_topk_at_rest(spark, path: str, queries: DataFrame, id_col: str,
                       vec_col: str, k: int = 5, n_probe: int = 3,
                       query_id_col: str | None = None,
                       corpus_filter: Column | None = None) -> DataFrame:
    """ADC top-k against a :func:`write_ivfpq_index` layout — identical
    results to (non-residual) :func:`ivfpq_topk_portable` with the same
    training parameters, but the serving cost only: probed cluster ids
    prune partitions of the code table (PartitionFilters in the plan),
    per-query LUTs broadcast, and the scan reads codes + stored norms,
    never vectors.

    ``corpus_filter``: filtered ANN over the stored code table, same
    pre-filter contract as :func:`ivf_topk_at_rest`; write the predicate
    against ``id_col`` (the stored layout's rename to ``neighbor_id`` is
    bridged here, and Catalyst pushes the filter through the alias) — a
    pushable predicate lands as PushedFilters beside the cluster
    PartitionFilters."""
    query_id_col = query_id_col or id_col
    coarse = load_ivf_centroids(spark, path)
    sub, books = load_pq_codebooks(spark, path)
    m = len(books)
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__cluster", F.explode(
             F.expr(_sql_nearest_cids("__qv", coarse, n_probe))))
         .select("*", *_sql_pq_lut_cols(books, sub)))
    probed = [r["__cluster"] for r in q.select("__cluster").distinct().collect()]
    c = (spark.read.parquet(f"{path}/corpus")
         .filter(F.col("__cluster").isin(probed)))
    if corpus_filter is not None:
        c = (c.withColumnRenamed("neighbor_id", id_col)
             .filter(corpus_filter)
             .withColumnRenamed(id_col, "neighbor_id"))
    adc_dot = sum(F.element_at(F.col(f"__l{j}"), F.col("codes")[j] + 1)
                  for j in range(m))
    scored = (c.join(F.broadcast(q.drop("__qv")), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("adc_cosine",
                          F.round(adc_dot / (F.col("__rn") * F.col("__qn")),
                                  6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_cosine", "rank"))


def write_sq8_index(corpus: DataFrame, path: str, id_col: str,
                    vec_col: str, n_clusters: int = 16,
                    n_iter: int = 2, cache_key: str | None = None) -> None:
    """Persist an IVF + SQ8 (per-vector symmetric int8) index: quantized
    codes partitioned by coarse cluster plus the centroid sidecar — the
    FAISS ``IVF,SQ8`` tier between the raw-vector layout
    (:func:`write_ivf_index`, full recall, 4–8 bytes/dim) and IVF-PQ
    (:func:`write_ivfpq_index`, sub-byte/dim, coarser).  4× smaller than
    float32 at ≤0.4 % max per-component relative error.

    Quantization is exactly :func:`embeddings.quantize_int8`'s scheme
    (scale = round(max|v|/127, 9) per vector, q = round(v/scale)), and
    the stored norm is ``sqrt(Σq²)`` — computed from the integer codes,
    so it is bit-deterministic.  Cosine against a float query never needs
    the scale: it cancels, so serving reads codes + norm only.
    """
    centers = train_ivf_centroids_portable(corpus, id_col, vec_col,
                                           n_clusters, n_iter,
                                           cache_key=cache_key or path)
    v = _as_double(F.col(vec_col))
    base = (corpus.select(F.col(id_col).alias("neighbor_id"),
                          v.alias("__v"))
            .withColumn("__scale", F.greatest(
                F.round(F.array_max(F.transform(F.col("__v"), F.abs))
                        / 127.0, 9), F.lit(1e-12)))
            .withColumn("codes", F.transform(
                "__v",
                # ±127 clamp: a 9dp-rounded-DOWN scale can push
                # round(max|v|/scale) to ±128, outside int8
                lambda x: F.greatest(F.lit(-127.0), F.least(
                    F.lit(127.0),
                    F.round(x / F.col("__scale")))).cast("int")))
            .withColumn("__rn", F.sqrt(F.aggregate(
                "codes", F.lit(0.0).cast("double"),
                lambda acc, q: acc + (q * q).cast("double"))))
            .withColumn("__cluster", F.expr(_sql_nearest_cids(
                "__v", centers, 1))[0])
            .select("neighbor_id", "__scale", "codes", "__rn", "__cluster"))
    (base.repartition("__cluster").write.mode("overwrite")
     .partitionBy("__cluster").parquet(f"{path}/corpus"))
    spark = corpus.sparkSession
    rows = [(cid, i, x) for cid, vec in centers for i, x in enumerate(vec)]
    (local_frame(spark, rows, "cid int, dim int, val double")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))


def sq8_topk_at_rest(spark, path: str, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5, n_probe: int = 3,
                     query_id_col: str | None = None,
                     corpus_filter: Column | None = None) -> DataFrame:
    """Cosine top-k against a :func:`write_sq8_index` layout: probed
    clusters prune partitions (PartitionFilters), the scan reads int8
    codes + the stored integer-exact norm (never raw vectors), and the
    per-candidate cosine is ``Σ(q·qv) / (sqrt(Σq²)·‖qv‖)`` — the
    per-vector scale cancels out of cosine, so serving is pure
    code arithmetic.  ``corpus_filter``: same pre-filter contract as
    :func:`ivf_topk_at_rest`, written against ``id_col``."""
    query_id_col = query_id_col or id_col
    centers = load_ivf_centroids(spark, path)
    q = (queries.select(F.col(query_id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("__qv"))
         .withColumn("__qn", l2_norm(F.col("__qv")))
         .withColumn("__cluster", F.explode(
             F.expr(_sql_nearest_cids("__qv", centers, n_probe)))))
    probed = [r["__cluster"] for r in
              q.select("__cluster").distinct().collect()]
    c = (spark.read.parquet(f"{path}/corpus")
         .filter(F.col("__cluster").isin(probed)))
    if corpus_filter is not None:
        c = (c.withColumnRenamed("neighbor_id", id_col)
             .filter(corpus_filter)
             .withColumnRenamed(id_col, "neighbor_id"))
    qdot = F.aggregate(
        F.zip_with("codes", "__qv", lambda a, b: a.cast("double") * b),
        F.lit(0.0).cast("double"), lambda acc, x: acc + x)
    scored = (c.join(F.broadcast(q), "__cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine", F.round(
                  qdot / (F.col("__rn") * F.col("__qn")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def mips_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
              vec_col: str, k: int = 10,
              query_id_col: str | None = None) -> DataFrame:
    """Exact maximum-inner-product top-k (the retrieval objective of
    dot-product-trained dual encoders, where cosine's norm division is
    WRONG): (query_id, neighbor_id, dot, rank), queries broadcast, corpus
    never shuffles, scores rounded to 6 dp before ranking with id
    tiebreak (the ann01 determinism contract).

    Scale path: MIPS reduces to cosine search via norm augmentation —
    x̃ = [x, √(M² − ‖x‖²)] with M = max corpus norm, q̃ = [q, 0] — after
    which every cosine structure here (LSH banding, IVF lists, PQ codes)
    applies unchanged; :func:`mips_augment` builds the transform and the
    reduction is equality-tested against this exact form in pytest."""
    query_id_col = query_id_col or id_col
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("__cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("__qv"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("dot", F.round(dot(F.col("__cv"),
                                             F.col("__qv")), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "dot", "rank"))


def mips_augment(corpus: DataFrame, queries: DataFrame, id_col: str,
                 vec_col: str) -> tuple:
    """The MIPS→cosine reduction (Bachrach et al. 2014): append
    √(M² − ‖x‖²) to every corpus vector (M = max corpus norm, one
    bounded 1-row broadcast) and 0.0 to every query.  Augmented-corpus
    norms are all exactly M, so cosine order against an augmented query
    IS inner-product order against the original corpus — which lets the
    LSH/IVF/PQ cosine machinery serve dot-product retrieval unchanged.
    Returns ``(aug_corpus, aug_queries)`` with ``vec_col`` replaced."""
    c = corpus.withColumn("__n2", F.aggregate(
        _as_double(F.col(vec_col)), F.lit(0.0).cast("double"),
        lambda acc, x: acc + x * x))
    mx = c.agg(F.max("__n2").alias("__m2"))
    aug_c = (c.crossJoin(F.broadcast(mx))
             .withColumn(vec_col, F.concat(
                 _as_double(F.col(vec_col)),
                 F.array(F.sqrt(F.greatest(
                     F.col("__m2") - F.col("__n2"), F.lit(0.0))))))
             .drop("__n2", "__m2"))
    aug_q = queries.withColumn(vec_col, F.concat(
        _as_double(F.col(vec_col)), F.array(F.lit(0.0).cast("double"))))
    return aug_c, aug_q


def rerank_topk(shortlist: DataFrame, corpus: DataFrame, id_col: str,
                vec_col: str, k: int = 10) -> DataFrame:
    """Exact-cosine re-ranking of an approximate shortlist — stage two
    of the production retrieval pattern (ANN index returns k' ≫ k
    candidates cheaply; true vectors re-score just those):
    ``(query_id, neighbor_id)`` pairs in, ``(query_id, neighbor_id,
    cosine, rank ≤ k)`` out, the ann01 determinism contract (6 dp round,
    id tiebreak).

    Scale shape: the shortlist is ``n_queries × k'`` rows — broadcast it
    against the corpus for both vector lookups, so the corpus never
    shuffles and the exact math runs on a candidate set that no longer
    depends on corpus size."""
    s = F.broadcast(shortlist.select("query_id", "neighbor_id"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("__cv"))
    q = corpus.select(F.col(id_col).alias("query_id"),
                      _as_double(F.col(vec_col)).alias("__qv"))
    scored = (c.join(s, "neighbor_id")
              .join(F.broadcast(q.join(
                  F.broadcast(s.select("query_id").distinct()),
                  "query_id")), "query_id")
              .withColumn("cosine", F.round(
                  dot(F.col("__cv"), F.col("__qv"))
                  / (l2_norm(F.col("__cv")) * l2_norm(F.col("__qv"))), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _sign_words_sql(vec_sql: str, dim: int) -> str:
    """Spark-SQL expression: the vector's sign bits (1 iff component ≥ 0)
    packed into ceil(dim/32) BIGINT words, 32 bits per word — 32 (not 64)
    so no word ever touches the BIGINT sign bit, which keeps the identical
    arithmetic legal in engines that reject ``1 << 63`` (DuckDB)."""
    words = []
    for w in range(0, dim, 32):
        n = min(32, dim - w)
        words.append(
            f"aggregate(transform(sequence(0, {n - 1}), i -> "
            f"CASE WHEN element_at({vec_sql}, {w} + i + 1) >= 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), i) "
            f"ELSE CAST(0 AS BIGINT) END), "
            f"CAST(0 AS BIGINT), (a, x) -> a + x)")
    return "array(" + ",".join(words) + ")"


def binary_sign_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, dim: int, k: int = 5,
                     rerank_from: int | None = None,
                     query_id_col: str | None = None) -> DataFrame:
    """1-bit (sign) embedding retrieval — the smallest rung of the
    compression ladder (float32 → SQ8 int8 → PQ sub-byte → 1 bit/dim):
    each vector collapses to its sign bitmap (64 dims = 8 bytes), distance
    is the Hamming distance ``Σ_words bit_count(a XOR b)``, and the scan
    is pure integer ops over dim/8 bytes per row — ~32× less I/O and no
    float anywhere in the shortlist stage.  Zero-centered embeddings are
    assumed (sign-at-0 is the standard binary-quantization threshold).

    ``rerank_from=R`` applies the production two-stage pattern: Hamming
    shortlists R candidates per query (ties by id), exact 6-dp cosine
    re-scores ONLY those — stage-two cost is queries × R, independent of
    corpus size.  Without it the ranking is raw Hamming.

    Plan shape: the corpus packs in-row and never shuffles; queries (with
    their packed words) broadcast; shortlist + rerank ride one bounded
    per-query window.  Returns (query_id, neighbor_id, hamming, cosine,
    rank) — cosine NULL when reranking is off."""
    query_id_col = query_id_col or id_col
    wsql = _sign_words_sql(
        f"transform({vec_col}, x -> cast(x as double))", dim)
    nw = (dim + 31) // 32
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("__cv"),
                      F.expr(wsql).alias("__cw"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("__qv"),
                       F.expr(wsql).alias("__qw"))
    ham = F.expr(" + ".join(
        f"bit_count(element_at(__cw, {i + 1}) ^ element_at(__qw, {i + 1}))"
        for i in range(nw))).cast("long")
    pairs = (c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
             .withColumn("hamming", ham))
    wh = Window.partitionBy("query_id").orderBy(F.asc("hamming"),
                                                F.asc("neighbor_id"))
    if rerank_from is None:
        return (pairs.withColumn("rank", F.row_number().over(wh))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "hamming",
                        F.lit(None).cast("double").alias("cosine"),
                        F.col("rank").cast("long")))
    short = (pairs.withColumn("__rh", F.row_number().over(wh))
             .filter(F.col("__rh") <= int(rerank_from))
             .withColumn("cosine", F.round(
                 dot(F.col("__cv"), F.col("__qv"))
                 / (l2_norm(F.col("__cv")) * l2_norm(F.col("__qv"))), 6)))
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("neighbor_id"))
    return (short.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "hamming", "cosine",
                    F.col("rank").cast("long")))


def write_binary_index(corpus: DataFrame, path: str, id_col: str,
                       vec_col: str, dim: int, n_clusters: int = 16,
                       n_iter: int = 2, cache_key: str | None = None) -> None:
    """Persist an IVF + 1-bit index: sign-bit words (8 bytes per 64 dims)
    partitioned by coarse cluster, plus the raw vectors FOR RERANK ONLY
    and the centroid sidecar.  The serving scan's stage one reads just
    (id, words) — column pruning keeps the raw vectors on disk until the
    bounded rerank join asks for them.  Same directory contract as
    :func:`write_ivf_index` (probing = partition pruning)."""
    centers = train_ivf_centroids_portable(corpus, id_col, vec_col,
                                           n_clusters, n_iter,
                                           cache_key=cache_key or path)
    v = f"transform({vec_col}, x -> cast(x as double))"
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(_sign_words_sql(v, dim)).alias("wds"),
        F.expr(v).alias("vec"),
        F.expr(_sql_nearest_cids(v, centers, 1))[0].alias("__cluster"))
    (base.repartition("__cluster")
     .write.mode("overwrite").partitionBy("__cluster")
     .parquet(f"{path}/corpus"))
    spark = corpus.sparkSession
    rows = [(cid, i, x) for cid, vec in centers for i, x in enumerate(vec)]
    (local_frame(spark, rows, "cid int, dim int, val double")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))


def binary_topk_at_rest(spark, path: str, queries: DataFrame, id_col: str,
                        vec_col: str, dim: int, k: int = 5,
                        n_probe: int = 3, rerank_from: int = 20,
                        query_id_col: str | None = None) -> DataFrame:
    """Two-stage serving from a :func:`write_binary_index` layout: probed
    clusters prune partitions, stage one Hamming-shortlists
    ``rerank_from`` per query reading ONLY (id, words) — dim/8 bytes per
    candidate — and stage two re-scores the bounded shortlist with exact
    6-dp cosine via a second pruned scan of the vec column joined to the
    broadcast shortlist.  Returns (query_id, neighbor_id, hamming,
    cosine, rank ≤ k)."""
    query_id_col = query_id_col or id_col
    centers = load_ivf_centroids(spark, path)
    nw = (dim + 31) // 32
    wsql = _sign_words_sql(
        f"transform({vec_col}, x -> cast(x as double))", dim)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("__qv"),
                       F.expr(wsql).alias("__qw"))
    q = q.select("query_id", "__qv", "__qw",
                 l2_norm(F.col("__qv")).alias("__qn"),
                 F.explode(F.expr(_sql_nearest_cids("__qv", centers,
                                                    n_probe)))
                 .alias("__cluster"))
    probed = [r["__cluster"] for r in
              q.select("__cluster").distinct().collect()]
    idx = spark.read.parquet(f"{path}/corpus")
    s1 = (idx.select("neighbor_id", "wds", "__cluster")
          .filter(F.col("__cluster").isin(probed)))
    ham = F.expr(" + ".join(
        f"bit_count(element_at(wds, {i + 1}) ^ element_at(__qw, {i + 1}))"
        for i in range(nw))).cast("long")
    wh = Window.partitionBy("query_id").orderBy(F.asc("hamming"),
                                                F.asc("neighbor_id"))
    short = (s1.join(F.broadcast(q.drop("__qv")), "__cluster")
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .withColumn("hamming", ham)
             .withColumn("__rh", F.row_number().over(wh))
             .filter(F.col("__rh") <= int(rerank_from))
             .select("query_id", "neighbor_id", "hamming"))
    vecs = (idx.select("neighbor_id", "vec", "__cluster")
            .filter(F.col("__cluster").isin(probed))
            .select("neighbor_id", "vec"))
    qv = q.select("query_id", "__qv", "__qn").distinct()
    re = (vecs.join(F.broadcast(short), "neighbor_id")
          .join(F.broadcast(qv), "query_id")
          .withColumn("cosine", F.round(
              dot(F.col("vec"), F.col("__qv"))
              / (l2_norm(F.col("vec")) * F.col("__qn")), 6)))
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("neighbor_id"))
    return (re.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "hamming", "cosine",
                    F.col("rank").cast("long")))
