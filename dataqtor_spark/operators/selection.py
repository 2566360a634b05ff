"""Training-data selection over embedding columns (north-star extension):
coverage-driven subset selection for curation pipelines.

``kcenter_select`` is the greedy 2-approximation for the k-center
objective (Gonzalez 1985) — the classic "pick a maximally diverse
subset" primitive used to seed curriculum phases, pick annotation
batches, and build coresets for expensive downstream scoring.  Distance
is cosine distance (1 − cosine similarity) over an embedding column.

Scale shape: k bounded rounds; each round is ONE full scan of the
corpus (distance to the ≤k already-chosen centers, evaluated as literal
vectors — no join, no shuffle of the corpus) followed by a
TakeOrderedAndProject(1).  Driver state is k centers (k·dim doubles) —
the same bounded-collect contract as the IVF trainers in
:mod:`dataqtor_spark.operators.ann`.  Total cost O(k·n·dim), the
textbook bound; at 100 TB the scan is partition-parallel and nothing
ever materializes beyond one row per round.

Determinism (the ann01 device): cosine similarities round to 6 dp
BEFORE any comparison, maximin ties break on ascending id, and the
seed is the minimum id — reproducible across partitionings and
bit-exact against the SQL oracle's incremental-`least` replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataqtor_spark.operators.ann import _as_double, brute_force_topk, cosine
from dataqtor_spark.session import local_frame

# The per-round maximin-distance expression references only the fixed
# internal aliases __cs (broadcast center vectors) and __v (point
# vector) — it is round- and invocation-invariant, so build the Column
# tree once per process (the dedup.py memoized-column device): ~0.1 s
# of py4j construction per round otherwise lands inside every timed
# run.  Built lazily because Column construction needs a live
# SparkContext (module import must stay session-free).
_KC_MAXIMIN: list = []


def _kc_maximin():
    if not _KC_MAXIMIN:
        _KC_MAXIMIN.append(F.array_min(F.transform(
            F.col("__cs"),
            lambda c: F.lit(1.0) - F.round(cosine(F.col("__v"), c), 6))))
    return _KC_MAXIMIN[0]


def kcenter_select(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 6) -> DataFrame:
    """Greedy k-center diversity selection.

    Returns a k-row DataFrame ``(rank INT, <id_col> , maximin_dist
    DOUBLE)``: ``rank`` is selection order, ``maximin_dist`` is the
    cosine distance from the chosen point to the nearest
    previously-chosen center (the k-center radius sequence — it is
    non-increasing).  The seed (rank 0) has no previous set, so its
    ``maximin_dist`` is NULL.
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    # the greedy loop scans the SAME (id, vec) projection k times; pin it
    # once (memory-and-disk — the standard iterative-algorithm cache, the
    # same device Lloyd/k-means uses) so rounds 2..k read cached blocks
    # instead of re-reading and re-normalizing the parquet every round
    pts = df.select(F.col(id_col).alias("__id"),
                    _as_double(F.col(vec_col)).alias("__v")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    from pyspark.sql.types import (DoubleType, IntegerType, StructField,
                                   StructType)
    out_schema = StructType([
        StructField("rank", IntegerType()),
        StructField(id_col, df.schema[id_col].dataType),
        StructField("maximin_dist", DoubleType()),
    ])

    from pyspark.sql.types import ArrayType

    id_type = df.schema[id_col].dataType
    round_schema = StructType([
        StructField("__cs", ArrayType(ArrayType(DoubleType()))),
        StructField("__cids", ArrayType(id_type)),
    ])

    try:
        seed_rows = pts.orderBy(F.asc("__id")).limit(1).collect()
        if not seed_rows:  # empty corpus -> empty selection, declared schema
            return local_frame(spark, [], out_schema)
        seed = seed_rows[0]
        centers = [(seed["__id"], list(seed["__v"]), None)]
        for _ in range(1, k):
            # the chosen centers ride a 1-row broadcast (the scalar-
            # broadcast device), NOT literal vectors: every round then
            # compiles the SAME generated code (Janino caches on source,
            # and literals embed in it), so rounds 2..k pay only the
            # cached scan — identical maximin semantics (per-center 6dp
            # rounding, min, id tiebreak)
            state = local_frame(
                spark, [([v for _, v, _ in centers],
                         [cid for cid, _, _ in centers])], round_schema)
            md = _kc_maximin()
            top = (pts.crossJoin(F.broadcast(state))
                   .filter(~F.array_contains(F.col("__cids"), F.col("__id")))
                   .select("__id", "__v", md.alias("__md"))
                   .orderBy(F.desc("__md"), F.asc("__id"))
                   .limit(1).collect())
            if not top:  # fewer than k points
                break
            row = top[0]
            centers.append((row["__id"], list(row["__v"]), row["__md"]))
    finally:
        pts.unpersist()
    out_rows = [(r, cid, mdv) for r, (cid, _, mdv) in enumerate(centers)]
    return local_frame(spark, out_rows, out_schema)


def cluster_balanced_sample(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            n_clusters: int = 8, n_iter: int = 2,
                            per_cluster: int = 10,
                            cache_key: str | None = None) -> DataFrame:
    """Cluster-balanced coreset sampling: coarse-cluster the embedding
    space with the engine's portable deterministic Lloyd k-means, then
    keep ``per_cluster`` items from EVERY cluster, picked by the
    md5-of-id pseudo-random order — the "equal representation across
    semantic regions" sampler (the balancing step of SemDeDup-style
    curation: a uniform sample over-represents dense regions; this one
    cannot).

    Returns ``(id, cluster, pick_rank)`` for the kept rows.

    Scale shape: the quantizer trains on driver-bounded state
    (``ann.train_ivf_centroids_portable`` — sample-train at 100 TB);
    assignment is a pure column expression (no shuffle); the pick is one
    window over the cluster partitioning — a single hash exchange on
    cluster id, top-``per_cluster`` per partition.  Deterministic: the
    md5 order is engine-portable, ties break on ascending id.
    """
    from dataqtor_spark.operators import ann as ANN

    centers = ANN.train_ivf_centroids_portable(
        df, id_col, vec_col, n_clusters, n_iter, cache_key=cache_key)
    c = (df.select(F.col(id_col).alias("__id"),
                   _as_double(F.col(vec_col)).alias("__v"))
         .withColumn("__cluster",
                     F.expr(ANN._sql_nearest_cids("__v", centers, 1))[0]))
    w = Window.partitionBy("__cluster").orderBy(
        F.md5(F.col("__id").cast("string")), F.asc("__id"))
    return (c.withColumn("pick_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("pick_rank") <= per_cluster)
            .select(F.col("__id").alias(id_col),
                    F.col("__cluster").cast("int").alias("cluster"),
                    "pick_rank"))


def mmr_select(corpus: DataFrame, queries: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               k: int = 5, shortlist: int = 12, lam: float = 0.5,
               query_id_col: str | None = None) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): per query, take the cosine top-``shortlist`` then greedily
    pick ``k`` results maximizing ``lam·rel − (1−lam)·max_sim_to_
    already_selected`` — the standard relevance-plus-diversity serving
    re-rank.

    Fully distributed: EVERY query advances one MMR round per
    iteration, so the driver never sees candidate rows — rounds are
    bounded (k), per-round work is a candidate-set join + window pick,
    and per-query candidate state is shortlist-sized regardless of
    corpus scale.  lazy ``localCheckpoint`` truncates the per-round lineage
    (the d09 device) without a per-round driver barrier, keeping the
    final plan k-independent.

    Returns ``(query_id, rank INT, neighbor_id, rel DOUBLE, mmr_score
    DOUBLE)``.  Determinism: rel and pairwise sims round to 6 dp before
    scoring, picks tie-break on ascending neighbor id.
    """
    sl = brute_force_topk(corpus, queries, id_col, vec_col,
                          k=shortlist, query_id_col=query_id_col)
    vecs = corpus.select(F.col(id_col).alias("neighbor_id"),
                         _as_double(F.col(vec_col)).alias("__v"))
    cand = (sl.join(vecs, "neighbor_id")
            .select("query_id", "neighbor_id",
                    F.col("cosine").alias("rel"), "__v")
            .localCheckpoint(eager=False))
    a = cand.select("query_id", F.col("neighbor_id").alias("__a"),
                    F.col("__v").alias("__va"))
    b = cand.select("query_id", F.col("neighbor_id").alias("__b"),
                    F.col("__v").alias("__vb"))
    pairs = (a.join(b, "query_id")
             .filter(F.col("__a") != F.col("__b"))
             .select("query_id", "__a", "__b",
                     F.round(cosine(F.col("__va"), F.col("__vb")), 6)
                     .alias("__sim"))
             .localCheckpoint(eager=False))
    base = cand.select("query_id", "neighbor_id", "rel")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__score"), F.asc("neighbor_id"))
    sel = None
    for r in range(1, k + 1):
        if sel is None:
            scored = base.withColumn(
                "__score", F.lit(lam) * F.col("rel") - F.lit(1 - lam)
                * F.lit(0.0))
        else:
            ms = (pairs.join(sel.select("query_id",
                                        F.col("neighbor_id").alias("__b")),
                             ["query_id", "__b"])
                  .groupBy("query_id", "__a")
                  .agg(F.max("__sim").alias("__ms")))
            scored = (base.join(sel.select("query_id", "neighbor_id"),
                                ["query_id", "neighbor_id"], "left_anti")
                      .join(ms.withColumnRenamed("__a", "neighbor_id"),
                            ["query_id", "neighbor_id"], "left")
                      .withColumn("__score",
                                  F.lit(lam) * F.col("rel")
                                  - F.lit(1 - lam)
                                  * F.coalesce(F.col("__ms"), F.lit(0.0))))
        pick = (scored.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("query_id", F.lit(r).cast("int").alias("rank"),
                        "neighbor_id", "rel",
                        F.col("__score").alias("mmr_score")))
        sel = pick if sel is None else sel.unionByName(pick)
        sel = sel.localCheckpoint(eager=False)
    return sel
