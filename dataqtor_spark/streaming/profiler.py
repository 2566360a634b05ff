"""Streaming profiler (north-star extension, SURVEY §7 step 7).

The reference is batch-only; this extends the DQ profile to Structured
Streaming: per-window null/violation counts with watermarked event time, so
a quality dashboard over a 100 TB/day stream is the same fused aggregate
the batch profiler runs, emitted incrementally.

Design: the batch and streaming paths share ONE aggregation builder —
``windowed_null_profile`` works on either a static or a streaming
DataFrame (Spark's unified API); only source/sink wiring differs.  State
is bounded by the watermark: closed windows are evicted, so state size is
(windows in flight × columns), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataqtor_spark.operators.rules import Rule
from dataqtor_spark.session import local_frame


def _recover_snapshot(path: str) -> None:
    """If a previous swap crashed between ``path -> path.__old`` and
    ``tmp -> path``, the live snapshot is sitting at ``path.__old``:
    restore it before reading, so no batch ever observes "no snapshot"
    and silently rebuilds from itself alone.

    Filesystem contract (applies to every ``_swap_snapshot`` sink): the
    crash-safety argument rests on ATOMIC directory rename, which local
    disks and HDFS provide but object stores (S3/GCS rename = copy +
    delete) do not — on an object store, point these sinks at a table
    format with transactional commit (Delta/Iceberg) instead of raw
    parquet paths.  The append-only index sinks (near-dup, image-dedup,
    IVF ingest) never rename and carry no such requirement."""
    import os

    old = path.rstrip("/") + ".__old"
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(old, path)


def _swap_snapshot(tmp: str, path: str) -> None:
    """Crash-safe snapshot promotion (the ``compact_dataset`` pattern,
    session.py): rename the live snapshot aside (``path -> path.__old``),
    promote the new one (``tmp -> path``), then delete the aside copy.
    A crash at any point leaves either the old or the new snapshot on
    disk under a recoverable name — never a window with no snapshot,
    which the old rmtree-then-rename swap had."""
    import os
    import shutil

    old = path.rstrip("/") + ".__old"
    if os.path.isdir(old):  # leftover aside copy from a crashed swap
        if os.path.isdir(path):
            shutil.rmtree(old)   # prior swap completed; drop the orphan
        else:
            os.rename(old, path)  # prior swap died mid-way; restore,
            # then fall through and promote tmp over the restored copy
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — the
    cluster-correct way to probe index/ledger state (``os.*`` only sees
    the driver's local disk; HDFS/S3 index paths need the filesystem the
    writers actually use).  Returns None when no JVM gateway exists
    (Spark Connect); callers fall back to ``os``."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath
    except Exception:
        return None


def _fs_exists(spark, path: str) -> bool:
    h = _hadoop_fs(spark, path)
    if h is None:
        import os

        return os.path.exists(path)
    return bool(h[0].exists(h[1]))


def _fs_mkdirs(spark, path: str) -> None:
    h = _hadoop_fs(spark, path)
    if h is None:
        import os

        os.makedirs(path, exist_ok=True)
    else:
        h[0].mkdirs(h[1])


def windowed_event_agg(df: DataFrame, ts_col: str = "ts",
                       window: str = "1 hour",
                       group_col: str | None = "event_type",
                       slide: str | None = None) -> DataFrame:
    """Windowed counts + exact sums (decimal-accumulated).  Works on
    static and streaming frames alike.  ``slide`` < ``window`` makes the
    windows HOPPING (each event lands in window/slide overlapping
    windows — the moving-average / smooth-trend read that tumbling
    windows can't give); default is tumbling.  State per window stays a
    constant-size aggregate either way; hopping multiplies live windows
    by the overlap factor, not by the data."""
    w = (F.window(F.col(ts_col), window, slide) if slide
         else F.window(F.col(ts_col), window))
    keys = [w.alias("w")]
    if group_col:
        keys.append(F.col(group_col))
    out = (df.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                .alias("total_value")))
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *([F.col(group_col)] if group_col else []),
        "n_events", "total_value",
    )


def windowed_null_profile(df: DataFrame, ts_col: str, cols: list[str],
                          window: str = "1 hour") -> DataFrame:
    """Per-window fused null profile — the streaming form of A3."""
    aggs = [F.count(F.lit(1)).alias("total_records")]
    for c in cols:
        aggs.append(F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
                    .alias(f"nulls_{c}"))
    out = df.groupBy(F.window(F.col(ts_col), window).alias("w")).agg(*aggs)
    return out.select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"),
                      "total_records",
                      *[F.col(f"nulls_{c}") for c in cols])


def windowed_rule_scores(df: DataFrame, ts_col: str, rules: list[Rule],
                         window: str = "1 hour") -> DataFrame:
    """Per-window DQ scores (A14 as a streaming aggregate)."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, r in enumerate(rules):
        aggs.append(F.coalesce(F.sum(F.col(r.column).isNull().cast("long")), F.lit(0))
                    .alias(f"__nulls_{i}"))
        aggs.append(F.coalesce(F.sum(r.violation.cast("long")), F.lit(0))
                    .alias(f"__viol_{i}"))
    one = df.groupBy(F.window(F.col(ts_col), window).alias("w")).agg(*aggs)
    structs = []
    for i, r in enumerate(rules):
        total, nulls, viol = F.col("__total"), F.col(f"__nulls_{i}"), F.col(f"__viol_{i}")
        proper = total - nulls - viol
        structs.append(F.struct(
            F.lit(r.name).alias("rule"),
            total.alias("total_records"), nulls.alias("null_records"),
            viol.alias("out_of_format_records"),
            F.when(total > 0, F.round(proper * 100.0 / total, 2))
            .otherwise(F.lit(0.0)).alias("dq_score"),
        ))
    return (one.select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       F.explode(F.array(*structs)).alias("s"))
            .select("window_start", "window_end", "s.*"))


def stream_events(spark, path: str, watermark: str = "10 minutes") -> DataFrame:
    """readStream over the events parquet directory (ns timestamps handled
    like the batch path), watermarked for bounded state."""
    import glob
    import os

    static = spark.read.parquet(path)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.dirname(path) if path.endswith(".parquet")
                       and not os.path.isdir(path) else path))
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withWatermark("ts", watermark)


def run_stream_to_memory(result: DataFrame, query_name: str,
                         spark=None) -> DataFrame:
    """Execute a streaming aggregation with an availableNow trigger into a
    memory sink and return the materialized table (test/dev harness)."""
    q = (result.writeStream.format("memory").queryName(query_name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    session = spark or result.sparkSession
    return session.table(query_name)


def sessionize(df: DataFrame, ts_col: str = "ts", key_col: str = "user_id",
               gap: str = "30 minutes") -> DataFrame:
    """Session windows: merge a key's events whose gaps are < ``gap``.

    ``F.session_window`` is the unified batch/streaming form — in streaming
    it is stateful with watermark-bounded session state; in batch Catalyst
    plans it as one shuffle on the key.  Session end = last event + gap
    (half-open), so two events exactly ``gap`` apart start separate
    sessions.
    """
    return (df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"),
                       F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col(key_col),
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events"))


def stream_dedup(df: DataFrame, keys: list[str],
                 watermark_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    watermark passes it — the Spark-native form of a streaming dedup whose
    state does NOT grow with stream length (vs ``dropDuplicates`` on a
    stream, which retains all keys forever).  On a static frame it degrades
    to plain ``dropDuplicates`` for batch/stream parity.
    """
    if not df.isStreaming:
        return df.dropDuplicates(keys)
    meta = df.schema[watermark_col].metadata
    if "spark.watermarkDelayMs" not in meta:
        df = df.withWatermark(watermark_col, watermark)
    return df.dropDuplicatesWithinWatermark(keys)


def score_drift(scores: DataFrame, order_col: str = "window_start") -> DataFrame:
    """Window-over-window DQ-score drift: each window's score minus the
    previous window's, per rule.  Runs on the OUTPUT of
    ``windowed_rule_scores`` — a tiny aggregated table (windows × rules
    rows), so the unpartitioned-by-time window here costs nothing at any
    input scale."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("rule").orderBy(order_col)
    return scores.withColumn(
        "score_drift",
        F.round(F.col("dq_score") - F.lag("dq_score").over(w), 2))


def stream_decontaminate(docs: DataFrame, benchmark: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         shingle_n: int = 5) -> DataFrame:
    """Streaming form of :func:`textstats.decontaminate`: flag documents of
    an incoming stream that share any word ``shingle_n``-gram with a static
    benchmark set.

    Stateless by construction — the benchmark collapses to ONE row holding
    its distinct shingle-hash set (cached static side), the stream
    cross-joins that broadcast row, and the per-document count is a local
    ``array_intersect`` — no aggregation, no watermark, no state store.
    Works identically on a static ``docs`` frame (unified API); equivalence
    with the batch operator is pinned in tests.
    """
    from dataqtor_spark.operators.dedup import portable_string_hash, word_shingles

    bench_sh = (benchmark
                .select(F.explode(F.transform(
                    word_shingles(F.col(text_col).cast("string"), shingle_n),
                    portable_string_hash)).alias("__g"))
                .distinct()
                .agg(F.collect_set("__g").alias("__bench"))
                .cache())
    doc_sh = F.transform(word_shingles(F.col(text_col).cast("string"), shingle_n),
                         portable_string_hash)
    return (docs.crossJoin(F.broadcast(bench_sh))
            .select(F.col(id_col),
                    F.size(F.array_intersect(doc_sh, F.col("__bench")))
                    .alias("shared_shingles"))
            .withColumn("contaminated", F.col("shared_shingles") > 0))


def stream_interval_join(left: DataFrame, right: DataFrame, key_col: str,
                         ts_col: str = "ts", within: str = "30 minutes",
                         watermark: str = "10 minutes") -> DataFrame:
    """Event-to-event interval join (the funnel/attribution primitive): pair
    each left event with same-key right events whose timestamp falls in
    ``(left.ts, left.ts + within]``.

    Unified batch/stream: on static frames this is a plain range-condition
    join (Catalyst plans the equi-key part as the shuffle key and the time
    range as a post-join filter, so it never goes quadratic across keys).
    On streams, both sides get watermarks and the time-bound condition is
    exactly what Spark's stream-stream join needs to evict state — a side's
    buffered rows are dropped once the watermark passes ``ts + within``, so
    state is O(rate × (watermark + interval)), independent of stream length.

    Output columns: ``key_col``, then every non-key/ts column of each side
    prefixed ``left_``/``right_``, plus ``left_ts``/``right_ts``.
    """
    def _wm(df: DataFrame) -> DataFrame:
        if df.isStreaming and "spark.watermarkDelayMs" not in df.schema[ts_col].metadata:
            return df.withWatermark(ts_col, watermark)
        return df

    def _prefix(df: DataFrame, p: str) -> DataFrame:
        key = F.col(key_col) if p == "left_" else F.col(key_col).alias("__rk")
        return df.select(key, F.col(ts_col).alias(f"{p}ts"),
                         *[F.col(c).alias(f"{p}{c}") for c in df.columns
                           if c not in (key_col, ts_col)])

    l = _prefix(_wm(left), "left_")
    r = _prefix(_wm(right), "right_")
    cond = ((F.col(key_col) == F.col("__rk"))
            & (F.col("right_ts") > F.col("left_ts"))
            & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {within}")))
    return l.join(r, cond).drop("__rk")


def incremental_dedup_sink(stream: DataFrame, keys: list[str], path: str,
                           checkpoint: str):
    """``foreachBatch`` upsert-by-key: each micro-batch is deduped within
    itself, anti-joined against the keys already in the parquet sink, and
    only genuinely new rows are appended — exactly-once-by-key across
    restarts (the checkpoint replays a failed batch; the anti-join makes the
    replay a no-op).

    This is the plain-parquet rendition of the pattern; on a real lakehouse
    the batch body becomes one ``MERGE INTO`` (Delta/Iceberg) and the
    read-sink-keys step disappears.  Cost note: the anti-join reads only the
    key columns of the sink (column-pruned parquet scan), but is still
    O(sink) per batch — compact or partition the sink by a key prefix when
    the history grows.

    Returns the started StreamingQuery (caller awaits termination).
    """
    def _upsert(batch: DataFrame, epoch_id: int) -> None:
        import os

        fresh = batch.dropDuplicates(keys)
        if os.path.isdir(path) and any(
                f.endswith(".parquet") for f in os.listdir(path)):
            seen = batch.sparkSession.read.parquet(path).select(*keys)
            fresh = fresh.join(seen, keys, "left_anti")
        fresh.write.mode("append").parquet(path)

    return (stream.writeStream.foreachBatch(_upsert)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def rolling_user_stats(df: DataFrame, key_col: str = "user_id",
                       ts_col: str = "ts", value_col: str = "value",
                       window_seconds: int = 3600) -> DataFrame:
    """Per-event trailing-window stats: for every event, the count and
    exact value sum of the same key's events in the preceding
    ``window_seconds`` (inclusive of the current row) — the feature-store
    staple (velocity/monetary features) as one RANGE window.

    The window partitions by key and ranges over ``unix_micros`` (full
    timestamp precision — casting to seconds would quantize the window
    edge), so parallelism = keys and each key's state is its own trailing
    buffer.  Value sums accumulate in DECIMAL for order-independence.
    """
    from pyspark.sql.window import Window

    w = (Window.partitionBy(key_col)
         .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
         .rangeBetween(-window_seconds * 1_000_000, 0))
    return df.select(
        key_col, "event_id", ts_col,
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.sum(F.col(value_col).cast("decimal(18,2)")).over(w)
        .cast("double").alias("sum_trailing"))


def window_count_anomalies(df: DataFrame, ts_col: str = "ts",
                           group_col: str = "event_type",
                           window: str = "1 hour",
                           z_threshold: float = 2.0) -> DataFrame:
    """Volume-anomaly detection on the windowed count series: per group,
    z-score each window's event count against the group's own mean/stddev
    and flag |z| > threshold — the "did a source go quiet / start flooding"
    monitor on top of the same windowed aggregate the DQ dashboard runs.

    All statistics run on the already-aggregated (windows × groups) table,
    so the analytic window costs O(windows) per group however large the
    input.  Batch-oriented (the z-score needs the full series); in
    streaming, run it inside ``foreachBatch`` over the accumulating sink.
    """
    from pyspark.sql.window import Window

    wc = windowed_event_agg(df, ts_col, window, group_col)
    w = Window.partitionBy(group_col)
    stats = wc.select(
        "window_start", group_col, "n_events",
        F.avg("n_events").over(w).alias("__mu"),
        F.stddev_samp("n_events").over(w).alias("__sd"))
    z = F.when(F.col("__sd") > 0,
               (F.col("n_events") - F.col("__mu")) / F.col("__sd"))\
         .otherwise(F.lit(0.0))
    return stats.select(
        "window_start", group_col, "n_events",
        F.round(z, 4).alias("z"),
        (F.abs(F.round(z, 4)) > z_threshold).alias("is_anomaly"))


def scd2_sink(stream: DataFrame, key: str, ts_col: str,
              attr_cols: list[str], path: str, checkpoint: str,
              tiebreak_col: str | None = None):
    """``foreachBatch`` SCD2 maintenance: every micro-batch of change rows
    is merged into the parquet-backed dimension with
    ``scd.scd2_merge`` — open rows close, continuations collapse, closed
    history passes through.  Because the merge discards updates older than
    each key's open row, a replayed batch (checkpoint recovery,
    at-least-once source) is a no-op: the dimension converges to exactly
    the from-scratch rebuild (the property w03's oracle proves in batch).

    Plain-parquet rendition: the batch body rewrites the dim beside the
    live copy and swaps directories (a lakehouse MERGE INTO would replace
    the swap).  Rewrite cost is O(dim) per batch — acceptable for
    dimension tables (small next to facts); partition the dim by a key
    prefix and rewrite only touched partitions when it isn't.

    Returns the started StreamingQuery (caller awaits termination).
    """
    import os

    from dataqtor_spark.operators.scd import SCD_COLS, scd2_from_history, scd2_merge

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # same crash-safe swap contract as the other sinks: if a prior
        # batch died between rename-aside and promote, restore the aside
        # copy FIRST — otherwise this batch sees "no dimension" and
        # silently rebuilds from its own change rows alone
        _recover_snapshot(path)
        # migrate the aside name the pre-_swap_snapshot implementation
        # used (<path>.__scd2_old): a deployment that crashed mid-swap
        # under the old code must find its history after upgrading
        legacy_old = path.rstrip("/") + ".__scd2_old"
        if os.path.isdir(legacy_old):
            if os.path.isdir(path):
                import shutil

                shutil.rmtree(legacy_old)  # old swap completed; stale copy
            else:
                os.rename(legacy_old, path)
        tb = [tiebreak_col] if tiebreak_col else []
        changes = batch.select(key, *attr_cols, ts_col, *tb)
        if os.path.isdir(path) and any(
                f.endswith(".parquet") for f in os.listdir(path)):
            current = spark.read.parquet(path)
            merged = scd2_merge(current, changes, key, ts_col, attr_cols,
                                tiebreak_col)
        else:
            merged = scd2_from_history(changes, key, ts_col, attr_cols,
                                       tiebreak_col)
        tmp = path.rstrip("/") + ".__scd2_tmp"
        merged.select(key, *attr_cols, *SCD_COLS).write.mode(
            "overwrite").parquet(tmp)
        _swap_snapshot(tmp, path)

    return (stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


N_BAND_PARTS = 64  # hash-partition fan-out of the at-rest band indexes


def _pruned_band_read(spark, path: str, bp_values: list[int]) -> DataFrame:
    """Read ``<path>/bands`` restricted to the ``__bp`` partitions a batch
    can actually join — the filter is on the PARTITION column, so the scan
    shows PartitionFilters and prunes directories instead of reading the
    whole index (the 100 TB story for the streaming sinks; bp_values is
    bounded by N_BAND_PARTS).

    Backward-compat probe: a band index written before the ``__bp``
    layout has no such column — filtering on it would throw
    UNRESOLVED_COLUMN on an otherwise-valid index, so fall back to the
    unpruned scan (correct, just not directory-pruned)."""
    bands = spark.read.parquet(f"{path}/bands")
    if "__bp" not in bands.columns:
        return bands
    return bands.filter(F.col("__bp").isin(bp_values))


def stream_near_dup_sink(stream: DataFrame, id_col: str, text_col: str,
                         path: str, checkpoint: str,
                         threshold: float = 0.7, num_hashes: int = 64,
                         bands: int = 16, shingle_n: int = 3):
    """Streaming near-duplicate ingestion: every micro-batch is MinHash'd
    (the map-only signature — zero shuffle per batch), LSH-banded against
    the signatures accumulated from ALL previous batches, and split:

    - ``<path>/dups``: (id, dup_of, est_jaccard) — batch docs whose
      estimated Jaccard vs an already-ingested doc ≥ ``threshold``
      (within-batch near-dups resolve to the min-id member too);
    - ``<path>/sigs`` + ``<path>/bands``: the signature/band index, grown
      by the batch's non-duplicate survivors only.  ``bands`` is
      hash-partitioned on ``__bp = bhash % N_BAND_PARTS``; each batch
      reads only the partitions its own band hashes can join
      (PartitionFilters — the index scan prunes instead of growing with
      history).

    Replay-safe: ids already in the index (sigs OR dups) are dropped
    first, so checkpoint recovery cannot double-ingest; index-state
    probes go through the Hadoop filesystem of ``path`` (HDFS/S3-correct,
    not the driver's local disk).  Crash-safe append order: dups, then
    bands, then sigs — sigs is the replay gate, so a crash between the
    appends leaves at worst orphan band rows for ids the replay fully
    re-ingests; the anti-join of stored band rows against the live
    batch's own ids ignores those orphans (a batch id in the stored
    bands is NECESSARILY an orphan — indexed ids were already dropped by
    the seen filter), and the candidate ``.distinct()`` absorbs the
    re-appended band rows.  The former sigs-then-bands order instead
    half-indexed a crashed batch: signatures gated out of the replay
    with no band entries, so every future near-duplicate of them was
    silently missed.  Per-batch cost is O(batch × sig) map-side + the
    partition-pruned band equi-join — history is never re-shingled.
    """
    from dataqtor_spark.operators import dedup as DD

    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        have_index = _fs_exists(spark, f"{path}/sigs")
        b = batch.dropDuplicates([id_col])
        if have_index:
            # everything ever ingested: survivors AND flagged dups
            seen = spark.read.parquet(f"{path}/sigs").select(id_col)
            if _fs_exists(spark, f"{path}/dups"):
                seen = seen.unionByName(
                    spark.read.parquet(f"{path}/dups").select(id_col))
            b = b.join(seen, id_col, "left_anti")
        sig = DD.minhash_signatures_portable(
            b, id_col, text_col, num_hashes, shingle_n).localCheckpoint()
        bnd = sig.select(
            F.col(id_col),
            F.explode(DD._band_hash_array(num_hashes, bands)).alias("bhash"))
        # cross-batch candidates: batch bands × stored bands (pruned to
        # the batch's own partitions — bounded ≤ N_BAND_PARTS values)
        cand = None
        if _fs_exists(spark, f"{path}/bands"):
            bps = [r["__bp"] for r in
                   bnd.select(F.pmod(F.col("bhash"), F.lit(N_BAND_PARTS))
                              .alias("__bp")).distinct().collect()]
            old = (_pruned_band_read(spark, path, bps)
                   .withColumnRenamed(id_col, "__old"))
            # drop stored rows for ids in THIS batch: they can only be
            # orphans from a crash between the bands and sigs appends
            own = sig.select(F.col(id_col).alias("__old"))
            cand = (bnd.join(old.join(own, "__old", "left_anti"), "bhash")
                    .select(F.col(id_col).alias("id_a"),
                            F.col("__old").alias("id_b")).distinct())
        # within-batch candidates
        wb = (DD.minhash_candidates(sig, id_col, num_hashes, bands)
              .select(F.greatest("id_a", "id_b").alias("id_a"),
                      F.least("id_a", "id_b").alias("id_b")))
        cand = wb if cand is None else cand.unionByName(wb).distinct()
        old_sigs = (spark.read.parquet(f"{path}/sigs") if have_index
                    else sig.limit(0))
        all_sigs = sig.unionByName(old_sigs)
        dups = (DD.minhash_similarity(all_sigs, cand, id_col)
                .filter(F.col("est_jaccard") >= threshold)
                .groupBy("id_a")
                .agg(F.min("id_b").alias("dup_of"),
                     F.max("est_jaccard").alias("est_jaccard"))
                .withColumnRenamed("id_a", id_col)
                .localCheckpoint())
        dups.write.mode("append").parquet(f"{path}/dups")
        survivors = (sig.join(dups.select(id_col), id_col, "left_anti")
                     .localCheckpoint())
        # bands BEFORE sigs — see the crash-safety contract above
        (survivors.select(
            F.col(id_col),
            F.explode(DD._band_hash_array(num_hashes, bands)).alias("bhash"))
         .withColumn("__bp", F.pmod(F.col("bhash"), F.lit(N_BAND_PARTS)))
         .write.mode("append").partitionBy("__bp")
         .parquet(f"{path}/bands"))
        survivors.write.mode("append").parquet(f"{path}/sigs")

    return (stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def latest_per_key_sink(stream: DataFrame, key_cols: list[str], ts_col: str,
                        tiebreak_cols: list[str], path: str,
                        checkpoint: str):
    """``foreachBatch`` CDC materialization: maintain the latest-row-per-key
    snapshot of an upsert changelog stream (the streaming twin of
    ``scd.latest_per_key``).

    Each micro-batch compacts itself, merges with the current snapshot,
    and re-compacts — so after any prefix of batches the sink equals the
    batch operator run over the same prefix, and a checkpoint-replayed
    batch is idempotent (merging the same rows again changes nothing:
    max-by-(ts, tiebreaks) is a semilattice).  Writes to a temp dir then
    swaps, so readers never see a half-written snapshot.  On a lakehouse
    this batch body is ``MERGE INTO ... WHEN MATCHED AND newer``;
    snapshot cost per batch is O(snapshot) — partition the snapshot by a
    key prefix once it outgrows one rewrite.
    """
    from dataqtor_spark.operators.scd import latest_per_key

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        import os

        spark = batch.sparkSession
        _recover_snapshot(path)
        fresh = latest_per_key(batch, key_cols, ts_col, tiebreak_cols)
        if os.path.isdir(path) and any(
                f.endswith(".parquet") for f in os.listdir(path)):
            cur = spark.read.parquet(path).select(*fresh.columns)
            fresh = latest_per_key(cur.unionByName(fresh), key_cols,
                                   ts_col, tiebreak_cols)
        tmp = path.rstrip("/") + ".__tmp"
        fresh.write.mode("overwrite").parquet(tmp)
        _swap_snapshot(tmp, path)

    return (stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def windowed_topk(df: DataFrame, ts_col: str = "ts",
                  group_col: str = "event_type", window: str = "6 hours",
                  k: int = 3) -> DataFrame:
    """Top-k groups per tumbling window (trending items): one windowed
    count aggregate, then a rank window over the already-tiny
    (windows × groups) table with a total (count desc, group asc) order.
    Unified batch/streaming shape — in streaming the rank pass runs on
    the complete-mode aggregate (or per micro-batch via foreachBatch)."""
    from pyspark.sql.window import Window

    counts = (df.groupBy(F.window(F.col(ts_col), window).alias("w"),
                         F.col(group_col))
              .agg(F.count(F.lit(1)).cast("long").alias("n"))
              .select(F.col("w.start").alias("window_start"),
                      group_col, "n"))
    rw = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc(group_col))
    return (counts.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k))


def additive_agg_sink(stream: DataFrame, group_cols: list[str], path: str,
                      checkpoint: str, value_col: str = "value"):
    """``foreachBatch`` incremental aggregate maintenance: keep a
    (group → count, DECIMAL sum) snapshot additively updated per
    micro-batch — the materialized-view pattern for dashboards over an
    append-only stream.

    Additive merges are NOT naturally idempotent (a checkpoint-replayed
    batch would double-count), so exactly-once comes from an **epoch
    ledger**: each applied batch's epoch id is recorded *inside the
    snapshot directory itself* (a ``_epochs`` parquet subdir — Spark's
    reader skips underscore-prefixed paths, so the snapshot read is
    unaffected), and a batch whose epoch is already in the ledger is
    skipped.  Because ledger and data land in the same temp dir and are
    promoted by ONE rename, they commit atomically: a crash anywhere
    leaves ledger and snapshot consistent, so a replayed epoch is either
    fully absent (re-applied cleanly) or fully present (skipped) — never
    half-applied.  This is the third exactly-once construction in this
    module — anti-join upsert (new-keys-only), semilattice merge
    (naturally idempotent), and now ledgered addition (for merges that
    aren't) — which together cover every sink algebra a DQ pipeline
    needs.  Snapshot rewrite is temp-dir-and-swap like the CDC sink.
    """
    def _merge(batch: DataFrame, epoch_id: int) -> None:
        import os

        spark = batch.sparkSession
        _recover_snapshot(path)
        have = os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path))
        ledger = path.rstrip("/") + "/_epochs"
        applied: set[int] = set()
        if have and os.path.isdir(ledger):
            applied = {r["epoch"] for r in
                       spark.read.parquet(ledger).collect()}
        # migrate a ledger written by the earlier external-dir layout
        # (<path>.__epochs): its applied set folds into the in-snapshot
        # ledger on the next batch, so upgrading mid-stream cannot
        # double-count a replayed epoch
        legacy = path.rstrip("/") + ".__epochs"
        if os.path.isdir(legacy):
            applied |= {r["epoch"] for r in
                        spark.read.parquet(legacy).collect()}
        if epoch_id in applied:
            return  # replayed batch: already folded into the snapshot
        part = (batch.groupBy(*group_cols)
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum(F.col(value_col).cast("decimal(18,2)"))
                     .alias("s")))
        if have:
            cur = spark.read.parquet(path)
            part = (cur.unionByName(part)
                    .groupBy(*group_cols)
                    .agg(F.sum("n").cast("long").alias("n"),
                         F.sum("s").cast("decimal(18,2)").alias("s")))
        tmp = path.rstrip("/") + ".__tmp"
        part.write.mode("overwrite").parquet(tmp)
        epochs = sorted(applied | {int(epoch_id)})
        local_frame(spark, [(e,) for e in epochs], "epoch long") \
            .coalesce(1).write.mode("overwrite").parquet(tmp + "/_epochs")
        _swap_snapshot(tmp, path)
        if os.path.isdir(legacy):  # absorbed into the snapshot ledger
            import shutil

            shutil.rmtree(legacy)

    return (stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def windowed_distinct_sketch(df: DataFrame, ts_col: str = "ts",
                             key_col: str = "user_id",
                             window: str = "6 hours",
                             watermark: str | None = None) -> DataFrame:
    """Distinct keys per event-time window via mergeable theta sketches:
    (window_start, window_end, n_distinct_est).

    The streaming form of the set-algebra family in
    ``operators/sketches.py``: per-window aggregation state is a kB
    sketch buffer instead of the exact form's full per-window key set,
    so watermark-bounded state stays small however hot the window.
    Exact below the 4096-key capacity (the stream≡batch≡exact test and
    the s13 oracle lean on that), published ~1/√k error beyond.  Works
    identically on batch and streaming frames — pass ``watermark`` on a
    stream so closed windows emit and state is reclaimed.
    """
    d = df.withColumn("__ts", F.col(ts_col).cast("timestamp"))
    if watermark is not None:
        d = d.withWatermark("__ts", watermark)
    return (d.groupBy(F.window("__ts", window).alias("w"))
            .agg(F.theta_sketch_estimate(
                F.theta_sketch_agg(F.col(key_col)))
                .cast("long").alias("n_distinct_est"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_distinct_est"))


def windowed_quantile_sketch(df: DataFrame, ts_col: str = "ts",
                             value_col: str = "value",
                             window: str = "6 hours",
                             quantiles: tuple[float, ...] = (0.5, 0.95),
                             k: int = 65535,
                             watermark: str | None = None) -> DataFrame:
    """Value quantiles per event-time window via mergeable KLL sketches:
    (window_start, window_end, q, value).

    The quantile sibling of :func:`windowed_distinct_sketch`: per-window
    aggregation state is a kB KLL buffer, so a latency/price/size
    distribution can be monitored per window on an unbounded stream with
    watermark-reclaimed state — and any coarser rollup (hour → day) is
    an algebraic merge of the same states, never a re-read.  KLL
    quantiles are order statistics of retained items: below capacity
    (window n ≤ k) the result equals ``percentile_disc`` exactly (the
    s14 oracle leans on that), ~1/√k rank error beyond.  Works
    identically on batch and streaming frames."""
    v = F.col(value_col).cast("double")
    d = (df.withColumn("__ts", F.col(ts_col).cast("timestamp"))
         .filter(v.isNotNull()))
    if watermark is not None:
        d = d.withWatermark("__ts", watermark)
    agg = (d.groupBy(F.window("__ts", window).alias("w"))
           .agg(F.kll_sketch_agg_double(v, F.lit(k)).alias("sk")))
    rows = [F.struct(F.lit(q).alias("q"),
                     F.kll_sketch_get_quantile_double("sk", F.lit(q))
                     .alias("value")) for q in quantiles]
    return (agg.select(F.col("w.start").alias("window_start"),
                       F.col("w.end").alias("window_end"),
                       F.explode(F.array(*rows)).alias("s"))
            .select("window_start", "window_end",
                    F.col("s.q").alias("q"), F.col("s.value").alias("value")))


def stream_image_dedup_sink(stream: DataFrame, id_col: str,
                            payload_col: str, path: str, checkpoint: str,
                            max_hamming: int = 3, method: str = "dhash",
                            use_codec: bool | None = None):
    """Streaming perceptual-image dedup: each micro-batch's payloads are
    pHash'd (Arrow-batched, map-only — payloads never shuffle and never
    enter the index), hamming-banded against the signatures accumulated
    from ALL previous batches, and split:

    - ``<path>/dups``: (id, dup_of, hamming) — batch images within
      ``max_hamming`` bits of an already-ingested image (within-batch
      near-dups resolve to the min-id member);
    - ``<path>/sigs`` + ``<path>/bands``: the 8-byte-per-image signature
      index, grown by the batch's survivors only; ``bands`` is
      hash-partitioned on ``__bp = bhash % N_BAND_PARTS`` and each batch
      reads only the partitions its own band hashes can join
      (PartitionFilters — the index scan prunes instead of growing with
      history).

    The image sibling of :func:`stream_near_dup_sink`, same replay
    contract: already-indexed ids are dropped first, so checkpoint
    recovery cannot double-ingest.  Per-batch cost is the decode pass
    plus the partition-pruned band equi-join; history is never
    re-decoded.  Index-state probes go through the Hadoop filesystem of
    ``path`` (HDFS/S3-correct), not the driver's local disk.
    """
    from dataqtor_spark.operators import multimodal as MM

    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        have_index = _fs_exists(spark, f"{path}/sigs")
        b = batch.dropDuplicates([id_col])
        if have_index:
            seen = spark.read.parquet(f"{path}/sigs").select(id_col)
            if _fs_exists(spark, f"{path}/dups"):
                seen = seen.unionByName(
                    spark.read.parquet(f"{path}/dups").select(id_col))
            b = b.join(seen, id_col, "left_anti")
        sig = (MM.image_phash(b, payload_col, id_col, method, use_codec)
               .withColumnRenamed("media_id", id_col).localCheckpoint())
        bnd = sig.select(
            F.col(id_col), F.col("phash"),
            F.explode(MM.phash_bands(F.col("phash"))).alias("c")
        ).select(id_col, "phash", "c.band", "c.bhash")
        ham = F.bit_count(F.col("__pa").bitwiseXOR(F.col("__pb")))
        cand = None
        if _fs_exists(spark, f"{path}/bands"):
            # prune the stored index to the partitions this batch's band
            # hashes can join (bounded ≤ N_BAND_PARTS values)
            bps = [r["__bp"] for r in
                   bnd.select(F.pmod(F.col("bhash"), F.lit(N_BAND_PARTS))
                              .alias("__bp")).distinct().collect()]
            old = (_pruned_band_read(spark, path, bps)
                   .withColumnRenamed(id_col, "__old")
                   .withColumnRenamed("phash", "__oph"))
            # drop stored rows for ids in THIS batch: they can only be
            # orphans from a crash between the bands and sigs appends
            # (indexed ids were already dropped by the seen filter) —
            # strictly stronger than a self-pair filter: it also stops a
            # replayed near-dup PAIR from mutually flagging each other
            # through their orphan rows and losing the whole cluster
            own = sig.select(F.col(id_col).alias("__old"))
            cand = (bnd.join(old.join(own, "__old", "left_anti"),
                             ["band", "bhash"])
                    .select(F.col(id_col).alias("id_a"),
                            F.col("__old").alias("id_b"),
                            F.col("phash").alias("__pa"),
                            F.col("__oph").alias("__pb")).distinct())
        wb = (MM.phash_near_pairs(sig, id_col, max_hamming=max_hamming)
              .join(sig.select(F.col(id_col).alias("id_a"),
                               F.col("phash").alias("__pa")), "id_a")
              .join(sig.select(F.col(id_col).alias("id_b"),
                               F.col("phash").alias("__pb")), "id_b")
              # within-batch pairs: the LARGER id defers to the smaller
              .select(F.greatest("id_a", "id_b").alias("id_a"),
                      F.least("id_a", "id_b").alias("id_b"),
                      "__pa", "__pb"))
        cand = wb if cand is None else cand.unionByName(wb).distinct()
        dups = (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .groupBy("id_a")
                .agg(F.min("id_b").alias("dup_of"),
                     F.min("hamming").alias("hamming"))
                .withColumnRenamed("id_a", id_col)
                .localCheckpoint())
        dups.write.mode("append").parquet(f"{path}/dups")
        survivors = (sig.join(dups.select(id_col), id_col, "left_anti")
                     .localCheckpoint())
        # bands BEFORE sigs: sigs is the replay gate (the left_anti seen
        # set), so the three appends must fail safe in write order.  A
        # crash after bands but before sigs leaves orphan band rows; the
        # recovery replay re-ingests the whole batch (its ids are not in
        # sigs), the self-pair filter above ignores the orphans, and the
        # candidate .distinct() absorbs the duplicated band rows.  The
        # former sigs-then-bands order instead half-indexed the batch:
        # signatures gated out of the replay with no band entries, so
        # every future near-duplicate of them was silently missed.
        (survivors.select(
            F.col(id_col), F.col("phash"),
            F.explode(MM.phash_bands(F.col("phash"))).alias("c"))
         .select(id_col, "phash", "c.band", "c.bhash")
         .withColumn("__bp", F.pmod(F.col("bhash"), F.lit(N_BAND_PARTS)))
         .write.mode("append").partitionBy("__bp")
         .parquet(f"{path}/bands"))
        survivors.write.mode("append").parquet(f"{path}/sigs")

    return (stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def ivf_ingest_batch(batch: DataFrame, epoch_id: int, path: str,
                     id_col: str, vec_col: str) -> bool:
    """One idempotent micro-batch append into a ``write_ivf_index``
    layout: assign with the STORED centroids (no retrain), append only
    the touched cluster directories, and record the epoch in a ledger so
    a checkpoint-recovery replay of the same epoch is a no-op.

    Returns True when the batch was ingested, False when the ledger
    already held the epoch.  The ledger lives inside the index
    (``<path>/_epoch_ledger/<epoch>``) and is keyed by Spark's
    ``batchId``, which is stable across recoveries of ONE checkpoint
    lineage — an index is owned by exactly one ingest stream (pair a new
    checkpoint with a rebuilt index).  O(1) bookkeeping per batch; no
    id-scan of the accumulated corpus.  Ledger probes use the Hadoop
    filesystem of ``path``, so an HDFS/S3 index keeps its ledger beside
    its data, not on the driver's local disk."""
    from dataqtor_spark.operators import ann as ANN

    spark = batch.sparkSession
    marker = f"{path}/_epoch_ledger/{int(epoch_id)}"
    if _fs_exists(spark, marker):
        return False
    ANN.append_to_ivf_index(batch.dropDuplicates([id_col]), path,
                            id_col, vec_col)
    _fs_mkdirs(spark, marker)
    return True


def ivfpq_ingest_batch(batch: DataFrame, epoch_id: int, path: str,
                       id_col: str, vec_col: str) -> bool:
    """One idempotent micro-batch append into a ``write_ivfpq_index``
    layout: encode with the STORED quantizer sidecars (no retrain),
    append only the touched cluster directories, epoch-ledger replay
    safety — the PQ-coded sibling of :func:`ivf_ingest_batch`, same
    one-checkpoint-lineage ledger contract."""
    from dataqtor_spark.operators import ann as ANN

    spark = batch.sparkSession
    marker = f"{path}/_epoch_ledger/{int(epoch_id)}"
    if _fs_exists(spark, marker):
        return False
    ANN.append_to_ivfpq_index(batch.dropDuplicates([id_col]), path,
                              id_col, vec_col)
    _fs_mkdirs(spark, marker)
    return True


def stream_ivfpq_ingest_sink(stream: DataFrame, path: str, checkpoint: str,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding"):
    """Streaming IVF-PQ index maintenance: each micro-batch of embeddings
    is PQ-encoded with the stored codebooks and lands in the partitioned
    code layout via :func:`ivfpq_ingest_batch`; readers keep serving
    through ``ann.ivfpq_topk_at_rest`` unchanged (new codes visible as
    their files land, same partition pruning).  The index must exist
    (``ann.write_ivfpq_index`` on a seed corpus); quantizer aging between
    rebuilds is the documented ``append_to_ivfpq_index`` trade."""
    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        ivfpq_ingest_batch(batch, epoch_id, path, id_col, vec_col)

    return (stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def stream_ivf_ingest_sink(stream: DataFrame, path: str, checkpoint: str,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding"):
    """Streaming ANN index maintenance: every micro-batch of embeddings
    lands in the partitioned IVF layout via :func:`ivf_ingest_batch`
    (stored-centroid assignment — one codegen'd expression, one shuffle
    on cluster id, epoch-ledger replay safety).  Readers keep using
    ``ann.ivf_topk_at_rest`` unchanged: new vectors become visible to
    probes as soon as their files land, through the same partition
    pruning.  The index must exist (``ann.write_ivf_index`` on a seed
    corpus) — the quantizer is fixed between rebuilds, the standard
    IVF freshness/recall trade documented on ``append_to_ivf_index``."""
    def _ingest(batch: DataFrame, epoch_id: int) -> None:
        ivf_ingest_batch(batch, epoch_id, path, id_col, vec_col)

    return (stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def late_arrival_audit(df: DataFrame, ts_col: str = "ts",
                       order_col: str = "event_id",
                       key_col: str = "user_id",
                       group_col: str = "event_type",
                       watermark: str = "1 hour",
                       scope: str = "global") -> DataFrame:
    """What WOULD a watermark drop?  Batch audit of event-time lateness
    against arrival order.  Returns per-``group_col``
    ``(n_events, n_late, late_frac)`` — the number to check BEFORE
    picking a production watermark.

    ``scope="global"`` (the default) mirrors Structured Streaming's
    actual rule: the watermark is a single GLOBAL high-water mark (max
    event time seen so far across ALL keys), so an event is late iff its
    event time trails the global prefix max of everything that arrived
    before it by more than ``watermark``.  Because Spark only advances
    the watermark at micro-batch boundaries (never mid-batch), the
    row-level prefix max is the watermark's upper envelope: ``n_late``
    is a tight UPPER bound on real drops, exact in the one-row-batch
    limit, and real batching can only drop fewer.  The global prefix max
    runs through :func:`ordered.ordered_running_max` — the two-level
    range-partitioned scan, never a data-sized single-partition window.

    ``scope="per_key"`` measures lateness against each ``key_col``'s OWN
    arrival-order prefix max instead — useful for auditing per-key
    session/state timeouts, but NOT the watermark rule (a key whose own
    history lags the global max under-counts drops)."""
    interval = F.expr(f"INTERVAL {watermark}")
    if scope == "per_key":
        from pyspark.sql.window import Window

        w = (Window.partitionBy(key_col).orderBy(order_col)
             .rowsBetween(Window.unboundedPreceding, -1))
        hwm = df.withColumn("__hwm", F.max(F.col(ts_col)).over(w))
    elif scope == "global":
        from dataqtor_spark.operators.ordered import ordered_running_max

        hwm = ordered_running_max(df, [F.col(order_col)], F.col(ts_col),
                                  "__hwm", exclusive=True)
    else:
        raise ValueError(f"scope must be 'global' or 'per_key', got {scope!r}")
    late = (F.col(ts_col) < F.col("__hwm") - interval).cast("int")
    return (hwm.withColumn("__late", F.coalesce(late, F.lit(0)))
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("__late").cast("long").alias("n_late"),
                 F.round(F.sum("__late")
                         / F.count(F.lit(1)), 4).alias("late_frac")))


def stream_psi_sink(stream: DataFrame, value_col: str, baseline_path: str,
                    path: str, checkpoint: str, bins: int = 10):
    """Streaming drift monitor: every micro-batch's ``value_col``
    population is PSI-compared against a FIXED baseline parquet (written
    offline — last release's distribution, the training snapshot, …) and
    the per-bin integer report (:func:`profile.psi_drift_report` —
    all-integer hashed surface) lands under ``<path>/drift`` partitioned
    by ``__batch``.  An alerting rule thresholds ``psi_e9`` (industry
    folklore: 0.1 = drifting, 0.25 = act ⇒ 10⁸ and 2.5·10⁸ at e9 scale).

    Replay-safe: the batch id is the partition key and a replayed batch
    dynamically overwrites ITS OWN partition only — idempotent without an
    epoch ledger.  Per batch: one min/max pass over baseline ∪ batch and
    two `bins`-key groupBys; the baseline re-reads per batch (cache it
    upstream if it is large)."""
    from dataqtor_spark.operators.profile import psi_drift_report

    def _one(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        base = spark.read.parquet(baseline_path)
        rep = psi_drift_report(base, batch, value_col, bins=bins)
        (rep.withColumn("__batch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__batch").parquet(f"{path}/drift"))

    return (stream.writeStream.foreachBatch(_one)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())
