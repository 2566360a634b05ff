"""SparkSession factory and ingestion.

The reference loads exactly one mutable pandas table per uploaded file and
caches it across reruns (/root/reference/home.py:55-62).  Our equivalent is:
read → freeze schema → materialize an explicit ``__row_id`` → (optionally)
persist.  All downstream operators are pure ``DataFrame -> DataFrame``
transforms; "in-place mutation" of the reference becomes lineage.

Scale notes (100 TB target):
- AQE is on: runtime coalescing, skew-join splitting, dynamic broadcast.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here but
  on a real cluster should be ~2-3x total executor cores; AQE coalesces down.
- Ingestion never infers schema twice: parquet carries schema; CSV inference
  is a one-time sampling pass, after which the StructType is frozen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROW_ID = "__row_id"


def get_spark(app_name: str = "dataqtor_spark", master: str | None = None) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism.  Session timezone is
    pinned to UTC so timestamp values are engine-independent (the DuckDB
    oracle returns naive/UTC datetimes).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet carries TIMESTAMP(NANOS); read as long ns
        # and convert to micros at ingestion (Spark timestamps are micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over ``rows`` (tuples in ``schema``'s field order, or a
    ``pyarrow.Table`` with one column per field, in that order) built on
    the driver, handed to Spark as one Arrow table.

    ``schema`` is a ``StructType`` or a DDL string; the result's names,
    types and nullability are exactly ``schema``'s, and empty ``rows``
    give an empty frame.  ``createDataFrame`` over Python rows would
    pickle them into a ``PythonRDD``, so every job that later reads the
    relation runs Python worker tasks.  The Arrow table stays in the JVM
    (a local relation up to ``spark.sql.execution.arrow.
    localRelationThreshold``, so collecting it runs no job) and no Python
    worker appears in its lineage.  Spark Connect takes the same table.
    Naive datetimes of a ``timestamp`` field (or an array of them) are read
    in the Python process's local zone, as ``createDataFrame`` reads them
    and ``collect`` returns them; Arrow would read them as UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(
            rows.rename_columns(arrow.names).cast(arrow), schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array([_to_utc(v, f.dataType) for v in c]
                  if _has_timestamp(f.dataType) else c, type=a.type)
         for c, f, a in zip(cols, schema, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def _has_timestamp(t) -> bool:
    from pyspark.sql.types import ArrayType, TimestampType
    return isinstance(t, TimestampType) or (
        isinstance(t, ArrayType) and _has_timestamp(t.elementType))


def _to_utc(v, t):
    """``v`` with each datetime of ``timestamp`` type ``t`` moved to UTC, a
    naive one read in the local zone.  (``pa.array`` with a given type
    drops an aware datetime's offset, so values must already be in UTC.)"""
    from datetime import timezone

    from pyspark.sql.types import ArrayType
    if v is None:
        return None
    if isinstance(t, ArrayType):
        return [_to_utc(x, t.elementType) for x in v]
    return v.astimezone(timezone.utc)


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (session tz is UTC, so the
    cast is value-preserving).  Parquet naive timestamps (isAdjustedToUTC =
    false) read as NTZ under Spark's inferTimestampNTZ default; downstream
    streaming watermarks and ``unix_micros`` require TIMESTAMP, and the
    DuckDB oracle compares naive-UTC values either way."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, normalizing types regardless of session config.

    Driver-generated testdata has varied across rounds: ``events.parquet``
    has carried parquet TIMESTAMP(NANOS) (unreadable natively →
    PARQUET_TYPE_ILLEGAL, so we flip the runtime conf to read longs of
    nanos and convert), and naive TIMESTAMP(MICROS) (reads as
    TIMESTAMP_NTZ).  Both normalize to a micros TIMESTAMP here, matching
    DuckDB's µs timestamp comparisons.  Setting confs here (not only at
    session build) makes the loader work in ANY caller-provided
    SparkSession, including the driver's.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # timestamps are compared against DuckDB's naive-UTC values, and the
    # NTZ->TIMESTAMP cast below is only value-preserving under UTC; pin the
    # session TZ for EVERY table so a caller session built in another zone
    # hashes identically and interval math never drifts across DST.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name != "events":
        return _normalize_timestamps(spark.read.parquet(path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the standard test tables from a scale-factor directory."""
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        p = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(p):
            out[n] = read_table(spark, sf_dir, n)
    return out


def parallelize(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's parallelism.

    The driver testdata ships one row group per file, so file scans are
    single-task; CPU-heavy projections (mask tables, shingling, hashing)
    must redistribute first or they serialize on one core.  On real
    multi-file/multi-row-group inputs this is usually a no-op decision —
    call it only in front of expression-dense stages where one shuffle of
    the (narrow) input buys full-width compute.
    """
    from dataqtor_spark.operators.ordered import (
        _default_parallelism, _spark_context_or_none)

    n = partitions or _default_parallelism(df.sparkSession)
    if _spark_context_or_none(df.sparkSession) is None:
        # Spark Connect: no df.rdd to probe the current partition count;
        # AQE coalesces the (narrow) exchange back down if it was already
        # wide enough, so repartition unconditionally
        return df.repartition(n)
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def with_row_id(df: DataFrame, order_by: list[str] | None = None) -> DataFrame:
    """Materialize an explicit ``__row_id`` long column.

    The reference's operators depend on stable pandas row labels
    (/root/reference/home.py:1373-1399,1406-1468).  Spark rows have no
    identity, so we add one:

    - ``order_by`` given → dense 0-based ids in that ordering via the
      range-partitioned two-level row number (``operators.ordered.
      ordered_prefix``): fully reproducible across runs/clusters (pass a
      total order — include a unique key — or ties land arbitrarily), and
      with NO single-partition sort: the only data-sized exchange is the
      ``repartitionByRange``, so the reproducible path survives 100 TB.
      Side effect: ``ordered_prefix`` pins its range exchange with a lazy
      checkpoint (lineage truncation): a reliable ``checkpoint`` iff the
      session has a checkpoint dir, else ``localCheckpoint``
      (executor-pinned blocks) — the one rule of
      ``operators.ordered.barrier``.  On Spark Connect, which has no
      driver SparkContext, it is always ``localCheckpoint``.
    - ``order_by`` None → ``monotonically_increasing_id()``: no shuffle, no
      sort; stable for a given materialized snapshot (same file layout ⇒
      same ids), which is exactly the reference's "one cached upload"
      contract.  Not reproducible across repartitionings — document the
      trade, don't pay a 100 TB sort for ids nobody asked to be dense.
    """
    if ROW_ID in df.columns:
        return df
    if order_by:
        from dataqtor_spark.operators.ordered import ordered_prefix

        out = ordered_prefix(df, [F.col(c) for c in order_by],
                             out_rn=ROW_ID)
        return out.withColumn(ROW_ID, F.col(ROW_ID) - F.lit(1))
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def ingest(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    row_id_order: list[str] | None = None,
    persist: bool = False,
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Read a dataset and materialize row identity.

    Mirrors the reference's upload step (excel-then-csv fallback at
    /root/reference/home.py:55-62) with Spark-native sources.  ``fmt`` is
    inferred from the extension when omitted.  ``xlsx`` with a ``schema``
    parses on the EXECUTORS (``sources.xlsx.read_excel_distributed``:
    binaryFile → stdlib zip/XML parse in mapInPandas — one task per
    workbook, so upload fleets scale); without a schema it falls back to
    the driver-side pandas hop (full-fidelity openpyxl path, small files
    only).

    ``schema`` (DDL string) skips inference and enables PERMISSIVE
    malformed-row capture for csv/json (pass ``mode`` +
    ``columnNameOfCorruptRecord`` in options).
    """
    if fmt is None:
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        fmt = {"xlsx": "excel", "xls": "excel", "pq": "parquet"}.get(ext, ext or "parquet")
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":
        df = spark.read.orc(path)
    elif fmt == "csv":
        r = spark.read.options(header=True, **options)
        r = r.schema(schema) if schema else r.option("inferSchema", True)
        df = r.csv(path)
    elif fmt == "json":
        df = spark.read.options(**options).json(path)
    elif fmt == "excel":
        if schema:
            from dataqtor_spark.sources.xlsx import read_excel_distributed

            df = read_excel_distributed(spark, path, schema, **options)
        else:
            import pandas as pd  # driver-side; small files only

            df = spark.createDataFrame(pd.read_excel(path, **options))
    else:
        raise ValueError(f"unsupported format: {fmt}")
    df = with_row_id(df, order_by=row_id_order)
    if persist:
        df = df.persist()
    return df


def write_dataset(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite",
                  partition_by: list[str] | None = None, **options) -> None:
    """Sink mirror of the reference's xlsx download (downloader.py:6-21).

    Parquet/CSV are the distributed paths; ``excel`` collects to the driver
    (only valid for small, final results — the reference's whole-table
    download model).  ``partition_by`` lays the data out hive-partitioned —
    at 100 TB a filter on the partition column prunes directories before a
    single row group is opened (PartitionFilters in the scan plan).
    """
    out = df.drop(ROW_ID) if ROW_ID in df.columns else df
    if fmt == "excel":
        out.toPandas().to_excel(path, index=False)
        return
    w = out.write.mode(mode).options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 32, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Persist a table bucketed (and optionally sorted) on its join key.

    Bucketing is the at-rest answer to repeated large-to-large joins: two
    tables bucketed on the same key with the same bucket count join with
    ZERO shuffle (SortMergeJoin reads co-located buckets directly).  At
    100 TB, paying one write-time shuffle to remove the join-time shuffle
    from every downstream query is the single biggest join optimization
    available.  Requires a metastore table (bucket metadata lives in the
    catalog, not the parquet files).
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def co_located_join(spark: SparkSession, left_table: str, right_table: str,
                    on: list[str], how: str = "inner",
                    salt_threshold: float | None = None,
                    n_salt: int = 16) -> DataFrame:
    """Join two same-bucketed catalog tables; with matching bucketing the
    physical plan contains no Exchange on either side.

    ``salt_threshold`` (opt-in) arms the hot-key guard for single-column
    joins: when the left side's hottest key holds ≥ that fraction of its
    rows (one ``freqItems`` pass + a bounded aggregate —
    ``skew.hot_key_share``), the join is rewritten through
    ``skew.salted_join`` over ``n_salt`` reducers instead.  Salting
    re-shuffles both sides (the bucket co-location is deliberately given
    up — with a 90 %-hot key the bucketed plan serializes on one reducer
    anyway, which is strictly worse).  Results are row-identical."""
    left, right = spark.table(left_table), spark.table(right_table)
    if salt_threshold is not None and len(on) == 1:
        from dataqtor_spark.operators.skew import join_with_skew_guard

        return join_with_skew_guard(left, right, on[0], on[0], how=how,
                                    n_salt=n_salt,
                                    salt_threshold=salt_threshold)
    return left.join(right, on, how)


def compact_dataset(spark: SparkSession, path: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    partition_by: list[str] | None = None) -> int:
    """Small-file compaction: rewrite a parquet dataset into ~target-size
    files.  Returns the new file count.

    Long-lived ingestion (streaming foreachBatch sinks, frequent small
    appends) accretes files far below the scan-efficient size; a 100 TB
    table in 4 MB files pays ~25k× the open/footer overhead and defeats
    row-group pruning.  The rewrite sizes the partition count from the
    dataset's actual on-disk bytes, round-robins into that many writers
    (``repartition(n)``, or per-partition when ``partition_by`` is set so
    files never span partition values), writes beside the original, then
    atomically swaps directories.  On an object store, write to a new
    prefix and swap a pointer (catalog location / manifest) instead of
    renaming.
    """
    import math
    import shutil

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".__compact_tmp"
    w = df.repartition(n, *partition_by) if partition_by else df.repartition(n)
    writer = w.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    old = path.rstrip("/") + ".__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(1 for root, _d, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def register_tables(spark: SparkSession, sf_dir: str,
                    names: list[str] | None = None) -> list[str]:
    """Create temp views for the standard tables so users can work in
    pure ``spark.sql`` (the DuckDB oracle queries in this repo then run
    near-verbatim against Spark too).  Returns the registered names."""
    out = []
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
        out.append(name)
    return out
