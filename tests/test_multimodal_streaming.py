import pyspark.sql.functions as F
import pytest

from dataqtor_spark.operators import multimodal as MM
from dataqtor_spark.streaming import profiler as SP

SF_DIR = "/root/testdata/sf0.001"


def _media_df(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )


def test_media_metadata_expressions(spark):
    df = MM.attach_media_metadata(_media_df(spark))
    rows = df.limit(5).collect()
    for r in rows:
        assert r["byte_size"] > 0
        assert len(r["content_sha256"]) == 64
        assert r["format"] == "unknown"  # text payloads have no magic bytes
    # magic sniffing: synthesize a JPEG/PNG prefix
    jpg = spark.createDataFrame([(1, bytearray(b"\xff\xd8\xff\xe0rest"))],
                                "media_id long, payload binary")
    assert MM.attach_media_metadata(jpg).collect()[0]["format"] == "jpeg"
    png = spark.createDataFrame([(2, bytearray(b"\x89PNG\r\n"))],
                                "media_id long, payload binary")
    assert MM.attach_media_metadata(png).collect()[0]["format"] == "png"


def test_decode_image_features_plumbing(spark):
    # use_codec=False: the deterministic fake path on every row
    df = _media_df(spark).limit(20)
    out = MM.decode_image_features(df, use_codec=False)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert 64 <= r["width"] <= 64 + 255 * 4
        assert r["mode"] in ("RGB", "RGBA", "L")
        assert len(r["feature"]) == 16
        assert all(0 <= x <= 1 for x in r["feature"])
    # deterministic: same payload → same features
    again = MM.decode_image_features(df, use_codec=False).collect()
    assert {r["media_id"]: r["width"] for r in rows} == \
        {r["media_id"]: r["width"] for r in again}


def _tiny_png(width, height, rgb):
    """A valid single-color RGB PNG built with stdlib only (zlib+struct)."""
    import struct
    import zlib

    def chunk(tag, data):
        body = tag + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(rgb) * width for _ in range(height))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_real_image_decode_on_the_stdlib_tier(spark):
    # real tiny PNGs through the same schema contract as the fake path
    imgs = spark.createDataFrame(
        [(1, bytearray(_tiny_png(6, 4, (255, 0, 0)))),
         (2, bytearray(_tiny_png(3, 5, (0, 128, 0))))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r
            for r in MM.decode_image_features(imgs, use_codec=True).collect()}
    assert rows[1]["width"] == 6 and rows[1]["height"] == 4
    assert rows[2]["width"] == 3 and rows[2]["height"] == 5
    assert rows[1]["mode"] == "RGB"
    assert len(rows[1]["feature"]) == 16
    # solid red -> every thumbnail pixel has the same luma
    assert len(set(rows[1]["feature"])) == 1
    resized = {r["media_id"]: r
               for r in MM.resize_images(imgs, target=(8, 8),
                                         use_codec=True).collect()}
    assert resized[1]["width"] == 8 and resized[1]["height"] == 8
    # re-encoded payload is a real PNG, and decodes back at the target size
    assert bytes(resized[1]["payload"]).startswith(b"\x89PNG")
    back = {r["media_id"]: r for r in MM.decode_image_features(
        spark.createDataFrame(
            [(1, resized[1]["payload"])], "media_id long, payload binary"),
        use_codec=True).collect()}
    assert back[1]["width"] == 8 and back[1]["height"] == 8


def _tiny_wav(seconds, rate, freq, channels=1, amplitude=0.5):
    """Integer-PCM WAV built with stdlib wave — a pure sine tone whose
    RMS is analytically amplitude/sqrt(2)."""
    import io
    import math
    import struct
    import wave

    n = int(seconds * rate)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack("<h", int(32767 * amplitude
                                  * math.sin(2 * math.pi * freq * i / rate)))
            * channels
            for i in range(n))
        w.writeframes(frames)
    return buf.getvalue()


def test_real_wav_decode(spark):
    # 0.25 s of a 440 Hz sine at 16 kHz: duration/rate/channels exact,
    # RMS = amplitude/sqrt(2) (sine identity) within discretization error
    wav1 = _tiny_wav(0.25, 16000, 440.0, channels=1, amplitude=0.5)
    wav2 = _tiny_wav(0.5, 8000, 220.0, channels=2, amplitude=0.25)
    df = spark.createDataFrame(
        [(1, bytearray(wav1)), (2, bytearray(wav2)),
         (3, bytearray(b"not audio at all"))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r
            for r in MM.extract_audio_features(df).collect()}
    assert rows[1]["duration_ms"] == 250
    assert rows[1]["sample_rate"] == 16000 and rows[1]["n_channels"] == 1
    assert rows[1]["rms"] == pytest.approx(0.5 / 2 ** 0.5, rel=1e-2)
    assert rows[2]["duration_ms"] == 500
    assert rows[2]["sample_rate"] == 8000 and rows[2]["n_channels"] == 2
    assert rows[2]["rms"] == pytest.approx(0.25 / 2 ** 0.5, rel=1e-2)
    # the WAV payload also sniffs as RIFF in the pure-expression metadata
    meta = {r["media_id"]: r["format"]
            for r in MM.attach_media_metadata(df).collect()}
    assert meta[1] == "riff"
    # non-audio payloads fall back to the deterministic fake, and
    # use_codec=False forces it for WAVs too (oracle parity path)
    fake = {r["media_id"]: r for r in
            MM.extract_audio_features(df, use_codec=False).collect()}
    assert fake[1]["duration_ms"] != 250 or fake[1]["sample_rate"] != 16000
    assert rows[3] == fake[3]


def test_dirty_payloads_fall_back_instead_of_failing(spark):
    # a corpus with null/corrupt/non-image rows must not kill the job on
    # the real-codec path: bad rows degrade per-row to the fake
    imgs = spark.createDataFrame(
        [(1, bytearray(_tiny_png(4, 4, (1, 2, 3)))),
         (2, bytearray(b"")),                 # empty payload
         (3, bytearray(b"not an image")),     # corrupt
         (4, None)],                          # NULL payload
        "media_id long, payload binary")
    rows = {r["media_id"]: r
            for r in MM.decode_image_features(imgs, use_codec=True).collect()}
    assert rows[1]["width"] == 4 and rows[1]["height"] == 4
    assert set(rows) == {1, 2, 3, 4}          # every row survived
    fake = {r["media_id"]: r
            for r in MM.decode_image_features(imgs, use_codec=False).collect()}
    assert rows[3] == fake[3]                 # bad row == fake path row
    resized = {r["media_id"]: r
               for r in MM.resize_images(imgs, target=(8, 8),
                                         use_codec=True).collect()}
    assert bytes(resized[1]["payload"]).startswith(b"\x89PNG")
    assert resized[1]["width"] == 8 and resized[1]["height"] == 8
    assert bytes(resized[3]["payload"]) == b"not an image"  # passthrough
    # fallback rows pass through with the declared target dims, and
    # NULL payloads stay NULL
    assert resized[3]["width"] == 8 and resized[3]["height"] == 8
    assert resized[4]["payload"] is None
    # compressed/undecodable WAV container: RIFF/WAVE sniff passes but
    # wave.open raises -> per-row fake, not a job failure
    bogus_wav = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"\x01" * 32
    adf = spark.createDataFrame([(9, bytearray(bogus_wav))],
                                "media_id long, payload binary")
    got = MM.extract_audio_features(adf).collect()
    want = MM.extract_audio_features(adf, use_codec=False).collect()
    assert got == want


def test_use_codec_true_is_the_default_ladder(spark):
    # use_codec has two behaviours on every op that takes it: False is
    # the fake tier, None (the default) and True are stdlib then fake
    df = spark.createDataFrame(
        [(1, bytearray(_tiny_png(5, 3, (9, 80, 200)))),
         (2, bytearray(_tiny_wav(0.1, 8000, 440.0))),
         (3, bytearray(_tiny_avi([b"frame0", b"frame1"], 40000))),
         (4, bytearray(b"x")), (5, None)],
        "media_id long, payload binary")
    for op in (MM.decode_image_features, MM.resize_images, MM.image_phash,
               MM.sample_video_frames, MM.extract_audio_features,
               MM.audio_fingerprint):
        forced = sorted(op(df, use_codec=True).collect())
        assert forced == sorted(op(df).collect()), op.__name__
        # the stdlib tier answered: the fake tier's rows differ
        assert forced != sorted(op(df, use_codec=False).collect()), \
            op.__name__
    # video needs no codec library: the AVI demux is stdlib byte
    # arithmetic, and a non-AVI payload degrades per-row to the fake
    assert MM.sample_video_frames(df, use_codec=True).count() >= 1


def test_resize_and_frame_sampling(spark):
    df = _media_df(spark).limit(10)
    resized = MM.resize_images(df, target=(128, 128),
                               use_codec=False).collect()
    assert all(r["width"] == 128 and r["height"] == 128 for r in resized)
    frames = MM.sample_video_frames(df, every_ms=500, max_frames=4)
    rows = frames.collect()
    assert len(rows) >= 10  # ≥1 frame per input
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append(r)
    for mid, fr in by_id.items():
        idx = sorted(f["frame_index"] for f in fr)
        assert idx == list(range(len(idx)))
        assert all(f["ts_ms"] == f["frame_index"] * 500 for f in fr)
        assert len(fr) <= 4


def test_windowed_agg_batch(spark, tables):
    ev = tables["events"]
    out = SP.windowed_event_agg(ev, window="1 hour").collect()
    assert sum(r["n_events"] for r in out) == ev.count()
    for r in out:
        assert (r["window_end"] - r["window_start"]).total_seconds() == 3600


def test_streaming_equals_batch(spark, tables, tmp_path):
    # write events as a multi-file stream source, run the SAME aggregation
    # through Structured Streaming, compare with the batch result
    ev = tables["events"]
    src = str(tmp_path / "events_stream")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    batch = {(r["window_start"], r["window_end"], r["event_type"]):
             (r["n_events"], r["total_value"])
             for r in SP.windowed_event_agg(spark.read.parquet(src)).collect()}

    stream = SP.stream_events(spark, src, watermark="1 minute")
    result = SP.windowed_event_agg(stream)
    table = SP.run_stream_to_memory(result, "stream_agg_test", spark)
    streamed = {(r["window_start"], r["window_end"], r["event_type"]):
                (r["n_events"], r["total_value"]) for r in table.collect()}
    assert streamed == batch


def test_windowed_rule_scores(spark, tables):
    from dataqtor_spark.operators import rules as R

    ev = tables["events"]
    rules = [R.rule_compare("value", "<", 200.0, name="value_small")]
    out = SP.windowed_rule_scores(ev, "ts", rules, window="6 hours").collect()
    assert all(0 <= r["dq_score"] <= 100 for r in out)
    assert sum(r["total_records"] for r in out) == ev.count()


def test_sessionize_batch(spark, tables):
    out = SP.sessionize(tables["events"], "ts", "user_id", "30 minutes").collect()
    ev_count = tables["events"].count()
    assert sum(r["n_events"] for r in out) == ev_count
    # session invariant: end - start >= gap (single-event session == gap)
    for r in out:
        assert (r["session_end"] - r["session_start"]).total_seconds() >= 1800


def test_stream_dedup_bounded_state(spark, tables, tmp_path):
    # duplicate every event, write as a multi-file stream source, dedup on
    # event_id within the watermark; must equal the exact distinct count
    ev = tables["events"].limit(2000)
    dup = ev.unionByName(ev)
    src = str(tmp_path / "events_dup")
    dup.repartition(4).write.mode("overwrite").parquet(src)

    n_distinct = ev.select("event_id").distinct().count()

    # the files are randomly partitioned, so each micro-batch spans the
    # whole 30-day range — a short watermark would mark later batches
    # "late" and drop them (correct streaming semantics, wrong test).  A
    # watermark beyond the replayed span makes the run deterministic.
    stream = SP.stream_events(spark, src, watermark="90 days")
    deduped = SP.stream_dedup(stream, ["event_id"], "ts", "90 days")
    q = (deduped.writeStream.format("memory").queryName("dedup_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("dedup_test").count()
    assert got == n_distinct

    # batch parity path
    assert SP.stream_dedup(dup, ["event_id"]).count() == n_distinct


def test_custom_stateful_running_stats(spark, tables, tmp_path):
    from dataqtor_spark.streaming import stateful as ST

    ev = tables["events"].limit(1000)
    src = str(tmp_path / "events_state")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    batch = {r["user_id"]: (r["n"], r["s"]) for r in
             spark.read.parquet(src).groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("value").alias("s")).collect()}

    stream = SP.stream_events(spark, src, watermark="90 days")
    out = ST.running_event_stats(stream, "user_id", "value")
    q = (out.writeStream.format("memory").queryName("state_test")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # latest emission per key == final running state
    rows = spark.table("state_test").collect()
    latest = {}
    for r in rows:
        prev = latest.get(r["user_id"])
        if prev is None or r["n_events"] > prev[0]:
            latest[r["user_id"]] = (r["n_events"], r["total_value"])
    assert set(latest) == set(batch)
    for k, (n, s) in batch.items():
        assert latest[k][0] == n
        assert abs(latest[k][1] - (s or 0.0)) < 1e-6


def test_audio_features_plumbing(spark):
    df = _media_df(spark).limit(15)
    rows = MM.extract_audio_features(df).collect()
    assert len(rows) == 15
    for r in rows:
        assert 500 <= r["duration_ms"] <= 500 + 65535
        assert r["sample_rate"] in (8000, 16000, 22050, 44100, 48000)
        assert r["n_channels"] in (1, 2)
        assert 0.0 <= r["rms"] <= 1.0
    again = MM.extract_audio_features(df).collect()
    assert {r["media_id"]: r["duration_ms"] for r in rows} == \
        {r["media_id"]: r["duration_ms"] for r in again}


def test_windowed_null_profile_batch_and_stream(spark, tables, tmp_path):
    ev = tables["events"].withColumn(
        "value", F.when(F.col("event_id") % 5 == 0, None)
                  .otherwise(F.col("value")))
    out = SP.windowed_null_profile(ev, "ts", ["value", "user_id"],
                                   window="1 day").collect()
    assert sum(r["total_records"] for r in out) == ev.count()
    assert sum(r["nulls_value"] for r in out) == \
        ev.filter(F.col("value").isNull()).count()
    assert all(r["nulls_user_id"] == 0 for r in out)

    # same aggregation through readStream
    src = str(tmp_path / "events_np")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    stream = SP.stream_events(spark, src, watermark="90 days")
    res = SP.windowed_null_profile(stream, "ts", ["value"], window="1 day")
    table = SP.run_stream_to_memory(res, "np_test", spark)
    streamed = {(r["window_start"]): (r["total_records"], r["nulls_value"])
                for r in table.collect()}
    batch = {(r["window_start"]): (r["total_records"], r["nulls_value"])
             for r in SP.windowed_null_profile(
                 spark.read.parquet(src), "ts", ["value"], window="1 day").collect()}
    assert streamed == batch


def test_windowed_quantile_sketch_batch_and_stream(spark, tables, tmp_path):
    import math

    ev = tables["events"]
    out = SP.windowed_quantile_sketch(ev, "ts", "value", "1 day",
                                      quantiles=(0.5,)).collect()
    # below capacity KLL quantiles are exact order statistics: the p50 of
    # each window is an actual value from that window
    vals = {r["window_start"]: r["value"] for r in out}
    assert all(math.isfinite(v) for v in vals.values())

    src = str(tmp_path / "events_q")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    stream = SP.stream_events(spark, src, watermark="90 days")
    res = SP.windowed_quantile_sketch(stream, "ts", "value", "1 day",
                                      quantiles=(0.5,), watermark=None)
    table = SP.run_stream_to_memory(res, "q_test", spark)
    streamed = {(r["window_start"], r["q"]): r["value"]
                for r in table.collect()}
    batch = {(r["window_start"], r["q"]): r["value"]
             for r in SP.windowed_quantile_sketch(
                 spark.read.parquet(src), "ts", "value", "1 day",
                 quantiles=(0.5,)).collect()}
    assert streamed == batch


def test_stream_checkpoint_recovery_exactly_once(spark, tables, tmp_path):
    # file sink + checkpoint: restarting over a grown source must process
    # only the new files (exactly-once), never re-emitting the old batch
    ev = tables["events"].limit(1000)
    first, second = (ev.filter(F.col("event_id") % 2 == 0),
                     ev.filter(F.col("event_id") % 2 == 1))
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    first.repartition(2).write.mode("append").parquet(src)

    def run_once():
        stream = SP.stream_events(spark, src, watermark="90 days")
        q = (stream.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == first.count()

    second.repartition(2).write.mode("append").parquet(src)
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == ev.count()                      # nothing re-emitted
    assert out.select("event_id").distinct().count() == ev.count()


def test_streaming_training_pipeline(spark, tables, tmp_path):
    # the t05 pipeline as a stream: stateless quality+langid stages, then
    # watermark-bounded fingerprint dedup — batch and stream must agree
    from dataqtor_spark.operators import textstats as TX

    docs = tables["documents"].withColumn(
        "ts", F.timestamp_seconds(1700000000 + F.col("doc_id") * 60))
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src)

    def pipeline(df):
        q = TX.add_quality(df).filter(F.col("n_tokens") >= 5)
        lng = TX.add_lang_id_tokens(q).filter(F.col("lang_pred") != "und")
        fp = lng.select("doc_id", "ts", TX.fingerprint("text").alias("fp"))
        return SP.stream_dedup(fp, ["fp"], "ts", "365 days")

    batch_n = pipeline(spark.read.parquet(src)).count()

    static = spark.read.parquet(src)
    stream = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "365 days"))
    q = (pipeline(stream).writeStream.format("memory")
         .queryName("train_pipe").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("train_pipe").count() == batch_n


def test_stream_decontaminate_equals_batch(spark, tables, tmp_path):
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import textstats as TX

    docs = tables["documents"]
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)

    batch = {r["doc_id"]: (r["shared_shingles"], r["contaminated"])
             for r in TX.decontaminate(corpus, bench, "doc_id", "text", 5).collect()}
    # static-frame run of the streaming operator: identical semantics
    static = {r["doc_id"]: (r["shared_shingles"], r["contaminated"])
              for r in SP.stream_decontaminate(corpus, bench, "doc_id", "text", 5).collect()}
    assert static == batch

    # genuine readStream run (stateless: no watermark needed, append mode)
    src = str(tmp_path / "docs_stream")
    corpus.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(corpus.schema).parquet(src))
    flagged = SP.stream_decontaminate(stream, bench, "doc_id", "text", 5)
    q = (flagged.writeStream.format("memory").queryName("decontam_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {r["doc_id"]: (r["shared_shingles"], r["contaminated"])
                for r in spark.sql("SELECT * FROM decontam_test").collect()}
    assert streamed == batch


def test_interval_join_batch_equals_stream(spark, tables, tmp_path):
    ev = tables["events"]
    left = ev.filter(F.col("event_type") == "signup").select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    batch = {(r["user_id"], r["left_event_id"], r["right_event_id"])
             for r in SP.stream_interval_join(left, right, "user_id",
                                              within="1 hour").collect()}

    src = str(tmp_path / "iv_events")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    # watermark longer than the replayed span: file replay is unordered, so
    # a short watermark would drop whole batches as late (see gotchas)
    s = SP.stream_events(spark, src, watermark="90 days")
    sl = s.filter(F.col("event_type") == "signup").select("user_id", "ts", "event_id")
    sr = s.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    joined = SP.stream_interval_join(sl, sr, "user_id", within="1 hour",
                                     watermark="90 days")
    q = (joined.writeStream.format("memory").queryName("iv_join_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["user_id"], r["left_event_id"], r["right_event_id"])
                for r in spark.table("iv_join_test").collect()}
    assert streamed == batch
    assert len(batch) > 0


def test_incremental_dedup_sink_exactly_once_by_key(spark, tables, tmp_path):
    ev = tables["events"].limit(200)
    # duplicate every row; replay as multiple files
    src = str(tmp_path / "dup_events")
    ev.unionAll(ev).repartition(6).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "dedup_sink")
    ck = str(tmp_path / "dedup_ck")

    stream = SP.stream_events(spark, src, watermark="90 days")
    q = SP.incremental_dedup_sink(stream, ["event_id"], sink, ck)
    q.awaitTermination()
    got = spark.read.parquet(sink)
    assert got.count() == got.select("event_id").distinct().count() == ev.count()

    # re-running over the same source appends nothing new (upsert semantics)
    stream2 = SP.stream_events(spark, src, watermark="90 days")
    q2 = SP.incremental_dedup_sink(stream2, ["event_id"], sink,
                                   str(tmp_path / "dedup_ck2"))
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == ev.count()


def test_distinct_profile_approx_within_tolerance(spark, tables):
    from dataqtor_spark.operators import profile as P

    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    exact = {r["column"]: r["n_distinct"]
             for r in P.distinct_profile(tables["orders"], cols).collect()}
    approx = {r["column"]: r["n_distinct"]
              for r in P.distinct_profile(tables["orders"], cols,
                                          approx=True, rsd=0.05).collect()}
    for c in cols:
        assert abs(approx[c] - exact[c]) <= max(3, 0.15 * exact[c])


def test_scd2_sink_converges_to_batch_rebuild(spark, tables, tmp_path):
    from pyspark.sql import functions as F

    from dataqtor_spark.operators import scd as SCD

    ev = tables["events"].select("user_id", "event_type", "ts", "event_id")
    cuts = ["2024-01-08", "2024-01-20"]
    periods = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    sink = str(tmp_path / "scd2_dim")
    for i, p in enumerate(periods):
        src = str(tmp_path / f"changes_{i}")
        p.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = SP.scd2_sink(stream, "user_id", "ts", ["event_type"], sink,
                         str(tmp_path / f"ck_{i}"), tiebreak_col="event_id")
        q.awaitTermination()

    want = SCD.scd2_from_history(ev, "user_id", "ts", ["event_type"],
                                 tiebreak_col="event_id")
    got = spark.read.parquet(sink)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # replaying an already-applied period is a no-op (at-least-once safety)
    src1 = str(tmp_path / "changes_1")
    stream = spark.readStream.schema(ev.schema).parquet(src1)
    q = SP.scd2_sink(stream, "user_id", "ts", ["event_type"], sink,
                     str(tmp_path / "ck_replay"), tiebreak_col="event_id")
    q.awaitTermination()
    again = spark.read.parquet(sink)
    assert again.count() == want.count()
    assert again.exceptAll(want).count() == 0


def test_stream_near_dup_sink_cross_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " tokX"   # ~1 token off
    other = " ".join(f"zzz{i}" for i in range(40))
    third = " ".join(f"qqq{i}" for i in range(40))
    b1 = spark.createDataFrame([(1, base), (2, other)],
                               "doc_id long, text string")
    b2 = spark.createDataFrame([(3, near), (4, third)],
                               "doc_id long, text string")
    idx = str(tmp_path / "nd_index")
    for i, b in enumerate([b1, b2]):
        src = str(tmp_path / f"nd_src_{i}")
        b.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = SP.stream_near_dup_sink(stream, "doc_id", "text", idx,
                                    str(tmp_path / f"nd_ck_{i}"))
        q.awaitTermination()

    dups = {r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{idx}/dups").collect()}
    assert dups == {3: 1}                      # cross-batch near-dup caught
    kept = {r["doc_id"] for r in spark.read.parquet(f"{idx}/sigs").collect()}
    assert kept == {1, 2, 4}

    # replaying batch 2 ingests nothing new (ids already indexed)
    src = str(tmp_path / "nd_src_1")
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = SP.stream_near_dup_sink(stream, "doc_id", "text", idx,
                                str(tmp_path / "nd_ck_replay"))
    q.awaitTermination()
    assert spark.read.parquet(f"{idx}/dups").count() == 1
    assert {r["doc_id"] for r in
            spark.read.parquet(f"{idx}/sigs").collect()} == {1, 2, 4}


def test_stream_near_dup_sink_crash_between_bands_and_sigs(spark, tmp_path):
    """Crash-consistency of the text sink's three appends (the mirror of
    the image sink's test): a batch that died after writing dups and
    bands but BEFORE sigs (the replay gate) must fully recover on replay
    — its survivors re-ingest (orphan band rows are ignored by the
    batch-own-id anti-join, duplicated band rows absorbed by the
    candidate distinct), and later near-duplicates of them are still
    detected exactly once."""
    from dataqtor_spark.operators import dedup as DD

    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " tokX"
    far = " ".join(f"zzz{i}" for i in range(40))
    near_far = " ".join(f"zzz{i}" for i in range(39)) + " zzzX"
    idx = str(tmp_path / "ndcr_index")
    schema = "doc_id long, text string"

    def ingest(i, rows):
        b = spark.createDataFrame(rows, schema)
        src = str(tmp_path / f"ndcr_src_{i}")
        b.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(b.schema).parquet(src)
        SP.stream_near_dup_sink(
            stream, "doc_id", "text", idx,
            str(tmp_path / f"ndcr_ck_{i}")).awaitTermination()

    ingest(0, [(1, base)])
    # batch 2 = (3 near-dup of 1, 4 distinct): simulate the crash state —
    # dups and the survivor's bands landed, sigs did not
    spark.createDataFrame([(3, 1, 1.0)], "doc_id long, dup_of long, "
                          "est_jaccard double").write.mode("append").parquet(
        f"{idx}/dups")
    sig4 = DD.minhash_signatures_portable(
        spark.createDataFrame([(4, far)], schema), "doc_id", "text", 64, 3)
    (sig4.select(F.col("doc_id"),
                 F.explode(DD._band_hash_array(64, 16)).alias("bhash"))
     .withColumn("__bp", F.pmod(F.col("bhash"), F.lit(SP.N_BAND_PARTS)))
     .write.mode("append").partitionBy("__bp").parquet(f"{idx}/bands"))
    # recovery replay of the full batch
    ingest(1, [(3, near), (4, far)])
    dups = {r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{idx}/dups").collect()}
    assert dups == {3: 1}, "replay must not mark 4 a dup of its orphan bands"
    assert {r["doc_id"] for r in
            spark.read.parquet(f"{idx}/sigs").collect()} == {1, 4}
    # a later near-dup of the recovered survivor is caught exactly once
    # despite 4's duplicated band rows
    ingest(2, [(5, near_far)])
    dups = {r["doc_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{idx}/dups").collect()}
    assert dups == {3: 1, 5: 4}
    assert spark.read.parquet(f"{idx}/dups").count() == 2


def test_band_index_partition_pruning(spark, tmp_path):
    """The stored band index is hash-partitioned on __bp and the sink's
    read prunes: the scan carries PartitionFilters on __bp, never a
    full-index read."""
    base = " ".join(f"tok{i}" for i in range(40))
    far = " ".join(f"zzz{i}" for i in range(40))
    idx = str(tmp_path / "bp_index")
    b = spark.createDataFrame([(1, base), (2, far)], "doc_id long, text string")
    src = str(tmp_path / "bp_src")
    b.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b.schema).parquet(src)
    SP.stream_near_dup_sink(stream, "doc_id", "text", idx,
                            str(tmp_path / "bp_ck")).awaitTermination()
    import os

    parts = [d for d in os.listdir(f"{idx}/bands") if d.startswith("__bp=")]
    assert parts, "band table must be written partitioned by __bp"
    pruned = SP._pruned_band_read(spark, idx, [3, 7])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert ("PartitionFilters" in plan
            and "__bp" in plan.split("PartitionFilters", 1)[1][:400])


def test_latest_per_key_sink_matches_batch_compaction(spark, tables, tmp_path):
    from dataqtor_spark.operators import scd as SCD

    ev = tables["events"].limit(500)
    src = str(tmp_path / "cdc_src")
    ev.repartition(5).write.mode("overwrite").parquet(src)  # 5 micro-batches
    sink = str(tmp_path / "cdc_snapshot")
    ck = str(tmp_path / "cdc_ck")

    stream = SP.stream_events(spark, src, watermark="90 days")
    q = SP.latest_per_key_sink(stream, ["user_id"], "ts", ["event_id"],
                               sink, ck)
    q.awaitTermination()
    got = spark.read.parquet(sink)
    want = SCD.latest_per_key(ev, ["user_id"], "ts", ["event_id"])
    assert got.count() == want.count()
    g = {r["user_id"]: (r["ts"], r["event_id"]) for r in got.collect()}
    w = {r["user_id"]: (r["ts"], r["event_id"]) for r in want.collect()}
    assert g == w

    # replay over the same source: the merge is idempotent (max-by is a
    # semilattice), so the snapshot is unchanged
    stream2 = SP.stream_events(spark, src, watermark="90 days")
    q2 = SP.latest_per_key_sink(stream2, ["user_id"], "ts", ["event_id"],
                                sink, str(tmp_path / "cdc_ck2"))
    q2.awaitTermination()
    g2 = {r["user_id"]: (r["ts"], r["event_id"])
          for r in spark.read.parquet(sink).collect()}
    assert g2 == w


def test_streaming_cep_equals_batch(spark, tables, tmp_path):
    from pyspark.sql.window import Window

    from dataqtor_spark.streaming import stateful as ST

    ev = tables["events"]
    pattern = ["view", "click", "purchase"]
    within_min = 12 * 60

    # batch answer: lead-chain form
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", F.col("event_type").alias("e1"), F.col("ts").alias("t1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("ts", 2).over(w).alias("t3"))
    batch = {r["user_id"]: r["n"] for r in
             seq.filter((F.col("e1") == "view") & (F.col("e2") == "click")
                        & (F.col("e3") == "purchase")
                        & (F.col("t3") <= F.col("t1")
                           + F.expr("INTERVAL 12 HOUR")))
             .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}

    # stream the same events as 3 time-ordered micro-batches
    src = str(tmp_path / "cep_src")
    cuts = ["2024-01-08", "2024-01-20"]
    periods = [ev.filter(F.col("ts") < cuts[0]),
               ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
               ev.filter(F.col("ts") >= cuts[1])]
    import os
    import time

    os.makedirs(src)
    for i, p in enumerate(periods):
        p.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    stream = SP.stream_events(spark, src, watermark="90 days")
    out = ST.streaming_sequence_match(stream, pattern, within_min)
    q = (out.writeStream.format("memory").queryName("cep_test")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.table("cep_test").collect()
    latest = {}
    for r in rows:
        latest[r["user_id"]] = max(latest.get(r["user_id"], 0),
                                   r["n_matches"])
    streamed = {u: n for u, n in latest.items() if n > 0}
    assert streamed == batch


def test_additive_agg_sink_exactly_once(spark, tables, tmp_path):
    ev = tables["events"].limit(800)
    src = str(tmp_path / "agg_src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "agg_snapshot")

    want = {r["event_type"]: (r["n"], float(r["s"])) for r in
            ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
            .collect()}

    stream = SP.stream_events(spark, src, watermark="90 days")
    q = SP.additive_agg_sink(stream, ["event_type"], sink,
                             str(tmp_path / "agg_ck"))
    q.awaitTermination()
    got = {r["event_type"]: (r["n"], float(r["s"])) for r in
           spark.read.parquet(sink).collect()}
    assert got == want

    # a NEW run over the same source uses a fresh checkpoint, so epochs
    # restart at 0: the ledger must refuse the replayed epoch ids and the
    # snapshot must not double-count
    stream2 = SP.stream_events(spark, src, watermark="90 days")
    q2 = SP.additive_agg_sink(stream2, ["event_type"], sink,
                              str(tmp_path / "agg_ck2"))
    q2.awaitTermination()
    got2 = {r["event_type"]: (r["n"], float(r["s"])) for r in
            spark.read.parquet(sink).collect()}
    assert got2 == want


def test_scd2_sink_recovers_crashed_swap(spark, tables, tmp_path):
    # a crash between rename-aside and promote leaves the dim only at
    # '<path>.__old'; the next batch must restore it and merge, not
    # silently rebuild from its own change rows alone
    import os

    from pyspark.sql import functions as F

    from dataqtor_spark.operators import scd as SCD

    ev = tables["events"].select("user_id", "event_type", "ts", "event_id")
    early = ev.filter(F.col("ts") < "2024-01-15")
    late = ev.filter(F.col("ts") >= "2024-01-15")
    sink = str(tmp_path / "scd2_dim")
    src0 = str(tmp_path / "c0")
    early.write.mode("overwrite").parquet(src0)
    stream = spark.readStream.schema(ev.schema).parquet(src0)
    SP.scd2_sink(stream, "user_id", "ts", ["event_type"], sink,
                 str(tmp_path / "ck0"),
                 tiebreak_col="event_id").awaitTermination()
    # simulate the crash window: live dim renamed aside, promote not done
    os.rename(sink, sink + ".__old")
    src1 = str(tmp_path / "c1")
    late.write.mode("overwrite").parquet(src1)
    stream = spark.readStream.schema(ev.schema).parquet(src1)
    SP.scd2_sink(stream, "user_id", "ts", ["event_type"], sink,
                 str(tmp_path / "ck1"),
                 tiebreak_col="event_id").awaitTermination()
    want = SCD.scd2_from_history(ev, "user_id", "ts", ["event_type"],
                                 tiebreak_col="event_id")
    got = spark.read.parquet(sink)
    assert got.count() == want.count()          # full history survived
    assert got.exceptAll(want).count() == 0
    assert not os.path.isdir(sink + ".__old")   # aside copy cleaned up


def _tiny_avi(frame_payloads, usec_per_frame):
    """Minimal MJPEG-style AVI: RIFF('AVI ' LIST(hdrl avih) LIST(movi
    00dc*)) built with struct only."""
    import struct

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(typ, body):
        return chunk(b"LIST", typ + body)

    avih = chunk(b"avih", struct.pack("<I", usec_per_frame) + b"\x00" * 52)
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frame_payloads))
    body = b"AVI " + lst(b"hdrl", avih) + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_avi_frame_sampling(spark):
    # 10 frames at 10 fps (100_000 us/frame); every_ms=300 -> step 3 ->
    # source frames 0,3,6,9 at 0/300/600/900 ms, capped to max_frames=3
    frames = [b"FRAME%d" % i for i in range(10)]
    avi = _tiny_avi(frames, 100_000)
    df = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(b"not a video"))],
        "media_id long, payload binary")
    got = [r for r in MM.sample_video_frames(
        df, every_ms=300, max_frames=3).collect() if r["media_id"] == 1]
    got.sort(key=lambda r: r["frame_index"])
    assert [bytes(r["frame"]) for r in got] == [b"FRAME0", b"FRAME3",
                                               b"FRAME6"]
    assert [r["ts_ms"] for r in got] == [0, 300, 600]
    assert [r["frame_index"] for r in got] == [0, 1, 2]
    # the non-AVI row still produced (fake) frames; forcing the fake on
    # the AVI row changes its output (real path really ran above)
    all_rows = MM.sample_video_frames(df, every_ms=300, max_frames=3)
    assert all_rows.filter("media_id = 2").count() >= 1
    fake = [r for r in MM.sample_video_frames(
        df, every_ms=300, max_frames=3, use_codec=False).collect()
        if r["media_id"] == 1]
    assert bytes(fake[0]["frame"]) != b"FRAME0"


def test_windowed_distinct_sketch_stream_equals_batch_equals_exact(
        spark, tables, tmp_path):
    ev = tables["events"]
    src = str(tmp_path / "events_sketch_stream")
    ev.repartition(4).write.mode("overwrite").parquet(src)

    batch = {(r["window_start"], r["window_end"]): r["n_distinct_est"]
             for r in SP.windowed_distinct_sketch(
                 spark.read.parquet(src)).collect()}
    # exact mode below capacity: sketch == exact count distinct
    exact = {(r["w"]["start"], r["w"]["end"]): r["nd"]
             for r in spark.read.parquet(src)
             .groupBy(F.window(F.col("ts").cast("timestamp"), "6 hours")
                      .alias("w"))
             .agg(F.count_distinct("user_id").cast("long").alias("nd"))
             .collect()}
    assert batch == exact

    stream = SP.stream_events(spark, src, watermark="1 minute")
    result = SP.windowed_distinct_sketch(stream)
    table = SP.run_stream_to_memory(result, "sketch_distinct_test", spark)
    streamed = {(r["window_start"], r["window_end"]): r["n_distinct_est"]
                for r in table.collect()}
    assert streamed == batch


# --- stdlib PNG decode tier (no Pillow anywhere in these tests) ------------

def _encode_png(pixels, ctype, filters):
    """Spec-literal PNG encoder for the tests: pixels = rows of channel
    tuples, one filter id per row (exercising the decoder's unfilter
    paths against independently-applied filter math)."""
    import struct
    import zlib

    bpp = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    height, width = len(pixels), len(pixels[0])

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    raw_rows = [bytearray(b for px in row for b in
                          (px if isinstance(px, tuple) else (px,)))
                for row in pixels]
    out = bytearray()
    prev = bytearray(width * bpp)
    for row, f in zip(raw_rows, filters):
        enc = bytearray(row)
        if f == 1:
            for i in range(len(row) - 1, bpp - 1, -1):
                enc[i] = (row[i] - row[i - bpp]) & 0xFF
        elif f == 2:
            for i in range(len(row)):
                enc[i] = (row[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                enc[i] = (row[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc[i] = (row[i] - pr) & 0xFF
        out += bytes([f]) + enc
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def test_stdlib_png_decode_all_filters():
    # 8x6 RGB gradient, one row per filter type (plus a repeat)
    pixels = [[((x * 31) % 256, (y * 40) % 256, (x * y * 7) % 256)
               for x in range(8)] for y in range(6)]
    data = _encode_png(pixels, ctype=2, filters=[0, 1, 2, 3, 4, 2])
    w, h, mode, lum = MM._decode_png(data)
    assert (w, h, mode) == (8, 6, "RGB")
    for y in range(6):
        for x in range(8):
            r, g, b = pixels[y][x]
            assert lum[y][x] == (r * 299 + g * 587 + b * 114 + 500) // 1000


def test_stdlib_png_grayscale_and_rgba():
    gray = [[(x * 10 + y) % 256 for x in range(5)] for y in range(4)]
    data = _encode_png(gray, ctype=0, filters=[0, 1, 2, 4])
    w, h, mode, lum = MM._decode_png(data)
    assert (w, h, mode) == (5, 4, "L")
    assert [list(r) for r in lum] == gray
    rgba = [[(x, y, x + y, 255) for x in range(3)] for y in range(3)]
    w, h, mode, lum = MM._decode_png(
        _encode_png(rgba, ctype=6, filters=[0, 2, 3]))
    assert (w, h, mode) == (3, 3, "RGBA")


def test_decode_image_features_stdlib_png_tier(spark):
    # auto mode on a codec-less executor: PNG payloads decode for REAL
    # (true dimensions, luminance thumbnail), non-PNG falls to the fake
    pixels = [[(x * 16 % 256, 0, 0) for x in range(12)] for y in range(9)]
    png = _encode_png(pixels, ctype=2, filters=[4] * 9)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           MM.decode_image_features(df, use_codec=None).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["mode"]) == (12, 9, "RGB")
    exp = MM._stdlib_image_props(png)[3]
    assert got[1]["feature"] == pytest.approx(exp)
    fake = MM._fake_image_props(b"not an image")
    assert (got[2]["width"], got[2]["height"]) == fake[:2]


def test_stdlib_png_unsupported_depth_falls_back(spark):
    import struct
    import zlib

    # 16-bit IHDR: decoder must refuse, feature path must fall to fake
    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00" * 26))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        MM._decode_png(bad)
    df = spark.createDataFrame([(1, bytearray(bad))],
                               "media_id long, payload binary")
    r = MM.decode_image_features(df, use_codec=None).collect()[0]
    assert (r["width"], r["height"]) == MM._fake_image_props(bad)[:2]


def test_resize_images_stdlib_png_tier(spark):
    # auto mode: PNG payloads resize for real (decode ->
    # nearest-neighbour -> re-encode), non-PNG passes through
    pixels = [[((x * 20) % 256, (y * 30) % 256, 7) for x in range(10)]
              for y in range(8)]
    png = _encode_png(pixels, ctype=2, filters=[0, 1, 2, 3, 4, 0, 1, 2])
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"plain bytes"))],
        "media_id long, payload binary")
    got = {r["media_id"]: r
           for r in MM.resize_images(df, target=(4, 4)).collect()}
    out = bytes(got[1]["payload"])
    w, h, mode, lum = MM._decode_png(out)
    assert (w, h, mode) == (4, 4, "RGB")
    # nearest-neighbour: output pixel (tx,ty) is source ((tx*10)//4, (ty*8)//4)
    _, _, ctype_, bpp, rows = MM._decode_png_raw(out)
    for ty in range(4):
        for tx in range(4):
            exp = pixels[(ty * 8) // 4][(tx * 10) // 4]
            assert tuple(rows[ty][tx * bpp:(tx + 1) * bpp]) == exp
    assert bytes(got[2]["payload"]) == b"plain bytes"   # passthrough
    assert got[2]["width"] == 4 and got[2]["height"] == 4


# --- container probing (spec-literal mp4/mp3/wav fixtures) ------------------

def _box(btype, body):
    import struct
    return struct.pack(">I", 8 + len(body)) + btype + body


def _mp4_fixture():
    import struct
    mvhd = (b"\x00" + b"\x00" * 3           # version 0 + flags
            + b"\x00" * 8                   # creation/modification
            + struct.pack(">II", 1000, 5500))  # timescale, duration
    hdlr_v = b"\x00" * 8 + b"vide" + b"\x00" * 12
    hdlr_s = b"\x00" * 8 + b"soun" + b"\x00" * 12
    trak_v = _box(b"trak", _box(b"mdia", _box(b"hdlr", hdlr_v)))
    trak_s = _box(b"trak", _box(b"mdia", _box(b"hdlr", hdlr_s)))
    moov = _box(b"moov", _box(b"mvhd", mvhd) + trak_v + trak_s)
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def _mp3_fixture():
    # ID3v2.3 tag of 100 bytes, then MPEG-1 Layer III 128kbps 44.1kHz
    # frames: header 0xFF 0xFB 0x90 0x00, frame length 417 bytes
    id3 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 413
    return id3 + frame * 24


def test_probe_mp4_duration_and_tracks():
    got = MM._probe_mp4(_mp4_fixture())
    assert got[0] == "mp4"
    assert got[1] == pytest.approx(5500.0)      # 5500/1000 s -> ms
    assert got[2] == 2 and got[3] == ["vide", "soun"]


def test_probe_mp3_bitrate_and_duration():
    data = _mp3_fixture()
    c, dur, n, types, rate, bit_rate = MM._probe_mp3(data)
    assert (c, rate, bit_rate) == ("mp3", 44100, 128000)
    audio_bytes = len(data) - 110               # tag header + 100 bytes
    assert dur == pytest.approx(audio_bytes * 8000.0 / 128000)


def test_probe_mp3_rejects_embedded_sync_in_binary():
    # a lone sync-looking byte pair inside arbitrary binary must NOT
    # classify as mp3 (it is the last probe, so a false accept labels
    # images/truncated media as mp3 with a garbage CBR duration); a
    # valid stream chains a second header one frame length later
    junk = b"\x89PNG\r\n" + b"A" * 300 + b"\xff\xfb\x90\x00" + b"B" * 600
    with pytest.raises(ValueError):
        MM._probe_mp3(junk)
    # single whole-frame stream that STARTS at the sync is still accepted
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 413
    assert MM._probe_mp3(frame)[0] == "mp3"


def test_probe_media_info_mixed(spark):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 2 * 4000)   # 0.5 s stereo
    wav = buf.getvalue()
    df = spark.createDataFrame(
        [(1, bytearray(_mp4_fixture())), (2, bytearray(_mp3_fixture())),
         (3, bytearray(wav)), (4, bytearray(b"not media")), (5, None)],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in MM.probe_media_info(df).collect()}
    assert got[1]["container"] == "mp4" and got[1]["n_tracks"] == 2
    assert got[2]["container"] == "mp3" and got[2]["sample_rate"] == 44100
    assert got[3]["container"] == "wav"
    assert got[3]["duration_ms"] == pytest.approx(500.0)
    assert got[3]["sample_rate"] == 8000
    assert got[4]["container"] is None and got[5]["container"] is None


def test_image_phash_stdlib_png_near_dup_pairs(spark):
    """Planted near-identical PNGs: dHash over the REAL stdlib decode
    tier puts the perturbed copy within the hamming band and keeps the
    inverted image far outside it."""
    from dataqtor_spark.operators import multimodal as MM

    base = [[((x * 31 + y * 17 + (x * y) % 13) % 256) for x in range(16)]
            for y in range(16)]
    near = [row[:] for row in base]
    near[6][7] = (near[6][7] + 40) % 256   # one sampled pixel nudged
    far = [[255 - v for v in row] for row in base]
    payloads = [
        (1, bytearray(_encode_png(base, ctype=0, filters=[0] * 16))),
        (2, bytearray(_encode_png(near, ctype=0, filters=[0] * 16))),
        (3, bytearray(_encode_png(far, ctype=0, filters=[0] * 16))),
    ]
    df = spark.createDataFrame(payloads, "media_id long, payload binary")
    sig = MM.image_phash(df)  # auto mode: stdlib PNG tier in this container
    rows = {r["media_id"]: r["phash"] for r in sig.collect()}
    assert set(rows) == {1, 2, 3}
    ham = lambda a, b: bin((rows[a] & (2**64 - 1)) ^ (rows[b] & (2**64 - 1))).count("1")
    assert ham(1, 2) <= 3, f"near-dup hamming {ham(1, 2)}"
    assert ham(1, 3) > 3 and ham(2, 3) > 3
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in MM.phash_near_pairs(sig, max_hamming=3).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == ham(1, 2)


def test_image_phash_dct_method_and_fake_tier(spark):
    """method="phash" (32×32 DCT) agrees with dHash on who is a
    near-duplicate; non-PNG payloads land on the sha-derived fake tier
    whose 56-bit value matches the documented digest formula."""
    import hashlib

    from dataqtor_spark.operators import multimodal as MM

    base = [[((x * 29 + y * 23 + ((x + y) * 5) % 17) % 256)
             for x in range(16)] for y in range(16)]
    near = [row[:] for row in base]
    near[3][3] = (near[3][3] + 25) % 256
    far = [[(v * 7 + 90) % 256 for v in row] for row in base]
    df = spark.createDataFrame(
        [(1, bytearray(_encode_png(base, ctype=0, filters=[0] * 16))),
         (2, bytearray(_encode_png(near, ctype=0, filters=[0] * 16))),
         (3, bytearray(_encode_png(far, ctype=0, filters=[0] * 16)))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r["phash"]
            for r in MM.image_phash(df, method="phash").collect()}
    ham = lambda a, b: bin((rows[a] & (2**64 - 1)) ^ (rows[b] & (2**64 - 1))).count("1")
    assert ham(1, 2) < ham(1, 3)
    assert ham(1, 2) <= 10  # DCT low-frequency signs barely move
    # fake tier: deterministic sha-derived 56-bit hash
    blob = b"not an image at all"
    fake = {r["media_id"]: r["phash"] for r in MM.image_phash(
        spark.createDataFrame([(9, bytearray(blob))],
                              "media_id long, payload binary"),
        use_codec=False).collect()}
    want = int.from_bytes(hashlib.sha256(blob).digest()[1:8], "big")
    assert fake[9] == want


def test_stream_image_dedup_sink_cross_batch(spark, tmp_path):
    """Cross-batch perceptual dedup: a near-identical PNG arriving in a
    later batch is flagged against the stored signature index; replays
    ingest nothing twice."""
    from dataqtor_spark.streaming import profiler as SP2

    base = [[((x * 31 + y * 17 + (x * y) % 13) % 256) for x in range(16)]
            for y in range(16)]
    near = [row[:] for row in base]
    near[6][7] = (near[6][7] + 40) % 256
    far = [[255 - v for v in row] for row in base]
    other = [[((x * 7 + y * 51) % 256) for x in range(16)]
             for y in range(16)]
    png = lambda px: bytearray(_encode_png(px, ctype=0, filters=[0] * 16))
    b1 = spark.createDataFrame([(1, png(base)), (2, png(other))],
                               "media_id long, payload binary")
    b2 = spark.createDataFrame([(3, png(near)), (4, png(far))],
                               "media_id long, payload binary")
    idx = str(tmp_path / "img_index")
    for i, b in enumerate([b1, b2]):
        src = str(tmp_path / f"img_src_{i}")
        b.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(b1.schema).parquet(src)
        q = SP2.stream_image_dedup_sink(stream, "media_id", "payload",
                                        idx, str(tmp_path / f"img_ck_{i}"))
        q.awaitTermination()
    dups = {r["media_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{idx}/dups").collect()}
    assert dups == {3: 1}
    kept = {r["media_id"] for r in spark.read.parquet(f"{idx}/sigs").collect()}
    assert kept == {1, 2, 4}
    # replay batch 2: already-indexed ids drop, nothing double-ingests
    stream = spark.readStream.schema(b1.schema).parquet(
        str(tmp_path / "img_src_1"))
    q = SP2.stream_image_dedup_sink(stream, "media_id", "payload",
                                    idx, str(tmp_path / "img_ck_replay"))
    q.awaitTermination()
    assert spark.read.parquet(f"{idx}/dups").count() == 1
    assert {r["media_id"] for r in
            spark.read.parquet(f"{idx}/sigs").collect()} == {1, 2, 4}


def test_stream_image_dedup_sink_crash_between_bands_and_sigs(spark, tmp_path):
    """Crash-consistency of the three appends: a batch that died after
    writing dups and bands but BEFORE sigs (the replay gate) must fully
    recover on replay — its survivors re-ingest (their orphan band rows
    are ignored by the self-pair filter, the duplicated band rows are
    absorbed by the candidate distinct), and later near-duplicates of
    them are still detected exactly once."""
    from dataqtor_spark.operators import multimodal as MM
    from dataqtor_spark.streaming import profiler as SP2

    base = [[((x * 31 + y * 17 + (x * y) % 13) % 256) for x in range(16)]
            for y in range(16)]
    near = [row[:] for row in base]
    near[6][7] = (near[6][7] + 40) % 256
    far = [[255 - v for v in row] for row in base]
    near_far = [row[:] for row in far]
    near_far[2][3] = (near_far[2][3] + 40) % 256
    png = lambda px: bytearray(_encode_png(px, ctype=0, filters=[0] * 16))
    idx = str(tmp_path / "cr_index")

    def ingest(i, rows):
        b = spark.createDataFrame(rows, "media_id long, payload binary")
        src = str(tmp_path / f"cr_src_{i}")
        b.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(b.schema).parquet(src)
        SP2.stream_image_dedup_sink(
            stream, "media_id", "payload", idx,
            str(tmp_path / f"cr_ck_{i}")).awaitTermination()

    ingest(0, [(1, png(base))])
    # batch 2 = (3 near-dup of 1, 4 distinct): simulate the crash state —
    # dups and the survivor's bands landed, sigs did not
    spark.createDataFrame([(3, 1, 1)], "media_id long, dup_of long, "
                          "hamming int").write.mode("append").parquet(
        f"{idx}/dups")
    sig4 = MM.image_phash(
        spark.createDataFrame([(4, png(far))],
                              "media_id long, payload binary"),
        "payload", "media_id", "dhash")
    (sig4.select(F.col("media_id"), F.col("phash"),
                 F.explode(MM.phash_bands(F.col("phash"))).alias("c"))
     .select("media_id", "phash", "c.band", "c.bhash")
     .withColumn("__bp", F.pmod(F.col("bhash"), F.lit(SP.N_BAND_PARTS)))
     .write.mode("append").partitionBy("__bp").parquet(f"{idx}/bands"))
    # recovery replay of the full batch
    ingest(1, [(3, png(near)), (4, png(far))])
    dups = {r["media_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{idx}/dups").collect()}
    assert dups == {3: 1}, "replay must not mark 4 a dup of its orphan bands"
    assert {r["media_id"] for r in
            spark.read.parquet(f"{idx}/sigs").collect()} == {1, 4}
    # a later near-dup of the recovered survivor is caught exactly once
    # despite 4's duplicated band rows
    ingest(2, [(5, png(near_far))])
    dups = {r["media_id"]: r["dup_of"]
            for r in spark.read.parquet(f"{idx}/dups").collect()}
    assert dups == {3: 1, 5: 4}
    assert spark.read.parquet(f"{idx}/dups").count() == 2


# --- stdlib GIF (LZW) and BMP decode tiers ---------------------------------

def _lzw_codes(seq, min_code_size=8):
    """Real greedy LZW compression (the GIF encoder side): dictionary
    build, CLEAR reset when the table fills — so the decoder's entry
    construction, KwKwK self-reference, and code-width growth paths all
    get exercised by genuinely compressed streams."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    codes = [clear]
    w = b""
    for v in seq:
        wk = w + bytes([v])
        if wk in table:
            w = wk
            continue
        codes.append(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        else:
            codes.append(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
        w = bytes([v])
    if w:
        codes.append(table[w])
    codes.append(end)
    return codes


def _pack_lzw(codes, min_code_size=8):
    """LSB-first variable-width packing, mirroring the decoder's
    table-length bookkeeping so widths stay in sync."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    bits = buf = 0
    code_size = min_code_size + 1
    table_len = clear + 2
    fresh = True
    for code in codes:
        buf |= code << bits
        bits += code_size
        while bits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            bits -= 8
        if code == clear:
            code_size, table_len, fresh = min_code_size + 1, clear + 2, True
        elif code != end:
            if not fresh and table_len < 4096:
                table_len += 1
                if table_len == (1 << code_size) and code_size < 12:
                    code_size += 1
            fresh = False
    if bits:
        out.append(buf & 0xFF)
    return out


def _encode_gif(pixels, interlace=False, trailing_frame=None):
    """Spec-literal GIF89a for the tests: 256-entry gray identity
    palette (index == luma), real LZW compression, a graphic-control
    extension (exercises the skip path), optional interlacing and a
    second frame (first frame must win)."""
    import struct

    h, w = len(pixels), len(pixels[0])
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
    for i in range(256):
        out += bytes([i, i, i])
    out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    frames = [(pixels, interlace)]
    if trailing_frame is not None:
        frames.append((trailing_frame, False))
    for px, il in frames:
        fh, fw = len(px), len(px[0])
        out += bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, fw, fh,
                                           0x40 if il else 0)
        rows = px
        if il:
            order = ([*range(0, fh, 8)] + [*range(4, fh, 8)]
                     + [*range(2, fh, 4)] + [*range(1, fh, 2)])
            rows = [px[r] for r in order]
        data = _pack_lzw(_lzw_codes([v for row in rows for v in row]))
        out += bytes([8])
        for i in range(0, len(data), 255):
            blk = data[i:i + 255]
            out += bytes([len(blk)]) + bytes(blk)
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)


def _encode_bmp(pixels, bpp=24, top_down=False):
    """Spec-literal BMP: pixels = rows of (r, g, b); 8-bit mode writes a
    gray identity palette and indexes by the red channel."""
    import struct

    h, w = len(pixels), len(pixels[0])
    stride = ((bpp * w + 31) // 32) * 4
    pal = (b"".join(bytes([i, i, i, 0]) for i in range(256))
           if bpp == 8 else b"")
    pix = bytearray()
    for row in (pixels if top_down else pixels[::-1]):
        line = bytearray()
        for r, g, b in row:
            if bpp == 8:
                line.append(r)
            elif bpp == 24:
                line += bytes([b, g, r])
            else:
                line += bytes([b, g, r, 0])
        line += b"\x00" * (stride - len(line))
        pix += line
    off = 14 + 40 + len(pal)
    return (b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, w,
                          -h if top_down else h, 1, bpp, 0, len(pix),
                          2835, 2835, 256 if bpp == 8 else 0, 0)
            + pal + pix)


def test_stdlib_gif_decode_compressed_interlaced_animated():
    # repetitive rows force the KwKwK LZW branch; 32x24 crosses the
    # 512-entry boundary so the code width actually grows
    px = [[(y * 11 + (x // 8) * 5) % 256 for x in range(32)]
          for y in range(24)]
    w, h, mode, lum = MM._decode_gif(_encode_gif(px))
    assert (w, h, mode) == (32, 24, "P")
    assert lum == px                      # identity gray palette
    # interlaced rows come back in display order
    assert MM._decode_gif(_encode_gif(px, interlace=True))[3] == px
    # animated: first frame wins
    other = [[255 - v for v in row] for row in px]
    assert MM._decode_gif(_encode_gif(px, trailing_frame=other))[3] == px
    with pytest.raises(ValueError):
        MM._decode_gif(b"GIF89a\x00")


def test_stdlib_bmp_decode_24bit_8bit_topdown():
    px = [[((x * 13) % 256, (y * 29) % 256, (x + y) % 256)
           for x in range(7)] for y in range(5)]
    w, h, mode, lum = MM._decode_bmp(_encode_bmp(px, bpp=24))
    assert (w, h, mode) == (7, 5, "RGB")
    for y in range(5):
        for x in range(7):
            r, g, b = px[y][x]
            assert lum[y][x] == (r * 299 + g * 587 + b * 114 + 500) // 1000
    gray = [[((x * 37 + y * 3) % 256,) * 3 for x in range(6)]
            for y in range(4)]
    w, h, mode, lum = MM._decode_bmp(_encode_bmp(gray, bpp=8,
                                                 top_down=True))
    assert (w, h, mode) == (6, 4, "P")
    assert lum == [[c[0] for c in row] for row in gray]
    with pytest.raises(ValueError):
        MM._decode_bmp(b"BMxx")


def test_cross_container_phash_and_features_agree(spark):
    # one grayscale image encoded as PNG, GIF and BMP: every stdlib tier
    # must land on the SAME luminance plane, so dHash and the 4x4
    # feature agree bit-for-bit across containers
    px = [[((x * 31 + y * 17 + (x * y) % 13) % 256) for x in range(16)]
          for y in range(16)]
    png = _encode_png(px, ctype=0, filters=[0] * 16)
    gif = _encode_gif(px)
    bmp = _encode_bmp([[(v, v, v) for v in row] for row in px], bpp=24)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(gif)), (3, bytearray(bmp)),
         (4, bytearray(b"junk"))],
        "media_id long, payload binary")
    sig = {r["media_id"]: r["phash"]
           for r in MM.image_phash(df, method="dhash").collect()}
    assert sig[1] == sig[2] == sig[3]
    assert sig[4] == MM._to_signed64(MM._fake_phash(b"junk"))
    feats = {r["media_id"]: r for r in
             MM.decode_image_features(df).collect()}
    for mid in (1, 2, 3):
        assert (feats[mid]["width"], feats[mid]["height"]) == (16, 16)
    assert feats[1]["feature"] == feats[2]["feature"] == feats[3]["feature"]


def test_resize_gif_bmp_stdlib_tier(spark):
    px = [[(x * 16 + y) % 256 for x in range(12)] for y in range(8)]
    gif = _encode_gif(px)
    bmp = _encode_bmp([[(v, v, v) for v in row] for row in px], bpp=24)
    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(bmp))],
        "media_id long, payload binary")
    got = {r["media_id"]: r
           for r in MM.resize_images(df, target=(4, 4)).collect()}
    for mid in (1, 2):
        w, h, mode, lum = MM._decode_png(bytes(got[mid]["payload"]))
        assert (w, h, mode) == (4, 4, "L")
        exp = [[px[(ty * 8) // 4][(tx * 12) // 4] for tx in range(4)]
               for ty in range(4)]
        assert lum == exp


# --- perceptual audio fingerprinting ---------------------------------------

def _make_wav(samples, rate=8000, width=2, channels=1):
    """Integer-PCM WAV writer for the tests (stdlib wave)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(b"".join(
            struct.pack("<h", max(-32768, min(32767, int(s * 32767))))
            for s in samples))
    return buf.getvalue()


def _tone_track(freqs, block=1000, rate=8000, amp=0.8, noise=0.0, seed=5):
    """One strong tone per block (decisive band-energy margins), plus
    optional deterministic low-level noise."""
    import math
    import random

    rnd = random.Random(seed)
    out = []
    for f in freqs:
        for i in range(block):
            s = amp * math.sin(2 * math.pi * f * i / rate)
            if noise:
                s += noise * (rnd.random() * 2 - 1)
            out.append(s)
    return out


_FREQS_A = [400, 1800, 700, 2600, 1100, 3400, 500, 2200, 900]
_FREQS_B = [3400, 500, 2600, 700, 1800, 400, 2200, 900, 1100]


def test_afp_bits_volume_dc_and_noise_invariance():
    import numpy as np

    base = np.array(_tone_track(_FREQS_A))
    sig = MM._afp_bits(base)
    # volume scaling and DC offset leave every energy comparison intact
    assert MM._afp_bits(base * 0.5) == sig
    assert MM._afp_bits(base * 0.25 + 0.01) == sig
    # low-level noise: decisive margins keep the hash within banding reach
    near = np.array(_tone_track(_FREQS_A, noise=0.005))
    assert bin(MM._afp_bits(near) ^ sig).count("1") <= 3
    # a different block-frequency sequence is far away
    other = MM._afp_bits(np.array(_tone_track(_FREQS_B)))
    assert bin(other ^ sig).count("1") > 3
    with pytest.raises(ValueError):
        MM._afp_bits(np.zeros(10))


def test_wav_samples_downmix_and_widths():
    import numpy as np

    mono = _tone_track(_FREQS_A[:2], block=200)
    stereo = [v for s in mono for v in (s, -s)]  # L = -R: downmix ~ 0
    x, rate = MM._wav_samples(_make_wav(stereo, channels=2))
    assert rate == 8000 and x.size == len(mono)
    assert float(np.abs(x).max()) < 1e-4
    x1, _ = MM._wav_samples(_make_wav(mono))
    assert x1.size == len(mono)
    assert float(np.abs(x1 - np.array(mono)).max()) < 1e-3


def test_audio_fingerprint_spark_tiers_and_pairs(spark):
    wav_a = _make_wav(_tone_track(_FREQS_A))
    wav_near = _make_wav(_tone_track(_FREQS_A, noise=0.005))
    wav_b = _make_wav(_tone_track(_FREQS_B))
    df = spark.createDataFrame(
        [(1, bytearray(wav_a)), (2, bytearray(wav_near)),
         (3, bytearray(wav_b)), (4, bytearray(b"not audio"))],
        "media_id long, payload binary")
    sig = MM.audio_fingerprint(df)
    got = {r["media_id"]: r["afp"] for r in sig.collect()}
    # executor path == local path on the SAME (int16-quantized) samples
    assert got[1] == MM._afp_bits(MM._wav_samples(wav_a)[0])
    assert got[4] == MM._fake_phash(b"not audio")  # fake tier fallback
    pairs = {(r["id_a"], r["id_b"]) for r in
             MM.afp_near_pairs(sig, max_hamming=3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_video_near_dup_pairs_real_avi_path(spark):
    """The full real video-dedup pipeline: MJPEG-AVI demux -> per-frame
    fingerprint -> overlap join.  Video 2 shares 4 of video 1's 5
    frames (one re-ordered container, one swapped frame); video 3 is
    disjoint."""
    shared = [b"CLIP-A-%d" % i for i in range(5)]
    v1 = _tiny_avi(shared, 100_000)
    v2 = _tiny_avi(shared[:4] + [b"CLIP-B-tail"], 100_000)
    v3 = _tiny_avi([b"OTHER-%d" % i for i in range(5)], 100_000)
    df = spark.createDataFrame(
        [(1, bytearray(v1)), (2, bytearray(v2)), (3, bytearray(v3))],
        "media_id long, payload binary")
    frames = MM.sample_video_frames(df, every_ms=100, max_frames=5)
    sig = MM.image_phash(
        frames.select("media_id", F.col("frame").alias("payload")))
    pairs = {(r["id_a"], r["id_b"]): r["n_matched"]
             for r in MM.video_near_dup_pairs(sig, min_matches=3).collect()}
    assert pairs == {(1, 2): 4}


def test_late_arrival_audit_hand_sequence(spark):
    """Default scope="global" judges lateness against the ONE global
    high-water mark of arrival order — Structured Streaming's actual
    watermark rule, where a slow key's events are dropped by faster
    keys' progress; scope="per_key" is the per-key session-state variant
    where keys don't interfere."""
    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    rows = [
        (1, t(10, 0), 1, "a", 0.0),   # global first -> never late
        (1, t(12, 0), 2, "a", 0.0),   # advances global hwm to 12:00
        (1, t(10, 30), 3, "b", 0.0),  # 10:30 < 12:00 - 1h -> LATE
        (1, t(11, 30), 4, "b", 0.0),  # 11:30 >= 11:00 -> on time
        (2, t(9, 0), 5, "b", 0.0),    # user 2's first, but the GLOBAL
                                      # hwm is 12:00 -> LATE (a real
                                      # watermark would drop it)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "event_type string, value double")
    got = {r["event_type"]: r for r in SP.late_arrival_audit(
        df, watermark="1 hour").collect()}
    assert (got["a"]["n_events"], got["a"]["n_late"]) == (2, 0)
    assert (got["b"]["n_events"], got["b"]["n_late"]) == (3, 2)
    assert got["b"]["late_frac"] == 0.6667
    # per-key scope: user 2's 9:00 event is its key's first -> not late
    per_key = {r["event_type"]: r for r in SP.late_arrival_audit(
        df, watermark="1 hour", scope="per_key").collect()}
    assert (per_key["b"]["n_events"], per_key["b"]["n_late"]) == (3, 1)
    assert per_key["b"]["late_frac"] == 0.3333


def test_pruned_band_read_falls_back_on_pre_bp_index(spark, tmp_path):
    """A band index written before the __bp partition layout has no __bp
    column; _pruned_band_read must fall back to the unpruned scan instead
    of throwing UNRESOLVED_COLUMN."""
    idx = str(tmp_path / "oldidx")
    spark.createDataFrame(
        [(1, "k1"), (2, "k2")], "doc_id long, bhash string"
    ).write.parquet(f"{idx}/bands")
    got = SP._pruned_band_read(spark, idx, [0, 1]).collect()
    assert {r["doc_id"] for r in got} == {1, 2}


def test_stream_psi_sink_matches_batch_and_replays_idempotently(spark, tmp_path):
    """Per-batch PSI report == the batch psi_drift_report against the
    same baseline; replaying a batch overwrites only its own partition."""
    from dataqtor_spark.operators.profile import psi_drift_report

    base = spark.createDataFrame([(float(100 + i),) for i in range(50)],
                                 "price double")
    bpath = str(tmp_path / "baseline")
    base.write.parquet(bpath)
    batch = spark.createDataFrame([(float(120 + i),) for i in range(40)],
                                  "price double")
    src = str(tmp_path / "psi_src")
    batch.write.parquet(src)
    out = str(tmp_path / "psi_out")
    for ck in ("psi_ck", "psi_ck_replay"):
        stream = spark.readStream.schema(batch.schema).parquet(src)
        q = SP.stream_psi_sink(stream, "price", bpath, out,
                               str(tmp_path / ck), bins=8)
        q.awaitTermination()
    got = spark.read.parquet(f"{out}/drift")
    assert got.select("__batch").distinct().count() == 1  # replay overwrote
    want = {r["bin"]: r for r in
            psi_drift_report(base, batch, "price", bins=8).collect()}
    for r in got.collect():
        w = want[r["bin"]]
        assert (r["n_base"], r["n_curr"], r["contrib_e9"], r["psi_e9"]) == \
            (w["n_base"], w["n_curr"], w["contrib_e9"], w["psi_e9"])
    assert len(want) == got.count() == 8
