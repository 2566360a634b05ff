"""pack01/chunk01: concat-and-chunk sequence packing and overlapping
character chunking, checked against pure-Python replays."""

import hashlib

import pytest
from pyspark.sql import functions as F

from dataqtor_spark.operators import textstats as TX


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta"),            # 4 tokens
        (2, ""),                                  # empty
        (3, "one two three"),                     # 3 tokens
        (4, "  padded   tokens  here "),          # 3 tokens, messy ws
        (5, "x " * 600),                          # 600 tokens, spans blocks
        (6, "tail piece"),                        # 2 tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_packing_matches_replay(docs):
    L = 512
    out = {r["doc_id"]: r for r in
           TX.concat_chunk_packing(docs, seq_len=L).collect()}
    sizes = {1: 4, 2: 0, 3: 3, 4: 3, 5: 600, 6: 2}
    cum = 0
    for did in sorted(sizes):
        n = sizes[did]
        start = cum
        cum += n
        r = out[did]
        assert r["n_tokens"] == n
        assert r["tok_start"] == start
        if n == 0:
            assert r["first_block"] is None and r["last_block"] is None
            assert r["n_blocks"] == 0 and r["is_split"] is None
        else:
            first, last = start // L, (cum - 1) // L
            assert r["first_block"] == first and r["last_block"] == last
            assert r["n_blocks"] == last - first + 1
            assert r["is_split"] == (last != first)
    # doc 5 (tokens 7..606) must span the 512 boundary
    assert out[5]["is_split"] is True and out[5]["n_blocks"] == 2


def test_packing_blocks_partition_token_space(docs):
    # every non-empty doc's token interval fits its claimed block span
    L = 512
    for r in TX.concat_chunk_packing(docs, seq_len=L).collect():
        if r["n_tokens"] == 0:
            continue
        assert r["first_block"] * L <= r["tok_start"]
        assert r["tok_start"] + r["n_tokens"] <= (r["last_block"] + 1) * L


def test_chunking_matches_replay(spark):
    text_a = "abcdefghij" * 35          # 350 chars -> starts 0, 80, 160, 240, 320
    text_b = "short"
    df = spark.createDataFrame([(1, text_a), (2, text_b), (3, "")],
                               "doc_id long, text string")
    out = TX.doc_chunks(df, chunk_len=100, overlap=20)
    rows = sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_idx"]))
    expect = []
    for did, t in [(1, text_a), (2, text_b)]:
        for k, s in enumerate(range(0, len(t), 80)):
            sub = t[s:s + 100]
            expect.append((did, k, s, len(sub),
                           hashlib.md5(sub.encode()).hexdigest()))
    got = [(r["doc_id"], r["chunk_idx"], r["char_start"], r["chunk_chars"],
            r["chunk_md5"]) for r in rows]
    assert got == expect
    assert not any(r["doc_id"] == 3 for r in rows)   # empty doc: no chunks


def test_chunking_covers_every_char(spark):
    df = spark.createDataFrame([(1, "z" * 1234)], "doc_id long, text string")
    rows = TX.doc_chunks(df, chunk_len=100, overlap=20).collect()
    covered = set()
    for r in rows:
        covered.update(range(r["char_start"],
                             r["char_start"] + r["chunk_chars"]))
    assert covered == set(range(1234))


def test_chunking_rejects_degenerate_stride(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        TX.doc_chunks(df, chunk_len=100, overlap=100)


def test_chunking_non_ascii_md5(spark):
    # md5 must hash the chunk's UTF-8 bytes, chunk bounds count CHARACTERS
    t = "héllo wörld ünïcode"
    df = spark.createDataFrame([(1, t)], "doc_id long, text string")
    r = TX.doc_chunks(df, chunk_len=10, overlap=2).collect()
    subs = [t[s:s + 10] for s in range(0, len(t), 8)]
    assert [x["chunk_md5"] for x in
            sorted(r, key=lambda x: x["chunk_idx"])] == \
        [hashlib.md5(s.encode("utf-8")).hexdigest() for s in subs]


def test_length_buckets_replay(spark):
    rows = [(1, "a"), (2, "a b c"), (3, ""), (4, "w " * 7), (5, "w " * 8),
            (6, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["bucket"]: r for r in
           TX.length_bucket_report(df).collect()}
    # tokens: 1,3,0,7,8,2 -> buckets 0,1,-1,2,3,1
    assert set(out) == {-1, 0, 1, 2, 3}
    assert out[-1]["n_docs"] == 1 and out[-1]["pad_waste"] == 0
    assert out[-1]["waste_ppm"] == 0
    b1 = out[1]
    assert (b1["n_docs"], b1["min_tokens"], b1["max_tokens"]) == (2, 2, 3)
    assert b1["sum_tokens"] == 5 and b1["pad_waste"] == 2 * 3 - 5
    assert b1["waste_ppm"] == round(1 / 6 * 1e6)
    for b, r in out.items():
        if b >= 0:
            assert 2 ** b <= r["min_tokens"] and r["max_tokens"] < 2 ** (b + 1)


# --- property tests (hypothesis): layout invariants -------------------------

import os

from hypothesis import given, settings, strategies as st

_SETTINGS = dict(max_examples=int(os.environ.get("HYP_EXAMPLES", "6")),
                 deadline=None)


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                max_size=12),
       st.integers(min_value=1, max_value=16))
def test_packing_token_space_partition_property(spark, sizes, L):
    """For ANY token-count sequence and block size: offsets are the exact
    prefix sums in id order, block spans tile the stream, and block
    indexes agree with integer division."""
    rows = [(i, "w " * n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           TX.concat_chunk_packing(df, seq_len=L).collect()}
    cum = 0
    for i, n in enumerate(sizes):
        r = out[i]
        assert r["n_tokens"] == n and r["tok_start"] == cum
        if n:
            assert r["first_block"] == cum // L
            assert r["last_block"] == (cum + n - 1) // L
            assert r["n_blocks"] == r["last_block"] - r["first_block"] + 1
        else:
            assert r["n_blocks"] == 0 and r["first_block"] is None
        cum += n


@settings(**_SETTINGS)
@given(st.integers(min_value=0, max_value=600),
       st.integers(min_value=2, max_value=50),
       st.integers(min_value=1, max_value=40))
def test_chunking_cover_and_stride_property(spark, n_chars, chunk_len,
                                            overlap):
    """Every character of a non-empty document is covered, chunk starts
    advance by exactly the stride, and no chunk is empty."""
    if overlap >= chunk_len:
        return
    df = spark.createDataFrame([(1, "z" * n_chars)],
                               "doc_id long, text string")
    rows = sorted(TX.doc_chunks(df, chunk_len=chunk_len, overlap=overlap)
                  .collect(), key=lambda r: r["chunk_idx"])
    if n_chars == 0:
        assert rows == []
        return
    stride = chunk_len - overlap
    starts = [r["char_start"] for r in rows]
    assert starts == list(range(0, n_chars, stride))
    covered = set()
    for r in rows:
        assert r["chunk_chars"] >= 1
        covered.update(range(r["char_start"],
                             r["char_start"] + r["chunk_chars"]))
    assert covered == set(range(n_chars))


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=5000), min_size=1,
                max_size=15))
def test_length_bucket_conservation_property(spark, sizes):
    """Bucket counts and token sums are conserved, every doc lands in
    exactly the bit-length bucket of its token count, and pad_waste is
    non-negative and bounded by the bucket width."""
    rows = [(i, "w " * n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.length_bucket_report(df).collect()
    assert sum(r["n_docs"] for r in out) == len(sizes)
    assert sum(r["sum_tokens"] for r in out) == sum(sizes)
    import math
    for r in out:
        b = r["bucket"]
        if b < 0:
            assert r["min_tokens"] == r["max_tokens"] == 0
            continue
        assert 2 ** b <= r["min_tokens"] <= r["max_tokens"] < 2 ** (b + 1)
        assert 0 <= r["pad_waste"] <= r["n_docs"] * (2 ** b - 1)
        assert 0 <= r["waste_ppm"] <= 1_000_000


def test_connected_components_empty_graph(spark, monkeypatch):
    # the lazy round-0 labels path must handle zero edges (sum over an
    # empty frame is NULL == initial prev_sum -> immediate converged exit)
    from dataqtor_spark.operators import dedup as DD
    monkeypatch.setattr(DD, "_CC_DRIVER_EDGES_MAX", 0)
    e = spark.createDataFrame([], "id_a long, id_b long")
    out = DD.connected_components(e)
    assert out.count() == 0
    assert out.columns == ["id", "component"]


def test_bpe_trainer_cache_memoizes_merges_only(spark):
    # the memo stores the driver-side merge table, never a live DataFrame
    # (a cached frame would outlive its SparkSession); a hit rebuilds the
    # segmentation plan from the CALLER's frame and matches a fresh train
    from dataqtor_spark.operators import textstats as TX2

    rows = [(i, t) for i, t in enumerate(
        ["the cat sat", "the cat ran", "a cat sat down", "the dog sat"] * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = "test-bpe-cache"
    TX2._BPE_TRAIN_CACHE.clear()
    m1, w1 = TX2.bpe_train(df, rounds=3, cache_key=key)
    assert isinstance(
        TX2._BPE_TRAIN_CACHE[(key, "text", 3, "^[a-z]+$")], list)
    m2, w2 = TX2.bpe_train(df, rounds=3, cache_key=key)   # memo hit
    assert m2 == m1
    assert sorted(w2.collect()) == sorted(w1.collect())
    fresh_m, fresh_w = TX2.bpe_train(df, rounds=3)        # no key: retrain
    assert fresh_m == m1
    assert sorted(fresh_w.collect()) == sorted(w1.collect())
    TX2._BPE_TRAIN_CACHE.clear()


def test_chunking_and_packing_null_text(spark, tmp_path):
    # NULL text: the chunker emits no rows, and the packer/bucketer carry
    # NULL token counts through — in BOTH engines identically (NULL-falsy
    # CASE/when branches; window sums skip NULLs, so later docs\' offsets
    # are unaffected).  Pinned by running the registered oracles against
    # the same parquet.
    import duckdb
    import pandas as pd

    from dataqtor_spark.queries import ORACLES
    from tools.check_oracle import compare

    docs = pd.DataFrame({"doc_id": [1, 2, 3],
                         "text": [None, "a b", "c d e"],
                         "lang": ["en"] * 3, "source": ["s"] * 3,
                         "n_chars": [0, 3, 5]})
    docs.to_parquet(tmp_path / "documents.parquet")

    assert TX.doc_chunks(
        spark.read.parquet(str(tmp_path / "documents.parquet"))
    ).filter("doc_id = 1").count() == 0

    con = duckdb.connect()
    con.execute(f"""CREATE VIEW documents AS SELECT *
                    FROM read_parquet('{tmp_path}/documents.parquet')""")
    from dataqtor_spark.queries import QUERIES
    for name in ["pack01_sequence_packing", "chunk01_doc_chunks",
                 "pack02_length_buckets"]:
        sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
        odf = con.execute(ORACLES[name]).fetchdf()
        assert compare(name, sdf, odf) == [], name
    # the NULL-text doc: NULL tokens/blocks, but doc 2/3 offsets intact
    out = {r["doc_id"]: r for r in
           QUERIES["pack01_sequence_packing"](spark, str(tmp_path)).collect()}
    assert out[1]["n_tokens"] is None and out[1]["n_blocks"] == 0
    assert out[2]["tok_start"] == 0 and out[3]["tok_start"] == 2


def test_bpe03_cache_misses_on_regenerated_corpus(spark, tmp_path):
    # the bpe03 trainer-cache key folds in the parquet fingerprint
    # (size+mtime): regenerating documents.parquet IN PROCESS must be a
    # cache MISS — the old key would silently serve a tokenizer trained
    # on the replaced bytes (round-14 ADVICE item, closed properly here)
    from dataqtor_spark.operators import textstats as TX2
    from dataqtor_spark.queries import QUERIES

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, "aa bb cc dd ee ff " * 3, "en", "src0", 60)
         for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet", mode="overwrite")
    TX2._BPE_TRAIN_CACHE.clear()
    out1 = QUERIES["bpe03_tokenizer_token_counts"](spark, sf).collect()
    keys1 = set(TX2._BPE_TRAIN_CACHE)
    assert len(keys1) == 1

    # regenerate with different content (and a different byte size, so
    # the fingerprint changes even within mtime's 1 s granularity)
    spark.createDataFrame(
        [(i, "zzzz yyyy xxxx wwww " * 5, "en", "src0", 100)
         for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet", mode="overwrite")
    out2 = QUERIES["bpe03_tokenizer_token_counts"](spark, sf).collect()
    keys2 = set(TX2._BPE_TRAIN_CACHE)
    assert keys2 - keys1, "regenerated corpus must mint a NEW cache key"
    assert sorted(map(tuple, out1)) != sorted(map(tuple, out2))
    TX2._BPE_TRAIN_CACHE.clear()
