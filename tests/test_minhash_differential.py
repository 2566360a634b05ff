"""Differential property test for ``dedup.minhash_pairs``: the driver path
(banding and verification in numpy over the collected signatures) and the
distributed plan (reached by setting ``_MH_DRIVER_DOCS_MAX`` to 0) must
give the same rows as a multiset and the same schema, nullability
included, for both hash families."""

import os

import pytest
from hypothesis import example, given, settings, strategies as st

from dataqtor_spark.operators import dedup as D

# each example runs the distributed plan (about ten Spark jobs)
_SETTINGS = dict(max_examples=int(os.environ.get("HYP_EXAMPLES", "8")),
                 deadline=None)

_WORDS = ["alpha", "beta", "gamma", "delta", "kedi", "köpek", "ığdır",
          "şişli", "çay"]
_TEXT = st.one_of(
    st.none(), st.just(""), st.just("  "),
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=9)
    .map(" ".join))
_LONG_ID = st.integers(min_value=-50, max_value=50)
_STR_ID = st.text(alphabet="aıiİIğGşSçCöOü", min_size=1, max_size=3)
_GEOMETRY = st.sampled_from([(64, 16), (30, 7), (12, 5), (8, 8)])


@st.composite
def _corpora(draw):
    id_type = draw(st.sampled_from(["long", "string"]))
    ids = draw(st.lists(_LONG_ID if id_type == "long" else _STR_ID,
                        unique=True, min_size=0, max_size=14))
    texts = [draw(_TEXT) for _ in ids]
    if texts:  # identical copies of some docs
        texts = [draw(st.sampled_from(texts)) if draw(st.booleans()) else t
                 for t in texts]
    rows = list(zip(ids, texts))
    if draw(st.booleans()):
        rows.append((None, draw(st.sampled_from(texts or ["alpha beta"]))))
    return dict(rows=draw(st.permutations(rows)), id_type=id_type,
                family=draw(st.sampled_from(["xxhash", "portable"])),
                threshold=draw(st.sampled_from([0.0, 0.25, 0.5, 1.0])),
                geometry=draw(_GEOMETRY), auto_cap=draw(st.booleans()))


_HOT = "the same boilerplate footer text repeated here"


@settings(**_SETTINGS)
@given(_corpora())
@example(dict(rows=[(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
                    (3, None), (4, None), (5, ""), (6, "alpha beta"),
                    (None, "alpha beta gamma delta"),
                    (7, "alpha beta gamma kedi")],
              id_type="long", family="xxhash", threshold=0.0,
              geometry=(64, 16), auto_cap=False))
@example(dict(rows=[("İstanbul", "kedi köpek çay şişli"),
                    ("istanbul", "kedi köpek çay şişli"),
                    ("Iğdır", "kedi köpek çay ığdır"), ("ığdır", None),
                    ("çay", "kedi"), ("Çay", "kedi")],
              id_type="string", family="portable", threshold=1.0,
              geometry=(30, 7), auto_cap=False))
@example(dict(rows=[(i, _HOT) for i in range(6)]
              + [(100, "a quick brown fox jumps over the lazy dog today"),
                 (101, "a quick brown fox jumps over the lazy dog tonight"),
                 (102, None)],
              id_type="long", family="portable", threshold=0.5,
              geometry=(64, 16), auto_cap=True))
def test_minhash_pairs_paths_agree(spark, case):
    num_hashes, bands = case["geometry"]
    docs = spark.createDataFrame(case["rows"],
                                 f"doc_id {case['id_type']}, text string")
    op = (D.minhash_dedup_pairs if case["family"] == "xxhash"
          else D.minhash_dedup_pairs_portable)
    driven = []
    real = D._driver_minhash_pairs

    def spy(*a, **k):
        out = real(*a, **k)
        driven.append(out is not None)
        return out

    with pytest.MonkeyPatch.context() as m:
        if case["auto_cap"]:  # the cap max(2, isqrt(n)) engages at n >= 1
            m.setattr(D, "AUTO_GUARD_MIN_DOCS", 1)
            m.setattr(D, "AUTO_GUARD_CAP_FLOOR", 2)
        m.setattr(D, "_driver_minhash_pairs", spy)
        driver = op(docs, "doc_id", "text", threshold=case["threshold"],
                    num_hashes=num_hashes, bands=bands)
        m.setattr(D, "_MH_DRIVER_DOCS_MAX", 0)
        plan = op(docs, "doc_id", "text", threshold=case["threshold"],
                  num_hashes=num_hashes, bands=bands)
        want = sorted(tuple(r) for r in plan.collect())
    assert driven == [True]
    assert sorted(tuple(r) for r in driver.collect()) == want
    assert driver.schema == plan.schema


_SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(_SF), reason="sf0.001 testdata absent")
@pytest.mark.parametrize("name", ["d03_minhash_pairs",
                                  "a13_similar_strings_lsh"])
def test_distributed_minhash_path_matches_oracle(spark, monkeypatch, name):
    """d03 and a13 take the driver path at every graded scale, so the
    oracle gate alone no longer reaches the distributed plan: run both
    with the bound at 0 against their DuckDB oracle SQL."""
    import duckdb

    from dataqtor_spark.queries import ORACLES, QUERIES
    from tools.check_oracle import TABLES, compare

    monkeypatch.setattr(D, "_MH_DRIVER_DOCS_MAX", 0)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{_SF}/{t}.parquet')")
    sdf = QUERIES[name](spark, _SF).toPandas()
    assert len(sdf) > 0
    assert compare(name, sdf, con.execute(ORACLES[name]).fetchdf()) == []
