"""Skewed-corpus probe for the dedup banding operators.

The uniform scale probe (tools/scale_probe.py) shows near-linear growth,
but dedup cost is driven by *duplicate density*, not corpus size: a hot
shingle shared by h docs expands h²/2 pairs in the n-gram inverted index,
and a hot LSH bucket of b near-identical docs expands b²/2 candidate
pairs per band.  This probe plants a hot cluster (h identical boilerplate
docs appended to the sf corpus), measures the blow-up with the guards OFF,
and shows the guards (``max_doc_freq`` stop-shingle cut, ``max_bucket_size``
bucket cap) holding cost flat as the cluster grows.  The co-purchase rows
plant one hot basket of h items on lineitem the same way.

Usage: python tools/skew_probe.py [sf_dir]
Rewrites the '## Skewed-corpus probe' section of SCALE_PROBE.md.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from dataqtor_spark.operators import multimodal as MM  # noqa: E402

MARK = "## Skewed-corpus probe (dedup banding)"
HOT_ID0 = 10_000_000  # planted ids start here, above every fixture id
HS = (200, 800)  # hot-cluster sizes
# the table's rows in order: (operator, guard label)
ROWS = [
    ("ngram_jaccard_pairs", "none (uncut)"),
    ("ngram_jaccard_pairs", "max_doc_freq=16"),
    ("minhash_candidates", "none (uncapped)"),
    ("minhash_candidates", "max_bucket_size=16"),
    ("simhash_near_pairs", "max_bucket=None"),
    ("simhash_near_pairs", "max_bucket=16"),
    ("video_near_dup_pairs", "max_bucket=None"),
    ("video_near_dup_pairs", "max_bucket=16"),
    ("copurchase_pairs", "basket_cap=None"),
    ("copurchase_pairs", "basket_cap=16"),
]
BOILER = ("terms of service please read carefully this boilerplate footer "
          "is appended to every mirrored page of the site " * 3)


def planted(docs, h: int):
    """sf corpus + h exact copies of one boilerplate doc (shifted ids)."""
    hot = (docs.sparkSession.range(h)
           .select((F.lit(HOT_ID0) + F.col("id")).alias("doc_id"),
                   F.lit(BOILER).alias("text")))
    return docs.select("doc_id", "text").unionByName(hot)


def timed(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t0, n


def measure(spark, sf_dir: str, h: int) -> dict[tuple[str, str], tuple[int, float]]:
    """(pairs, seconds) of every ROWS entry with a hot cluster of h."""
    from dataqtor_spark.operators import behavior as BH
    from dataqtor_spark.operators import dedup as DD
    from dataqtor_spark.queries import _t

    out = {}

    def run(key, df):
        t, n = timed(df)
        out[key] = (n, t)

    docs = _t(spark, sf_dir, "documents")
    corpus = planted(docs, h).persist()
    corpus.count()
    for guard, cut in zip(ROWS[0:2], (None, 16)):
        run(guard, DD.ngram_jaccard_pairs(corpus, "doc_id", "text", n=5,
                                          threshold=0.2, max_doc_freq=cut))

    sig = DD.minhash_signatures(corpus, "doc_id", "text",
                                num_hashes=64, shingle_n=5).persist()
    sig.count()
    for guard, cap in zip(ROWS[2:4], (None, 16)):
        run(guard, DD.minhash_candidates(sig, "doc_id", 64, 16,
                                         max_bucket_size=cap))
    sig.unpersist()

    # simhash banding: h identical docs share one signature → every
    # (band, chunk) bucket holds the whole hot cluster.
    sh = DD.simhash(corpus, "doc_id", "text").persist()
    sh.count()
    for guard, cap in zip(ROWS[4:6], (None, 16)):
        run(guard, DD.simhash_near_pairs(sh, "doc_id", max_bucket=cap))
    sh.unpersist()
    corpus.unpersist()

    # video fingerprint posting lists: h videos share one hot frame
    # fingerprint (a black frame / title card) plus min_matches-1
    # paired unique frames so capped survivors stay comparable.
    hot_frames = (spark.range(h).select(
        F.col("id").alias("media_id"),
        F.lit(-1).cast("long").alias("phash"))
        .unionByName(spark.range(h).select(
            F.col("id").alias("media_id"),
            (F.col("id") * 16 + 7).alias("phash"))))
    for guard, cap in zip(ROWS[6:8], (None, 16)):
        run(guard, MM.video_near_dup_pairs(hot_frames, "media_id", "phash",
                                           min_matches=1, max_bucket=cap))

    # co-purchase: one hot basket of h planted items on lineitem; the
    # pairs counted are those among the planted items
    baskets = (_t(spark, sf_dir, "lineitem")
               .select(F.col("l_orderkey").alias("basket"),
                       F.col("l_partkey").alias("item"))
               .unionByName(spark.range(h).select(
                   F.lit(-1).cast("long").alias("basket"),
                   (F.lit(HOT_ID0) + F.col("id")).alias("item"))))
    for guard, cap in zip(ROWS[8:10], (None, 16)):
        pairs = BH.copurchase_pairs(baskets, "basket", "item",
                                    top_k=2 ** 31 - 1, basket_cap=cap)
        run(guard, pairs.filter(F.col("item_a") >= HOT_ID0))
    return out


def section(sf_name: str, results: dict[int, dict]) -> str:
    """The SCALE_PROBE.md section for ``results[h][(operator, guard)] =
    (pairs, seconds)`` at the two cluster sizes."""
    h1, h2 = sorted(results)
    ratio = h2 / h1
    lines = [
        MARK, "",
        f"Corpus = {sf_name} documents + a",
        f"planted hot cluster of h identical boilerplate docs; h grows {ratio:.0f}×",
        f"({h1} → {h2}), so an unguarded pair expansion should grow ~{ratio*ratio:.0f}×",
        "(quadratic in cluster size) while the guarded paths stay flat.",
        "",
        f"| operator | guard | pairs @h={h1} | t (s) | pairs @h={h2} | t (s) | pair growth |",
        "|---|---|---|---|---|---|---|",
    ]
    for op, guard in ROWS:
        (n1, t1), (n2, t2) = results[h1][op, guard], results[h2][op, guard]
        lines.append(f"| {op} | {guard} | {n1:,} | {t1:.2f} | {n2:,} | {t2:.2f} "
                     f"| {n2 / max(n1, 1):.1f}× |")
    lines += [
        "",
        "The unguarded rows grow quadratically with the hot-cluster size —",
        "the blow-up that at 100 TB would sink the stage.  With the guards on",
        "the cost is flat: the stop-shingle cut drops shingles shared by >16",
        "docs before the posting-list expansion, and the bucket caps skip",
        "over-full LSH / simhash-band / video-fingerprint buckets (those",
        "clusters are exact/near-exact dups, which the linear d01 exact-hash",
        "pass collapses first).  The simhash and video rows exercise the same",
        "deferred in-plan auto-cap device every perceptual near-dup path",
        "rides (d04, image pHash m04/m05, audio m06, video m07, the d11",
        "image/audio legs).  All guards trade documented recall (pairs",
        "internal to a dropped shingle/bucket) for bounded cost; the",
        "differential oracle d02b tests the cut's exact semantics.  The",
        f"copurchase rows plant one {h1}→{h2}-item hot basket on",
        f"{sf_name} lineitem and count the pairs among its items: the",
        "uncapped |basket|²/2 expansion grows quadratically while the capped",
        "run drops the pathological basket entirely — the same guard,",
        "`size(items)` against max(1024, isqrt(n_rows)) by default (the",
        "probe pins basket_cap=16 so the planted basket crosses it at",
        "fixture scale).",
        "",
    ]
    return "\n".join(lines)


def rewrite(text: str, block: str) -> str:
    """``text`` with its skewed-corpus section replaced by ``block`` (or
    ``block`` appended when there is none); other sections are kept."""
    if MARK in text:
        return re.sub(re.escape(MARK) + r".*?(?=\n## |\Z)", lambda _: block,
                      text, flags=re.S)
    return text.rstrip("\n") + "\n\n" + block


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from dataqtor_spark.session import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for h in HS:
        results[h] = measure(spark, sf_dir, h)
        print(f"h={h}: " + ", ".join(f"{op} [{g}] {t:.2f}s/{n}"
                                     for (op, g), (n, t) in results[h].items()),
              file=sys.stderr)

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALE_PROBE.md")
    text = open(path).read() if os.path.exists(path) else "# SCALE_PROBE\n\n"
    with open(path, "w") as f:
        f.write(rewrite(text, section(os.path.basename(sf_dir.rstrip("/")), results)))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
