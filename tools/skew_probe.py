"""Skewed-corpus probe for the dedup banding operators.

The uniform scale probe (tools/scale_probe.py) shows near-linear growth,
but dedup cost is driven by *duplicate density*, not corpus size: a hot
shingle shared by h docs expands h²/2 pairs in the n-gram inverted index,
and a hot LSH bucket of b near-identical docs expands b²/2 candidate
pairs per band.  This probe plants a hot cluster (h identical boilerplate
docs appended to the sf corpus), measures the blow-up with the guards OFF,
and shows the guards (``max_doc_freq`` stop-shingle cut, ``max_bucket_size``
bucket cap) holding cost flat as the cluster grows.

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
BOILER = ("terms of service please read carefully this boilerplate footer "
          "is appended to every mirrored page of the site " * 3)


def planted(docs, h: int):
    """sf corpus + h exact copies of one boilerplate doc (shifted ids)."""
    hot = (docs.sparkSession.range(h)
           .select((F.lit(10_000_000) + F.col("id")).alias("doc_id"),
                   F.lit(BOILER).alias("text")))
    return docs.select("doc_id", "text").unionByName(hot)


def timed(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return time.perf_counter() - t0, n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from dataqtor_spark.operators import dedup as DD
    from dataqtor_spark.queries import _t
    from dataqtor_spark.session import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _t(spark, sf_dir, "documents")

    rows = []
    for h in (200, 800):
        corpus = planted(docs, h).persist()
        corpus.count()

        t_uncut, n_uncut = timed(DD.ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=5, threshold=0.2, max_doc_freq=None))
        t_cut, n_cut = timed(DD.ngram_jaccard_pairs(
            corpus, "doc_id", "text", n=5, threshold=0.2, max_doc_freq=16))

        sig = DD.minhash_signatures(corpus, "doc_id", "text",
                                    num_hashes=64, shingle_n=5).persist()
        sig.count()
        t_band, n_band = timed(DD.minhash_candidates(sig, "doc_id", 64, 16,
                                                    max_bucket_size=None))
        t_cap, n_cap = timed(DD.minhash_candidates(sig, "doc_id", 64, 16,
                                                   max_bucket_size=16))
        sig.unpersist()

        # simhash banding: h identical docs share one signature → every
        # (band, chunk) bucket holds the whole hot cluster.
        sh = DD.simhash(corpus, "doc_id", "text").persist()
        sh.count()
        t_shu, n_shu = timed(DD.simhash_near_pairs(sh, "doc_id",
                                                   max_bucket=None))
        t_shc, n_shc = timed(DD.simhash_near_pairs(sh, "doc_id",
                                                   max_bucket=16))
        sh.unpersist()
        corpus.unpersist()

        # video fingerprint posting lists: h videos share one hot frame
        # fingerprint (a black frame / title card) plus min_matches-1
        # paired unique frames so capped survivors stay comparable.
        spark_ = docs.sparkSession
        hot_frames = (spark_.range(h).select(
            F.col("id").alias("media_id"),
            F.lit(-1).cast("long").alias("phash"))
            .unionByName(spark_.range(h).select(
                F.col("id").alias("media_id"),
                (F.col("id") * 16 + 7).alias("phash"))))
        t_vu, n_vu = timed(MM.video_near_dup_pairs(
            hot_frames, "media_id", "phash", min_matches=1, max_bucket=None))
        t_vc, n_vc = timed(MM.video_near_dup_pairs(
            hot_frames, "media_id", "phash", min_matches=1, max_bucket=16))
        rows.append((h, t_uncut, n_uncut, t_cut, n_cut,
                     t_band, n_band, t_cap, n_cap,
                     t_shu, n_shu, t_shc, n_shc,
                     t_vu, n_vu, t_vc, n_vc))
        print(f"h={h}: uncut {t_uncut:.2f}s/{n_uncut} pairs, "
              f"cut {t_cut:.2f}s/{n_cut}, band {t_band:.2f}s/{n_band}, "
              f"cap {t_cap:.2f}s/{n_cap}, simhash {t_shu:.2f}s/{n_shu} → "
              f"capped {t_shc:.2f}s/{n_shc}, video {t_vu:.2f}s/{n_vu} → "
              f"capped {t_vc:.2f}s/{n_vc}", file=sys.stderr)

    (h1, tu1, nu1, tc1, nc1, tb1, nb1, tp1, np1,
     tsu1, nsu1, tsc1, nsc1, tvu1, nvu1, tvc1, nvc1) = rows[0]
    (h2, tu2, nu2, tc2, nc2, tb2, nb2, tp2, np2,
     tsu2, nsu2, tsc2, nsc2, tvu2, nvu2, tvc2, nvc2) = rows[1]
    ratio = h2 / h1
    section = [
        MARK, "",
        f"Corpus = {os.path.basename(sf_dir.rstrip('/'))} documents + a",
        f"planted hot cluster of h identical boilerplate docs; h grows {ratio:.0f}×",
        f"({h1} → {h2}), so an unguarded pair expansion should grow ~{ratio*ratio:.0f}×",
        "(quadratic in cluster size) while the guarded paths stay flat.",
        "",
        "| operator | guard | pairs @h=" + str(h1) + " | t (s) | pairs @h=" + str(h2) + " | t (s) | pair growth |",
        "|---|---|---|---|---|---|---|",
        f"| ngram_jaccard_pairs | none (uncut) | {nu1:,} | {tu1:.2f} | {nu2:,} | {tu2:.2f} | {nu2 / max(nu1, 1):.1f}× |",
        f"| ngram_jaccard_pairs | max_doc_freq=16 | {nc1:,} | {tc1:.2f} | {nc2:,} | {tc2:.2f} | {nc2 / max(nc1, 1):.1f}× |",
        f"| minhash_candidates | none (uncapped) | {nb1:,} | {tb1:.2f} | {nb2:,} | {tb2:.2f} | {nb2 / max(nb1, 1):.1f}× |",
        f"| minhash_candidates | max_bucket_size=16 | {np1:,} | {tp1:.2f} | {np2:,} | {tp2:.2f} | {np2 / max(np1, 1):.1f}× |",
        f"| simhash_near_pairs | max_bucket=None | {nsu1:,} | {tsu1:.2f} | {nsu2:,} | {tsu2:.2f} | {nsu2 / max(nsu1, 1):.1f}× |",
        f"| simhash_near_pairs | max_bucket=16 | {nsc1:,} | {tsc1:.2f} | {nsc2:,} | {tsc2:.2f} | {nsc2 / max(nsc1, 1):.1f}× |",
        f"| video_near_dup_pairs | max_bucket=None | {nvu1:,} | {tvu1:.2f} | {nvu2:,} | {tvu2:.2f} | {nvu2 / max(nvu1, 1):.1f}× |",
        f"| video_near_dup_pairs | max_bucket=16 | {nvc1:,} | {tvc1:.2f} | {nvc2:,} | {tvc2:.2f} | {nvc2 / max(nvc1, 1):.1f}× |",
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
        "differential oracle d02b tests the cut's exact semantics.",
        "",
    ]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "SCALE_PROBE.md")
    text = open(path).read() if os.path.exists(path) else "# SCALE_PROBE\n\n"
    block = "\n".join(section)
    if MARK in text:
        text = re.sub(re.escape(MARK) + r".*?(?=\n## |\Z)", block,
                      text, flags=re.S)
    else:
        text = text.rstrip("\n") + "\n\n" + block
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
