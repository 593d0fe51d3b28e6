"""Measured recall of every sub-quadratic near-dup candidate route against
the exact O(n^2) char-3-gram jaccard baseline (threshold 0.5) — the
evidence behind each route's documented recall envelope.

For each route we report:
  cands     - candidate pairs the route generates (pre exact-verify)
  verified  - pairs surviving exact jaccard >= 0.5
  recall    - |verified ∩ truth| / |truth|   (precision is 1.0 by
              construction: the verify stage measures true jaccard)

Routes:
  minhash   - minhash-LSH bands (64 perms / 16 bands, hashed band keys)
  winnow    - winnowing fingerprints (SIGMOD'03 substring guarantee),
              swept over (min_shared, max_df)
  simhash   - 64-bit simhash, hamming <= 6 block-pair pigeonhole
              (NOTE: simhash targets cosine-style similarity, not set
              jaccard — included for completeness, its envelope is
              different by design)

Usage: python scripts/dedup_recall.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapbox_vector_tile_java_spark.session import get_spark  # noqa: E402


def pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import tempfile

    from mapbox_vector_tile_java_spark.operators import dedup as D

    spark = get_spark("dedup-recall")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    gram_dir = tempfile.mkdtemp(prefix="mvt_recall_grams_")
    D.build_gram_records(docs, "text", "doc_id", 3, gram_dir)

    t0 = time.time()
    truth = pairs(D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                        k=3, threshold=0.5))
    print(f"truth (exact O(n^2), jaccard>=0.5): {len(truth)} pairs "
          f"[{time.time() - t0:.1f}s]")

    def report(name, cand_df, note=""):
        t0 = time.time()
        cands = cand_df.select("id_a", "id_b")
        n_c = cands.count()
        ver = pairs(D.exact_jaccard_verify(docs, cands, "text", "doc_id",
                                           k=3, threshold=0.5,
                                           gram_dir=gram_dir))
        rec = len(ver & truth) / max(len(truth), 1)
        print(f"{name:28s} cands {n_c:>8,}  verified {len(ver):>7,}  "
              f"recall {rec:6.4f}  [{time.time() - t0:.1f}s] {note}")

    report("minhash (64/16, hashed)",
           D.minhash_lsh_pairs(docs, "text", "doc_id"))
    for ms, mdf in [(2, 64), (3, 64), (2, 32), (3, 32), (4, 64)]:
        report(f"winnow ms={ms} max_df={mdf}",
               D.winnow_candidate_pairs(docs, "text", "doc_id",
                                        min_shared=ms, max_df=mdf))
    report("simhash (hamming<=6)",
           D.simhash_pairs(docs, "text", "doc_id"),
           note="(cosine-style envelope, not a jaccard route)")
    spark.stop()


if __name__ == "__main__":
    main()
