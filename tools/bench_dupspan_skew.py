"""Skew evidence for duplicate_spans' semi-join mark design.

Builds a pathological corpus — ONE hot passage embedded verbatim in
EVERY document (the worst case for any pairwise duplicate detector: a
passage shared by n docs induces C(n, 2) ~ n^2/2 pairs) — plus a
same-size all-unique control, then wall-times duplicate_spans on both.

The operator never forms pairs: the dup set is keyed per window text
(a window shared by all n docs is ONE build-side row), marking is a
LEFT SEMI equi-join (n probe rows, linear), and the islands merge is
per-doc. So the hot corpus must cost ~the control, while a pair-join
design would face n^2/2 pairs (5*10^9 at n=100k).

Usage: python tools/bench_dupspan_skew.py [n_docs] [uniq_tokens]
Prints one JSON line; merged into BENCH/scaling.json as "dupspan_skew".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

HOT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 tokens


def build_corpus(spark, n_docs: int, uniq: int, with_hot: bool):
    """Deterministic executor-side corpus: `uniq` hash-derived unique
    tokens per doc, the 10-token hot passage spliced into the middle of
    every doc when with_hot (same token budget either way: the control
    replaces the passage with 10 more unique tokens)."""
    half = uniq // 2
    mk = lambda lo, hi: F.concat_ws(" ", F.transform(
        F.sequence(F.lit(lo), F.lit(hi)),
        lambda j: F.conv(F.hex(F.abs(F.xxhash64(F.col("id"), j))), 16, 36)))
    middle = (F.lit(HOT) if with_hot
              else F.concat_ws(" ", F.transform(
                  F.sequence(F.lit(1001), F.lit(1010)),
                  lambda j: F.conv(
                      F.hex(F.abs(F.xxhash64(F.col("id"), j))), 16, 36))))
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", mk(1, half), middle, mk(half + 1, uniq))
        .alias("text"))


def main() -> None:
    from legal_knowledge_graph_spark.operators.dedup import duplicate_spans
    from legal_knowledge_graph_spark.session import build_session

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    uniq = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = build_session(app_name="lkg-dupspan-skew", shuffle_partitions=32)
    hot = build_corpus(spark, n_docs, uniq, True).localCheckpoint()
    control = build_corpus(spark, n_docs, uniq, False).localCheckpoint()

    # warm codegen + python-free path once, untimed
    duplicate_spans(hot.limit(2_000)).write.format("noop") \
        .mode("overwrite").save()

    out = {"n_docs": n_docs, "uniq_tokens_per_doc": uniq,
           "hypothetical_pairs": n_docs * (n_docs - 1) // 2}
    for name, df in (("control", control), ("hot", hot)):
        t0 = time.time()
        spans = duplicate_spans(df, k=5, min_docs=2)
        n_spans = spans.count()
        out[name] = {"secs": round(time.time() - t0, 3),
                     "n_spans": int(n_spans)}
    # correctness of the stress shape: every hot doc carries exactly one
    # span (the spliced passage), the control none
    assert out["hot"]["n_spans"] == n_docs, out
    assert out["control"]["n_spans"] == 0, out
    print(json.dumps(out))


if __name__ == "__main__":
    main()
