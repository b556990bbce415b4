"""Wall-clock evidence the round-5 text operators hold 2-3
orders of magnitude past the driver corpus: a deterministic
hash-derived document table (default 200k docs x ~60 words from a 40-
word vocabulary, built on executors — no driver data) through

- textrank_chunks  (per-doc chunk PageRank, 10 corpus-wide joins)
- inverted_index   (salted two-phase smallest-k postings; the 40-word
                    vocabulary makes EVERY word a stopword-grade hot
                    group — the worst case the salting exists for)

Outputs fingerprint (order-insensitive XOR) so two parallelism levels
prove identical results:
  python tools/bench_text_scale.py 200000 8
  python tools/bench_text_scale.py 200000 32
Merged into BENCH/scaling.json as "text_scale".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

VOCAB = [f"w{i:02d}" for i in range(40)]
WORDS_PER_DOC = 60


def build_docs(spark, n_docs: int):
    """~60 words per doc drawn by xxhash64(doc, pos) from the 40-word
    vocabulary; deterministic at any parallelism."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    words = F.transform(
        F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
        lambda p: F.element_at(
            vocab,
            (F.abs(F.xxhash64(F.col("id"), p, F.lit(3))) % len(VOCAB) + 1)
            .cast("int")))
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"),
                F.concat_ws(" ", words).alias("text"))
        .localCheckpoint()
    )


def _fp(df):
    from benchlib import fingerprint_all_cols
    return fingerprint_all_cols(df)


def main() -> None:
    from legal_knowledge_graph_spark.operators.text_analysis import (
        inverted_index, textrank_chunks)
    from legal_knowledge_graph_spark.session import build_session

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    # 2x cores (the standard oversubscription guidance): measured on
    # this box, 32 cores with exactly 32 shuffle partitions runs the
    # iterative stages in one all-cores wave whose stragglers dominate
    # (70-124 s for textrank), while 64 partitions lets finished cores
    # steal the tail (24 s) — see BENCH/scaling.json text_scale note
    spark = build_session(app_name="lkg-text-scale",
                          master=f"local[{cores}]",
                          shuffle_partitions=max(2 * cores, 16))
    docs = build_docs(spark, n_docs)
    n = docs.count()
    out = {"cores": cores, "n_docs": int(n)}

    t0 = time.time()
    rows, fp = _fp(textrank_chunks(docs, chunk_size=10, n_iter=10,
                                   top_k=2))
    out["textrank"] = {"secs": round(time.time() - t0, 3),
                       "rows": rows, "fingerprint": fp}

    t0 = time.time()
    rows, fp = _fp(inverted_index(docs, max_postings=20, min_df=1))
    out["inverted_index"] = {"secs": round(time.time() - t0, 3),
                             "rows": rows, "fingerprint": fp}

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
