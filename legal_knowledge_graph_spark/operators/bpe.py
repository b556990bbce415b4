"""Distributed BPE merge learning (tokenizer prep).

Completes the tokenizer-prep surface next to corpus_vocab: learn the
byte-pair-encoding merge sequence from the corpus the standard way
(Sennrich et al. 2016) — over the WORD-FREQUENCY table, not the corpus:

  1. one corpus scan aggregates (word, n) — vocab-sized from then on;
  2. per merge round: count adjacent symbol pairs weighted by n
     (zip-shift, map-side combinable), take the global argmax with a
     total-order tiebreak (count desc, pair asc — deterministic and
     parallelism-invariant), rewrite every word's symbol array with a
     greedy left-to-right fold (F.aggregate — pure Catalyst, no UDF).

Scale shape (100 TB): after the single corpus scan every round works on
the vocab table (Heaps' law: ~10^6-10^7 rows at 100 TB), one agg + one
projection per round, each round's lineage cut with a checkpoint; the
driver receives exactly ONE row per round (the winning pair — the
learned artifact itself). Sequential rounds are inherent to BPE.

The merge loop is not SQL-expressible in DuckDB, so the driver oracle
is a committed golden parquet (tools/make_bpe_golden.py — an
INDEPENDENT dict-based python implementation over the same corpus);
the pytest replicates the recurrence closed-form.

Reference parity note: the reference tokenizes with an external
segmenter (/root/reference/src/pdf_processor/text_splitter.py); vocab
learning is part of the training-data surface this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

END = "</w>"


def _word_table(docs: DataFrame, text_col: str) -> DataFrame:
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("word")).where(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))


def learn_bpe(
    docs: DataFrame, n_merges: int = 30, text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Returns the learned merge sequence as a DataFrame
    (rank, left, right, pair_count), rank 1 = first merge. Stops early
    when the best remaining pair's weighted count drops below
    `min_count` (further rounds would memorize hapaxes)."""
    spark = docs.sparkSession
    wt = _word_table(docs, text_col)
    sym = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1))),
        F.array(F.lit(END)))
    wt = wt.select("word", "n", sym.alias("sym")).localCheckpoint()

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        s = F.col("sym")
        pairs = (
            wt.where(F.size(s) >= 2)
            .select(
                "n",
                F.explode(F.transform(
                    F.slice(s, 1, F.size(s) - 1),
                    lambda x, j: F.struct(
                        x.alias("a"),
                        F.element_at(s, j + 2).alias("b"))))
                .alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best or best[0]["cnt"] < min_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        wt = wt.select(
            "word", "n", _fold_merge(s, a, b).alias("sym")).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long")


def _fold_merge(s, a: str, b: str):
    """Greedy left-to-right application of one merge to a symbol array
    column (the exact rewrite learn_bpe trains with)."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        F.slice(s, 2, F.size(s) - 1),
        F.slice(s, 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(x))))


def apply_bpe(
    docs: DataFrame, merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Tokenize with a learned merge list (driver-side, tiny — it IS the
    model): merges run in rank order over the DISTINCT word table (one
    materialized fold projection per merge — chaining them as one nested
    expression grows the Catalyst tree exponentially, each round
    referencing the previous ~5x), then words join their token arrays
    back to positions. Pure Catalyst, no UDF.

    Output: (doc_id, pos, word, tokens array<string>)."""
    pos_words = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
            .alias("pos0", "word"))
        .where(F.col("word") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    )
    word = F.col("word")
    s = F.concat(
        F.transform(F.sequence(F.lit(1), F.length(word)),
                    lambda i: word.substr(i, F.lit(1))),
        F.array(F.lit(END)))
    vocab = pos_words.select("word").distinct() \
        .select("word", s.alias("tokens")).localCheckpoint()
    for a, b in merges:
        vocab = vocab.select(
            "word", _fold_merge(F.col("tokens"), a, b).alias("tokens")
        ).localCheckpoint()
    return pos_words.join(vocab, "word").select(
        "doc_id", "pos", "word", "tokens")
