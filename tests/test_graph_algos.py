"""Text-analysis and packing operators: the unigram LM quality scorer,
CCNet buckets, PMI collocations and sequence packing — closed-form and
reference-implementation checks on hand-built fixtures."""

import math

from legal_knowledge_graph_spark.operators.text_analysis import (
    unigram_lm_scores,
)


def test_unigram_lm_scores_closed_form(spark):
    docs = spark.createDataFrame(
        [(0, "the cat"), (1, "the the dog"), (2, "  ")],
        "doc_id long, text string")
    # corpus counts: the=3, cat=1, dog=1 -> T=5, V=3, denom = 5 + 0.5*3
    denom = 5 + 0.5 * 3
    p = {"the": (3 + 0.5) / denom, "cat": (1 + 0.5) / denom,
         "dog": (1 + 0.5) / denom}
    out = {r.doc_id: r for r in unigram_lm_scores(docs).collect()}
    assert set(out) == {0, 1}  # doc 2 has no tokens
    assert out[0].n_tokens == 2
    want0 = (math.log10(p["the"]) + math.log10(p["cat"])) / 2
    assert math.isclose(out[0].avg_logprob, want0, rel_tol=1e-12)
    want1 = (2 * math.log10(p["the"]) + math.log10(p["dog"])) / 3
    assert math.isclose(out[1].avg_logprob, want1, rel_tol=1e-12)
    # the all-common-words doc scores higher (more typical text)
    assert out[1].avg_logprob > want0 or out[1].n_tokens == 3


def test_unigram_lm_empty_corpus(spark):
    docs = spark.createDataFrame([(0, "")], "doc_id long, text string")
    assert unigram_lm_scores(docs).count() == 0


def test_pack_sequences_closed_form(spark):
    """Concat-and-chunk placement: offsets are the running token sum per
    shard in doc_id order; seq_first/seq_last bracket the budget-sized
    chunks a doc overlaps; zero-token docs are dropped."""
    from legal_knowledge_graph_spark.operators.packing import pack_sequences

    # n_shards=2: even doc_ids -> shard 0, odd -> shard 1
    docs = spark.createDataFrame(
        [(0, "a b c"),            # 3 tokens, shard 0, start 0
         (1, "w x y z"),          # 4 tokens, shard 1, start 0
         (2, "d e f g h"),        # 5 tokens, shard 0, start 3 -> spans chunk 0..1
         (3, ""),                 # 0 tokens -> dropped
         (4, "i j")],             # 2 tokens, shard 0, start 8 -> chunk 2
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           pack_sequences(docs, budget=4, n_shards=2).collect()}
    assert set(out) == {0, 1, 2, 4}
    assert (out[0].shard, out[0].token_start, out[0].seq_first,
            out[0].seq_last) == (0, 0, 0, 0)
    assert (out[1].shard, out[1].token_start, out[1].seq_first,
            out[1].seq_last) == (1, 0, 0, 0)
    # doc 2: tokens [3,8) with budget 4 -> chunks 0 and 1
    assert (out[2].token_start, out[2].seq_first, out[2].seq_last) == (3, 0, 1)
    # doc 4: tokens [8,10) -> chunk 2 only
    assert (out[4].token_start, out[4].seq_first, out[4].seq_last) == (8, 2, 2)
    # shard streams are gapless: starts partition the token axis
    assert out[2].token_start == out[0].n_tokens
    assert out[4].token_start == out[0].n_tokens + out[2].n_tokens


def test_pack_sequences_plan_is_shard_local(spark):
    """The only Exchange is the hash partition on `shard` feeding the
    window — no global sort, no joins."""
    from legal_knowledge_graph_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard" in plan
    assert "Join" not in plan and "Cartesian" not in plan


def test_pmi_collocations_closed_form(spark):
    import math

    from legal_knowledge_graph_spark.operators.text_analysis import (
        pmi_collocations,
    )

    # "aa bb" x3 and "aa cc" x1 in one doc stream; min_count=2 keeps only
    # (aa,bb) and the in-between (bb,aa) pairs
    docs = spark.createDataFrame(
        [(1, "aa bb aa bb aa bb aa cc")], "doc_id long, text string")
    rows = pmi_collocations(docs, k=10, min_count=2).collect()
    got = {(r.x, r.y): (r.n_xy, r.pmi, r.rank) for r in rows}
    # tokens: aa x4, bb x3, cc x1 (T=8); bigrams: (aa,bb) x3, (bb,aa) x3,
    # (aa,cc) x1 (B=7); min_count=2 keeps the first two, which tie on pmi
    # (symmetric product) and break on x asc
    t, b = 8.0, 7.0
    def pmi(nxy, nx, ny):
        return round(math.log((nxy / b) / ((nx / t) * (ny / t))), 6)
    assert got == {
        ("aa", "bb"): (3, pmi(3, 4, 3), 1),
        ("bb", "aa"): (3, pmi(3, 3, 4), 2),
    }


def test_pmi_collocations_empty_and_short_docs(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        pmi_collocations,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "solo"), (3, "  ")], "doc_id long, text string")
    assert pmi_collocations(docs, k=5, min_count=1).count() == 0


def test_ccnet_buckets_vs_reference(spark):
    """Independent python replay: unigram LM -> round(4) -> numpy type-7
    terciles per stratum -> head/middle/tail; must match row-for-row."""
    import numpy as np
    from legal_knowledge_graph_spark.operators.text_analysis import (
        ccnet_buckets,
    )

    rows = []
    for i in range(30):
        lang = "en" if i % 2 == 0 else "de"
        # vary typicality: low-i docs reuse common words, high-i docs
        # inject rare tokens
        words = ["the"] * 3 + [f"w{i % 5}"] * 2 + [f"rare{i}"] * ((i // 2) % 4)
        rows.append((i, lang, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    # reference scores
    from collections import Counter
    corpus = Counter()
    toks = {}
    for i, lang, text in rows:
        t = [w for w in text.lower().strip().split() if w]
        toks[i] = t
        corpus.update(t)
    T, V = sum(corpus.values()), len(corpus)
    denom = T + 0.5 * V
    score = {
        i: round(sum(math.log10((corpus[w] + 0.5) / denom) for w in t)
                 / len(t), 4)
        for i, t in toks.items() if t}
    exp = {}
    for lang in ("en", "de"):
        vals = np.array(sorted(score[i] for i, l, _ in rows if l == lang))
        c_lo = float(np.percentile(vals, 100 / 3, method="linear"))
        c_hi = float(np.percentile(vals, 200 / 3, method="linear"))
        for i, l, _ in rows:
            if l != lang:
                continue
            s = score[i]
            exp[i] = ("head" if s >= c_hi
                      else "tail" if s < c_lo else "middle")

    got = {r.doc_id: r.bucket for r in ccnet_buckets(docs).collect()}
    assert got == exp
    # every stratum produces all three buckets on this fixture
    assert {exp[i] for i in exp} == {"head", "middle", "tail"}
