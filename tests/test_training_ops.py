"""Training-data operators: text analysis and retrieval scoring — small
planted cases with known answers."""

import pytest
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.text_analysis import (
    language_id, quality_scores, token_counts,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog in the river of stars near the bank"),
    (1, "the quick brown fox jumps over the lazy dog in the river of stars near the bend"),  # near-dup of 0
    (2, "completely different text about spark and distributed query engines"),
    (3, "The Quick  Brown fox jumps over the lazy dog in the river of stars near the bank"),  # exact dup of 0 (normalized)
    (4, "der hund und die katze das ist ein test und nicht mehr zu sagen"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_text_analysis(spark, docs):
    tc = {r.doc_id: (r.n_ws_tokens, r.n_bpe_tokens)
          for r in token_counts(docs).collect()}
    assert tc[0][0] == len(DOCS[0][1].split())
    q = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert 0.0 <= q[2].quality_score <= 1.0
    assert q[0].stopword_ratio > q[4].stopword_ratio  # en text hits en stopwords
    langs = {r.doc_id: r.predicted_lang for r in language_id(docs).collect()}
    assert langs[0] == "en" and langs[4] == "de"


def test_boilerplate_removal(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        boilerplate_lines, remove_boilerplate,
    )

    footer = "(c) ExampleCorp — all rights reserved"
    rows = [
        (0, f"alpha unique zero\n{footer}\nbeta zero"),
        (1, f"{footer}\ngamma unique one\n\nshort"),   # blank + <4 lines kept
        (2, f"delta unique two\n{footer}"),
        (3, "no boilerplate here at all"),
        (4, footer),                                   # only boilerplate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    boiler = {r.line for r in boilerplate_lines(docs, min_docs=2).collect()}
    assert boiler == {footer}

    out = {r.doc_id: r for r in remove_boilerplate(docs, min_docs=2).collect()}
    assert out[0].cleaned == "alpha unique zero\nbeta zero"
    assert out[1].cleaned == "gamma unique one\n\nshort"  # order + blanks kept
    assert out[2].cleaned == "delta unique two"
    assert out[3].cleaned == rows[3][1]
    assert (out[4].cleaned, out[4].n_kept) == ("", 0)
    assert out[0].n_kept == 2

    # frac threshold: the footer is in 4 of 5 docs — a 90% bar
    # (ceil(0.9*5)=5 > 4) clears it, a 50% bar (ceil=3 <= 4) keeps it
    assert {r.line for r in boilerplate_lines(
        docs, min_docs=2, min_doc_frac=0.9).collect()} == set()
    assert {r.line for r in boilerplate_lines(
        docs, min_docs=2, min_doc_frac=0.5).collect()} == {footer}


def test_pretraining_filter_chain(spark):
    """Composite C4-style filter: reasons compose in fixed order, kept is
    their conjunction, and the whole chain is ONE projection — zero
    Exchange in the executed plan (no joins between the sub-scores)."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        pretraining_filter,
    )

    good = ("the quick brown fox jumps over a lazy dog and it runs far "
            "away to green hills for it is chased by an old farmer while "
            "birds watch from tall trees near that winding river in early "
            "morning light as the village slowly wakes behind them")
    rows = [
        (0, good, "src_ok"),                       # passes everything
        (1, good, "src_bad"),                      # blocked source only
        (2, "der hund und die katze", "src_ok"),   # german + short + quality
        (3, ("spam ham " * 40).strip(), "src_ok"),  # repetition (+quality)
        (4, "xy", "src_ok"),                       # short + quality + lang
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in pretraining_filter(
        docs, allowed_langs=("en",), min_quality=0.5,
        max_dup_3gram_frac=0.5, min_chars=30,
        blocked_sources=("src_bad",)).collect()}
    assert out[0].kept and out[0].reasons == ""
    assert out[1].reasons == "blocked_source" and not out[1].kept
    assert out[2].reasons.startswith("lang") and "too_short" in out[2].reasons
    assert "repetition" in out[3].reasons and out[3].dup_3gram_frac > 0.9
    assert out[4].reasons.split(",")[0] == "lang" and "too_short" in out[4].reasons
    # every reason list respects the fixed check order
    order = ["lang", "quality", "repetition", "too_short", "too_long",
             "blocked_source"]
    for r in out.values():
        names = [x for x in r.reasons.split(",") if x]
        assert names == sorted(names, key=order.index)
        assert r.kept == (not names)

    plan = pretraining_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one scan, zero shuffle, no joins


def test_repetition_scores(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        repetition_scores,
    )

    rows = [
        (0, "spam spam spam spam spam"),             # total repetition
        (1, "all words here are fully distinct ok"), # none
        (2, "a b c a b c a b c"),                    # repeated 3-gram cycle
        (3, "xy zz"),                                # too short for 3-grams
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert (out[0].n_words, out[0].n_distinct_words) == (5, 1)
    assert out[0].dup_word_frac == 0.8
    # 3 identical 3-grams ("spam spam spam") -> 1 distinct of 3
    assert (out[0].n_3grams, out[0].n_distinct_3grams) == (3, 1)
    assert out[1].dup_word_frac == 0.0 and out[1].dup_3gram_frac == 0.0
    # "a b c" x3: 7 grams, distinct = {abc, bca, cab} = 3
    assert (out[2].n_3grams, out[2].n_distinct_3grams) == (7, 3)
    assert (out[3].n_3grams, out[3].dup_3gram_frac) == (0, 0.0)
    assert out[4].n_words == 1  # null -> '' -> ['']


def test_corpus_vocab_closed_form(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        corpus_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "aa bb bb cc"), (2, "bb cc cc dd")], "doc_id long, text string")
    rows = corpus_vocab(docs, top_v=3, min_len=1).orderBy("rank").collect()
    # counts: aa 1, bb 3, cc 3, dd 1 (total 8); order bb, cc, aa
    assert [(r.rank, r.word, r.n) for r in rows] == [
        (1, "bb", 3), (2, "cc", 3), (3, "aa", 1)]
    assert [r.coverage for r in rows] == [
        round(3 / 8, 6), round(6 / 8, 6), round(7 / 8, 6)]


def test_tfidf_keywords_closed_form(spark):
    import math

    from legal_knowledge_graph_spark.operators.text_analysis import (
        tfidf_keywords,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, "bb cc"), (3, "cc cc cc")],
        "doc_id long, text string")
    rows = tfidf_keywords(docs, k=2, min_len=1).collect()
    got = {(r.doc_id, r.word): (r.tfidf, r.rank) for r in rows}
    # df: aa 1, bb 2, cc 2; N=3
    idf = {"aa": math.log(3 / 1), "bb": math.log(3 / 2),
           "cc": math.log(3 / 2)}
    want = {
        (1, "aa"): (round(2 * idf["aa"], 6), 1),
        (1, "bb"): (round(1 * idf["bb"], 6), 2),
        (2, "bb"): (round(1 * idf["bb"], 6), 2),  # tie: bb after cc? no —
        (2, "cc"): (round(1 * idf["cc"], 6), 1),
        (3, "cc"): (round(3 * idf["cc"], 6), 1),
    }
    # doc 2: bb and cc tie on score, word-asc tiebreak puts bb first
    want[(2, "bb")] = (round(1 * idf["bb"], 6), 1)
    want[(2, "cc")] = (round(1 * idf["cc"], 6), 2)
    assert got == want


def test_bm25_closed_form(spark):
    import math

    from legal_knowledge_graph_spark.operators.text_analysis import (
        bm25_scores,
    )

    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana banana date"),
        (3, "cherry date elderberry fig grape"),
        (4, "apple"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k1, b = 1.2, 0.75
    got = {(r.query_id, r.doc_id): (r.rk, r.bm25)
           for r in bm25_scores(docs, {"qa": ["apple", "banana"]},
                                k1=k1, b=b, topk=10).collect()}

    toks = [t[1].split() for t in rows]
    N, avgdl = 4.0, sum(len(w) for w in toks) / 4.0

    def score(widx):
        s = 0.0
        for t in ["apple", "banana"]:
            tf = float(toks[widx].count(t))
            df = float(sum(1 for w in toks if t in w))
            idf = math.log((N - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(toks[widx]) / avgdl))
        return round(s, 4)

    # docs 1,2,4 match; doc 3 has score 0 and must be absent
    want_scores = {i + 1: score(i) for i in range(4) if score(i) > 0}
    assert set(got) == {("qa", d) for d in want_scores}
    for d, sc in want_scores.items():
        assert got[("qa", d)][1] == pytest.approx(sc, abs=1e-9)
    # ranks follow (rounded score desc, doc_id asc)
    order = sorted(want_scores, key=lambda d: (-want_scores[d], d))
    assert [got[("qa", d)][0] for d in order] == [1, 2, 3]
    # zero-df query term contributes nothing and breaks nothing
    z = bm25_scores(docs, {"qz": ["zzz", "apple"]}, topk=2).collect()
    assert all(r.query_id == "qz" for r in z) and len(z) == 2


def test_corpus_length_stats_closed_form(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        corpus_length_stats,
    )

    rows = [(1, "a b c", "en"), (2, "a b c d e", "en"),
            (3, "x", "en"), (4, "y y", "de"), (5, "", "de")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.stratum: r.asDict() for r in
           corpus_length_stats(docs, by="lang").collect()}
    # en lengths sorted: [1, 3, 5] -> p50 = 3, p90 = 1+0.8*... type-7:
    # idx = p*(n-1); p90 -> 1.8 -> 3 + 0.8*(5-3) = 4.6
    en = got["en"]
    assert (en["n_docs"], en["total_tokens"]) == (3, 9)
    assert en["mean_tokens"] == 3.0 and en["p50"] == 3.0
    assert en["p90"] == pytest.approx(4.6, abs=1e-9)
    # empty text counts as 0 tokens
    de = got["de"]
    assert (de["n_docs"], de["total_tokens"]) == (2, 2)
    assert de["p50"] == 1.0
    # approx mode runs and returns the same schema (not oracle-matched)
    ap = corpus_length_stats(docs, by="lang", exact=False)
    assert ap.columns == list(got["en"].keys()) and ap.count() == 2


def test_ngram_diversity_closed_form(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        ngram_diversity,
    )

    docs = spark.createDataFrame(
        [(0, "en", "a b a b"),       # 1g: 4 tot / 2 dist; 2g: a-b,b-a,a-b
         (1, "en", "a"),             # 1 unigram, no bigrams/trigrams
         (2, "de", ""),              # nothing at all
         (3, "de", "x y z")],        # 3/3; 2/2; 1/1
        "doc_id long, lang string, text string")
    got = {(r.stratum, r.n): (r.total_ngrams, r.distinct_ngrams, r.diversity)
           for r in ngram_diversity(docs).collect()}
    assert got[("en", 1)] == (5, 2, 0.4)          # a x3, b x2
    assert got[("en", 2)] == (3, 2, round(2 / 3, 6))
    assert got[("en", 3)] == (2, 2, 1.0)          # "a b a", "b a b"
    assert got[("de", 1)] == (3, 3, 1.0)
    assert got[("de", 2)] == (2, 2, 1.0)
    assert got[("de", 3)] == (1, 1, 1.0)
    # the empty doc contributes no grams at any n
    assert ("de", 0) not in got and len(got) == 6


def test_chunk_documents_closed_form(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10))),  # 10 toks: 3 chunks
         (1, "a b c"),                               # fits one chunk
         (2, ""),                                    # no chunks
         (3, " ".join(f"x{i}" for i in range(5)))],  # n == chunk exactly
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=5, overlap_tokens=2)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert {d for d, _ in rows} == {0, 1, 3}
    # doc 0: starts 0,3,6 — ceil((10-5)/3)=2 tails; last chunk truncated
    assert [(rows[(0, k)].start_tok, rows[(0, k)].n_tok)
            for k in range(3)] == [(0, 5), (3, 5), (6, 4)]
    assert rows[(0, 1)].chunk_text == "t3 t4 t5 t6 t7"
    # consecutive chunks overlap by exactly overlap_tokens
    assert rows[(0, 0)].chunk_text.split()[-2:] == \
        rows[(0, 1)].chunk_text.split()[:2]
    # full coverage: union of [start, start+n) spans 0..10
    covered = set()
    for k in range(3):
        r = rows[(0, k)]
        covered |= set(range(r.start_tok, r.start_tok + r.n_tok))
    assert covered == set(range(10))
    assert (rows[(1, 0)].start_tok, rows[(1, 0)].n_tok) == (0, 3)
    assert (3, 1) not in rows and (rows[(3, 0)].n_tok) == 5
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=5, overlap_tokens=5)


def test_textrank_chunks_matches_numpy_reference(spark):
    import math

    from legal_knowledge_graph_spark.operators.text_analysis import (
        textrank_chunks,
    )

    # one 30-word doc -> 3 chunks with engineered overlaps, plus a
    # second doc whose two chunks share nothing (isolated nodes)
    d1 = ("alpha beta gamma delta alpha beta gamma delta alpha beta "
          "gamma delta epsilon zeta eta theta gamma delta iota kappa "
          "mu nu xi omicron pi rho mu nu sigma tau")
    d2 = ("one two three four five six seven eight nine ten "
          "eleven twelve thirteen fourteen fifteen sixteen seventeen "
          "eighteen nineteen twenty")
    docs = spark.createDataFrame([(1, d1), (2, d2)],
                                 "doc_id long, text string")
    out = textrank_chunks(docs, chunk_size=10, n_iter=10, top_k=3)
    got = {(r.doc_id, r.idx): (r.score, r.rk, r.chunk_text)
           for r in out.collect()}

    # numpy reference of the identical recurrence for doc 1
    chunks = [d1.split()[i:i + 10] for i in range(0, 30, 10)]
    n = len(chunks)
    W = [[0.0] * n for _ in range(n)]
    for i in range(n):
        for j in range(n):
            if i != j:
                c = len(set(chunks[i]) & set(chunks[j]))
                if c:
                    W[i][j] = c / max(
                        math.log(len(chunks[i])) + math.log(len(chunks[j])),
                        1e-9)
    r = [1.0 / n] * n
    for _ in range(10):
        s = [sum(W[j]) for j in range(n)]
        r = [0.15 / n + 0.85 * sum(
            W[j][i] / s[j] * r[j] for j in range(n) if s[j] > 0)
            for i in range(n)]
    for i in range(n):
        assert abs(got[(1, i)][0] - round(r[i], 6)) <= 1e-6
    # doc 2: no overlaps -> every chunk settles at the teleport value
    assert got[(2, 0)][0] == round(0.15 / 2, 6)
    assert got[(2, 1)][0] == round(0.15 / 2, 6)
    # chunk text reassembles in position order
    assert got[(1, 0)][2].startswith("alpha beta gamma delta")


def test_textrank_long_doc_blocking(spark):
    """r6 (VERDICT r5 #2): pair generation must be word-blocked — a
    long document may not materialize n_chunks^2 candidate pairs. The
    fixture's vocabulary is engineered so each word lives in exactly
    one chunk-pair neighborhood: the blocked candidate count stays
    linear in chunks while the old cross join would build ~n^2/2."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        _split_words, textrank_chunks,
    )

    # 5,000-word doc -> 500 chunks of 10; chunk i shares word f"w{i}"
    # with chunk i+1 only (plus unique filler), so true pairs = 499
    words = []
    for i in range(500):
        words += [f"w{i}"] + [f"u{i}_{j}" for j in range(8)] + [f"w{i+1}"]
    long_doc = " ".join(words)
    docs = spark.createDataFrame(
        [(1, long_doc), (2, "completely separate tiny text here")],
        "doc_id long, text string")

    # white-box candidate bound: replicate the blocked generator's
    # fan-out — sum over (doc, word) of c*(c-1)/2 — and check it is
    # linear (each word in <= 2 chunks), vs ~124,750 for the cross join
    toks = docs.select(
        "doc_id", F.posexplode(_split_words("text")).alias("pos", "w")) \
        .where(F.col("w") != "")
    cw = toks.groupBy(
        "doc_id", F.floor(F.col("pos") / 10).alias("idx"), "w").count() \
        .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    fanout = cw.select(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("s")).collect()[0].s
    assert fanout <= 600, f"blocked fan-out should be linear, got {fanout}"

    out = textrank_chunks(docs, chunk_size=10, n_iter=3, top_k=2)
    rows = out.collect()
    # top_k per doc, every score positive, long doc ranks its chunks
    assert len([r for r in rows if r.doc_id == 1]) == 2
    assert len([r for r in rows if r.doc_id == 2]) == 1
    assert all(r.score > 0 for r in rows)


def test_rake_keyphrases_closed_form(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        rake_keyphrases,
    )

    # "the" and "a" are stopwords; doc 1 has runs:
    #   [deep learning], [deep learning systems], [fast]
    text = "the deep learning a deep learning systems a fast"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {r.phrase: (r.score, r.rk)
           for r in rake_keyphrases(docs, top_k=5).collect()}
    # freq: deep 2, learning 2, systems 1, fast 1
    # deg:  deep 2+3=5, learning 5, systems 3, fast 1
    s_dl = 5 / 2 + 5 / 2
    s_dls = 5 / 2 + 5 / 2 + 3 / 1
    assert got["deep learning systems"] == (round(s_dls, 6), 1)
    assert got["deep learning"] == (round(s_dl, 6), 2)
    assert got["fast"] == (round(1 / 1, 6), 3)
    # a run longer than max_phrase_len is discarded entirely
    longdoc = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon the zeta")],
        "doc_id long, text string")
    got2 = {r.phrase for r in
            rake_keyphrases(longdoc, top_k=5, max_phrase_len=4).collect()}
    assert got2 == {"zeta"}
