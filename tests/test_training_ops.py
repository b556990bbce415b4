"""Training-data operators: text analysis, scrubbing, sampling and
mixing, tokenizer and retrieval scoring — small planted cases with known
answers."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.sampling import importance_weights
from legal_knowledge_graph_spark.operators.text_analysis import (
    language_id, quality_scores, token_counts, winnow_fingerprints,
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
    wf = {r.doc_id: r.winnow for r in winnow_fingerprints(docs).collect()}
    assert wf[0] == wf[3] and wf[0] != wf[2]
    assert set(wf[0]) & set(wf[1])  # near-dups share fingerprints


def test_pii_scan_counts_and_redaction(spark):
    from legal_knowledge_graph_spark.operators.pii import pii_scan

    rows = [
        (0, "reach me at alice.smith+spam@corp-mail.co.uk or bob@x.io"),
        (1, "server 192.168.001.7 and 10.0.0.1 up; version 1.2 is not an ip"),
        (2, "call 555-123-4567 or 555 987 6543; 12-34-56 is not a phone"),
        (3, "clean text with no pii at all"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert (out[0].n_emails, out[0].n_ipv4, out[0].n_phones) == (2, 0, 0)
    assert out[0].redacted == "reach me at <EMAIL> or <EMAIL>"
    assert (out[1].n_emails, out[1].n_ipv4, out[1].n_phones) == (0, 2, 0)
    assert "<IP> and <IP>" in out[1].redacted and "1.2" in out[1].redacted
    assert (out[2].n_emails, out[2].n_ipv4, out[2].n_phones) == (0, 0, 2)
    assert out[2].redacted.count("<PHONE>") == 2 and "12-34-56" in out[2].redacted
    assert (out[3].n_emails, out[3].n_ipv4, out[3].n_phones) == (0, 0, 0)
    assert out[3].redacted == rows[3][1]
    assert out[4].redacted is None


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


def test_stratified_sampling_deterministic(spark):
    import hashlib

    from legal_knowledge_graph_spark.operators.sampling import (
        exact_k_per_stratum, stratified_sample,
    )

    rows = [(i, "en" if i % 3 else "de", f"s{i % 4}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")

    def h32(i, seed):
        return int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16)

    got = {r.doc_id for r in stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.1}, seed=9).collect()}
    want = {i for i, lang, _s in rows
            if h32(i, 9) < {"en": 0.5, "de": 0.1}[lang] * (1 << 32)}
    assert got == want and got  # exact python replay

    # repartitioning must not change the sample
    got2 = {r.doc_id for r in stratified_sample(
        docs.repartition(13), "lang", {"en": 0.5, "de": 0.1}, seed=9).collect()}
    assert got2 == got

    topk = exact_k_per_stratum(docs, "source", k=5, seed=9).collect()
    by_src = {}
    for r in topk:
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert all(len(v) == 5 for v in by_src.values())
    for src, ids in by_src.items():
        pool = [i for i, _l, s in rows if s == src]
        want_ids = sorted(pool, key=lambda i: (h32(i, 9), i))[:5]
        assert sorted(ids) == sorted(want_ids), src


def test_exact_k_two_phase_caps_stratum_exchange(spark):
    """VERDICT r3 #2: on a skewed-stratum fixture the stratum-keyed
    Exchange (phase 2) is fed <= k x n_salts candidate rows per stratum —
    never the whole stratum — and the two-phase output equals the
    single-window form at any n_salts."""
    import hashlib

    from pyspark.sql import functions as F
    from legal_knowledge_graph_spark.operators.sampling import (
        _salted_topk_candidates, exact_k_per_stratum,
    )

    # one mega-stratum (10k rows) + two small ones
    rows = [(i, "hot" if i < 10_000 else f"s{i % 2}") for i in range(10_400)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    k, n_salts = 7, 16

    cand = _salted_topk_candidates(docs, "source", k, 9, "doc_id", n_salts)
    per_stratum = {r["source"]: r["n"] for r in
                   cand.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(n <= k * n_salts for n in per_stratum.values())
    assert per_stratum["hot"] <= k * n_salts  # 112 rows, not 10k

    got = sorted((r.source, r.doc_id)
                 for r in exact_k_per_stratum(
                     docs, "source", k=k, seed=9, n_salts=n_salts).collect())

    def h32(i, seed):
        return int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16)

    want = []
    for src in {"hot", "s0", "s1"}:
        pool = [i for i, s in rows if s == src]
        want += [(src, i)
                 for i in sorted(pool, key=lambda i: (h32(i, 9), i))[:k]]
    assert got == sorted(want)
    # n_salts is a pure parallelism knob — output invariant
    got2 = sorted((r.source, r.doc_id)
                  for r in exact_k_per_stratum(
                      docs, "source", k=k, seed=9, n_salts=3).collect())
    assert got2 == got


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


def test_exact_k_per_stratum_with_ids_repeating_across_strata(spark):
    """ADVICE r4: the candidate re-attach joins on (stratum, id), so an id
    that appears in several strata cannot drag its twins in — the output
    is exactly k rows per stratum."""
    from legal_knowledge_graph_spark.operators.sampling import (
        exact_k_per_stratum,
    )

    docs = spark.createDataFrame(
        [(i, s) for i in range(20) for s in ("a", "b")],
        "doc_id long, source string")
    out = exact_k_per_stratum(docs, "source", k=5, id_col="doc_id").collect()
    per = {}
    for r in out:
        per.setdefault(r.source, set()).add(r.doc_id)
    assert {s: len(v) for s, v in per.items()} == {"a": 5, "b": 5}


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


def test_mixture_weights_closed_form(spark):
    from legal_knowledge_graph_spark.operators.sampling import (
        mixture_weights,
    )

    docs = spark.createDataFrame(
        [(i, "a" if i < 2 else "b") for i in range(8)],
        "doc_id long, lang string")
    rows = {r.stratum: r for r in
            mixture_weights(docs, "lang", {"a": 0.5, "b": 0.5}).collect()}
    # a: 2/8 observed vs 0.5 target -> weight 2.0 (the scarce stratum
    # anchors accept=1.0); b: 6/8 vs 0.5 -> weight 2/3, accept 1/3
    assert rows["a"].actual_frac == 0.25 and rows["a"].weight == 2.0
    assert rows["a"].accept_frac == 1.0
    assert rows["b"].weight == round(0.5 / 0.75, 6)
    assert rows["b"].accept_frac == round((0.5 / 0.75) / 2.0, 6)


def test_resample_to_mixture_replays_hash_and_hits_target(spark):
    import hashlib

    from legal_knowledge_graph_spark.operators.sampling import (
        resample_to_mixture,
    )

    rows = [(i, "a" if i % 4 else "b") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    target = {"a": 0.5, "b": 0.5}
    got = resample_to_mixture(docs, "lang", target, seed=7)
    kept = sorted(r.doc_id for r in got.collect())
    # python replay: same counts -> same rates -> same md5-prefix filter
    from collections import Counter
    cnt = Counter(l for _, l in rows)
    t = float(len(rows))
    w = {s: (target[s] / (n / t)) for s, n in cnt.items()}
    wmax = max(w.values())
    rate = {s: v / wmax for s, v in w.items()}
    def h32(i):
        return int(hashlib.md5(f"{i}:7".encode()).hexdigest()[:8], 16)
    want = sorted(i for i, l in rows if h32(i) < rate[l] * (1 << 32))
    assert kept == want
    # deterministic across runs
    again = sorted(r.doc_id for r in
                   resample_to_mixture(docs, "lang", target, seed=7).collect())
    assert again == kept
    # the scarce stratum (b, 25% observed vs 50% target) is kept whole
    kept_langs = Counter(l for i, l in rows if i in set(kept))
    assert kept_langs["b"] == cnt["b"]


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


def test_bpe_learns_sennrich_merges(spark):
    from legal_knowledge_graph_spark.operators.bpe import (
        apply_bpe, learn_bpe,
    )

    # the classic corpus: low x5, lower x2, newest x6, widest x3
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6
                    + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [(r["rank"], r.left, r.right, r.pair_count)
           for r in learn_bpe(docs, n_merges=5, min_count=2).collect()]
    # replicate: es(9) -> est(9) -> est</w>(9) -> lo(7) -> low(7)
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9),
                   (3, "est", "</w>", 9), (4, "l", "o", 7),
                   (5, "lo", "w", 7)]
    toks = {t.word: tuple(t.tokens)
            for t in apply_bpe(docs, [(m[1], m[2]) for m in got]).collect()}
    assert toks["newest"] == ("n", "e", "w", "est</w>")
    assert toks["low"] == ("low", "</w>")
    assert toks["lower"] == ("low", "e", "r", "</w>")
    # greedy left-to-right on overlapping pairs: aaaa + (a,a) -> [aa, aa]
    d2 = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    t2 = apply_bpe(d2, [("a", "a")]).collect()[0]
    assert tuple(t2.tokens) == ("aa", "aa", "</w>")
    # min_count stops before memorizing hapax pairs
    d3 = spark.createDataFrame([(1, "xy")], "doc_id long, text string")
    assert learn_bpe(d3, n_merges=5, min_count=2).count() == 0


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


def test_weighted_sample_k_matches_reference_and_salts_invariant(spark):
    """E-S weighted draw: matches an independent hashlib/math replay,
    identical at n_salts=1 vs 64, excludes non-positive weights, and is
    exactly-k per stratum."""
    import hashlib
    import math

    from legal_knowledge_graph_spark.operators.sampling import (
        weighted_sample_k,
    )

    rows = [(i, "en" if i % 2 == 0 else "de",
             0 if i == 7 else (i % 9) + 1) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, w int")

    def h32(i, seed=42):
        return int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:8], 16)

    exp = {}
    for lang in ("en", "de"):
        pri = [(math.log((h32(i) + 1) / 2**32) / w, -i)
               for i, l, w in rows if l == lang and w > 0]
        keep = sorted(pri, reverse=True)[:5]
        exp[lang] = sorted(-i for _, i in keep)

    got = weighted_sample_k(docs, k=5, weight_col="w",
                            strata_col="lang").collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert {l: sorted(v) for l, v in by_lang.items()} == exp
    assert 7 not in by_lang["de"] + by_lang["en"]  # zero weight never drawn

    got1 = weighted_sample_k(docs, k=5, weight_col="w", strata_col="lang",
                             n_salts=1).collect()
    assert sorted((r.lang, r.doc_id) for r in got1) == \
        sorted((r.lang, r.doc_id) for r in got)
    # global (stratum-less) mode: exactly k rows, schema preserved
    g = weighted_sample_k(docs, k=8, weight_col="w").collect()
    assert len(g) == 8 and set(g[0].asDict()) == {"doc_id", "lang", "w"}


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


def test_inverted_index_closed_form(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        inverted_index,
    )

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog"), (3, "THE  cat"),
         (4, ""), (5, None)],
        "doc_id long, text string")
    got = {r.word: (r.df, r.postings)
           for r in inverted_index(docs, max_postings=2, min_df=1).collect()}
    # case-folded, whitespace-split; empty/null docs contribute nothing
    assert got["the"] == (3, "1,2")       # df counts ALL docs, cap keeps 2
    assert got["cat"] == (2, "1,3")
    assert got["dog"] == (1, "2")
    assert got["sat"] == (1, "1")
    # min_df prunes hapax rows; max_df prunes stopword rows
    pruned = {r.word for r in
              inverted_index(docs, max_postings=2, min_df=2).collect()}
    assert pruned == {"the", "cat"}
    capped = {r.word for r in
              inverted_index(docs, max_postings=2, max_df=2).collect()}
    assert "the" not in capped and "cat" in capped


def test_inverted_index_cap_is_global_smallest_k(spark):
    from legal_knowledge_graph_spark.operators.text_analysis import (
        inverted_index,
    )

    # 300 docs all holding "w": the two-phase salted selection must
    # return exactly the 5 smallest doc_ids regardless of salt layout
    docs = spark.createDataFrame(
        [(i, "w") for i in range(300)], "doc_id long, text string") \
        .repartition(16)
    [r] = inverted_index(docs, max_postings=5).collect()
    assert (r.word, r.df, r.postings) == ("w", 300, "0,1,2,3,4")


def test_equidepth_bins_closed_form(spark):
    from legal_knowledge_graph_spark.operators.profiling import (
        equidepth_bins,
    )

    # 25 rows into 10 bins: first 5 bins get 3 rows, last 5 get 2
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(25)], "doc_id long, v long")
    out = {r.bin: (r.n, r.lo, r.hi) for r in
           equidepth_bins(df, "v", n_bins=10).collect()}
    assert [out[b][0] for b in range(1, 11)] == [3] * 5 + [2] * 5
    assert out[1] == (3, 0, 20) and out[10] == (2, 230, 240)
    # bins partition the ordered domain: ranges don't overlap
    for b in range(1, 10):
        assert out[b][2] < out[b + 1][1] or out[b][2] <= out[b + 1][1]


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


def _h32(word: str, seed: int = 9) -> int:
    return int(hashlib.md5(f"{word}:{seed}".encode()).hexdigest()[:8], 16)


def test_importance_weights_tiny_fixture(spark):
    """Hand-computed DSIR weights on a 3-doc corpus: target docs score
    higher than the off-target doc, and the exact value matches the
    Laplace-smoothed log-ratio computed independently in python."""
    docs = spark.createDataFrame(
        [(1, "alpha beta alpha", "en"),
         (2, "alpha beta", "en"),
         (3, "gamma gamma delta", "de")],
        "doc_id long, text string, lang string")
    B = 64
    out = {r.doc_id: (r.n_tokens, r.importance)
           for r in importance_weights(
               docs, F.col("lang") == "en", n_buckets=B).collect()}
    # independent python model
    toks = {1: ["alpha", "beta", "alpha"], 2: ["alpha", "beta"],
            3: ["gamma", "gamma", "delta"]}
    target = {1, 2}
    n_t, n_r = {}, {}
    for d, ws in toks.items():
        for w in ws:
            b = _h32(w) % B
            n_r[b] = n_r.get(b, 0) + 1
            if d in target:
                n_t[b] = n_t.get(b, 0) + 1
    tt, tr = sum(n_t.values()), sum(n_r.values())
    def lr(b):
        return (math.log((n_t.get(b, 0) + 1.0) / (tt + B))
                - math.log((n_r.get(b, 0) + 1.0) / (tr + B)))
    for d, ws in toks.items():
        exp = round(sum(lr(_h32(w) % B) for w in ws) / len(ws), 6)
        assert out[d] == (len(ws), pytest.approx(exp, abs=1e-6)), d
    # in-domain docs outrank the off-target doc
    assert min(out[1][1], out[2][1]) > out[3][1]
