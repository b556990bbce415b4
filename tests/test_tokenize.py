"""Spec tests: tokenizer, pair-similarity spec, pool safety, and the
agreement of the tokenizer's Python and JVM forms."""

import random

from legal_knowledge_graph_spark.corpus import (
    BASE_POOL, CLASS_POOL, FUNCTION_POOL, PLAIN_MODULES,
)
from legal_knowledge_graph_spark.functions.tokenize import (
    jaccard, pair_score, split_tokens, token_set,
)


def test_snake_camel_dotted():
    assert split_tokens("parse_config") == ["parse", "config"]
    assert split_tokens("DataLoader") == ["data", "loader"]
    assert split_tokens("utils.parse_config") == ["utils", "parse", "config"]


def test_numeric_runs_stay_whole():
    # a year must not token-subset a full date; 3.8 must not subset 1.3.8
    assert split_tokens("2024-06-01") == ["2024-06-01"]
    assert split_tokens("2024") == ["2024"]
    assert split_tokens("1.2.3") == ["1.2.3"]
    assert token_set("2024") != token_set("2024-06-01")
    assert not token_set("3.8") <= token_set("1.3.8")


def test_containment_is_token_boundary():
    # raw-substring containment would merge these (reference defect at
    # code scale); token containment must not
    assert pair_score("os", "collections") < 0.6
    assert pair_score("MIT", "The MIT License") == 0.9
    assert pair_score("Alice Johnson", "Dr. Alice Johnson") == 0.9


def test_same_canonical_rule():
    # both dict-matched to same canonical but texts differ from it -> 0.95
    assert pair_score("Acme Corp.", "Acme Inc.",
                      "Acme Corporation", "Acme Corporation") == 0.95
    # canonical equals one text -> rule does not apply (reference
    # normalizer.py:194-197)
    assert pair_score("Acme Corporation", "Acme Inc.",
                      "Acme Corporation", "Acme Corporation") < 0.6


def test_jaccard():
    assert jaccard(frozenset("ab"), frozenset("ab")) == 1.0
    assert jaccard(frozenset(), frozenset("a")) == 0.0


def test_pools_containment_safe():
    """No planted pool name token-subsets another of the same type —
    otherwise unintended cluster merges would corrupt goldens."""
    for pool in (FUNCTION_POOL, CLASS_POOL + BASE_POOL, PLAIN_MODULES):
        sets = {name: token_set(name) for name in pool}
        for a in pool:
            for b in pool:
                if a != b:
                    assert not sets[a] <= sets[b], (a, b)


def test_jvm_tokens_equal_split_tokens(spark):
    """st3's Catalyst tokenizer (TOKEN_PATTERN) equals
    sorted(set(split_tokens(t))) — the golden generator's form — on the
    corpus pools, non-ASCII digits and letters, camel and numeric edge
    cases, empty and null, and seeded random strings over an alphabet of
    those characters."""
    from legal_knowledge_graph_spark.operators.canonicalize import token_array

    texts = [*FUNCTION_POOL, *CLASS_POOL, *BASE_POOL, *PLAIN_MODULES,
             "٣٤.٥", "x²y", "İstanbul", "\u212a", "getHTTPResponse2",
             "HTTPServer", "v1.2.3-rc", "a..b", "1-2-", "", None]
    rng = random.Random(7)
    alphabet = "aZbY_.- 09٣٤²İ\u212aéÉ"
    texts += ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
              for _ in range(2000)]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", token_array("t").alias("k")).collect()
    assert len(rows) == len(texts)
    assert [(r.t, r.k) for r in rows
            if list(r.k) != sorted(set(split_tokens(r.t)))] == []
    assert split_tokens("getHTTPResponse2") == ["get", "http", "response", "2"]
    assert split_tokens("٣٤.٥") == ["٣٤.٥"]


def test_jvm_tokens_every_unicode_digit(spark):
    """Every character Python's `\\d` matches is one numeric token in both
    forms, except where the JVM's Unicode table predates Python's: Java
    17 lacks the Tangsa digits (functions/tokenize.py docstring)."""
    import unicodedata

    from legal_knowledge_graph_spark.operators.canonicalize import token_array

    digits = [chr(c) for c in range(0x110000)
              if unicodedata.category(chr(c)) == "Nd"]
    df = spark.createDataFrame([(d * 2 + "." + d,) for d in digits], "t string")
    differ = {ord(r.t[0]) for r in df.select("t", token_array("t").alias("k"))
              .collect() if list(r.k) != [r.t]}
    assert differ <= set(range(0x16AC0, 0x16ACA))
