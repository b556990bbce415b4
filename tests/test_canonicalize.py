"""st3 unit tests: dictionary join, merge rules, representative selection,
and the merge contract against the golden generator at 100k forms."""

import random

from legal_knowledge_graph_spark.corpus import canonicalize_spellings
from legal_knowledge_graph_spark.functions.tokenize import TOKEN_DF_CAP, token_set
from legal_knowledge_graph_spark.operators.canonicalize import canonicalize
from legal_knowledge_graph_spark.schema import MENTIONS_SCHEMA, PRONOUNS


def _mentions_df(spark, rows):
    """rows: (entity_type, text) -> minimal mentions frame."""
    full = [
        ("dk", "r", "p", "sha", f"b{i}", "FUNCTION", f"m{i}", t, x, 0, len(x),
         0.9, False, None, {})
        for i, (t, x) in enumerate(rows)
    ]
    return spark.createDataFrame(full, MENTIONS_SCHEMA)


def _nodes(spark, rows):
    m = _mentions_df(spark, rows)
    nodes, form_map = canonicalize(m, spark)
    return ({(r.entity_type, r.canonical_name): r for r in nodes.collect()},
            {(r.entity_type, r.text): r.canonical_name for r in form_map.collect()})


def test_dictionary_unifies_by_name(spark):
    nodes, fm = _nodes(spark, [
        ("License", "MIT"), ("License", "MIT License"),
        ("License", "Apache-2.0"), ("License", "Apache License 2.0"),
    ])
    assert set(nodes) == {("License", "MIT License"),
                          ("License", "Apache License 2.0")}
    assert fm[("License", "MIT")] == "MIT License"
    assert fm[("License", "Apache-2.0")] == "Apache License 2.0"


def test_containment_merges_longest_wins(spark):
    nodes, fm = _nodes(spark, [
        ("Author", "Alice Johnson"), ("Author", "Dr. Alice Johnson"),
        ("Author", "Bob Lee"),
    ])
    assert ("Author", "Dr. Alice Johnson") in nodes
    assert ("Author", "Bob Lee") in nodes
    assert fm[("Author", "Alice Johnson")] == "Dr. Alice Johnson"
    node = nodes[("Author", "Dr. Alice Johnson")]
    assert node.aliases == ["Alice Johnson"]
    assert node.n_mentions == 2


def test_no_cross_type_merge(spark):
    nodes, _ = _nodes(spark, [
        ("Function", "parse_config"), ("Class", "parse_config"),
    ])
    assert len(nodes) == 2


def test_structural_types_identity(spark):
    # Files share most path tokens; they must never similarity-merge
    nodes, _ = _nodes(spark, [
        ("File", "org/r/src/parse_config.py"),
        ("File", "org/r/src/load_config.py"),
    ])
    assert len(nodes) == 2


def test_confidence_formula(spark):
    # dict-matched cluster: min(0.9, 0.7 + 0.2 * frac)  (normalizer.py:279-305)
    nodes, _ = _nodes(spark, [("License", "MIT"), ("License", "MIT")])
    node = nodes[("License", "MIT License")]
    assert abs(node.confidence - 0.9) < 1e-9
    # non-dict singleton: 0.5 + 0.3 * min(1, 1/3)
    nodes2, _ = _nodes(spark, [("Function", "parse_config")])
    n2 = nodes2[("Function", "parse_config")]
    assert abs(n2.confidence - 0.6) < 1e-9


def test_entity_id_content_derived(spark):
    nodes, _ = _nodes(spark, [("Function", "parse_config")])
    again, _ = _nodes(spark, [("Function", "parse_config")])
    k = ("Function", "parse_config")
    assert nodes[k].entity_id == again[k].entity_id


def _form_map(spark, forms):
    """st3's form map: {(entity_type, text): canonical_name}."""
    _, form_map = canonicalize(_mentions_df(spark, forms), spark)
    return {(r.entity_type, r.text): r.canonical_name
            for r in form_map.select("entity_type", "text", "canonical_name")
            .toLocalIterator()}


def _spellings(forms):
    by_type = {}
    for etype, text in forms:
        by_type.setdefault(etype, set()).add(text)
    return by_type


def _code_forms(n, seed=7):
    """>= n distinct code-shaped Function (snake_case) and Class
    (CamelCase) names of 1-3 seeded pseudo-words each,
    plus the cases the merge contract has to decide at this scale:
    - `get`, `user`, `get_user`, `get_item` (shared short names);
    - `fetch` in exactly TOKEN_DF_CAP Function forms (kept);
    - `test` in TOKEN_DF_CAP + 500 Function forms (purged);
    - `node` in 800 Function and 800 Class forms (df is per type, so it
      is kept in both).
    The bare token is one of the forms each time, so it merges (by
    containment, through that token alone) exactly when the token is
    kept."""
    rng = random.Random(seed)
    syll = [c + v for c in "bdfklmnprstvz" for v in "aeiou"]
    reserved = {"get", "user", "item", "fetch", "test", "node"} | PRONOUNS
    words = sorted({"".join(rng.choices(syll, k=rng.choice((2, 3))))
                    for _ in range(30_000)} - reserved)
    rng.shuffle(words)
    words = words[:20_000]

    def snake(toks):
        return "_".join(toks)

    def camel(toks):
        return "".join(t.capitalize() for t in toks)

    def fill(out, k_new, render, lead=()):
        target = len(out) + k_new
        while len(out) < target:
            out.add(render([*lead, *rng.sample(words, rng.choice((1, 2, 2, 3)))]))

    fn = {"fetch", "test", "node", "get", "user", "get_user", "get_item"}
    cls = {"Node"}
    fill(fn, TOKEN_DF_CAP - 1, snake, ("fetch",))
    fill(fn, TOKEN_DF_CAP + 499, snake, ("test",))
    fill(fn, 799, snake, ("node",))
    fill(cls, 799, camel, ("node",))
    fill(fn, n * 3 // 4 - len(fn), snake)
    fill(cls, n - len(fn) - len(cls), camel)
    return [("Function", t) for t in sorted(fn)] + \
        [("Class", t) for t in sorted(cls)]


def test_merge_contract_matches_golden_generator_at_100k_forms(spark):
    forms = _code_forms(100_000)
    assert len(forms) >= 100_000

    def df(etype, tok):
        return sum(tok in token_set(t) for e, t in forms if e == etype)

    assert df("Function", "fetch") == TOKEN_DF_CAP
    assert df("Function", "test") == TOKEN_DF_CAP + 500
    assert df("Function", "node") == df("Class", "node") == 800
    want = canonicalize_spellings(_spellings(forms))
    got = _form_map(spark, forms)
    assert got == want
    # the fixture exercises each rule: a kept token merges its bare form,
    # a purged one leaves it alone, df is counted per type, and
    # containment chains the shared short names into one node
    assert got[("Function", "fetch")] != "fetch"
    assert got[("Function", "test")] == "test"
    assert got[("Function", "node")] != "node"
    assert got[("Class", "Node")] != "Node"
    assert {got[("Function", t)] for t in
            ("get", "user", "get_user", "get_item")} == {"get_user"}


def test_block_purging_boundary(spark):
    """get-get_user share only `get`: they are a candidate (and merge by
    containment) while df(get) == TOKEN_DF_CAP, and not at one more."""
    for extra, merged in ((0, True), (1, False)):
        fillers = [f"get_q{i:04d}x" for i in range(TOKEN_DF_CAP - 2 + extra)]
        forms = [("Function", t) for t in ["get", "get_user", *fillers]]
        got = _form_map(spark, forms)
        assert got == canonicalize_spellings(_spellings(forms))
        assert (got[("Function", "get")]
                == got[("Function", "get_user")]) is merged
