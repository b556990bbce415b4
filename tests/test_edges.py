"""st5 unit tests: predicate normalization, schema validation, need_coref,
dedup, clamping — exercised with hand-built raw triples (the analog of the
reference's hand-built storage payload, storage.py:186-197)."""

import pytest
from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.canonicalize import canonicalize
from legal_knowledge_graph_spark.operators.edge_norm import (
    normalize_edges, normalize_predicates,
)
from legal_knowledge_graph_spark.schema import MENTIONS_SCHEMA, TRIPLES_SCHEMA


def _triples_df(spark, rows):
    """(subject, styp, pred, object, otyp, conf) -> triples frame."""
    full = [("dk", "b0", "sha", s, st, p, o, ot, c, "ev") for s, st, p, o, ot, c in rows]
    return spark.createDataFrame(full, TRIPLES_SCHEMA)


def _form_map(spark, forms):
    m = [("dk", "r", "p", "sha", f"b{i}", "FUNCTION", f"m{i}", t, x, 0, len(x),
          0.9, False, None, {}) for i, (t, x) in enumerate(forms)]
    _, fm = canonicalize(spark.createDataFrame(m, MENTIONS_SCHEMA), spark)
    return fm


def test_predicate_alias_exact_and_fuzzy_and_unknown(spark):
    t = _triples_df(spark, [
        ("a", "File", "imports", "numpy", "Module", 0.9),          # alias
        ("a", "File", "file_imports_module", "os", "Module", 0.9),  # canonical
        ("a", "File", "really_imports", "sys", "Module", 0.9),      # fuzzy ⊃ alias
        ("a", "File", "zzz_mystery", "x", "Module", 0.9),            # unknown
    ])
    out = {r.object: r.predicate for r in normalize_predicates(t, spark).collect()}
    assert out["numpy"] == "file_imports_module"
    assert out["os"] == "file_imports_module"
    assert out["sys"] == "file_imports_module"   # containment fallback
    assert out["x"] == "zzz_mystery"             # passthrough (:251-253)


def test_schema_validation_flag_kept_not_dropped(spark):
    fm = _form_map(spark, [
        ("File", "r/f.py"), ("Repo", "r"), ("Module", "numpy"),
        ("Function", "parse_config"),
    ])
    t = _triples_df(spark, [
        ("r/f.py", "File", "file_imports_module", "numpy", "Module", 0.9),
        # signature violation: object should be Module
        ("r/f.py", "File", "file_imports_module", "parse_config", "Function", 0.9),
    ])
    edges = normalize_edges(t, fm, spark).collect()
    by_obj = {e.object: e for e in edges}
    assert by_obj["numpy"].validation_passed is True
    assert by_obj["parse_config"].validation_passed is False  # kept, flagged
    assert len(edges) == 2


def test_need_coref_on_unresolved_endpoint(spark):
    fm = _form_map(spark, [("Function", "caller_x")])
    t = _triples_df(spark, [
        ("caller_x", "Function", "function_calls_function", "pc", "Function", 0.85),
    ])
    e = normalize_edges(t, fm, spark).collect()[0]
    assert e.need_coref is True
    assert e.subject_entity_id is not None and e.object_entity_id is None


def test_confidence_clamp(spark):
    fm = _form_map(spark, [("File", "r/f.py"), ("Repo", "r")])
    t = _triples_df(spark, [
        ("r/f.py", "File", "file_in_repo", "r", "Repo", 1.7),   # out of range
        ("r/f.py", "File", "file_has_license", "r", "Repo", 0.3),
    ])
    out = {e.predicate: e.confidence for e in normalize_edges(t, fm, spark).collect()}
    assert out["file_in_repo"] == 0.5          # relation_agent.py:394-396
    assert out["file_has_license"] == 0.3


def test_spo_dedup(spark):
    fm = _form_map(spark, [("File", "r/f.py"), ("Repo", "r")])
    t = _triples_df(spark, [
        ("r/f.py", "File", "file_in_repo", "r", "Repo", 1.0),
        ("r/f.py", "File", "file_in_repo", "r", "Repo", 0.8),
    ])
    edges = normalize_edges(t, fm, spark).collect()
    assert len(edges) == 1
    assert edges[0].confidence == 1.0  # max witness


def test_fuzzy_fallback_keeps_type_differing_triples(spark):
    """ADVICE r1 (medium): two triples sharing (doc, s, p, o) text but
    differing in endpoint types must BOTH survive the fuzzy-predicate
    window (types are part of triple identity)."""
    t = _triples_df(spark, [
        ("a", "File", "really_imports", "x", "Module", 0.9),
        ("a", "File", "really_imports", "x", "Function", 0.9),
    ])
    out = normalize_predicates(t, spark).collect()
    assert len(out) == 2
    assert {r.object_type for r in out} == {"Module", "Function"}
    assert all(r.predicate == "file_imports_module" for r in out)


def test_normalize_edges_threaded_count_is_jobfree(spark, tmp_path):
    """VERDICT r4 #2: the form-map size reaches normalize_edges as the
    `_kg_rows` its producer observed — building the edge plan schedules
    ZERO jobs (the former standalone form_map.count() is gone), both on
    canonicalize's checkpointed form map and on one a checkpoint-resumed
    StageStore reads back (the count then comes from the manifest)."""
    from legal_knowledge_graph_spark.sources.io import StageStore

    fm = _form_map(spark, [("File", "r/f.py"), ("Repo", "r")])
    assert getattr(fm, "_kg_rows", None) == 2
    root = str(tmp_path / "stages")
    StageStore(root).write("st3_form_map", fm, "fp")
    resumed = StageStore(root).read(spark, "st3_form_map")
    assert resumed._kg_rows == 2
    t = _triples_df(spark, [
        ("r/f.py", "File", "file_in_repo", "r", "Repo", 0.9),
    ])
    sc = spark.sparkContext
    for form_map in (fm, resumed):
        sc.setJobGroup("edgeplan", "edge plan construction must be job-free")
        try:
            edges = normalize_edges(t, form_map, spark)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("edgeplan")) == []
        assert edges.count() == 1


def _rule_mentions(spark):
    """One mention per st4 rule; together they fire all 15 rules."""
    rows = [
        ("File", "r/f.py", {}),
        ("Module", "numpy", {"role": "import"}),
        ("Function", "parse", {"role": "def"}),
        ("Function", "run", {"role": "method", "cls": "Job"}),
        ("Class", "Job", {"role": "def"}),
        ("Class", "Base", {"role": "base", "cls": "Job"}),
        ("Function", "helper", {"role": "call", "encl": "parse"}),
        ("License", "MIT License", {}),
        ("Author", "Ada Lovelace", {}),
        ("Date", "2020-01-01", {"ctx": "copyright"}),
        ("Date", "2021-02-03", {"ctx": "modified"}),
        ("Version", "1.2.3", {"ctx": "has"}),
        ("Version", ">=3.8", {"ctx": "requires"}),
    ]
    m = [("dk", "r", "f.py", "sha", f"b{i}", "OTHER", f"m{i}", t, x, 0,
          len(x), 0.9, False, None, a) for i, (t, x, a) in enumerate(rows)]
    return spark.createDataFrame(m, MENTIONS_SCHEMA)


def test_emitted_predicates_are_canonical(spark):
    """normalize_edges takes predicates as they are: every predicate the
    st4 rule table emits, on the golden corpus and on one hand-built
    mention per rule, is a RELATION_TYPES key, so the alias map
    (normalize_predicates) is the identity on st4 output, row for row."""
    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.operators.ingest import ingest
    from legal_knowledge_graph_spark.operators.mentions import (
        mentions_from_files,
    )
    from legal_knowledge_graph_spark.operators.triples import emit_triples
    from legal_knowledge_graph_spark.schema import RELATION_TYPES

    by_rule = emit_triples(_rule_mentions(spark))
    assert {r.predicate for r in by_rule.collect()} == set(RELATION_TYPES)
    golden = emit_triples(
        mentions_from_files(ingest(corpus_df(spark, 120, seed=42))))
    for t in (by_rule, golden):
        got = t.collect()
        assert got and {r.predicate for r in got} <= set(RELATION_TYPES)
        rows = sorted(tuple(r) for r in got)
        aliased = normalize_predicates(t, spark)
        assert aliased.columns == t.columns
        assert sorted(tuple(r) for r in aliased.collect()) == rows
