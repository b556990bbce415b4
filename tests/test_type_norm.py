"""F4/F7 alias-projection operators (type_norm.py): the full alias matrix
from schema.py, adversarial spellings (case, padding), closed-enum
fallbacks — mirrors /root/reference/src/document_parser/rules.py:143-167
and /root/reference/src/knowledge_base/entities.py:128-143."""

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.operators.type_norm import (
    normalize_block_types, normalize_entity_types,
)
from legal_knowledge_graph_spark.schema import (
    BLOCK_TYPE_ALIASES, BLOCK_TYPES, ENTITY_TYPE_ALIASES, ENTITY_TYPES,
    SECTION_PATTERNS,
)


def test_block_alias_matrix(spark):
    rows = [(a, c) for a, c in BLOCK_TYPE_ALIASES.items()]
    rows += [(t, t) for t in BLOCK_TYPES]
    rows += [(a.lower(), c) for a, c in BLOCK_TYPE_ALIASES.items()]
    rows += [(f"  {a} ", c) for a, c in BLOCK_TYPE_ALIASES.items()]
    rows += [("WEIRD_THING", "OTHER"), ("", "OTHER")]
    df = spark.createDataFrame(rows, "block_type string, expected string")
    out = normalize_block_types(df).collect()
    for r in out:
        assert r.block_type == r.expected, (r.block_type, r.expected)


def test_entity_alias_matrix_and_closed_enum(spark):
    rows = [(a, c) for a, c in ENTITY_TYPE_ALIASES.items()]
    rows += [(t, t) for t in ENTITY_TYPES]
    rows += [(a.upper(), c) for a, c in ENTITY_TYPE_ALIASES.items()]
    rows += [(f" {a}  ", c) for a, c in ENTITY_TYPE_ALIASES.items()]
    df = spark.createDataFrame(rows, "entity_type string, expected string")
    kept = normalize_entity_types(df).collect()
    # every aliased/canonical spelling normalizes and survives the enum
    assert len(kept) == len(rows)
    for r in kept:
        assert r.entity_type == r.expected

    # unknown types are rejected by the closed-enum filter
    # (ner_agent.py:350-356), not coerced
    bad = spark.createDataFrame(
        [("Gadget",), ("widget",), ("",)], "entity_type string")
    assert normalize_entity_types(bad).count() == 0
    passthrough = normalize_entity_types(bad, drop_unknown=False).collect()
    assert {r.entity_type for r in passthrough} == {"Gadget", "widget", ""}


def test_wired_into_pipeline_is_identity_on_canonical_output(spark):
    """Guards that the built-in extractors emit only canonical types:
    segmentation and mention extraction return their rows without a type
    projection (tests/test_plans.py pins the mention plan shape), so a
    non-canonical type from either would reach downstream unfiltered."""
    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.operators.ingest import ingest
    from legal_knowledge_graph_spark.operators.mentions import mentions_from_files
    from legal_knowledge_graph_spark.operators.segment import segment

    # segment_text labels a block with a SECTION_PATTERNS key or "OTHER"
    assert {t for t, _ in SECTION_PATTERNS} | {"OTHER"} <= set(BLOCK_TYPES)
    ing = ingest(corpus_df(spark, 20, seed=42))
    blocks = segment(ing)
    assert blocks.where(~F.col("block_type").isin(BLOCK_TYPES)).count() == 0
    m = mentions_from_files(ing)
    assert m.where(~F.col("entity_type").isin(ENTITY_TYPES)).count() == 0
    assert m.count() > 0


def test_external_mentions_normalize_like_reference(spark):
    """External mention table with raw spellings: aliases coerce, unknowns
    drop — the entities.py:128-143 + ner_agent.py:350-356 behavior."""
    rows = [("def",), ("PATH",), ("licence",), ("semver",), ("gadget",)]
    df = spark.createDataFrame(rows, "entity_type string")
    out = sorted(r.entity_type for r in normalize_entity_types(df).collect())
    assert out == ["File", "Function", "License", "Version"]
