"""Type-normalization projections (SURVEY §2.2 F4/F7).

The reference coerces noisy block-type and entity-type spellings through
alias maps before anything downstream sees them:
- block types: /root/reference/src/document_parser/rules.py:143-167
  (alias -> canonical, unknown -> OTHER fallback at rules.py:123);
- entity types: /root/reference/src/knowledge_base/entities.py:128-143
  (alias -> canonical), then the closed-enum filter rejects anything still
  unknown (ner_agent.py:350-356).

This engine's own extractors emit canonical types by construction, so
neither `segment` nor mention extraction applies a projection
(tests/test_type_norm.py guards that their types are canonical). The
projections serve externally-ingested block or mention tables with raw
spellings, which normalize exactly like the reference, and the
`kg_type_normalization` query. Pure Catalyst: a literal MAP lookup +
closed-enum CASE, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..schema import BLOCK_TYPE_ALIASES, BLOCK_TYPES, ENTITY_TYPE_ALIASES, ENTITY_TYPES


def _literal_map(d: dict[str, str]) -> Column:
    return F.create_map(*[F.lit(x) for kv in sorted(d.items()) for x in kv])


def normalize_block_type(col: Column) -> Column:
    """Raw block-type spelling -> canonical BLOCK_TYPES member, else OTHER.
    Matching is case-insensitive on the trimmed spelling (rules.py:150)."""
    up = F.upper(F.trim(col))
    norm = F.coalesce(_literal_map(BLOCK_TYPE_ALIASES)[up], up)
    return F.when(norm.isin(BLOCK_TYPES), norm).otherwise(F.lit("OTHER"))


def normalize_block_types(blocks: DataFrame, col: str = "block_type") -> DataFrame:
    return blocks.withColumn(col, normalize_block_type(F.col(col)))


def normalize_entity_type(col: Column) -> Column:
    """Raw entity-type spelling -> canonical ENTITY_TYPES member; unknown
    spellings pass through UNCHANGED (entities.py:141-143) so the closed-enum
    filter can reject them."""
    low = F.lower(F.trim(col))
    return F.coalesce(_literal_map(ENTITY_TYPE_ALIASES)[low], col)


def normalize_entity_types(
    mentions: DataFrame, col: str = "entity_type", drop_unknown: bool = True,
) -> DataFrame:
    """Alias projection + closed-enum filter (ner_agent.py:350-356: mentions
    whose type is not in the enum after aliasing are dropped)."""
    out = mentions.withColumn(col, normalize_entity_type(F.col(col)))
    if drop_unknown:
        out = out.where(F.col(col).isin(ENTITY_TYPES))
    return out
