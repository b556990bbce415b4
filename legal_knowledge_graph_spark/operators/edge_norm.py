"""st5 — relation normalization: endpoint resolution, schema validation,
need_coref flagging, (s,p,o) dedup.

Distributed restatement of
/root/reference/src/langgraph_agents/relation_norm_agent.py:87-388:

- endpoint resolution (J3, :136-156): join triples -> form_map on
  (entity_type, text) for subject and object.
- schema validation (F9, :255-298): broadcast signature table; mismatch
  KEEPS the edge with validation_passed=false (strict mode existed but was
  never enabled — config/settings.py:56).
- need_coref (F10, :300-326): endpoint missing from the entity map.
- dedup (A3 again, :328-360) on resolved (subject_id, predicate,
  object_id), order-free.

Predicate aliasing (:209-253) is not part of `normalize_edges`: the rule
table in st4 emits only the 15 canonical `RELATION_TYPES` predicates, on
which the alias map is the identity. `normalize_predicates` keeps the
alias-map contract — broadcast exact join, then broadcast theta-join on
containment for the misses (deterministic first-match = shortest alias,
then lexicographic) — for triples from outside the rule table; apply it
before `normalize_edges`.

edge_id is content-derived sha2 so identical graphs rebuild identical ids
at any parallelism (SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..schema import PREDICATE_ALIASES, RELATION_TYPES
from ..sources.io import local_table

_SEP = "\x1f"


def predicate_tables(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(alias map, predicate signature table) as LocalRelations."""
    alias_df = local_table(
        spark, sorted(PREDICATE_ALIASES.items()), "alias string, canonical string")
    sig_df = local_table(
        spark, [(p, s, o) for p, (s, o) in sorted(RELATION_TYPES.items())],
        "predicate string, expected_subject_type string, expected_object_type string",
    )
    return alias_df, sig_df


def normalize_predicates(triples: DataFrame, spark: SparkSession) -> DataFrame:
    """Alias map -> canonical predicate; containment fuzzy fallback for
    misses (relation_norm_agent.py:238-253). Unknown predicates pass
    through unchanged (':251-253'). For triples from outside st4's rule
    table: on `emit_triples` output it is the identity."""
    alias_df, _ = predicate_tables(spark)
    known = set(RELATION_TYPES)

    t = triples.join(
        F.broadcast(alias_df.withColumnRenamed("canonical", "_exact")),
        triples["predicate"] == alias_df["alias"], "left",
    ).drop("alias")
    # already canonical?
    t = t.withColumn(
        "_norm",
        F.when(F.col("predicate").isin(list(known)), F.col("predicate"))
        .otherwise(F.col("_exact")),
    )
    misses = t.where(F.col("_norm").isNull()).drop("_norm", "_exact")
    hits = t.where(F.col("_norm").isNotNull())

    fz = F.broadcast(alias_df.select(
        F.col("alias").alias("_fa"), F.col("canonical").alias("_fc")))
    fuzzy = (
        misses.join(
            fz,
            F.col("predicate").contains(F.col("_fa"))
            | F.col("_fa").contains(F.col("predicate")),
            "left",
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                # endpoint types are part of triple identity: two triples
                # sharing (doc, s, p, o) but differing in endpoint types must
                # each keep their own fuzzy match (ADVICE r1)
                Window.partitionBy(
                    "doc_key", "block_id", "subject", "subject_type",
                    "predicate", "object", "object_type",
                ).orderBy(F.length("_fa").asc_nulls_last(), F.col("_fa").asc_nulls_last())
            ),
        )
        .where(F.col("_rn") == 1)
        .withColumn("_norm", F.col("_fc"))
        .drop("_fa", "_fc", "_rn")
    )
    cols = triples.columns
    out = hits.select(*cols, "_norm").unionByName(fuzzy.select(*cols, "_norm"))
    return out.withColumn(
        "predicate", F.coalesce("_norm", "predicate")).drop("_norm", "_exact")


BROADCAST_FORMS_MAX = 2_000_000


def _forms_small(form_map: DataFrame) -> bool:
    """Size-conditional broadcast decision for the endpoint-resolution
    joins (the observed-size discipline of coref.BROADCAST_FRONTIER_MAX).
    The count is never re-measured when the producer already knows it
    (VERDICT r4 #2): canonicalize's checkpoint and the StageStore write or
    read hand it on the form map as `_kg_rows`; form maps built by hand
    (tests) pay one standalone count over the materialized table."""
    n_forms = getattr(form_map, "_kg_rows", None)
    if n_forms is not None:
        return n_forms <= BROADCAST_FORMS_MAX
    try:
        return form_map.count() <= BROADCAST_FORMS_MAX
    except Exception:
        return False


def normalize_edges(
    triples: DataFrame, form_map: DataFrame, spark: SparkSession,
) -> DataFrame:
    """triples + form_map -> edges (EDGES_SCHEMA + surface endpoint texts
    retained for coref).

    Scale shape (VERDICT r2 #4): the triple table is the fat side (one row
    per extracted relation, 64-B sha-hex lineage columns); the distinct-form
    map is orders of magnitude smaller. When form_map fits the broadcast
    threshold both resolution joins run map-side and the fat side is never
    re-partitioned — the only full-width triple shuffle left in this stage
    is the final edge-id dedup.

    Predicates are taken as they are (see the module docstring)."""
    _, sig_df = predicate_tables(spark)

    fm_s = form_map.select(
        F.col("entity_type").alias("subject_type"),
        F.col("text").alias("subject"),
        F.col("entity_id").alias("subject_entity_id"),
        F.col("canonical_name").alias("subject_canonical"),
    )
    fm_o = form_map.select(
        F.col("entity_type").alias("object_type"),
        F.col("text").alias("object"),
        F.col("entity_id").alias("object_entity_id"),
        F.col("canonical_name").alias("object_canonical"),
    )
    if _forms_small(form_map):
        fm_s, fm_o = F.broadcast(fm_s), F.broadcast(fm_o)
    e = (
        triples.join(fm_s, ["subject_type", "subject"], "left")
        .join(fm_o, ["object_type", "object"], "left")
        .join(F.broadcast(sig_df), "predicate", "left")
    )
    e = e.select(
        "*",
        (F.col("subject_entity_id").isNull() | F.col("object_entity_id").isNull())
        .alias("need_coref"),
        (
            F.col("expected_subject_type").isNotNull()
            & (F.col("subject_type") == F.col("expected_subject_type"))
            & (F.col("object_type") == F.col("expected_object_type"))
        ).alias("validation_passed"),
        # confidence clamp (relation_agent.py:394-396)
        F.when(
            (F.col("confidence") >= 0) & (F.col("confidence") <= 1),
            F.col("confidence"),
        ).otherwise(F.lit(0.5)).alias("conf_clamped"),
    ).drop("confidence").withColumnRenamed("conf_clamped", "confidence")

    return dedup_edges(e)


def dedup_edges(e: DataFrame) -> DataFrame:
    """(subject_id, predicate, object_id) dedup, order-free; unresolved
    endpoints key on surface text until coref resolves them."""
    if "block_id" not in e.columns and "source_block_id" in e.columns:
        e = e.withColumnRenamed("source_block_id", "block_id")
    skey = F.coalesce("subject_entity_id", F.concat(F.lit("ref:"), "subject"))
    okey = F.coalesce("object_entity_id", F.concat(F.lit("ref:"), "object"))
    e = e.withColumn(
        "edge_id", F.sha2(F.concat_ws(_SEP, skey, F.col("predicate"), okey), 256))
    return (
        e.groupBy("edge_id")
        .agg(
            # constant within an edge_id group (the id keys on them)
            F.min("subject_entity_id").alias("subject_entity_id"),
            F.min("predicate").alias("predicate"),
            F.min("object_entity_id").alias("object_entity_id"),
            F.min("subject").alias("subject"),
            F.min("subject_type").alias("subject_type"),
            F.min("object").alias("object"),
            F.min("object_type").alias("object_type"),
            F.min("subject_canonical").alias("subject_canonical"),
            F.min("object_canonical").alias("object_canonical"),
            F.max("confidence").alias("confidence"),
            F.min(F.struct("block_id", "evidence")).alias("_w"),
            F.max("need_coref").alias("need_coref"),
            F.max("validation_passed").alias("validation_passed"),
        )
        .select(
            "edge_id", "subject_entity_id", "predicate", "object_entity_id",
            "subject", "subject_type", "object", "object_type",
            "subject_canonical", "object_canonical", "confidence",
            F.col("_w.evidence").alias("evidence"),
            F.col("_w.block_id").alias("source_block_id"),
            "need_coref", "validation_passed",
        )
    )
