"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship — the full KG-construction pipeline
  (segment -> mentions -> canonicalize -> triples -> edge-norm -> coref)
  on the deterministic synthetic code corpus sized for sf0.001; returns
  the final edges DataFrame.
- ``queries()``: one entry per implemented operator family
  (SURVEY.md §2); each takes (spark, sf_dir).
- ``oracle_sql()``: DuckDB-runnable SQL equivalents for EVERY query (r2):
  the KG pipeline checks against spec-side golden parquet
  (tools/make_goldens.py), the other queries against SQL restatements
  of their operators.

Column names and types are aligned pairwise (the driver hashes values
after sorting columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from legal_knowledge_graph_spark.corpus import corpus_df
from legal_knowledge_graph_spark.operators import doc_kg
from legal_knowledge_graph_spark.plans import run_pipeline

# sf1.0 has no goldens of its own; it runs the sf0.01 corpus size, so
# _golden_dir's fallback to the sf0.01 goldens keeps its P/R meaningful.
_CORPUS_FILES = {"sf0.001": 60, "sf0.01": 240, "sf0.1": 1000, "sf1.0": 240}
# The sf-dir parquet tables the queries and oracles read; the harnesses
# warm or register exactly these.
TABLES = ("documents",)
_GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "golden", "sf0.01")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _corpus_size(sf_dir: str) -> int:
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    if sf_name not in _CORPUS_FILES:
        raise ValueError(f"no corpus size for {sf_name!r}; known sfs: "
                         f"{', '.join(_CORPUS_FILES)}")
    return _CORPUS_FILES[sf_name]


def _golden_dir(sf_dir: str) -> str:
    """``golden/<sf>`` when that directory exists, else the sf0.01 goldens."""
    gdir = os.path.join(os.path.dirname(_GOLDEN_DIR),
                        os.path.basename(sf_dir.rstrip("/")))
    return gdir if os.path.isdir(gdir) else _GOLDEN_DIR


def entry(spark: SparkSession) -> DataFrame:
    files = corpus_df(spark, _CORPUS_FILES["sf0.001"], seed=42)
    res = run_pipeline(spark, files)
    return res.edges.select(
        "edge_id", "subject_canonical", "predicate", "object_canonical",
        "confidence", "need_coref", "validation_passed",
    )


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------
# --- doc-KG (SQL-checkable KG semantics on shared data) --------------------
def kg_doc_mentions(spark, sf_dir):
    return doc_kg.doc_term_mentions(_t(spark, sf_dir, "documents"), spark)


def kg_doc_triples(spark, sf_dir):
    return doc_kg.doc_term_triples(_t(spark, sf_dir, "documents"), spark)


def kg_term_nodes(spark, sf_dir):
    return doc_kg.term_nodes(_t(spark, sf_dir, "documents"), spark)


def kg_term_cooccurrence(spark, sf_dir):
    return doc_kg.term_cooccurrence_edges(_t(spark, sf_dir, "documents"), spark)


# --- full KG pipeline on the synthetic code corpus --------------------------
# Oracle-checked against the spec-side golden parquet (tools/make_goldens.py):
# the golden (s, p, o) set is computed by corpus.py independently of any
# Spark operator, mirroring how the reference's emitted triples are its
# graded artifact (relation_agent.py:327-337).
def kg_pipeline_nodes(spark, sf_dir):
    res = run_pipeline(spark, corpus_df(spark, _corpus_size(sf_dir), seed=42))
    return res.nodes.select("entity_type", "canonical_name").distinct()


def kg_pipeline_edges(spark, sf_dir):
    res = run_pipeline(spark, corpus_df(spark, _corpus_size(sf_dir), seed=42))
    return res.edges.where(~F.col("need_coref")).select(
        "subject_canonical", "predicate", "object_canonical").distinct()


def kg_pipeline_pr(spark, sf_dir):
    """Golden P/R as a driver-visible row (VERDICT r2 #6): precision and
    recall of the pipeline's distinct resolved (s,p,o) triples vs the
    spec-side golden parquet — the BASELINE.json P/R >= 0.95 gate. The
    oracle is the constant (1.0, 1.0) because kg_pipeline_edges hash-equals
    the golden set (CORRECTNESS r2); any extraction regression moves the
    Spark side off 1.0 and fails this row."""
    res = run_pipeline(spark, corpus_df(spark, _corpus_size(sf_dir), seed=42))
    cols = ["subject_canonical", "predicate", "object_canonical"]
    got = res.edges.where(~F.col("need_coref")).select(*cols).distinct()
    want = spark.read.parquet(
        os.path.join(_golden_dir(sf_dir), "golden_triples.parquet"),
    ).select(*cols).distinct()
    j = got.withColumn("g", F.lit(1)).join(
        want.withColumn("w", F.lit(1)), cols, "full")
    return j.agg(
        F.round(F.sum(F.col("g") * F.col("w")) / F.sum("g"), 6).alias("precision"),
        F.round(F.sum(F.col("g") * F.col("w")) / F.sum("w"), 6).alias("recall"))


def kg_term_components(spark, sf_dir):
    """The large-star/small-star connected-components operator (the
    canonicalization core, operators/components.py) surfaced directly:
    components of the term co-occurrence graph, labeled by each
    component's lexicographically-least term. Oracle = recursive-CTE
    transitive closure + min reachable term."""
    from legal_knowledge_graph_spark.operators.components import (
        connected_components,
    )

    docs = _t(spark, sf_dir, "documents")
    terms = doc_kg.term_nodes(docs, spark).select(
        F.col("canonical").alias("term"))
    ids = terms.withColumn("id", F.xxhash64("term"))
    co = doc_kg.term_cooccurrence_edges(docs, spark)
    edges = (
        co.join(ids.select(F.col("term").alias("term_a"),
                           F.col("id").alias("src")), "term_a")
        .join(ids.select(F.col("term").alias("term_b"),
                         F.col("id").alias("dst")), "term_b")
        .select("src", "dst")
    )
    comp = connected_components(edges)
    labeled = ids.join(comp, ids["id"] == comp["id"], "left").select(
        "term", F.coalesce(comp["component"], ids["id"]).alias("cid"))
    labels = labeled.groupBy("cid").agg(F.min("term").alias("component"))
    return labeled.join(labels, "cid").select("term", "component")


def kg_term_neighbors(spark, sf_dir):
    """Graph READ-BACK surfaced as a driver query (models.py:119-159
    analog): bounded 2-hop neighbor expansion from the 'join' term over the
    co-occurrence graph, via the same operators/graph_query.neighbors BFS
    used on the materialized store."""
    from legal_knowledge_graph_spark.operators import graph_query

    docs = _t(spark, sf_dir, "documents")
    nodes = doc_kg.term_nodes(docs, spark).select(
        F.col("canonical").alias("entity_id"),
        F.lit("Term").alias("entity_type"),
        F.col("canonical").alias("canonical_name"))
    edges = doc_kg.term_cooccurrence_edges(docs, spark).select(
        F.col("term_a").alias("subject_entity_id"),
        F.col("term_b").alias("object_entity_id"))
    out = graph_query.neighbors(nodes, edges, "join", depth=2)
    return out.select("entity_id", "entity_type", "canonical_name",
                      F.col("hop").cast("int").alias("hop"))


def kg_type_normalization(spark, sf_dir):
    """F4/F7 alias projections on an adversarial spelling matrix: every
    alias (mixed case + padded), every canonical, and unknowns; `kept` is
    the closed-enum verdict (blocks fall back to OTHER and are always kept,
    unknown entity types are rejected — ner_agent.py:350-356)."""
    from legal_knowledge_graph_spark.operators.type_norm import (
        normalize_block_type, normalize_entity_type,
    )
    from legal_knowledge_graph_spark.schema import (
        BLOCK_TYPE_ALIASES, BLOCK_TYPES, ENTITY_TYPE_ALIASES, ENTITY_TYPES,
    )

    df = spark.createDataFrame(_type_norm_inputs(
        BLOCK_TYPE_ALIASES, BLOCK_TYPES, ENTITY_TYPE_ALIASES, ENTITY_TYPES),
        "kind string, raw_type string").distinct()
    b = df.where(F.col("kind") == "block").select(
        "kind", "raw_type",
        normalize_block_type(F.col("raw_type")).alias("normalized"),
        F.lit(True).alias("kept"))
    ent_norm = normalize_entity_type(F.col("raw_type"))
    e = df.where(F.col("kind") == "entity").select(
        "kind", "raw_type", ent_norm.alias("normalized"),
        ent_norm.isin(ENTITY_TYPES).alias("kept"))
    return b.unionByName(e)


def _type_norm_inputs(block_aliases, block_types, entity_aliases, entity_types):
    rows = []
    for a in sorted(block_aliases) + list(block_types) + ["WEIRD_THING"]:
        rows += [("block", a), ("block", a.lower()), ("block", f"  {a} ")]
    for a in sorted(entity_aliases) + list(entity_types) + ["Gadget"]:
        rows += [("entity", a), ("entity", a.upper()), ("entity", f"  {a} ")]
    return rows


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_doc_mentions": kg_doc_mentions,
        "kg_doc_triples": kg_doc_triples,
        "kg_term_nodes": kg_term_nodes,
        "kg_term_cooccurrence": kg_term_cooccurrence,
        "kg_pipeline_nodes": kg_pipeline_nodes,
        "kg_pipeline_edges": kg_pipeline_edges,
        "kg_pipeline_pr": kg_pipeline_pr,
        "kg_type_normalization": kg_type_normalization,
        "kg_term_neighbors": kg_term_neighbors,
        "kg_term_components": kg_term_components,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect)
# ---------------------------------------------------------------------------
_TERM_DICT_VALUES = ", ".join(
    f"('{a}', '{c}')" for a, c in doc_kg.TERM_DICT)

_DOC_MENTIONS_CTE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS alias FROM documents
), d(alias, canonical) AS (VALUES {_TERM_DICT_VALUES}),
mentions AS (
  SELECT w.doc_id, w.alias, d.canonical, count(*) AS n
  FROM words w JOIN d ON w.alias = d.alias
  GROUP BY w.doc_id, w.alias, d.canonical
)"""


def _type_norm_oracle() -> str:
    """Relational re-statement of the F4/F7 projections: the alias tables
    become VALUES relations and the map lookup becomes a LEFT JOIN +
    closed-enum CASE (independent mechanics, shared spec constants)."""
    from legal_knowledge_graph_spark.schema import (
        BLOCK_TYPE_ALIASES, BLOCK_TYPES, ENTITY_TYPE_ALIASES, ENTITY_TYPES,
    )

    raw = sorted(set(_type_norm_inputs(
        BLOCK_TYPE_ALIASES, BLOCK_TYPES, ENTITY_TYPE_ALIASES, ENTITY_TYPES)))
    raw_vals = ", ".join(f"('{k}', '{r}')" for k, r in raw)
    ba = ", ".join(f"('{a}', '{c}')" for a, c in sorted(BLOCK_TYPE_ALIASES.items()))
    ea = ", ".join(f"('{a}', '{c}')" for a, c in sorted(ENTITY_TYPE_ALIASES.items()))
    bt = ", ".join(f"'{t}'" for t in BLOCK_TYPES)
    et = ", ".join(f"'{t}'" for t in ENTITY_TYPES)
    return f"""
WITH raw(kind, raw_type) AS (VALUES {raw_vals}),
ba(alias, canonical) AS (VALUES {ba}),
ea(alias, canonical) AS (VALUES {ea}),
j AS (
  SELECT r.kind, r.raw_type,
         CASE WHEN r.kind = 'block'
              THEN coalesce(b.canonical, upper(trim(r.raw_type)))
              ELSE coalesce(e.canonical, r.raw_type) END AS cand
  FROM raw r
  LEFT JOIN ba b ON r.kind = 'block' AND upper(trim(r.raw_type)) = b.alias
  LEFT JOIN ea e ON r.kind = 'entity' AND lower(trim(r.raw_type)) = e.alias
)
SELECT kind, raw_type,
  CASE WHEN kind = 'block'
       THEN (CASE WHEN cand IN ({bt}) THEN cand ELSE 'OTHER' END)
       ELSE cand END AS normalized,
  CASE WHEN kind = 'block' THEN TRUE ELSE cand IN ({et}) END AS kept
FROM j"""


def oracle_sql() -> dict[str, str]:
    return {
        "kg_doc_mentions": _DOC_MENTIONS_CTE + "\nSELECT * FROM mentions",
        "kg_doc_triples": _DOC_MENTIONS_CTE + """
SELECT DISTINCT 'doc_' || CAST(doc_id AS VARCHAR) AS subject,
       'mentions_term' AS predicate, canonical AS object
FROM mentions""",
        "kg_term_nodes": _DOC_MENTIONS_CTE + """
SELECT canonical, count(DISTINCT doc_id) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_mentions,
       count(DISTINCT alias) AS n_aliases
FROM mentions GROUP BY canonical""",
        "kg_term_cooccurrence": _DOC_MENTIONS_CTE + """
, dt AS (SELECT DISTINCT doc_id, canonical FROM mentions)
SELECT a.canonical AS term_a, b.canonical AS term_b, count(*) AS n_docs
FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.canonical < b.canonical
GROUP BY 1, 2 HAVING count(*) >= 2""",
        # connected components re-stated as a recursive-CTE transitive
        # closure: component label = min reachable term (undirected closure)
        "kg_term_components": _DOC_MENTIONS_CTE.replace(
            "WITH words", "WITH RECURSIVE words", 1) + """
, dt AS (SELECT DISTINCT doc_id, canonical FROM mentions),
co AS (
  SELECT a.canonical AS term_a, b.canonical AS term_b
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.canonical < b.canonical
  GROUP BY 1, 2 HAVING count(*) >= 2
), bi AS (
  SELECT term_a AS s, term_b AS d FROM co
  UNION ALL SELECT term_b, term_a FROM co
), reach(t, r) AS (
  SELECT canonical, canonical FROM (SELECT DISTINCT canonical FROM mentions)
  UNION
  SELECT bi.d, reach.r FROM reach JOIN bi ON bi.s = reach.t
)
SELECT t AS term, min(r) AS component FROM reach GROUP BY t""",
        # 2-hop BFS re-stated relationally over the symmetrized
        # co-occurrence graph (same >=2-doc edge rule as kg_term_cooccurrence)
        "kg_term_neighbors": _DOC_MENTIONS_CTE + """
, dt AS (SELECT DISTINCT doc_id, canonical FROM mentions),
co AS (
  SELECT a.canonical AS term_a, b.canonical AS term_b
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.canonical < b.canonical
  GROUP BY 1, 2 HAVING count(*) >= 2
), bi AS (
  SELECT term_a AS s, term_b AS d FROM co
  UNION ALL SELECT term_b, term_a FROM co
), h1 AS (
  SELECT DISTINCT d FROM bi WHERE s = 'join' AND d <> 'join'
), h2 AS (
  SELECT DISTINCT bi.d FROM bi JOIN h1 ON bi.s = h1.d
  WHERE bi.d <> 'join' AND bi.d NOT IN (SELECT d FROM h1)
)
SELECT d AS entity_id, 'Term' AS entity_type, d AS canonical_name,
       CAST(1 AS INT) AS hop FROM h1
UNION ALL
SELECT d, 'Term', d, CAST(2 AS INT) FROM h2""",
        "kg_type_normalization": _type_norm_oracle(),
        # spec-side golden parquet (tools/make_goldens.py): the driver's
        # oracle runs at sf0.01; tools/check_oracles.py rewrites the path
        # for other sf dirs
        "kg_pipeline_nodes": f"""
SELECT entity_type, canonical_name
FROM read_parquet('{_GOLDEN_DIR}/golden_nodes.parquet')""",
        "kg_pipeline_edges": f"""
SELECT subject_canonical, predicate, object_canonical
FROM read_parquet('{_GOLDEN_DIR}/golden_triples.parquet')""",
        # genuinely exact: kg_pipeline_edges hash-equals the golden triple
        # set, so P = R = 1.0 by construction; a pipeline regression moves
        # the Spark side off 1.0 and fails this row (VERDICT r2 #6)
        "kg_pipeline_pr": "SELECT CAST(1.0 AS DOUBLE) AS precision, "
                          "CAST(1.0 AS DOUBLE) AS recall",
    }
