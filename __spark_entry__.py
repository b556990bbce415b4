"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship — the full KG-construction pipeline
  (segment -> mentions -> canonicalize -> triples -> edge-norm -> coref)
  on the deterministic synthetic code corpus sized for sf0.001; returns
  the final edges DataFrame.
- ``queries()``: one entry per implemented operator family
  (SURVEY.md §2 + training-data ops); each takes (spark, sf_dir).
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
from legal_knowledge_graph_spark.operators.text_analysis import (
    BPE_ISH_TOKEN_RE, EN_STOPWORDS, fingerprints, language_id, quality_scores,
    token_counts, top_keywords,
)
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


# --- text analysis ----------------------------------------------------------
def doc_token_count(spark, sf_dir):
    out = token_counts(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"))


def doc_quality(spark, sf_dir):
    return quality_scores(_t(spark, sf_dir, "documents"))


def doc_lang_id(spark, sf_dir):
    out = language_id(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id", F.col("en_hits").cast("int").alias("en_hits"),
        F.col("de_hits").cast("int").alias("de_hits"),
        F.col("fr_hits").cast("int").alias("fr_hits"), "predicted_lang")


def doc_fingerprint(spark, sf_dir):
    return fingerprints(_t(spark, sf_dir, "documents"))


def doc_top_keywords(spark, sf_dir):
    return top_keywords(_t(spark, sf_dir, "documents"), k=5)


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


def doc_boilerplate(spark, sf_dir):
    """CCNet-style boilerplate-line removal (text_analysis.py). A corpus
    header/footer is planted into every document plus one unique per-doc
    line, so removal must strip exactly the shared lines while preserving
    order — the oracle replays the same plant, threshold, and rebuild in
    SQL. cleaned is compared via md5 to keep rows compact."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        remove_boilerplate,
    )

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("=== CORPUS HEADER v1 ===\n"), F.col("text"),
            F.lit("\nGenerated by pipeline\nDoc#"),
            F.col("doc_id").cast("string"),
        ).alias("text"))
    out = remove_boilerplate(planted, min_docs=2, min_len=4)
    return out.select(
        "doc_id", F.col("n_kept").cast("long").alias("n_kept"),
        F.md5("cleaned").alias("cleaned_md5"))


def doc_repetition(spark, sf_dir):
    """Gopher-style within-document repetition metrics
    (text_analysis.repetition_scores) — duplicate word / 3-gram
    fractions, a standard pretraining quality filter."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        repetition_scores,
    )

    return repetition_scores(_t(spark, sf_dir, "documents"))


def doc_filter_chain(spark, sf_dir):
    """C4/RefinedWeb-style composite pretraining filter
    (text_analysis.pretraining_filter): language + quality + repetition +
    length + domain blocklist, all in one zero-shuffle projection. The
    oracle restates every check over the shared doc_quality /
    doc_lang_id / doc_repetition SQL fragments and joins the reasons with
    the same fixed-order concat_ws."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        pretraining_filter,
    )

    return pretraining_filter(
        _t(spark, sf_dir, "documents"), allowed_langs=("en", "de"),
        min_quality=0.5, max_dup_3gram_frac=0.3, min_chars=100,
        blocked_sources=("src13", "src7"))


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


def doc_vocab(spark, sf_dir):
    """Tokenizer-prep corpus vocabulary (text_analysis.corpus_vocab):
    top-200 tokens by global frequency with cumulative coverage of the
    token mass — top-k via TakeOrderedAndProject, cumsum window over the
    200 survivors only."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        corpus_vocab,
    )

    return corpus_vocab(_t(spark, sf_dir, "documents"), top_v=200)


def doc_tfidf_keywords(spark, sf_dir):
    """Per-document top-5 terms by tf-idf (text_analysis.tfidf_keywords):
    tf*ln(N/df), N riding as a one-row broadcast aggregate, idf join
    broadcast under the observed vocab size."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        tfidf_keywords,
    )

    return tfidf_keywords(_t(spark, sf_dir, "documents"), k=5)


def doc_textrank(spark, sf_dir):
    """TextRank extractive summaries (text_analysis.textrank_chunks):
    per-doc chunk graphs ranked by weighted PageRank in 10 corpus-wide
    equi-joins, top-2 central chunks per doc; the oracle unrolls the
    identical recurrence."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        textrank_chunks,
    )

    return textrank_chunks(_t(spark, sf_dir, "documents"),
                           chunk_size=10, n_iter=10, top_k=2)


def doc_rake(spark, sf_dir):
    """RAKE keyphrases (text_analysis.rake_keyphrases): stopword-cut
    candidate runs, per-doc deg/freq word scores, top-3 phrases per doc
    with deterministic (score, phrase) ordering."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        rake_keyphrases,
    )

    return rake_keyphrases(_t(spark, sf_dir, "documents"),
                           top_k=3, max_phrase_len=4)


def doc_ngram_diversity(spark, sf_dir):
    """Per-language n-gram diversity profile (text_analysis.
    ngram_diversity): corpus-level type-token ratio and its 2/3-gram
    generalizations; distinct counts via the explicit two-stage
    aggregate (gram collapse first), never expand-based count_distinct
    over the raw token stream."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        ngram_diversity,
    )

    return ngram_diversity(_t(spark, sf_dir, "documents"), by="lang")


def doc_chunks(spark, sf_dir):
    """Sliding-window chunking (text_analysis.chunk_documents): 64-token
    windows, 16-token overlap — one projection + one explode, zero
    shuffle; integer DIV chunk-count arithmetic restated verbatim in
    SQL."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        chunk_documents,
    )

    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_tokens=64, overlap_tokens=16)


def doc_length_stats(spark, sf_dir):
    """Per-language token-length profile (text_analysis.
    corpus_length_stats): count/sum/mean plus exact type-7 percentiles —
    the same interpolation definition as DuckDB quantile_cont, mean
    computed as CAST(sum AS DOUBLE)/count on both sides."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        corpus_length_stats,
    )

    return corpus_length_stats(_t(spark, sf_dir, "documents"), by="lang")


BM25_QUERIES = {
    "q_join": ["hash", "join", "merge"],
    "q_scan": ["scan", "filter", "column"],
    "q_stream": ["stream", "window", "zzzunseen"],
}


def doc_bm25(spark, sf_dir):
    """BM25 ranked retrieval (text_analysis.bm25_scores): three literal
    term queries scored in one codegen projection (array-filter tf, no
    posting-list shuffle), corpus stats as a one-row broadcast, top-10
    per query. The third query carries a zero-df term to exercise the
    idf edge."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        bm25_scores,
    )

    return bm25_scores(_t(spark, sf_dir, "documents"), BM25_QUERIES,
                       k1=1.2, b=0.75, topk=10)



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_doc_mentions": kg_doc_mentions,
        "kg_doc_triples": kg_doc_triples,
        "kg_term_nodes": kg_term_nodes,
        "kg_term_cooccurrence": kg_term_cooccurrence,
        "kg_pipeline_nodes": kg_pipeline_nodes,
        "kg_pipeline_edges": kg_pipeline_edges,
        "kg_pipeline_pr": kg_pipeline_pr,
        "doc_token_count": doc_token_count,
        "doc_quality": doc_quality,
        "doc_lang_id": doc_lang_id,
        "doc_fingerprint": doc_fingerprint,
        "doc_top_keywords": doc_top_keywords,
        "doc_boilerplate": doc_boilerplate,
        "doc_repetition": doc_repetition,
        "doc_filter_chain": doc_filter_chain,
        "kg_type_normalization": kg_type_normalization,
        "kg_term_neighbors": kg_term_neighbors,
        "kg_term_components": kg_term_components,
        "doc_vocab": doc_vocab,
        "doc_tfidf_keywords": doc_tfidf_keywords,
        "doc_bm25": doc_bm25,
        "doc_length_stats": doc_length_stats,
        "doc_textrank": doc_textrank,
        "doc_rake": doc_rake,
        "doc_ngram_diversity": doc_ngram_diversity,
        "doc_chunks": doc_chunks,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect)
# ---------------------------------------------------------------------------
def _stop_hits(col: str, words: list[str]) -> str:
    return " + ".join(
        f"(CASE WHEN ' ' || {col} || ' ' LIKE '% {w} %' THEN 1 ELSE 0 END)"
        for w in words)


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

_QUALITY_HITS = _stop_hits("text", EN_STOPWORDS)

_EN = _stop_hits("text", EN_STOPWORDS)
_DE = _stop_hits("text", ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"])
_FR = _stop_hits("text", ["le", "la", "les", "et", "est", "une", "pour", "dans"])

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

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


def _bm25_oracle(queries: dict, k1: float, b: float, topk: int) -> str:
    """SQL restatement of text_analysis.bm25_scores with the identical
    operator order (0 + t1 + t2 + ..., (N-df+0.5)/(df+0.5)+1 inside ln,
    tf*(k1+1) before the divide) and every literal a repr()-inlined
    DOUBLE — dl/df are integral doubles, the per-doc arithmetic is
    scalar, so both engines agree to the last ulp before round(,4)."""
    k1r, br = repr(float(k1)), repr(float(b))
    qitems = sorted(queries.items())
    tf_defs, df_defs = [], []
    for qi, (_, terms) in enumerate(qitems):
        for ti, t in enumerate(terms):
            tf_defs.append(
                f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE)"
                f" AS tf_{qi}_{ti}")
            df_defs.append(
                f"sum(CASE WHEN tf_{qi}_{ti} > 0 THEN CAST(1 AS DOUBLE)"
                f" ELSE CAST(0 AS DOUBLE) END) AS df_{qi}_{ti}")
    branches = []
    for qi, (qid, terms) in enumerate(qitems):
        score = "CAST(0 AS DOUBLE)"
        for ti in range(len(terms)):
            tf, df = f"tf_{qi}_{ti}", f"df_{qi}_{ti}"
            idf = f"ln((n_docs - {df} + 0.5) / ({df} + 0.5) + 1.0)"
            den = (f"({tf} + {k1r} * (1.0 - {br} + {br} * dl"
                   f" / (sum_dl / n_docs)))")
            score = f"{score} + {idf} * ({tf} * ({k1r} + 1.0)) / {den}"
        branches.append(
            f"SELECT doc_id, '{qid}' AS query_id, {score} AS score"
            f" FROM tf, st")
    un = "\n  UNION ALL ".join(branches)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text,'')), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
         {", ".join(tf_defs)}
  FROM toks
), st AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) AS sum_dl,
         {", ".join(df_defs)}
  FROM tf
), scored AS (
  {un}
)
SELECT query_id, rk, doc_id, bm25 FROM (
  SELECT query_id, doc_id, round(score, 4) AS bm25,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY round(score, 4) DESC, doc_id ASC) AS INT) AS rk
  FROM scored WHERE score > 0
) WHERE rk <= {topk}"""


def _rake_oracle(top_k: int = 3, max_phrase_len: int = 4) -> str:
    """SQL restatement of text_analysis.rake_keyphrases: cumulative-sum
    phrase segmentation (pos is unique per doc, so the default RANGE
    frame equals ROWS on both engines), per-doc deg/freq word stats,
    summed phrase scores."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        EN_STOPWORDS,
    )

    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return rf"""
WITH wlist AS MATERIALIZED (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS wl
  FROM documents
), toks AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, wl[i] AS w
  FROM wlist, unnest(range(1, len(wl) + 1)) t(i)
  WHERE wl[i] <> ''
), marked AS MATERIALIZED (
  SELECT doc_id, pos, w,
         sum(CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM toks
), nw AS MATERIALIZED (
  SELECT doc_id, pos, w, pid FROM marked WHERE w NOT IN ({stops})
), phrases AS MATERIALIZED (
  SELECT doc_id, pid, count(*) AS plen,
         string_agg(w, ' ' ORDER BY pos) AS phrase
  FROM nw GROUP BY doc_id, pid
  HAVING count(*) <= {max_phrase_len}
), pw AS (
  SELECT n.doc_id, n.pid, n.w, p.plen
  FROM nw n JOIN phrases p ON p.doc_id = n.doc_id AND p.pid = n.pid
), wstats AS (
  SELECT doc_id, w, sum(plen) AS deg, count(*) AS freq
  FROM pw GROUP BY doc_id, w
), scored AS (
  SELECT pw.doc_id, pw.pid, sum(CAST(ws.deg AS DOUBLE) / ws.freq) AS s
  FROM pw JOIN wstats ws ON ws.doc_id = pw.doc_id AND ws.w = pw.w
  GROUP BY pw.doc_id, pw.pid
), fin AS (
  SELECT s.doc_id, p.phrase, round(s.s, 6) AS score
  FROM scored s JOIN phrases p ON p.doc_id = s.doc_id AND p.pid = s.pid
), rk AS (
  SELECT doc_id, phrase, score,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, phrase ASC) AS INT) AS rk
  FROM fin
)
SELECT doc_id, phrase, score, rk FROM rk WHERE rk <= {top_k}"""


def _textrank_oracle(
    chunk_size: int = 10, n_iter: int = 10, damping: float = 0.85,
    top_k: int = 2,
) -> str:
    """Fixed-unroll SQL restatement of text_analysis.textrank_chunks:
    chunk segmentation with posexplode-compatible positions, the
    distinct-word-overlap edge weights, and one weighted-PR CTE per
    iteration (settled FP error stays far inside the 6-place round)."""
    head = rf"""
WITH wlist AS MATERIALIZED (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS wl
  FROM documents
), toks AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, wl[i] AS w
  FROM wlist, unnest(range(1, len(wl) + 1)) t(i)
  WHERE wl[i] <> ''
), sents AS MATERIALIZED (
  SELECT doc_id, pos // {chunk_size} AS idx, count(*) AS n_tok,
         string_agg(w, ' ' ORDER BY pos) AS chunk_text
  FROM toks GROUP BY doc_id, pos // {chunk_size}
), dw AS MATERIALIZED (
  SELECT DISTINCT doc_id, pos // {chunk_size} AS idx, w FROM toks
), cmn AS (
  SELECT a.doc_id, a.idx AS i, b.idx AS j, count(*) AS c
  FROM dw a JOIN dw b
    ON a.doc_id = b.doc_id AND a.w = b.w AND a.idx < b.idx
  GROUP BY a.doc_id, a.idx, b.idx
), pairs AS (
  SELECT c.doc_id, c.i, c.j,
         c.c / greatest(ln(si.n_tok) + ln(sj.n_tok), 1e-9) AS wgt
  FROM cmn c
  JOIN sents si ON si.doc_id = c.doc_id AND si.idx = c.i
  JOIN sents sj ON sj.doc_id = c.doc_id AND sj.idx = c.j
), edges AS MATERIALIZED (
  SELECT doc_id, i AS src, j AS dst, wgt FROM pairs
  UNION ALL
  SELECT doc_id, j AS src, i AS dst, wgt FROM pairs
), strength AS (
  SELECT doc_id, src, sum(wgt) AS s FROM edges GROUP BY doc_id, src
), en AS MATERIALIZED (
  SELECT e.doc_id, e.src, e.dst, e.wgt / st.s AS wn
  FROM edges e
  JOIN strength st ON st.doc_id = e.doc_id AND st.src = e.src
), nd AS (SELECT doc_id, count(*) AS n_sents FROM sents GROUP BY doc_id),
base AS MATERIALIZED (
  SELECT s.doc_id, s.idx, nd.n_sents
  FROM sents s JOIN nd USING (doc_id)
), r0 AS MATERIALIZED (
  SELECT doc_id, idx, 1.0 / n_sents AS r FROM base
)"""
    its = []
    for t in range(1, n_iter + 1):
        its.append(f""",
r{t} AS MATERIALIZED (
  SELECT b.doc_id, b.idx,
         {1.0 - damping} / b.n_sents + {damping} * coalesce(x.acc, 0)
           AS r
  FROM base b LEFT JOIN (
    SELECT e.doc_id, e.dst AS idx, sum(e.wn * r.r) AS acc
    FROM en e JOIN r{t - 1} r ON r.doc_id = e.doc_id AND r.idx = e.src
    GROUP BY e.doc_id, e.dst
  ) x ON x.doc_id = b.doc_id AND x.idx = b.idx
)""")
    tail = f""",
fin AS (
  SELECT s.doc_id, s.idx, round(r.r, 6) AS score, s.chunk_text
  FROM sents s
  JOIN r{n_iter} r ON r.doc_id = s.doc_id AND r.idx = s.idx
), rk AS (
  SELECT doc_id, CAST(idx AS INT) AS idx, score,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, idx ASC) AS INT) AS rk, chunk_text
  FROM fin
)
SELECT doc_id, idx, score, rk, chunk_text FROM rk WHERE rk <= {top_k}"""
    return head + "".join(its) + tail


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
        "doc_token_count": f"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents""",
        "doc_quality": f"""
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
        / greatest(length(text), 1), 6) AS punct_ratio,
  round(({_QUALITY_HITS}) / 10.0, 6) AS stopword_ratio,
  round(0.4 * least(1.0, length(text) / 500.0)
      + 0.3 * (1.0 - least(1.0, 4.0 * (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / greatest(length(text), 1)))
      + 0.3 * least(1.0, 5.0 * ({_QUALITY_HITS}) / 10.0), 6) AS quality_score
FROM documents""",
        "doc_lang_id": f"""
SELECT doc_id,
  CAST({_EN} AS INT) AS en_hits,
  CAST({_DE} AS INT) AS de_hits,
  CAST({_FR} AS INT) AS fr_hits,
  CASE WHEN ({_EN}) >= ({_DE}) AND ({_EN}) >= ({_FR}) AND ({_EN}) >= 2 THEN 'en'
       WHEN ({_DE}) >= ({_FR}) AND ({_DE}) >= 2 THEN 'de'
       WHEN ({_FR}) >= 2 THEN 'fr'
       ELSE 'unknown' END AS predicted_lang
FROM documents""",
        "doc_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
        "doc_top_keywords": """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
  FROM documents
), counts AS (
  SELECT doc_id, word, count(*) AS n FROM words
  WHERE length(word) >= 2 GROUP BY doc_id, word
), rk AS (
  SELECT doc_id, word, n,
    CAST(row_number() OVER (PARTITION BY doc_id
                            ORDER BY n DESC, word ASC) AS INT) AS rank
  FROM counts
)
SELECT doc_id, word, n, rank FROM rk WHERE rank <= 5""",
        # verbatim restatement of text_analysis.remove_boilerplate: same
        # plant, same >=2-distinct-docs threshold on trimmed lines of
        # length >= 4, same order-preserving rebuild
        "doc_boilerplate": r"""
WITH planted AS (
  SELECT doc_id,
         '=== CORPUS HEADER v1 ===' || chr(10) || text || chr(10)
         || 'Generated by pipeline' || chr(10)
         || 'Doc#' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM planted
),
counts AS (
  SELECT line, COUNT(DISTINCT doc_id) AS nd
  FROM lines WHERE length(trim(line)) >= 4 GROUP BY line
),
boiler AS (SELECT line FROM counts WHERE nd >= 2),
kept AS (
  SELECT l.doc_id, l.line, l.pos
  FROM lines l LEFT JOIN boiler b USING (line)
  WHERE b.line IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       md5(COALESCE(r.cleaned, '')) AS cleaned_md5
FROM planted p LEFT JOIN rebuilt r USING (doc_id)""",
        # verbatim restatement of text_analysis.repetition_scores
        # (lowercased whitespace tokens; short docs score 0.0)
        "doc_repetition": r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\s+') AS w
  FROM documents
), base AS (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_dw,
         greatest(len(w) - 2, 0) AS n_g
  FROM toks
), g AS (
  SELECT doc_id,
         count(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS n_dg
  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_dw AS BIGINT) AS n_distinct_words,
       round(1.0 - CAST(n_dw AS DOUBLE) / greatest(n_words, 1), 6)
         AS dup_word_frac,
       CAST(n_g AS BIGINT) AS n_3grams,
       CAST(COALESCE(g.n_dg, 0) AS BIGINT) AS n_distinct_3grams,
       round(CASE WHEN n_g > 0
                  THEN 1.0 - CAST(COALESCE(g.n_dg, 0) AS DOUBLE) / n_g
                  ELSE 0.0 END, 6) AS dup_3gram_frac
FROM base b LEFT JOIN g USING (doc_id)""",
        # verbatim restatement of text_analysis.pretraining_filter: the
        # shared doc_quality / doc_lang_id / doc_repetition formulas feed
        # fixed-order CASE checks joined with concat_ws (NULLs skipped on
        # both engines); kept = (reasons = '')
        "doc_filter_chain": f"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS w
  FROM documents
), base AS (
  SELECT doc_id, greatest(len(w) - 2, 0) AS n_g FROM toks
), g AS (
  SELECT doc_id,
         count(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS n_dg
  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)
  GROUP BY doc_id
), rep AS (
  SELECT b.doc_id,
         CASE WHEN n_g > 0
              THEN 1.0 - CAST(COALESCE(g.n_dg, 0) AS DOUBLE) / n_g
              ELSE 0.0 END AS dup3
  FROM base b LEFT JOIN g USING (doc_id)
), sc AS (
  SELECT doc_id, source, length(text) AS n_chars,
    0.4 * least(1.0, length(text) / 500.0)
      + 0.3 * (1.0 - least(1.0, 4.0 * (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / greatest(length(text), 1)))
      + 0.3 * least(1.0, 5.0 * ({_QUALITY_HITS}) / 10.0) AS q,
    CASE WHEN ({_EN}) >= ({_DE}) AND ({_EN}) >= ({_FR}) AND ({_EN}) >= 2 THEN 'en'
         WHEN ({_DE}) >= ({_FR}) AND ({_DE}) >= 2 THEN 'de'
         WHEN ({_FR}) >= 2 THEN 'fr'
         ELSE 'unknown' END AS plang
  FROM documents
), r AS (
  SELECT sc.doc_id,
    concat_ws(',',
      CASE WHEN NOT plang IN ('en', 'de') THEN 'lang' END,
      CASE WHEN q < 0.5 THEN 'quality' END,
      CASE WHEN dup3 > 0.3 THEN 'repetition' END,
      CASE WHEN n_chars < 100 THEN 'too_short' END,
      CASE WHEN n_chars > 100000 THEN 'too_long' END,
      CASE WHEN source IN ('src13', 'src7') THEN 'blocked_source' END
    ) AS reasons,
    round(q, 6) AS quality_score, plang AS predicted_lang,
    round(dup3, 6) AS dup_3gram_frac
  FROM sc JOIN rep USING (doc_id)
)
SELECT doc_id, reasons = '' AS kept, reasons, quality_score,
       predicted_lang, dup_3gram_frac
FROM r""",
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
        "doc_textrank": _textrank_oracle(chunk_size=10, n_iter=10,
                                         damping=0.85, top_k=2),
        "doc_rake": _rake_oracle(top_k=3, max_phrase_len=4),
        "doc_vocab": r"""
WITH words AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents
), counts AS (
  SELECT word, count(*) AS n FROM words
  WHERE length(word) >= 2 GROUP BY word
), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM counts),
top AS (SELECT word, n FROM counts ORDER BY n DESC, word ASC LIMIT 200)
SELECT CAST(row_number() OVER (ORDER BY n DESC, word ASC) AS INT) AS rank,
       word, n,
       round(CAST(sum(n) OVER (ORDER BY n DESC, word ASC
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t, 6)
         AS coverage
FROM top, tot""",
        "doc_tfidf_keywords": r"""
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM words
  WHERE length(word) >= 2 GROUP BY doc_id, word
), dft AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), nd AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.word,
         round(tf * ln(n_docs / df), 6) AS tfidf
  FROM tf JOIN dft USING (word), nd
), rk AS (
  SELECT doc_id, word, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, word ASC) AS INT)
           AS rank
  FROM scored
)
SELECT doc_id, word, tfidf, rank FROM rk WHERE rank <= 5""",
        # same integer DIV chunk-count arithmetic, same slice bounds
        "doc_chunks": r"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                        '\s+'), x -> x <> '') AS w
  FROM documents
), nz AS (
  SELECT doc_id, w, len(w) AS n FROM base WHERE len(w) > 0
), k AS (
  SELECT doc_id, w, n,
         CASE WHEN n <= 64 THEN 1
              ELSE ((n - 64) + 47) // 48 + 1 END AS kmax
  FROM nz
), c AS (
  SELECT doc_id, w, n, unnest(generate_series(0, kmax - 1)) AS chunk_id
  FROM k
)
SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
       least(64, n - chunk_id * 48) AS n_tok,
       array_to_string(
           array_slice(w, chunk_id * 48 + 1,
                       chunk_id * 48 + least(64, n - chunk_id * 48)),
           ' ') AS chunk_text
FROM c""",
        "doc_ngram_diversity": r"""
WITH words AS MATERIALIZED (
  SELECT lang AS stratum,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                        '\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT stratum, 1 AS n, unnest(w) AS gram FROM words
  UNION ALL
  SELECT stratum, 2 AS n,
         unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM words
  UNION ALL
  SELECT stratum, 3 AS n,
         unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i + 1] || ' '
                                    || w[i + 2])) AS gram
  FROM words
)
SELECT stratum, n, count(*) AS total_ngrams,
       count(DISTINCT gram) AS distinct_ngrams,
       round(count(DISTINCT gram) / count(*), 6) AS diversity
FROM grams GROUP BY stratum, n""",
        "doc_length_stats": r"""
WITH toks AS (
  SELECT lang AS stratum,
         len(list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
)
SELECT stratum, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS mean_tokens,
       round(CAST(quantile_cont(n_tok, 0.5) AS DOUBLE), 6) AS p50,
       round(CAST(quantile_cont(n_tok, 0.9) AS DOUBLE), 6) AS p90,
       round(CAST(quantile_cont(n_tok, 0.99) AS DOUBLE), 6) AS p99
FROM toks GROUP BY stratum""",
        "doc_bm25": _bm25_oracle(BM25_QUERIES, k1=1.2, b=0.75, topk=10),
    }
