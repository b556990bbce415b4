"""st3 — entity linking + canonicalization (the algorithmic heart).

Distributed re-expression of the reference's normalizer
(/root/reference/src/normalization/normalizer.py:38-310):

  dictionary pre-match (J1)  -> broadcast hash join on lowered text
  similarity clustering (A1) -> purged token blocking -> JVM-side verify
                                -> connected components (large-star /
                                small-star)
  cluster -> node (A2)       -> groupBy aggregates + the reference
                                confidence formula (normalizer.py:279-305)

Merge contract, per similarity type over DISTINCT surface forms (the
golden generator, corpus.canonicalize_spellings, implements the same four
rules in plain Python):

1. Candidates: pairs of distinct forms of the same type that share at
   least one token whose document frequency (the number of distinct forms
   of that type carrying it) is <= TOKEN_DF_CAP. Block purging is a rule
   of the contract: a token above the cap makes no pair a candidate.
2. Merge: a candidate pair with functions.tokenize.pair_score >= 0.6
   (containment 0.9 / same dict canonical 0.95 / token Jaccard;
   normalizer.py:144,168-199). A same-canonical pair that shares no
   unpurged token is not a candidate; it unifies only by name, through
   entity_id.
3. Cluster: the transitive closure of the merges.
4. Representative: the least dict canonical in the cluster, else the
   longest text, ties going to the lexicographically greatest
   (normalizer.py:257-277 made order-free).

Scale design:
- clustering runs over DISTINCT surface forms (entity_type, text), not raw
  mentions — typically orders of magnitude smaller; mention-level stats
  re-join at the end.
- node identity is content-derived: sha2(entity_type, canonical_name)
  (SURVEY §1.3) — clusters that share a dictionary canonical unify by
  name, exactly like the reference's representative naming.
- tokenization and all verify math are Catalyst column expressions
  (whole-stage codegen): the tokenizer is the JVM form of
  functions.tokenize.split_tokens (TOKEN_PATTERN), and the dictionary is
  a LocalRelation, so st3 starts no Python worker.
- collect_set aggregates are capped (slice+sort) so a mega-cluster cannot
  blow an executor (SURVEY §4.2 spill-aware).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions.tokenize import TOKEN_DF_CAP, TOKEN_PATTERN
from ..schema import SIMILARITY_TYPES, dictionary_rows
from ..sources.io import local_table
from .components import connected_components
from .mentions import filter_pronouns

ALIAS_CAP = 50
BLOCK_IDS_CAP = 100

_SEP = "\x1f"


def dictionary_df(spark: SparkSession) -> DataFrame:
    return local_table(
        spark, dictionary_rows(),
        "alias_lc string, dict_canonical string, entity_type string, dict_conf double",
    )


def token_array(text) -> F.Column:
    """sorted(set(split_tokens(text))) as a Catalyst expression (the JVM
    form; functions/tokenize.py states why the two agree)."""
    return F.array_sort(F.array_distinct(F.transform(
        F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(TOKEN_PATTERN), 0),
        F.lower)))


def build_forms(entity_mentions: DataFrame, spark: SparkSession) -> DataFrame:
    """Distinct surface forms with mention stats + dictionary pre-match
    (J1: broadcast hash join, normalizer.py:66-96), and the token set of
    each similarity-type form (null for the identity types)."""
    forms = entity_mentions.groupBy("entity_type", "text").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.min("block_type").alias("block_type_min"),
    )
    dic = dictionary_df(spark)
    forms = forms.join(
        F.broadcast(dic),
        (F.lower(forms["text"]) == dic["alias_lc"])
        & (forms["entity_type"] == dic["entity_type"]),
        "left",
    ).select(
        forms["entity_type"], forms["text"], "n_mentions", "block_type_min",
        "dict_canonical",
    )
    # is_dict mirrors normalizer.py:86: matched iff canonical differs
    return forms.withColumn(
        "is_dict",
        F.col("dict_canonical").isNotNull() & (F.col("dict_canonical") != F.col("text")),
    ).withColumn("fid", F.xxhash64("entity_type", "text")).withColumn(
        "tokens",
        F.when(F.col("entity_type").isin(list(SIMILARITY_TYPES)), token_array("text")),
    )


def candidate_pairs_token_blocking(forms_tok: DataFrame) -> DataFrame:
    """Contract rule 1: same-type forms sharing a token of df <=
    TOKEN_DF_CAP are candidates. One shuffle on (entity_type, token)."""
    tok = forms_tok.select(
        "entity_type", "fid", F.explode("tokens").alias("token"))
    df_ok = (
        tok.groupBy("entity_type", "token")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= TOKEN_DF_CAP)
        .select("entity_type", "token")
    )
    tok = tok.join(df_ok, ["entity_type", "token"])
    a = tok.alias("a")
    b = tok.alias("b")
    return (
        a.join(b, (F.col("a.entity_type") == F.col("b.entity_type"))
               & (F.col("a.token") == F.col("b.token"))
               & (F.col("a.fid") < F.col("b.fid")))
        .select(F.col("a.fid").alias("fa"), F.col("b.fid").alias("fb"))
        .dropDuplicates(["fa", "fb"])
    )


def verify_pairs(pairs: DataFrame, forms_tok: DataFrame) -> DataFrame:
    """Contract rule 2: exact pair scoring, all JVM-side (normalizer.py:
    168-199 spec with token-boundary containment — functions/tokenize.py)."""
    left = forms_tok.select(
        F.col("fid").alias("fa"), F.col("tokens").alias("tok_a"),
        F.col("text").alias("text_a"), F.col("dict_canonical").alias("can_a"))
    right = forms_tok.select(
        F.col("fid").alias("fb"), F.col("tokens").alias("tok_b"),
        F.col("text").alias("text_b"), F.col("dict_canonical").alias("can_b"))
    p = pairs.join(left, "fa").join(right, "fb")
    inter = F.size(F.array_intersect("tok_a", "tok_b"))
    union = F.size(F.array_union("tok_a", "tok_b"))
    subset = (inter > 0) & (inter == F.least(F.size("tok_a"), F.size("tok_b")))
    same_dict = (
        F.col("can_a").isNotNull() & (F.col("can_a") == F.col("can_b"))
        & (F.col("can_a") != F.col("text_a")) & (F.col("can_b") != F.col("text_b"))
    )
    score = (
        F.when(subset, F.lit(0.9))
        .when(same_dict, F.lit(0.95))
        .otherwise(inter / F.greatest(union, F.lit(1)))
    )
    return p.select("fa", "fb", score.alias("score")).where(F.col("score") >= 0.6)


def canonicalize(
    mentions: DataFrame, spark: SparkSession
) -> tuple[DataFrame, DataFrame]:
    """mentions -> (nodes, form_map), under the merge contract above.

    form_map(entity_type, text, entity_id, canonical_name) resolves triple
    endpoints in st5 (J3).
    """
    entity_mentions = filter_pronouns(mentions)
    # forms feed the sim branch (candidates, verify, the cluster join),
    # the ident branch, and mention_stats — materialize once (the groupBy
    # over all mentions is the stage's only full-data pass)
    forms = build_forms(entity_mentions, spark).localCheckpoint()

    sim_tok = forms.where(F.col("entity_type").isin(list(SIMILARITY_TYPES)))
    ident = forms.where(~F.col("entity_type").isin(list(SIMILARITY_TYPES)))

    merges = verify_pairs(candidate_pairs_token_blocking(sim_tok), sim_tok)

    comp = connected_components(
        merges.select(F.col("fa").alias("src"), F.col("fb").alias("dst"))
    ).localCheckpoint()  # consumed by reps AND the sim_mapped join
    clustered = sim_tok.join(
        comp, sim_tok["fid"] == comp["id"], "left"
    ).select(
        sim_tok["*"],
        F.coalesce(comp["component"], sim_tok["fid"]).alias("component"),
    )

    # contract rule 4: the representative per component
    reps = clustered.groupBy("component").agg(
        F.min("dict_canonical").alias("rep_dict"),
        F.max(F.struct(F.length("text").alias("l"), F.col("text"))).alias("rep_long"),
    ).select(
        "component",
        F.coalesce("rep_dict", F.col("rep_long.text")).alias("canonical_name"),
    )
    sim_mapped = clustered.join(reps, "component").withColumn(
        "entity_id",
        F.sha2(F.concat_ws(_SEP, "entity_type", "canonical_name"), 256),
    )
    ident_mapped = ident.withColumn("canonical_name", F.col("text")).withColumn(
        "entity_id",
        F.sha2(F.concat_ws(_SEP, "entity_type", "canonical_name"), 256),
    )
    cols = ["entity_type", "text", "n_mentions", "block_type_min", "is_dict",
            "canonical_name", "entity_id"]
    form_map = sim_mapped.select(cols).unionByName(ident_mapped.select(cols))
    # the form count rides the checkpoint job: it decides whether the
    # mention-stats join below (and normalize_edges' resolution joins
    # downstream) can broadcast the form map — the raw-mention table is
    # the fat side and should never re-partition for a join against a
    # distinct-forms table that fits in memory (VERDICT r2 #4)
    obs_fm = Observation()
    form_map = form_map.observe(
        obs_fm, F.count(F.lit(1)).alias("n")).localCheckpoint()
    from .edge_norm import BROADCAST_FORMS_MAX

    n_forms = obs_fm.get["n"]
    # ride the observed count on the returned handle so normalize_edges'
    # broadcast decision never re-counts the same checkpointed table
    # (VERDICT r4 #2 — one redundant job per pipeline run / per
    # incremental refresh)
    form_map._kg_rows = n_forms

    fm_join = form_map.select("entity_type", "text", "entity_id", "is_dict")
    if n_forms <= BROADCAST_FORMS_MAX:
        fm_join = F.broadcast(fm_join)

    # ---- cluster -> node aggregation (A2), node identity = entity_id ----
    # Two-phase SALTED aggregation: a mega-entity (a pool function defined
    # in thousands of files) would otherwise send every one of its block
    # ids to a single reduce key (north_rule skew handling; SURVEY §4.2).
    # Phase 1 caps per-salt partials; phase 2 merges tiny arrays.
    mention_stats = (
        entity_mentions.select("entity_type", "text", "block_id")
        .join(fm_join,
              ["entity_type", "text"])
        .groupBy("entity_id",
                 F.pmod(F.xxhash64("block_id"), F.lit(32)).alias("_salt"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.when(F.col("is_dict"), 1).otherwise(0)).alias("_nd"),
            F.slice(F.sort_array(F.collect_set("block_id")), 1, BLOCK_IDS_CAP)
            .alias("_bids"),
        )
        .groupBy("entity_id")
        .agg(
            F.sum("_n").alias("n_mentions"),
            F.sum("_nd").alias("n_dict"),
            F.slice(
                F.sort_array(F.array_distinct(F.flatten(F.collect_list("_bids")))),
                1, BLOCK_IDS_CAP,
            ).alias("source_block_ids"),
        )
    )
    node_forms = form_map.groupBy("entity_id").agg(
        F.first("entity_type").alias("entity_type"),
        F.first("canonical_name").alias("canonical_name"),
        F.slice(F.sort_array(F.collect_set("text")), 1, ALIAS_CAP)
        .alias("original_names"),
        F.min("block_type_min").alias("block_type"),
    )
    nodes = node_forms.join(mention_stats, "entity_id").select(
        "entity_id", "entity_type", "canonical_name",
        F.expr("filter(original_names, x -> x != canonical_name)").alias("aliases"),
        "original_names",
        "n_mentions",
        "block_type",
        # confidence formula, normalizer.py:279-305
        F.when(
            F.col("n_dict") > 0,
            F.least(F.lit(0.9), 0.7 + 0.2 * (F.col("n_dict") / F.col("n_mentions"))),
        ).otherwise(
            0.5 + 0.3 * F.least(F.lit(1.0), F.col("n_mentions") / F.lit(3.0))
        ).alias("confidence"),
        "source_block_ids",
    )
    return nodes, form_map
