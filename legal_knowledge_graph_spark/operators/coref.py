"""st6 — coreference resolution: relation-guided BFS endpoint rewrite.

Distributed restatement of
/root/reference/src/langgraph_agents/coref_agent.py:25-396: edges whose
endpoint did not resolve to a canonical entity (need_coref, e.g. the
short-alias callee ``pc``) are resolved by a bounded BFS over the resolved
entity graph starting from the edge's KNOWN endpoint:

- adjacency is bidirectional (coref_agent.py:99-109: every edge added
  forward and reversed);
- per-hop decay: 0.8 for the membership predicates
  (file_defines_function / file_defines_class — the analog of
  case_involved_party / party_against_party at coref_agent.py:358),
  0.6 otherwise;
- candidate score = path_similarity * (0.3 + 0.7 * type_score) where
  type_score is 1.0 when the candidate's entity type equals the type the
  predicate signature expects for the unresolved side, else 0.5
  (coref_agent.py:342-347);
- best candidate per edge = argmax(score), deterministic tiebreak on
  (canonical_name, entity_id) — equivalent to the reference's
  threshold-then-fallback-to-max logic (coref_agent.py:381-396, which
  always returns the max-score candidate);
- edges with both endpoints unresolved stay unresolved
  (coref_agent.py:280-287).

The <=3-hop loop is 3 iterations of frontier ⋈ adjacency equi-joins
(SURVEY §2.3 J4); frontiers are deduped to (edge, node) with max path
similarity (the visited-set analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .edge_norm import dedup_edges, predicate_tables

MAX_HOPS = 3
MEMBERSHIP_PREDICATES = ("file_defines_function", "file_defines_class")
_SEP = "\x1f"
# Frontier rows above this are too big to broadcast safely (same pattern as
# edge_norm.BROADCAST_FORMS_MAX): fall back to shuffle joins. Frontier size
# ~ unresolved edges x bounded neighborhood; 2M rows x ~100B ≈ 200 MB.
BROADCAST_FRONTIER_MAX = 2_000_000


def _adjacency(resolved: DataFrame) -> DataFrame:
    decay = F.when(
        F.col("predicate").isin(*MEMBERSHIP_PREDICATES), F.lit(0.8)
    ).otherwise(F.lit(0.6))
    fwd = resolved.select(
        F.col("subject_entity_id").alias("src"),
        F.col("object_entity_id").alias("dst"),
        decay.alias("decay"),
    )
    rev = resolved.select(
        F.col("object_entity_id").alias("src"),
        F.col("subject_entity_id").alias("dst"),
        decay.alias("decay"),
    )
    return fwd.unionByName(rev).groupBy("src", "dst").agg(
        F.max("decay").alias("decay"))


def resolve_coref(
    edges: DataFrame, nodes: DataFrame, spark: SparkSession,
    max_hops: int = MAX_HOPS,
) -> DataFrame:
    """edges (st5 output incl. need_coref rows) + nodes -> final edges with
    resolvable endpoints rewritten."""
    resolved = edges.where(~F.col("need_coref"))
    unresolved = edges.where(F.col("need_coref"))

    # one-side-unknown edges are resolvable; both-unknown stay as-is
    u = unresolved.withColumn(
        "side",
        F.when(F.col("subject_entity_id").isNull()
               & F.col("object_entity_id").isNotNull(), F.lit("subject"))
        .when(F.col("object_entity_id").isNull()
              & F.col("subject_entity_id").isNotNull(), F.lit("object")),
    )
    hopeless = u.where(F.col("side").isNull()).drop("side")
    u = u.where(F.col("side").isNotNull())

    _, sig = predicate_tables(spark)
    u = u.join(F.broadcast(sig), "predicate", "left").select(
        "*",
        F.when(F.col("side") == "subject", F.col("object_entity_id"))
        .otherwise(F.col("subject_entity_id")).alias("start"),
        F.when(F.col("side") == "subject", F.col("expected_subject_type"))
        .otherwise(F.col("expected_object_type")).alias("expected_type"),
    )
    from pyspark.sql import Observation

    # unresolved-edge count rides the u checkpoint job via observe();
    # size-conditional broadcast (VERDICT r1): frontier grows as
    # unresolved-edges x neighborhood; on a high-need_coref corpus that can
    # exceed executor memory, so above the threshold each hop falls back to
    # a shuffle join.
    obs_u = Observation()
    u = u.observe(obs_u, F.count(F.lit(1)).alias("n")).localCheckpoint()
    n_u = obs_u.get["n"]

    adj = _adjacency(resolved).localCheckpoint()

    frontier = u.select(
        F.col("edge_id").alias("ukey"),
        F.col("start").alias("node"),
        F.lit(1.0).alias("path"),
    )

    def _side(df: DataFrame, n_rows: int) -> DataFrame:
        return F.broadcast(df) if n_rows <= BROADCAST_FRONTIER_MAX else df

    visited = frontier.select("ukey", "node")
    candidates = None
    # broadcast-safety is re-decided EVERY hop from observed row counts
    # (ADVICE r2): the quantity broadcast is the expanded frontier
    # (unresolved x fan-out) and the cumulative visited union, both of
    # which can outgrow the initial unresolved count by orders of
    # magnitude — each hop's observe() already reports its size for free.
    frontier_n = visited_n = n_u
    for _ in range(max_hops):
        # frontier/visited are usually tiny (one row per unresolved edge
        # times a bounded neighborhood); broadcast them so the full
        # adjacency is never shuffled — each hop a map-side join over adj.
        # The emptiness check rides the checkpoint job via observe() — no
        # separate isEmpty scan per hop.
        obs = Observation()
        step = (
            adj.join(_side(frontier, frontier_n), frontier["node"] == adj["src"])
            .select("ukey", F.col("dst").alias("nnode"),
                    (F.col("path") * F.col("decay")).alias("path"))
            .groupBy("ukey", "nnode").agg(F.max("path").alias("path"))
            .withColumnRenamed("nnode", "node")
            .join(_side(visited, visited_n), ["ukey", "node"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n_step = obs.get["n"]
        if n_step == 0:
            break
        # union of already-checkpointed frontiers: no lineage growth, no
        # extra eager job needed
        visited = visited.unionByName(step.select("ukey", "node"))
        visited_n += n_step
        candidates = step if candidates is None else candidates.unionByName(step)
        frontier = step
        frontier_n = n_step

    if candidates is None:
        # nothing reachable: all parts are already deduped and disjoint
        return resolved.unionByName(
            u.select(*edges.columns)).unionByName(hopeless)

    n = nodes.select(
        F.col("entity_id").alias("node"),
        F.col("entity_type").alias("cand_type"),
        F.col("canonical_name").alias("cand_canonical"),
    )
    scored = (
        candidates.join(
            u.select("edge_id", "expected_type").withColumnRenamed("edge_id", "ukey"),
            "ukey")
        .join(n, "node")
        .withColumn(
            "type_score",
            F.when(F.col("cand_type") == F.col("expected_type"), 1.0).otherwise(0.5),
        )
        .withColumn("score", F.col("path") * (0.3 + 0.7 * F.col("type_score")))
    )
    best = scored.groupBy("ukey").agg(
        F.max(F.struct(
            F.col("score"),
            # deterministic tiebreak on (canonical_name, entity_id)
            F.col("cand_canonical"), F.col("node"), F.col("cand_type"),
        )).alias("b")
    ).select(
        "ukey",
        F.col("b.node").alias("best_id"),
        F.col("b.cand_canonical").alias("best_canonical"),
        F.col("b.cand_type").alias("best_type"),
    )

    rewritten = (
        u.join(best, u["edge_id"] == best["ukey"], "left")
        .withColumn(
            "subject_entity_id",
            F.when(F.col("side") == "subject",
                   F.coalesce("best_id", "subject_entity_id"))
            .otherwise(F.col("subject_entity_id")))
        .withColumn(
            "subject_canonical",
            F.when(F.col("side") == "subject",
                   F.coalesce("best_canonical", "subject_canonical"))
            .otherwise(F.col("subject_canonical")))
        .withColumn(
            "subject_type",
            F.when((F.col("side") == "subject") & F.col("best_type").isNotNull(),
                   F.col("best_type")).otherwise(F.col("subject_type")))
        .withColumn(
            "object_entity_id",
            F.when(F.col("side") == "object",
                   F.coalesce("best_id", "object_entity_id"))
            .otherwise(F.col("object_entity_id")))
        .withColumn(
            "object_canonical",
            F.when(F.col("side") == "object",
                   F.coalesce("best_canonical", "object_canonical"))
            .otherwise(F.col("object_canonical")))
        .withColumn(
            "object_type",
            F.when((F.col("side") == "object") & F.col("best_type").isNotNull(),
                   F.col("best_type")).otherwise(F.col("object_type")))
        .withColumn(
            "need_coref",
            F.col("subject_entity_id").isNull() | F.col("object_entity_id").isNull())
        .withColumn(
            "validation_passed",
            ~F.col("need_coref")
            & F.col("expected_type").isNotNull()
            & (F.col("subject_type") == F.col("expected_subject_type"))
            & (F.col("object_type") == F.col("expected_object_type")))
        .select(*edges.columns)
    )
    # resolved/hopeless are already (s,p,o)-deduped from st5 and keyed
    # disjointly; only the small rewritten subset needs dedup — the full
    # edge set is never re-shuffled. A rewrite can land on an edge_id that
    # already exists in `resolved` (the same call both aliased and direct),
    # so those keys are removed to keep the EDGES_SCHEMA edge_id-unique
    # contract (ADVICE r1). Shuffle-free at scale: broadcast the tiny
    # rewritten keys INTO a semi-scan of resolved (map-side), then
    # broadcast-anti the tiny collision set back — resolved never shuffles.
    rewritten_d = dedup_edges(rewritten).select(*edges.columns).localCheckpoint()
    # rewritten/dup_keys are bounded by the unresolved count, so the same
    # observed-size guard applies to these tail broadcasts
    dup_keys = resolved.select("edge_id").join(
        _side(rewritten_d.select("edge_id"), n_u), "edge_id", "left_semi")
    rewritten_d = rewritten_d.join(_side(dup_keys, n_u), "edge_id", "left_anti")
    return resolved.unionByName(rewritten_d).unionByName(hopeless)
