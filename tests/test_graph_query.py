"""Graph read-back: by-id lookup + bounded neighbor expansion (S8/J-read
analog of /root/reference/src/neo4j/models.py:100-159)."""

import io
from contextlib import redirect_stdout

from legal_knowledge_graph_spark.corpus import corpus_df
from legal_knowledge_graph_spark.operators.graph_query import (
    get_node, neighbors, nodes_of_type,
)
from legal_knowledge_graph_spark.plans import run_pipeline
from legal_knowledge_graph_spark.sources.io import snapshot_graph


def _pushed_filters(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return "\n".join(line for line in buf.getvalue().splitlines()
                     if "PushedFilters:" in line)


def test_graph_readback(spark, tmp_path):
    res = run_pipeline(spark, corpus_df(spark, 50, seed=42))
    nodes, edges = snapshot_graph(spark, str(tmp_path), res.nodes, res.edges)

    a_file = nodes_of_type(nodes, "File", limit=1).collect()[0]
    assert get_node(nodes, a_file.entity_id).count() == 1
    # the snapshot read pushes the by-id and by-type predicates into the
    # parquet scan (explain only: no Spark job)
    assert "EqualTo(entity_id," in _pushed_filters(
        get_node(nodes, a_file.entity_id))
    assert "EqualTo(entity_type,File)" in _pushed_filters(
        nodes_of_type(nodes, "File"))

    hop1 = neighbors(nodes, edges, a_file.entity_id, depth=1)
    rows1 = hop1.collect()
    assert rows1, "a file must have neighbors (repo, license, ...)"
    assert all(r.hop == 1 for r in rows1)
    types1 = {r.entity_type for r in rows1}
    assert "Repo" in types1

    hop2 = neighbors(nodes, edges, a_file.entity_id, depth=2).collect()
    assert len(hop2) > len(rows1)  # second hop reaches sibling entities
    assert {r.hop for r in hop2} == {1, 2}


def test_neighbors_supernode_no_forced_broadcast(spark, monkeypatch):
    """VERDICT r4 #3: on a supernode the 1-hop frontier is not
    broadcast-safe — with the threshold below the fan-out the hop joins
    must fall back to shuffles and the output must be unchanged."""
    from pyspark.sql import functions as F

    from legal_knowledge_graph_spark.operators import graph_query as gq

    n = 100_000
    spoke = F.concat(F.lit("s"), F.col("id"))
    nodes = (
        spark.range(n).select(spoke.alias("entity_id"))
        .unionByName(spark.createDataFrame(
            [("hub",), ("leaf",)], "entity_id string"))
        .select("entity_id", F.lit("Function").alias("entity_type"),
                F.col("entity_id").alias("canonical_name"))
    )
    edges = (
        spark.range(n).select(
            F.lit("hub").alias("subject_entity_id"),
            spoke.alias("object_entity_id"))
        .unionByName(spark.createDataFrame(
            [("s0", "leaf")],
            "subject_entity_id string, object_entity_id string"))
    )
    base = sorted(map(tuple, gq.neighbors(nodes, edges, "hub", depth=2).collect()))
    assert len(base) == n + 1  # every spoke at hop 1, leaf at hop 2
    assert {t[3] for t in base} == {1, 2}

    monkeypatch.setattr(gq, "BROADCAST_NEIGHBOR_MAX", 10)
    guarded = sorted(map(tuple, gq.neighbors(nodes, edges, "hub", depth=2).collect()))
    assert guarded == base

    # _side leaves sides above the threshold unhinted (no forced broadcast)
    df = spark.range(1)
    assert gq._side(df, 11) is df
    assert gq._side(df, 10) is not df
