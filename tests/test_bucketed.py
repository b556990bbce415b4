"""Bucketed (co-located) graph tables: the edge->node expansion join must
run with ZERO Exchange — both sides' bucket layout satisfies the join
distribution (the sandbox analog of Iceberg bucket-transform
storage-partitioned joins)."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.corpus import corpus_df
from legal_knowledge_graph_spark.plans import run_pipeline
from legal_knowledge_graph_spark.sources.io import (
    bucketed_edge_expansion, write_bucketed_graph,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    res = run_pipeline(spark, corpus_df(spark, 60, seed=42))
    edges = res.edges.where(~F.col("need_coref"))
    nodes_t, edges_t = write_bucketed_graph(
        spark, res.nodes, edges, n_buckets=8, prefix="t_kg")
    try:
        # forbid broadcast so the bucket layout, not a broadcast, must
        # eliminate the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_edge_expansion(spark, nodes_t, edges_t)
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the join is correct: every non-coref edge has a subject node
        assert j.count() == edges.count()
        got = {r.subject_entity_id for r in j.select("subject_entity_id").collect()}
        want = {r.subject_entity_id for r in edges.select("subject_entity_id").collect()}
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {nodes_t}")
        spark.sql(f"DROP TABLE IF EXISTS {edges_t}")
