"""S8 + A6-A9: the surfaces VERDICT r1 listed as implemented-but-
untested — graph JSON export, parse/graph stats, QA report."""

import json
import os

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.corpus import corpus_df
from legal_knowledge_graph_spark.operators.ingest import ingest
from legal_knowledge_graph_spark.operators.metrics import (
    graph_stats, parse_stats, quality_report,
)
from legal_knowledge_graph_spark.operators.segment import segment
from legal_knowledge_graph_spark.plans import run_pipeline
from legal_knowledge_graph_spark.schema import (
    BLOCK_TYPES, ENTITY_TYPES, RELATION_TYPES,
)
from legal_knowledge_graph_spark.sources.io import (
    export_graph_json, snapshot_graph,
)

N = 60


def test_parse_stats_counts_match_blocks(spark):
    blocks = segment(ingest(corpus_df(spark, N, seed=42)))
    stats = {r.block_type: r.n for r in parse_stats(blocks).collect()}
    assert set(stats) <= set(BLOCK_TYPES)
    assert sum(stats.values()) == blocks.count()
    assert stats.get("LICENSE", 0) > 0 and stats.get("FUNCTION", 0) > 0


def test_graph_stats_and_quality_report(spark):
    res = run_pipeline(spark, corpus_df(spark, N, seed=42))
    node_stats, edge_stats = graph_stats(res.nodes, res.edges)
    ns = {r.entity_type: r.n for r in node_stats.collect()}
    es = {r.predicate: r.n for r in edge_stats.collect()}
    assert set(ns) <= set(ENTITY_TYPES)
    assert set(es) <= set(RELATION_TYPES)
    assert sum(ns.values()) == res.nodes.count()
    assert sum(es.values()) == res.edges.count()

    rep = quality_report(res.nodes, res.edges)
    assert rep["entity_count"] == res.nodes.count()
    assert rep["relation_count"] == res.edges.count()
    assert rep["issues"] == []
    assert 0.8 <= rep["quality_score"] <= 1.0

    # issue semantics (qa_agent.py analog): empty graph -> both issues
    empty = quality_report(res.nodes.limit(0), res.edges.limit(0))
    assert empty["quality_score"] == 0.0
    assert "no entities extracted" in empty["issues"]
    assert "no relations extracted" in empty["issues"]


def test_export_json_round_trips(spark, tmp_path):
    res = run_pipeline(spark, corpus_df(spark, N, seed=42))
    root = str(tmp_path / "graph")
    stored_nodes, stored_edges = snapshot_graph(spark, root, res.nodes, res.edges)

    # S8: full-graph JSON dump round-trips counts and key fields
    path = os.path.join(str(tmp_path), "g.json")
    export_graph_json(stored_nodes, stored_edges, path)
    payload = json.load(open(path))
    assert len(payload["nodes"]) == stored_nodes.count()
    assert len(payload["edges"]) == stored_edges.count()
    assert {"entity_id", "entity_type", "canonical_name"} <= set(payload["nodes"][0])
    assert {"edge_id", "subject_entity_id", "predicate"} <= set(payload["edges"][0])
    # deterministic dump: a second export is byte-identical
    path2 = os.path.join(str(tmp_path), "g2.json")
    export_graph_json(stored_nodes, stored_edges, path2)
    assert open(path).read() == open(path2).read()

    # S8 scale path (VERDICT r3 #6): above the collect cap the driver
    # never materializes — distributed JSON-lines dirs + manifest, same
    # row contents
    path3 = os.path.join(str(tmp_path), "g3.json")
    manifest = export_graph_json(stored_nodes, stored_edges, path3,
                                 collect_max=1)
    assert manifest["format"] == "json-dirs"
    assert json.load(open(path3)) == manifest
    rn = spark.read.json(manifest["nodes"])
    re_ = spark.read.json(manifest["edges"])
    assert rn.count() == stored_nodes.count()
    assert re_.count() == stored_edges.count()
    assert (sorted(r.entity_id for r in rn.collect())
            == sorted(r.entity_id for r in stored_nodes.collect()))


def test_export_json_job_counts_and_auto_paths(spark, tmp_path):
    """VERDICT r4 #4: callers passing `distributed` explicitly pay exactly
    the jobs of that path (2 collects inline, 2 writes distributed — no
    decision counts); the auto probe picks the same paths and the inline
    auto dump is byte-identical to the explicit one."""
    res = run_pipeline(spark, corpus_df(spark, 20, seed=3))
    root = str(tmp_path / "g")
    nodes, edges = snapshot_graph(spark, root, res.nodes, res.edges)
    sc = spark.sparkContext

    def jobs(name, fn):
        sc.setJobGroup(name, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    p_inline = os.path.join(str(tmp_path), "ei.json")
    p_dist = os.path.join(str(tmp_path), "ed.json")
    p_auto = os.path.join(str(tmp_path), "ea.json")
    assert jobs("exp_inline", lambda: export_graph_json(
        nodes, edges, p_inline, distributed=False)) == 2
    assert jobs("exp_dist", lambda: export_graph_json(
        nodes, edges, p_dist, distributed=True)) == 2
    # auto: bounded limit-probe doubles as the payload — few jobs, same file
    assert jobs("exp_auto", lambda: export_graph_json(
        nodes, edges, p_auto)) <= 6
    assert open(p_auto).read() == open(p_inline).read()
    # auto picks the distributed path above the cap
    p_auto2 = os.path.join(str(tmp_path), "ea2.json")
    m = export_graph_json(nodes, edges, p_auto2, collect_max=1)
    assert m["format"] == "json-dirs"
