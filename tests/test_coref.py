"""st6 unit test: BFS endpoint resolution on the coref fixture shape
(coref_agent.py semantics: bidirectional adjacency, decay, type scoring,
argmax selection; both-unknown edges untouched)."""

from legal_knowledge_graph_spark.corpus import corpus_df, generate_corpus
from legal_knowledge_graph_spark.plans import run_pipeline


def test_coref_resolves_short_alias_calls(spark):
    # corpus index i % 37 == 5 -> coref fixture file with caller_/target_
    n = 80
    files = corpus_df(spark, n, seed=42)
    _, golden, _ = generate_corpus(n, seed=42)
    res = run_pipeline(spark, files)
    calls = {
        (r.subject_canonical, r.object_canonical)
        for r in res.edges.where(
            (res.edges.predicate == "function_calls_function")
            & ~res.edges.need_coref).collect()
    }
    expected = {
        (s, o) for s, p, o in golden
        if p == "function_calls_function" and s.startswith("caller_")
    }
    assert expected, "corpus must contain coref fixtures"
    assert expected <= calls
    # resolved edges are type-valid
    bad = res.edges.where(
        (res.edges.predicate == "function_calls_function")
        & ~res.edges.need_coref & ~res.edges.validation_passed).count()
    assert bad == 0


def test_coref_shuffle_join_path_matches_broadcast(spark, monkeypatch):
    """VERDICT r1 #5: above the frontier threshold the BFS falls back to
    shuffle joins; both paths must produce identical edges. Forced by
    setting the threshold to 0 (every frontier 'too big')."""
    from legal_knowledge_graph_spark.operators import coref as coref_mod

    n = 80
    files = corpus_df(spark, n, seed=42)
    res_b = run_pipeline(spark, files)
    eb = sorted(r.edge_id for r in res_b.edges.collect())

    monkeypatch.setattr(coref_mod, "BROADCAST_FRONTIER_MAX", 0)
    res_s = run_pipeline(spark, files)
    es = sorted(r.edge_id for r in res_s.edges.collect())
    assert eb == es


def test_final_edges_are_edge_id_unique(spark):
    """ADVICE r1: a coref rewrite landing on an edge_id already present in
    the resolved set must not duplicate it in the API output."""
    n = 80
    res = run_pipeline(spark, corpus_df(spark, n, seed=42))
    total = res.edges.count()
    distinct = res.edges.select("edge_id").distinct().count()
    assert total == distinct
