"""Physical-plan regression gates: the mention extractor's plan shape,
and the st3-st6 graph build's plans holding no Python operator or
Python-RDD scan."""

import io
from contextlib import redirect_stdout


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_mention_extraction_plan_tops_at_map_in_pandas(spark):
    """The extractor emits only canonical entity types, so its output is
    returned as the mapInPandas produced it: no type projection or
    closed-enum filter above the UDF, in the optimized and the physical
    plan."""
    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.operators.ingest import ingest
    from legal_knowledge_graph_spark.operators.mentions import (
        mentions_from_files,
    )

    qe = mentions_from_files(ingest(corpus_df(spark, 4, seed=1)))._jdf \
        .queryExecution()
    assert qe.optimizedPlan().nodeName() == "MapInPandas"
    assert qe.sparkPlan().nodeName() == "MapInPandas"


def _python_in_plan(df) -> list[str]:
    """The Python-executing parts of df's plan: EvalPython operators in
    the formatted physical plan, and scans of an RDD built by Python
    (what createDataFrame over a Python list plans)."""
    found = [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in _plan(df)]
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.getClass().getSimpleName() == "LogicalRDD"
                and "PythonRDD" in leaf.rdd().toDebugString()):
            found.append("PythonRDD scan")
    return found


def test_graph_build_runs_no_python(spark, monkeypatch):
    """After extraction, st3-st6 start no Python worker: the constant
    tables (the dictionary, st5's alias map and predicate signatures,
    which coref's expected types also read) are LocalRelations that
    collect with zero jobs, and no plan KGPipeline.graph checkpoints or
    returns (canonicalize's outputs among them), nor a neighbors()
    read-back, holds an EvalPython operator or a Python-RDD scan."""
    from pyspark.sql import functions as F

    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.operators.canonicalize import dictionary_df
    from legal_knowledge_graph_spark.operators.edge_norm import predicate_tables
    from legal_knowledge_graph_spark.operators.graph_query import neighbors
    from legal_knowledge_graph_spark.operators.ingest import ingest
    from legal_knowledge_graph_spark.operators.mentions import (
        mentions_from_files,
    )
    from legal_knowledge_graph_spark.plans import KGPipeline
    from legal_knowledge_graph_spark.schema import (
        PREDICATE_ALIASES, RELATION_TYPES, dictionary_rows,
    )

    tables = [dictionary_df(spark), *predicate_tables(spark)]
    assert [t._jdf.queryExecution().analyzed().nodeName() for t in tables] \
        == ["LocalRelation"] * 3
    sc = spark.sparkContext
    sc.setJobGroup("consts", "constant tables must collect job-free")
    try:
        sizes = [len(t.collect()) for t in tables]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("consts")) == []
    assert sizes == [len(dictionary_rows()), len(PREDICATE_ALIASES),
                     len(RELATION_TYPES)]

    # 12 files include the coref fixture at index 5
    mentions = mentions_from_files(ingest(corpus_df(spark, 12, seed=42))) \
        .localCheckpoint()
    plans = []
    checkpoint = type(mentions).localCheckpoint

    def spy(df, *args, **kwargs):
        plans.append(_python_in_plan(df))
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(mentions), "localCheckpoint", spy)
    outputs = KGPipeline(spark).graph(mentions)
    nodes, _, edges = outputs
    # a read-back query: its one-row frontier is a LocalRelation too
    hub = edges.where(~F.col("need_coref")).first().subject_entity_id
    outputs += (neighbors(nodes, edges, hub, depth=2),)
    assert len(plans) >= 5
    assert [p for p in plans + [_python_in_plan(o) for o in outputs] if p] == []
    assert edges.where("need_coref").count() < edges.count()
