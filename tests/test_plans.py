"""Physical-plan regression gates: boilerplate removal's anti-join and
scalar-attach shapes (broadcast under the threshold, shuffled and
byte-identical above it), the mention extractor's plan shape, and the
st3-st6 graph build's plans holding no Python operator or Python-RDD
scan."""

import io
import re
from contextlib import redirect_stdout

import pytest


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_boilerplate_plan(spark, docs):
    """remove_boilerplate under the broadcast threshold: the anti-join on
    the (observed-small) boilerplate set must broadcast — no line-keyed
    repartition of the fat side beyond the counting agg — and never go
    nested-loop. The boiler subtree is checkpointed (the size probe rides
    it), so its scalar-attach shape is gated separately below."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        remove_boilerplate,
    )

    plan = _plan(remove_boilerplate(docs, min_docs=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin LeftAnti" in plan  # boiler anti-join map-side


def test_boilerplate_lines_plan(spark, docs):
    """boilerplate_lines: the ONLY nested-loop join allowed is the scalar
    corpus-count attach — a broadcast cross join whose build side is the
    1-row global aggregate."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        boilerplate_lines,
    )

    plan = _plan(boilerplate_lines(docs, min_docs=2))
    assert "CartesianProduct" not in plan
    bnlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) <= 1
    if bnlj:
        assert "greatest(" in plan and "_n_docs" in plan


def test_boilerplate_over_threshold_shape_and_equality(spark, docs):
    """Forcing the over-threshold path (broadcast_max=0): the anti-join
    must NOT broadcast a corpus-growing boilerplate table (VERDICT r3 #1)
    — and the output must be byte-identical to the broadcast path."""
    from legal_knowledge_graph_spark.operators.text_analysis import (
        remove_boilerplate,
    )

    from pyspark.sql import functions as F

    small = docs.where("doc_id < 60").select(
        "doc_id",
        F.concat(F.lit("=== SHARED HEADER ===\n"), "text",
                 F.lit("\nshared footer line")).alias("text"))
    # over threshold the hint is omitted — Catalyst is then free to pick
    # by STATISTICS (it still auto-broadcasts the small test-scale table,
    # which is right); pinning autoBroadcastJoinThreshold=-1 proves no
    # forced broadcast survives, i.e. a huge boiler table shuffles
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = remove_boilerplate(small, min_docs=2, broadcast_max=0)
        assert "BroadcastHashJoin LeftAnti" not in _plan(shuffled)
        a = sorted(map(tuple, shuffled.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    broadcasted = remove_boilerplate(small, min_docs=2)
    assert "BroadcastHashJoin LeftAnti" in _plan(broadcasted)
    b = sorted(map(tuple, broadcasted.collect()))
    assert a == b and len(a) == small.count()


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
