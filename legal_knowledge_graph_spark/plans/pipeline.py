"""The end-to-end KG-construction pipeline.

The reference's compiled LangGraph
(/root/reference/src/langgraph_agents/graph.py:41-89: document_parser ->
ner -> normalization -> relation -> relation_norm -> coref -> qa, plus a
bounded backtrack edge) becomes a thin driver composing stage functions;
Catalyst plans each stage. The QA/backtrack loop degenerates for
deterministic extraction (SURVEY §7.3): what remains is the metrics
surface and checkpoint-resume (re-run any stage suffix from its input
table — strictly more capable than the reference's single bounded
backtrack, graph.py:215-217).

In-memory mode (checkpoint_root=None) runs everything lazily in one DAG.
Checkpointed mode writes every stage to the StageStore and skips stages
whose fingerprint chain is unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import canonicalize
from ..operators.coref import resolve_coref
from ..operators.edge_norm import normalize_edges
from ..operators.ingest import ingest
from ..operators.mentions import mentions_from_files
from ..operators.triples import emit_triples
from ..sources.io import StageStore, fingerprint


@dataclass
class PipelineResult:
    ingested: DataFrame
    mentions: DataFrame
    nodes: DataFrame
    triples: DataFrame
    edges: DataFrame


class KGPipeline:
    """Composable stage runner with optional checkpoint-resume."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_root: str | None = None,
        bucket_by_repo: int | None = None,
        run_id: str = "r0",
    ):
        self.spark = spark
        self.store = StageStore(checkpoint_root) if checkpoint_root else None
        self.bucket_by_repo = bucket_by_repo
        self.run_id = run_id

    def _stage(self, name: str, fp: str, build, reused: bool = False) -> DataFrame:
        """Checkpointed mode: parquet stage table + manifest skip. In-memory
        mode: stage outputs consumed by >1 downstream branch are
        materialized with localCheckpoint (row-serialized blocks, lz4 via
        spark.rdd.compress) so their plans run once, not once per branch
        (reused=True)."""
        if self.store is None:
            df = build()
            return df.localCheckpoint() if reused else df
        if self.store.is_complete(name, fp):
            return self.store.read(self.spark, name)
        return self.store.write(name, build(), fp)

    def run(self, files: DataFrame) -> PipelineResult:
        fp0 = fingerprint(self.run_id, "ingest", self.bucket_by_repo)
        ingested = self._stage(
            "st0_ingest", fp0, lambda: ingest(files, self.bucket_by_repo))

        fp2 = fingerprint(fp0, "mentions")
        mentions = self._stage(
            "st2_mentions", fp2, lambda: mentions_from_files(ingested),
            reused=True)

        fp3 = fingerprint(fp2, "canonicalize")
        if self.store and self.store.is_complete("st3_nodes", fp3) \
                and self.store.is_complete("st3_form_map", fp3):
            nodes = self.store.read(self.spark, "st3_nodes")
            form_map = self.store.read(self.spark, "st3_form_map")
            n_forms = self.store.rows("st3_form_map")  # manifest, no job
        else:
            nodes, form_map = canonicalize(mentions, self.spark)
            n_forms = getattr(form_map, "_kg_n_forms", None)
            if self.store:
                nodes = self.store.write("st3_nodes", nodes, fp3)
                form_map = self.store.write("st3_form_map", form_map, fp3)
            else:
                nodes = nodes.localCheckpoint()  # coref + caller

        fp4 = fingerprint(fp2, "triples")
        triples = self._stage("st4_triples", fp4, lambda: emit_triples(mentions))

        fp5 = fingerprint(fp3, fp4, "edges")
        edges_raw = self._stage(
            "st5_edges", fp5,
            lambda: normalize_edges(triples, form_map, self.spark, n_forms),
            reused=True)

        fp6 = fingerprint(fp5, "coref")
        edges = self._stage(
            "st6_edges_final", fp6,
            lambda: resolve_coref(edges_raw, nodes, self.spark))

        return PipelineResult(ingested, mentions, nodes, triples, edges)


def run_pipeline(
    spark: SparkSession, files: DataFrame, checkpoint_root: str | None = None,
    bucket_by_repo: int | None = None,
) -> PipelineResult:
    return KGPipeline(spark, checkpoint_root, bucket_by_repo).run(files)
