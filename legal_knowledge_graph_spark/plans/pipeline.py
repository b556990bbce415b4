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

from ..operators import canonicalize as st3, triples as st4
from ..operators import coref as st6, edge_norm as st5
from ..operators.ingest import ingest
from ..operators.mentions import mentions_from_files
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
    ):
        self.spark = spark
        self.store = StageStore(checkpoint_root) if checkpoint_root else None
        self.bucket_by_repo = bucket_by_repo
        # the fingerprint chain depends only on the stage parameters
        self._fp0 = fingerprint("ingest", bucket_by_repo)
        self._fp2 = fingerprint(self._fp0, "mentions")

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
        ingested = self._stage(
            "st0_ingest", self._fp0, lambda: ingest(files, self.bucket_by_repo))
        mentions = self._stage(
            "st2_mentions", self._fp2, lambda: mentions_from_files(ingested),
            reused=True)
        return PipelineResult(ingested, mentions, *self.graph(mentions))

    def graph(self, mentions: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        """st3-st6 over a mentions table -> (nodes, triples, edges). The
        batch run and the streaming refresh both build their graph here.
        Stage functions are looked up on their modules at call time, so a
        wrapper installed on a module attribute sees every call."""
        fp3 = fingerprint(self._fp2, "canonicalize")
        if self.store and self.store.is_complete("st3_nodes", fp3) \
                and self.store.is_complete("st3_form_map", fp3):
            nodes = self.store.read(self.spark, "st3_nodes")
            form_map = self.store.read(self.spark, "st3_form_map")
        else:
            nodes, form_map = st3.canonicalize(mentions, self.spark)
            if self.store:
                nodes = self.store.write("st3_nodes", nodes, fp3)
                form_map = self.store.write("st3_form_map", form_map, fp3)
            else:
                nodes = nodes.localCheckpoint()  # coref + caller

        fp4 = fingerprint(self._fp2, "triples")
        triples = self._stage(
            "st4_triples", fp4, lambda: st4.emit_triples(mentions))

        # the form map's row count rides on it as `_kg_rows`
        fp5 = fingerprint(fp3, fp4, "edges")
        edges_raw = self._stage(
            "st5_edges", fp5,
            lambda: st5.normalize_edges(triples, form_map, self.spark),
            reused=True)

        fp6 = fingerprint(fp5, "coref")
        edges = self._stage(
            "st6_edges_final", fp6,
            lambda: st6.resolve_coref(edges_raw, nodes, self.spark))
        return nodes, triples, edges


def run_pipeline(
    spark: SparkSession, files: DataFrame, checkpoint_root: str | None = None,
    bucket_by_repo: int | None = None,
) -> PipelineResult:
    return KGPipeline(spark, checkpoint_root, bucket_by_repo).run(files)
