"""spark-submit entrypoint for the KG-construction pipeline.

Production:
    spark-submit --py-files dist/lkg_spark.zip tools/submit_pipeline.py \
        --input <iceberg-table-or-parquet-dir> --output <graph-root> \
        --checkpoint <stage-root> [--buckets 512]

Sandbox (no cluster): the same script runs under local[N]; --synthetic N
generates the deterministic corpus instead of reading an input table.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir (or Iceberg table via catalog)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic files instead of --input")
    ap.add_argument("--content-scale", type=int, default=1)
    ap.add_argument("--output", required=True, help="graph tables root")
    ap.add_argument("--checkpoint", help="stage-table root (resume support)")
    ap.add_argument("--buckets", type=int, default=None,
                    help="salted repo repartition count")
    args = ap.parse_args()

    from legal_knowledge_graph_spark.operators.metrics import quality_report
    from legal_knowledge_graph_spark.plans import run_pipeline
    from legal_knowledge_graph_spark.session import build_session
    from legal_knowledge_graph_spark.sources.io import snapshot_graph

    spark = build_session(app_name="lkg-submit")
    if args.synthetic:
        from legal_knowledge_graph_spark.corpus import corpus_df_distributed

        files = corpus_df_distributed(
            spark, args.synthetic, seed=42, content_scale=args.content_scale)
    elif args.input:
        files = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synthetic required")

    res = run_pipeline(spark, files, checkpoint_root=args.checkpoint,
                       bucket_by_repo=args.buckets)
    # --input is the whole table, so replacing the graph snapshot leaves
    # exactly the batch graph of that input, re-runs on a grown corpus too
    nodes, edges = snapshot_graph(spark, args.output, res.nodes, res.edges)
    print(json.dumps(quality_report(nodes, edges)))


if __name__ == "__main__":
    main()
