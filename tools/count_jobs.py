"""Count Spark jobs scheduled by one full KG-pipeline run (the ~0.3-0.5 s
per-job scheduling latency is the pipeline's serial floor — VERDICT r1 #7
asked for the job count to be tracked per round).

Usage: python tools/count_jobs.py [n_files]
The master is local[$SPARK_GRAFT_CPUS] (all cores when unset).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 240

    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.plans import run_pipeline
    from legal_knowledge_graph_spark.session import build_session

    spark = build_session(shuffle_partitions=8)
    files = corpus_df(spark, n, seed=42)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    t0 = time.time()
    res = run_pipeline(spark, files)
    n_edges = res.edges.count()
    wall = time.time() - t0
    after = set(tracker.getJobIdsForGroup(None))
    print({"files": n, "edges": n_edges, "jobs": len(after - before),
           "wall_sec": round(wall, 2)})
    spark.stop()


if __name__ == "__main__":
    main()
