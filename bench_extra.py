"""Per-query isolation bench (guide §1.4): times a comma-separated list
of queries() entries with the same noop-sink protocol as bench.py, on
$SPARK_GRAFT_SF_DIR x local[$SPARK_GRAFT_CPUS]. bench.py itself is
FROZEN for driver measurement; this harness exists so optimization
evidence (before/after per query, repeat samples) can be gathered
without touching it.

Usage: python bench_extra.py q1,q2,... [n_reps]
"""

from __future__ import annotations

import json
import os
import sys
import time


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = sys.argv[1].split(",")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from legal_knowledge_graph_spark.session import build_session
    import __spark_entry__ as E

    spark = build_session(app_name="lkg-bench-extra",
                          master=f"local[{cpus}]",
                          shuffle_partitions=max(2 * int(cpus), 16))
    for t in E.TABLES:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")) \
            .limit(256).collect()

    qfns = E.queries()
    out: dict[str, list[float]] = {}
    for r in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            force(qfns[name](spark, sf_dir))
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "cpus": int(cpus),
                      "samples": out,
                      "min": {k: min(v) for k, v in out.items()}}))


if __name__ == "__main__":
    main()
