"""SparkSession factory tuned for the KG-construction workload.

Settings rationale (100 TB mindset, tested at local[*]):

- Arrow on + bounded batch size: every extraction stage is a
  ``mapInPandas`` over Arrow batches; batch size bounds executor memory
  for wide ``content`` rows (files up to ~50 KB each), so batches stay at
  2048 rows while content is carried.
- Master: spark-submit's ``--master`` wins. When the driver was launched
  by spark-submit (``PYSPARK_GATEWAY_PORT`` is set) and no ``master`` is
  passed, the session leaves ``spark.master`` to it; otherwise the master
  is ``local[$SPARK_GRAFT_CPUS]``, or ``local[*]`` when that is unset.
- Python workers: for a local master this function resolves itself, the
  workers fork from ``worker_daemon``, which imports pandas, pyarrow and
  the extraction kernel once and freezes them, so the workers share those
  pages instead of each holding a private copy. It is local-only because
  the daemon must import the package when it starts: under spark-submit
  ``--py-files`` the package reaches the workers per task, after the
  daemon is up, so those runs keep Spark's stock daemon.
- AQE on with skew-join handling: mega-repos (FIXTURES.md §1) skew the
  per-repo stages; AQE splits skewed partitions at runtime.
- Submitted conf wins: under spark-submit every setting below is a
  default, and a key given with ``--conf`` (or spark-defaults.conf) keeps
  its submitted value; ``extra_conf`` overrides both. So the scale knob
  is the standard ``--conf spark.sql.shuffle.partitions=N``, from which
  the AQE initial partition number follows.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Arrow batch ceiling while `content` is still in-flight. After st2 the
# content column is pruned and default batching is fine.
_ARROW_BATCH = "2048"

_WORKER_DAEMON = "legal_knowledge_graph_spark.worker_daemon"


def _default_driver_memory() -> str:
    """60% of physical RAM, capped at 24g: a local-mode driver heap larger
    than the host lets the JVM grow until the kernel OOM-kills it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(phys_mb * 6 // 10, 24 * 1024)}m"


def build_session(
    app_name: str = "lkg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset) so bench harnesses can pin parallelism. Under spark-submit the
    ``--master`` it was given wins and this argument is left None, and
    each key of the submitted conf wins over this function's setting.
    """
    builder = SparkSession.builder.appName(app_name)
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master is not None:
        builder = builder.master(master)
        # local and local[N] only: local-cluster executors are separate
        # JVMs that need not see the package
        if master.split("[")[0] == "local" and not submitted:
            builder = builder.config("spark.python.daemon.module",
                                     _WORKER_DAEMON)
    if shuffle_partitions is None:
        shuffle_partitions = 32
    submitted_conf = None
    if submitted:
        # spark-submit put its --conf into the launched JVM's system
        # properties; SparkConf() reads them once the gateway is up
        SparkContext._ensure_initialized()
        submitted_conf = SparkConf()
        shuffle_partitions = int(submitted_conf.get(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)))

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": _ARROW_BATCH,
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory":
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # compress localCheckpoint / cached RDD blocks (lz4). The pipeline
        # materializes wide string rows at every stage boundary (~1 GB at
        # the edges stage on the 24k bench corpus) and is memory-bandwidth
        # bound at high core counts — measured on the scaling corpus:
        # level-32 139.7 -> 117.6 s (-16%), level-8 261.1 -> 239.1 s
        # (-8%), same window, identical outputs. zstd was measured WORSE
        # (169 s: codec CPU exceeds the bandwidth saving); keep lz4.
        "spark.rdd.compress": "true",
        # keep post-shuffle partitions lean: wide string rows at the
        # default 64MB advisory size starve execution memory and spill
        # (measured: 9GB spills per aggregation stage at 32 threads).
        # Start wide and let AQE coalesce down to the advisory size.
        "spark.sql.adaptive.advisoryPartitionSizeInMB": "16",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(max(shuffle_partitions * 4, 64)),
    }
    # forensics hook: SPARK_GRAFT_EVENTLOG=<dir> records the event log for
    # per-stage wall/CPU analysis (the BENCH/BASELINE.md recipe)
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ev_dir})
    if submitted_conf is not None:
        conf = {k: v for k, v in conf.items()
                if not submitted_conf.contains(k)}
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
