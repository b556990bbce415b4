"""build_session: which master wins, and which daemon forks the Python
workers."""

import os
import subprocess
import sys

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "legal_knowledge_graph_spark.worker_daemon"


def test_extraction_workers_fork_from_preloaded_daemon(spark):
    """A local session's Python workers are children of the package
    daemon, which imported the st1+st2 kernel before forking them."""

    def parent_cmdline(batches):
        import pandas as pd

        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode()
        yield pd.DataFrame({"cmd": [cmd]})

    rows = (spark.range(4).repartition(2)
            .mapInPandas(parent_cmdline, "cmd string").collect())
    assert rows
    assert all(DAEMON in r.cmd for r in rows), rows


def test_spark_submit_master_wins(tmp_path):
    """Under spark-submit, build_session() runs at the submitted master
    and with the submitted --conf values, and keeps Spark's stock daemon:
    the package reaches cluster workers only per task, after the daemon
    has started."""
    script = tmp_path / "m.py"
    script.write_text(
        "from legal_knowledge_graph_spark.session import build_session\n"
        "spark = build_session()\n"
        "conf = spark.sparkContext.getConf()\n"
        "print('MASTER', spark.sparkContext.master)\n"
        "print('DAEMON', conf.get('spark.python.daemon.module'))\n"
        "print('SHUFFLE', spark.conf.get('spark.sql.shuffle.partitions'))\n"
        "spark.stop()\n")
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CPUS", None)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    out = subprocess.run(
        [os.path.join(home, "bin", "spark-submit"), "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=7", str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.startswith(("MASTER ", "DAEMON ", "SHUFFLE ")))
    assert lines == {"MASTER": "local[2]", "DAEMON": "None", "SHUFFLE": "7"}
