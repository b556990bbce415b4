"""PySpark worker daemon that imports the extraction kernel before it forks.

``build_session`` names this module in ``spark.python.daemon.module`` for
the local masters it resolves. Spark's stock daemon forks bare workers,
and each one then imports pandas, pyarrow and the st1+st2 kernel on its
own, so every worker holds a private copy of the same interpreter state.
Here the daemon imports them once. ``gc.freeze()`` then moves those
objects out of the cyclic collector, which would otherwise write to their
headers and turn the pages the forked workers share copy-on-write into
private copies.

Importing this module only imports; the daemon runs under ``__main__``.
"""

import gc

import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
from pyspark import daemon

import legal_knowledge_graph_spark.operators.mentions  # noqa: F401

if __name__ == "__main__":
    gc.collect()
    gc.freeze()
    daemon.manager()
