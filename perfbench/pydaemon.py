"""Spark's Python worker daemon with the engine already imported.

The daemon forks one worker per task slot; a worker forked from this
module starts with the encode, decode and lookup kernels loaded, so no
operation pays for importing them in a fresh worker. Selected with
``spark.python.daemon.module`` (see ``perfbench/session.py``).
"""

import choetl_spark.datasource  # noqa: F401
import choetl_spark.deletes  # noqa: F401
import choetl_spark.engine  # noqa: F401
import choetl_spark.lookup  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    daemon.manager()
