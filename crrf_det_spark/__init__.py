"""crrf_det_spark: a PySpark-native extraction/analytics engine with the
query and data-processing capabilities of os-climate/crrf-det, re-expressed
Spark-first (DataFrame/Catalyst + vectorized Arrow batches).

Built from public knowledge only: the Apache Spark / PySpark API and the
reference repository studied read-only at /root/reference.
"""

import os
import zipimport

__version__ = "0.1.0"


def _keep_spark_archives() -> None:
    """Python workers call ``importlib.invalidate_caches()`` at every task;
    on Python 3.11 each zipimporter then re-reads its whole zip directory.
    Skip that for archives under ``SPARK_HOME`` (pyspark.zip, py4j, the
    spark-core jar), which never change while a worker lives; ``addPyFile``
    zips are still re-read.  Engine UDFs are pickled from this package, so
    a reused worker has the guard from its first package task on."""
    home = os.environ.get("SPARK_HOME")
    if home:
        root = os.path.join(os.path.realpath(home), "")
        reread = zipimport.zipimporter.invalidate_caches

        def invalidate_caches(self):
            if not os.path.realpath(self.archive).startswith(root):
                reread(self)

        zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_spark_archives()
