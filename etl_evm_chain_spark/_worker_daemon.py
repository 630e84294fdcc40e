"""Entry point of the Python worker daemon of ``get_spark`` sessions
(``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task. When pyspark is imported from
``$SPARK_HOME/python/lib/pyspark.zip``, CPython's zip importer re-reads
the archive's directory on that call, once per cached sub-package
importer: a 500-row no-op pandas UDF stage took 0.36-0.44 s with it
and 0.22-0.27 s without it (medians, 4-core host). Spark also
puts its spark-core jar on the workers' path, which holds no Python
but is re-read the same way. This module drops these archives
(``pyspark.zip``, the py4j source zip and the spark-core jar) from
``sys.path`` before it imports ``pyspark.daemon``, so the workers
import the same directory-installed pyspark the driver runs. When no
such install can be found it leaves ``sys.path`` alone.
"""

import importlib.util
import os
import sys


def _is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return (name == "pyspark.zip"
            or name.startswith("py4j-") and name.endswith(".zip")
            or name.startswith("spark-core_") and name.endswith(".jar"))


def _drop_spark_archives() -> None:
    archives = [p for p in sys.path if _is_spark_archive(p)]
    if not archives:
        return
    saved = sys.path[:]
    sys.path[:] = [p for p in saved if p not in archives]
    for name in ("pyspark", "py4j"):
        spec = importlib.util.find_spec(name)
        if spec is None or not os.path.isfile(spec.origin or ""):
            sys.path[:] = saved
            return
    for p in list(sys.path_importer_cache):
        if any(p == a or p.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[p]


if __name__ == "__main__":
    _drop_spark_archives()
    import pyspark.daemon

    pyspark.daemon.manager()
