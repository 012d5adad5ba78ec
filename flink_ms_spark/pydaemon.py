"""Python worker daemon wrapper: skip the per-task import-cache purge.

Measured on this engine's bench (guide §1 profile, r15): EVERY Python
task — mapInPandas, applyInPandas, pandas UDF, plain RDD map alike —
carried a ~120–230 ms floor with ~6 ms of JVM CPU, independent of
input size (a no-op kernel over 8 ints paid it). A cProfile of
`pyspark.worker.main` inside the daemon attributed the floor to
`worker_util.setup_spark_files`, which calls
`importlib.invalidate_caches()` unconditionally per task: that purges
every zipimport directory cache, so the NEXT import re-reads the zip
central directory of every zip/jar on ``sys.path`` (pyspark.zip, py4j,
a 20 MB spark-core jar with thousands of entries, the stdlib zip) —
~16 `zipimport._read_directory` calls per task.

The invalidation exists so files shipped mid-job via
``sc.addPyFile``/``--py-files`` become importable. The files-dir and
the include list are re-sent to the worker at EVERY task start, so
this wrapper keeps a per-worker memo of ``(files_dir, includes)`` and
invalidates ONLY when that key changes — first task in a worker, or
any later task after new py-files were added. Steady state (no
dynamic py-files — this engine ships none) pays zero invalidations.

Known (accepted) divergence from stock behavior: overwriting an
already-shipped include archive IN PLACE with new bytes mid-job, under
the SAME name, would serve stale zipimport entries until the include
list changes — Spark itself refuses to re-add a file under an existing
name, so this path is unreachable through the public API.

Wiring: ``spark.python.daemon.module=flink_ms_spark.pydaemon``
(session.py). The patch is belt-and-braces guarded: it applies only
when the worker's ``pyspark.__version__`` is in the 4.1 family, and if
the version differs or anything about the pyspark internals it touches
has drifted, it leaves the stock implementation in place and the
daemon starts unpatched (slow but correct), logging one WARNING with
``event="pydaemon_unpatched"`` on the ``flink_ms_spark.pydaemon``
logger.

Protocol note: the reimplementation below reads the exact same wire
fields as pyspark 4.1's ``setup_spark_files`` (files-dir string,
include count, include names) — it MUST stay in lockstep with the
installed pyspark's ``worker_util.setup_spark_files``.
"""

from __future__ import annotations

import logging


def _patch() -> None:
    import importlib
    import os

    import pyspark

    # the wire fields below are pyspark 4.1's; another family may differ
    if not pyspark.__version__.startswith("4.1."):
        raise RuntimeError(f"pyspark {pyspark.__version__} is not the 4.1 family")

    import pyspark.worker as worker
    import pyspark.worker_util as worker_util
    from pyspark.serializers import read_int, UTF8Deserializer
    from pyspark.util import is_remote_only
    from pyspark.worker_util import add_path

    utf8_deserializer = UTF8Deserializer()
    state = {"key": None}

    def setup_spark_files(infile) -> None:
        spark_files_dir = utf8_deserializer.loads(infile)

        if not is_remote_only():
            from pyspark.core.files import SparkFiles

            SparkFiles._root_directory = spark_files_dir
            SparkFiles._is_running_on_worker = True

        add_path(spark_files_dir)
        num_python_includes = read_int(infile)
        includes = tuple(
            utf8_deserializer.loads(infile) for _ in range(num_python_includes)
        )
        for filename in includes:
            add_path(os.path.join(spark_files_dir, filename))

        key = (spark_files_dir, includes)
        if key != state["key"]:
            importlib.invalidate_caches()
            state["key"] = key

    worker_util.setup_spark_files = setup_spark_files
    # worker.py binds the name at import time — rebind there too
    worker.setup_spark_files = setup_spark_files


try:  # never let the patch kill the daemon — unpatched is slow, not wrong
    _patch()
except Exception as exc:  # version-drift fallback
    # named explicitly: the daemon runs this module as __main__
    logging.getLogger("flink_ms_spark.pydaemon").warning(
        "pydaemon: worker patch not applied, Python tasks run the stock "
        "per-task import-cache purge (%r)", exc,
        exc_info=exc, extra={"event": "pydaemon_unpatched"},
    )


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
