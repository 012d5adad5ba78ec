"""SparkSession factory.

Single place where execution configuration lives, so every entry point
(tests, bench, driver contract) gets the same scale-aware settings.

The settings are chosen for the 100 TB design point, not just local[32]:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, convert
  sort-merge to broadcast when a side turns out small, split skewed
  partitions). At 1000 executors AQE is what keeps a static
  ``shuffle.partitions`` guess from being a bottleneck.
- Arrow enabled for every pandas interchange (the multimodal / fallback
  UDF path) — row-at-a-time Python serialization is never acceptable.
- Shuffle partitions default to the local core count; on a real cluster
  this is overridden (AQE coalescing makes the initial number mostly a
  ceiling, not a target).
- Streaming checkpoint metadata (the source log, the offset WAL and the
  commit log each micro-batch writes, and state-store deltas) goes
  through Spark's ``FileSystemBasedCheckpointFileManager`` instead of
  the default ``FileContextBasedCheckpointFileManager``. Without the
  native Hadoop library (``NativeCodeLoader.isNativeCodeLoaded()``
  false, as with Spark's binary distribution), Hadoop's
  ``RawLocalFileSystem`` shells out: a ``chmod`` for every file it
  creates, and a ``readlink`` for every ``FileContext`` rename. On a
  4-vCPU Linux VM one atomic metadata file cost 8 subprocess spawns
  (2 ``chmod``, 6 ``readlink``) and 26-28 ms with the default manager;
  2 spawns and about 7 ms with this one. An online-SGD
  micro-batch writes three such files (``sources/0/N``, ``offsets/N``,
  ``commits/N``), so 30 spawns become 6, and two of the three files are
  written before the batch runs. The FileSystem-based manager is the one
  Spark itself falls back to when a file system has no ``FileContext``;
  it is correct wherever ``FileSystem.rename`` is atomic, which holds
  for local POSIX rename and for HDFS. A deployment that keeps
  checkpoints on an object store (no atomic rename) should pass its own
  manager as ``spark.sql.streaming.checkpointFileManagerClass`` in
  ``extra_conf``; a value passed there wins. If the class does not load
  (a pyspark upgrade moved it), Spark's default stays and one WARNING
  with ``event="checkpoint_manager_default"`` is logged on the
  ``flink_ms_spark.session`` logger.
- The pydaemon worker wrapper (``flink_ms_spark/pydaemon.py``) is set
  only for a ``local`` master, because its ``PYTHONPATH`` names this
  driver's directory. A cluster master (``extra_conf["spark.master"]``)
  keeps Spark's stock daemon, and one INFO record with
  ``event="pydaemon_nonlocal_master"`` is logged on the same logger.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "flink-ms-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine defaults applied."""
    builder = SparkSession.builder
    for k, v in session_conf(app_name, cpus or DEFAULT_CPUS, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _CHECKPOINT_MANAGER_CONF not in (extra_conf or {}):
        _set_checkpoint_manager(spark)
    return spark


def session_conf(
    app_name: str, cpus: int, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """Every setting ``get_spark`` gives the builder; ``extra_conf``
    comes last, so a caller's value wins."""
    extra = extra_conf or {}
    conf = {
        "spark.app.name": app_name,
        "spark.master": f"local[{cpus}]",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.default.parallelism": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Model tables at reference scale are small relative to fact
        # tables; let Spark broadcast aggressively (AQE re-checks at
        # runtime with actual sizes).
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    master = extra.get("spark.master", conf["spark.master"])
    if master.startswith("local"):
        # Python worker daemon wrapper (flink_ms_spark/pydaemon.py):
        # skips the unconditional per-task importlib.invalidate_caches()
        # in worker_util.setup_spark_files when no new py-files were
        # shipped — the purge forces ~16 zip-central-directory re-reads
        # per task (pyspark.zip, py4j, the spark-core jar), measured as
        # a 120-230 ms floor on EVERY Python task at any input size;
        # falls back to stock behavior if pyspark internals drift (see
        # pydaemon docstring). The daemon subprocess needs the package
        # importable, so this package's parent dir goes into the
        # workers' PYTHONPATH — a driver-local path, which is why a
        # cluster master keeps the stock daemon: there the import would
        # fail before ``--py-files`` arrive.
        conf["spark.python.daemon.module"] = "flink_ms_spark.pydaemon"
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p
            for p in (
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                os.environ.get("PYTHONPATH", ""),
            )
            if p
        )
    else:
        logging.getLogger(__name__).info(
            "session: master %s is not local, Python workers keep the stock "
            "daemon", master, extra={"event": "pydaemon_nonlocal_master"},
        )
    conf.update(extra)
    return conf


def _set_checkpoint_manager(spark: SparkSession) -> None:
    """Write streaming checkpoint metadata through the FileSystem-based
    manager (module docstring), or keep Spark's default if it is gone."""
    try:
        spark._jvm.java.lang.Class.forName(_CHECKPOINT_MANAGER)
    except Py4JError:
        logging.getLogger(__name__).warning(
            "session: %s does not load, streaming checkpoints keep Spark's "
            "default file manager", _CHECKPOINT_MANAGER,
            extra={"event": "checkpoint_manager_default"},
        )
        return
    spark.conf.set(_CHECKPOINT_MANAGER_CONF, _CHECKPOINT_MANAGER)
