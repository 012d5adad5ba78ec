"""The pydaemon worker patch (skip per-task importlib cache purge)
must be ACTIVE in workers and must preserve addPyFile semantics —
a module shipped mid-session becomes importable in already-warm
workers (the memo invalidates when the include list changes)."""

import os
import tempfile


def test_patch_active_in_workers(spark):
    def probe(it):
        import pandas as pd
        import pyspark.worker_util as wu

        for b in it:
            yield pd.DataFrame(
                {"m": [wu.setup_spark_files.__qualname__] * len(b)}
            )

    mods = {
        r.m
        for r in spark.range(0, 8, 1, 4).mapInPandas(probe, "m string").collect()
    }
    # the daemon module runs as __main__, so assert on the qualname of
    # the patched closure rather than __module__
    assert mods == {"_patch.<locals>.setup_spark_files"}


def test_add_py_file_visible_in_warm_workers(spark):
    sc = spark.sparkContext

    # warm the workers so their (files_dir, includes) memo is set
    def noop(it):
        for b in it:
            yield b

    spark.range(0, 32, 1, 4).mapInPandas(noop, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    d = tempfile.mkdtemp()
    mod = os.path.join(d, "pydaemon_dyn_mod.py")
    with open(mod, "w") as f:
        f.write("MAGIC = 31337\n")
    sc.addPyFile(mod)

    def use(it):
        import pandas as pd
        import pydaemon_dyn_mod

        for b in it:
            yield pd.DataFrame({"v": [pydaemon_dyn_mod.MAGIC] * len(b)})

    vals = {
        r.v for r in spark.range(0, 32, 1, 4).mapInPandas(use, "v long").collect()
    }
    assert vals == {31337}


def test_unpatched_fallback_logs_one_warning(monkeypatch, caplog):
    """When the pyspark internals the patch touches have drifted, the
    daemon starts unpatched and says so once."""
    import importlib
    import logging
    import sys

    # the patch's import of pyspark.worker_util now raises ImportError
    monkeypatch.setitem(sys.modules, "pyspark.worker_util", None)
    caplog.set_level(logging.WARNING, logger="flink_ms_spark.pydaemon")
    mod = sys.modules.get("flink_ms_spark.pydaemon")
    if mod is None:
        importlib.import_module("flink_ms_spark.pydaemon")
    else:
        importlib.reload(mod)
    records = [r for r in caplog.records if getattr(r, "event", None) == "pydaemon_unpatched"]
    assert len(records) == 1
    (rec,) = records
    assert rec.name == "flink_ms_spark.pydaemon"
    assert rec.levelno == logging.WARNING
    assert rec.exc_info is not None and issubclass(rec.exc_info[0], ImportError)


def test_other_pyspark_family_stays_stock(monkeypatch, caplog):
    """A worker whose pyspark is not 4.1.x keeps the stock
    ``setup_spark_files`` and says so once: the patch mirrors 4.1's
    wire fields."""
    import importlib
    import logging
    import sys

    import pyspark
    import pyspark.worker as worker
    import pyspark.worker_util as worker_util

    def stock(infile):
        return None

    monkeypatch.setattr(pyspark, "__version__", "4.2.0")
    monkeypatch.setattr(worker_util, "setup_spark_files", stock)
    monkeypatch.setattr(worker, "setup_spark_files", stock)
    caplog.set_level(logging.WARNING, logger="flink_ms_spark.pydaemon")
    mod = sys.modules.get("flink_ms_spark.pydaemon")
    if mod is None:
        importlib.import_module("flink_ms_spark.pydaemon")
    else:
        importlib.reload(mod)
    records = [r for r in caplog.records if getattr(r, "event", None) == "pydaemon_unpatched"]
    assert len(records) == 1
    assert "4.2.0" in str(records[0].exc_info[1])
    assert worker_util.setup_spark_files is stock
    assert worker.setup_spark_files is stock


def test_daemon_set_only_for_local_master(caplog):
    """The daemon's PYTHONPATH names the driver's directory, so a
    cluster master keeps the stock daemon and says so once; checked on
    the builder settings, with no second session."""
    import logging

    from flink_ms_spark.session import session_conf

    def events():
        return [r for r in caplog.records
                if getattr(r, "event", None) == "pydaemon_nonlocal_master"]

    daemon = ("spark.python.daemon.module", "spark.executorEnv.PYTHONPATH")
    caplog.set_level(logging.INFO, logger="flink_ms_spark.session")
    local = session_conf("t", 4)
    assert local["spark.master"] == "local[4]"
    assert local["spark.python.daemon.module"] == "flink_ms_spark.pydaemon"
    assert local["spark.executorEnv.PYTHONPATH"]
    assert not events()

    remote = session_conf("t", 4, {"spark.master": "spark://h:7077"})
    assert remote["spark.master"] == "spark://h:7077"
    assert not set(daemon) & set(remote)
    (rec,) = events()
    assert rec.name == "flink_ms_spark.session"
    assert rec.levelno == logging.INFO
    assert "spark://h:7077" in rec.getMessage()
