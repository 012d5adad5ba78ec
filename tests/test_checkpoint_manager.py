"""Streaming checkpoint metadata goes through the FileSystem-based
checkpoint file manager (session.py): exactly-once across a restart on
that manager, the subprocess spawns one micro-batch's commit costs, and
the fallback to Spark's default when the class does not load."""

from __future__ import annotations

import json
import logging
import os
import shutil
import subprocess

import numpy as np
import pytest

from flink_ms_spark import session
from flink_ms_spark.serving.store import ModelStore
from flink_ms_spark.streaming.loader import run_online_sgd_stream

MODEL_SCHEMA = "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>"
CONF = "spark.sql.streaming.checkpointFileManagerClass"


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _manager(q) -> str:
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getSimpleName()


def _seeded_store(spark, name: str) -> ModelStore:
    rng = np.random.default_rng(5)
    rows = [(f"{k}-{kind}", str(k), kind, rng.normal(size=3).tolist())
            for kind in ("U", "I") for k in range(1, 11)]
    store = ModelStore(spark, name)
    store.upsert_batch(spark.createDataFrame(rows, MODEL_SCHEMA))
    return store


def _model(store: ModelStore) -> dict:
    return {r.key: list(r.factors) for r in store.view().collect()}


def test_restart_on_fs_manager_applies_each_file_once(spark, tmp_path):
    """Two files, stop, a third file, restart on the same checkpoint:
    the restart reads only the third file as the next batch id, and the
    store equals a control that applied each file exactly once (a
    replayed batch would apply its SGD step twice)."""
    # files 1 and 2 share a batch and touch disjoint keys; file 3
    # touches every key again, so a replay of either batch shows
    files = [
        [f"{k}\t{k}\t{k % 5 + 1}.0" for k in range(1, 6)],
        [f"{k}\t{k}\t{k % 4 + 1}.0" for k in range(6, 11)],
        [f"{k}\t{11 - k}\t{k % 3 + 2}.0" for k in range(1, 11)],
    ]
    src, ckpt = tmp_path / "in", str(tmp_path / "ckpt")
    store = _seeded_store(spark, "RESTART")
    _write(str(src / "r1.tsv"), files[0])
    _write(str(src / "r2.tsv"), files[1])
    q = run_online_sgd_stream(spark, str(src), store, ckpt, learning_rate=0.05)
    q.awaitTermination(120)
    q.stop()
    first = [p for p in q.recentProgress if p.numInputRows > 0]
    assert sum(p.numInputRows for p in first) == len(files[0]) + len(files[1])
    committed = max(p.batchId for p in first)
    assert _manager(q) == "FileSystemBasedCheckpointFileManager"

    _write(str(src / "r3.tsv"), files[2])
    q = run_online_sgd_stream(spark, str(src), store, ckpt, learning_rate=0.05)
    q.awaitTermination(120)
    q.stop()
    second = [(p.batchId, p.numInputRows) for p in q.recentProgress if p.numInputRows > 0]
    assert second == [(committed + 1, len(files[2]))]
    assert _manager(q) == "FileSystemBasedCheckpointFileManager"

    control = _seeded_store(spark, "RESTART_CONTROL")
    for n, batch in enumerate((files[:2], files[2:])):
        for m, lines in enumerate(batch):
            _write(str(tmp_path / f"ctl{n}" / f"r{m}.tsv"), lines)
        run_online_sgd_stream(spark, str(tmp_path / f"ctl{n}"), control,
                              str(tmp_path / f"ctl-ckpt{n}"),
                              learning_rate=0.05).awaitTermination(120)
    assert _model(store) == _model(control)


@pytest.mark.skipif(not (shutil.which("jcmd") and shutil.which("jfr")),
                    reason="needs the JDK's jcmd and jfr")
def test_checkpoint_commit_spawn_budget(spark, tmp_path):
    """Two micro-batches of a file stream, recorded with JFR on the
    session's JVM: no ``readlink`` spawn (the FileContext rename path)
    and at most two spawns (``chmod`` of the file and of its ``.crc``)
    per checkpoint file written.

    JFR records every spawn of the shared session JVM, so a spawn from
    another thread (an earlier test's leftover work, a relaunched
    Python worker) can land in the window. The budget therefore counts
    only the commands that name a path under ``ckpt``; the
    no-``readlink`` check still covers every command recorded."""
    src, ckpt = tmp_path / "in", tmp_path / "ckpt"

    def put(i: int) -> None:
        _write(str(tmp_path / "stage" / f"f{i}.txt"), [f"line {i}"])
        os.makedirs(src, exist_ok=True)
        os.rename(tmp_path / "stage" / f"f{i}.txt", src / f"f{i}.txt")

    def checkpoint_files() -> set[str]:
        return {os.path.relpath(os.path.join(d, f), ckpt)
                for d, _, fs in os.walk(ckpt) for f in fs if not f.endswith(".crc")}

    put(0)
    counts: list[int] = []
    q = (spark.readStream.text(str(src)).writeStream
         .foreachBatch(lambda df, _: counts.append(df.count()))
         .option("checkpointLocation", str(ckpt)).start())
    pid = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    recording = str(tmp_path / "spawns.jfr")
    name = "name=checkpoint_spawns"
    try:
        q.processAllAvailable()
        before = checkpoint_files()
        subprocess.run(["jcmd", pid, "JFR.start", name, "settings=default"],
                       check=True, capture_output=True)
        try:
            for i in (1, 2):
                put(i)
                q.processAllAvailable()
            subprocess.run(["jcmd", pid, "JFR.dump", name, f"filename={recording}"],
                           check=True, capture_output=True)
        finally:
            subprocess.run(["jcmd", pid, "JFR.stop", name], capture_output=True)
    finally:
        q.stop()
    written = checkpoint_files() - before
    assert counts == [1, 1, 1]
    assert {f.split("/")[0] for f in written} == {"sources", "offsets", "commits"}
    assert len(written) == 6
    printed = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart",
                              recording], check=True, capture_output=True, text=True)
    commands = [e["values"]["command"] for e in json.loads(printed.stdout)["recording"]["events"]]
    roots = {str(ckpt) + os.sep, os.path.realpath(ckpt) + os.sep}
    ours = [c for c in commands if any(r in c for r in roots)]
    stray = [c for c in commands if c not in ours]
    detail = f"checkpoint spawns: {ours}\nother spawns: {stray}"
    assert not [c for c in commands if c.startswith("readlink")], detail
    assert all(c.startswith("chmod") for c in ours), detail
    assert len(ours) <= 2 * len(written), detail


def test_missing_manager_class_keeps_default_and_warns_once(spark, monkeypatch, caplog):
    """If the class does not load, the conf stays unset (Spark's
    default manager) and one WARNING says so; a caller's value in
    ``extra_conf`` wins without a lookup."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    saved = spark.conf.get(CONF, None)
    caplog.set_level(logging.WARNING, logger="flink_ms_spark.session")
    try:
        spark.conf.unset(CONF)
        monkeypatch.setattr(session, "_CHECKPOINT_MANAGER", "org.example.NoSuchCheckpointFileManager")
        assert session.get_spark("flink-ms-spark-tests", cpus=cpus) is spark
        assert spark.conf.get(CONF, None) is None
        records = [r for r in caplog.records
                   if getattr(r, "event", None) == "checkpoint_manager_default"]
        assert len(records) == 1
        assert records[0].name == "flink_ms_spark.session"
        assert records[0].levelno == logging.WARNING

        own = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileContextBasedCheckpointFileManager")
        session.get_spark("flink-ms-spark-tests", cpus=cpus, extra_conf={CONF: own})
        assert spark.conf.get(CONF) == own
        assert len([r for r in caplog.records
                    if getattr(r, "event", None) == "checkpoint_manager_default"]) == 1
    finally:
        if saved is None:
            spark.conf.unset(CONF)
        else:
            spark.conf.set(CONF, saved)
