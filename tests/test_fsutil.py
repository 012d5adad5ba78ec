"""fsutil — the Hadoop-FileSystem IO layer every persisted surface's
driver-side bookkeeping goes through (store generations, registries,
manifests). On local paths it must behave exactly like the os/shutil
calls it replaced; these pin that contract plus the replace-flip and
sizing helpers the migrated call sites rely on."""

from __future__ import annotations

import os

from flink_ms_spark import fsutil as fx


def test_join_is_scheme_preserving():
    assert fx.join("/a/b/", "c") == "/a/b/c"
    assert fx.join("hdfs://nn:8020/warehouse", "gen-3", "_SUCCESS") == (
        "hdfs://nn:8020/warehouse/gen-3/_SUCCESS"
    )
    assert fx.join("s3a://bucket/root/", "/v=1/") == "s3a://bucket/root/v=1"


def test_text_round_trip_and_listing(spark, tmp_path):
    root = str(tmp_path)
    p = fx.join(root, "sub", "a.json")
    fx.write_text(spark, p, '{"x": 1}')
    assert fx.exists(spark, p)
    assert fx.read_text(spark, p) == '{"x": 1}'
    assert fx.is_dir(spark, fx.join(root, "sub"))
    assert not fx.is_dir(spark, p)  # a file is not a dir
    assert fx.list_names(spark, root) == ["sub"]
    assert fx.list_names(spark, root, dirs_only=True) == ["sub"]
    fx.write_text(spark, fx.join(root, "top.txt"), "t")
    assert fx.list_names(spark, root, dirs_only=True) == ["sub"]
    assert sorted(fx.list_names(spark, root)) == ["sub", "top.txt"]
    assert fx.list_names(spark, fx.join(root, "missing")) == []
    assert not fx.exists(spark, fx.join(root, "missing"))


def test_replace_text_flips_and_cleans_tmp(spark, tmp_path):
    p = fx.join(str(tmp_path), "manifest.json")
    fx.replace_text(spark, p, "v1")
    fx.replace_text(spark, p, "v2")
    assert fx.read_text(spark, p) == "v2"
    assert not fx.exists(spark, p + ".tmp")


def test_rename_and_delete_move_directories(spark, tmp_path):
    root = str(tmp_path)
    src = fx.join(root, "pq")
    spark.range(10).write.parquet(src)
    assert fx.rename(spark, src, fx.join(root, "pq2"))
    assert fx.is_dir(spark, fx.join(root, "pq2")) and not fx.exists(spark, src)
    assert spark.read.parquet(fx.join(root, "pq2")).count() == 10
    assert fx.delete(spark, fx.join(root, "pq2"))
    assert not fx.exists(spark, fx.join(root, "pq2"))


def test_count_files_matches_os_walk(spark, tmp_path):
    root = str(tmp_path)
    out = fx.join(root, "data")
    spark.range(1000).repartition(4).write.parquet(out)
    expect_parquet = sum(
        1 for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    )
    assert fx.count_files(spark, out, ".parquet") == expect_parquet == 4
    assert fx.count_files(spark, out) > expect_parquet  # _SUCCESS etc.
    assert fx.count_files(spark, fx.join(root, "missing")) == 0


class _FakeJvmPath:
    """Stands in for jvm.org.apache.hadoop.fs.Path in the fake below."""

    def __getattr__(self, name):
        return self

    def __call__(self, path):
        return path


class _FakeFs:
    """A FileSystem whose rename/delete return False — the failure mode
    Hadoop reports WITHOUT throwing (unlike the os.replace these
    helpers supplanted). Only the calls replace_text makes exist."""

    def __init__(self, exists=True, delete_ok=True, rename_ok=True):
        self._exists, self._delete_ok, self._rename_ok = exists, delete_ok, rename_ok

    def exists(self, jpath):
        return self._exists

    def delete(self, jpath, recursive):
        return self._delete_ok

    def rename(self, src, dst):
        return self._rename_ok


def test_replace_text_failed_rename_raises(spark, monkeypatch):
    """ADVICE r9 (medium): a false from fs.rename must abort the flip
    loudly — silently returning would leave NO manifest at all."""
    import pytest

    monkeypatch.setattr(fx, "write_text", lambda *_a, **_k: None)
    monkeypatch.setattr(
        fx, "_fs", lambda s, p: (_FakeFs(rename_ok=False), p, _FakeJvmPath())
    )
    with pytest.raises(IOError, match="rename .* failed"):
        fx.replace_text(spark, "/any/manifest.json", "v2")


def test_replace_text_failed_delete_raises(spark, monkeypatch):
    import pytest

    monkeypatch.setattr(fx, "write_text", lambda *_a, **_k: None)
    monkeypatch.setattr(
        fx, "_fs", lambda s, p: (_FakeFs(delete_ok=False), p, _FakeJvmPath())
    )
    with pytest.raises(IOError, match="delete stale"):
        fx.replace_text(spark, "/any/manifest.json", "v2")
