"""Hadoop-FileSystem helpers for driver-side generation/manifest IO.

Every persisted surface in this engine (store generations, near-dup
and chunk registries, ANN index builds and increments) is WRITTEN by
Spark, which resolves paths through the Hadoop FileSystem API — bare
local paths in local mode, hdfs:// or s3a:// URIs on a cluster. Driver-side bookkeeping around those
surfaces must resolve paths the SAME way: ``os.listdir`` on an
``hdfs://`` string silently sees nothing, ``glob`` sums zero bytes,
and ``shutil.rmtree`` deletes nothing — each a quiet no-op exactly
where the docstrings promise shared-storage operation. These helpers
are thin py4j wrappers; on local paths they behave like the os/shutil
calls they replace (pinned by the existing test suites, which all run
through them on local tmpdirs).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def join(root: str, *names: str) -> str:
    """Scheme-preserving path join (os.path.join would mangle nothing
    here, but keeping joins string-pure avoids accidental os coupling)."""
    out = root.rstrip("/")
    for n in names:
        out += "/" + n.strip("/")
    return out


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isDirectory())


def list_names(spark: SparkSession, path: str, dirs_only: bool = False) -> list[str]:
    """Child entry names of ``path`` (empty if it does not exist)."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    names = []
    for status in fs.listStatus(jpath):
        if dirs_only and not status.isDirectory():
            continue
        names.append(status.getPath().getName())
    return names


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def mkdirs(spark: SparkSession, path: str) -> bool:
    """Create a directory (and parents). Hadoop rename does not create
    the destination's parent — movers into a fresh subtree call this
    first."""
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.mkdirs(jpath))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Directory/file move. Unlike os.replace, Hadoop rename does NOT
    overwrite an existing destination — callers that need replace
    semantics delete the destination first (the canonical
    write-tmp → delete → rename pattern; atomic on HDFS renames,
    best-available on object stores)."""
    fs, jsrc, jvm = _fs(spark, src)
    return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)))


def read_text(spark: SparkSession, path: str) -> str:
    fs, jpath, jvm = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        scanner = jvm.java.util.Scanner(stream, "UTF-8").useDelimiter("\\A")
        return scanner.next() if scanner.hasNext() else ""
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite ``path`` with ``text`` (parent dirs created by
    the filesystem). Single create+close — callers needing a
    torn-write-safe flip write a sibling tmp name and rename."""
    fs, jpath, _ = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def replace_text(spark: SparkSession, path: str, text: str) -> None:
    """os.replace-style manifest flip: write ``<path>.tmp``, drop any
    stale destination, rename into place. Readers either see the old
    complete manifest or the new complete one on HDFS (atomic rename);
    object stores get the best-available equivalent.

    Hadoop FileSystem reports many rename/delete failures by
    RETURNING FALSE rather than throwing — the os.replace this
    helper supplanted raised on every failure, so a silent false
    here would destroy the manifest (readers see latest=0) with no
    error anywhere. Both booleans are therefore checked and a false
    fails loud; the tmp file survives a failed flip for forensics."""
    tmp = path + ".tmp"
    write_text(spark, tmp, text)
    fs, jpath, jvm = _fs(spark, path)
    if fs.exists(jpath) and not fs.delete(jpath, False):
        raise IOError(f"replace_text: failed to delete stale {path}")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jpath):
        raise IOError(f"replace_text: rename {tmp} -> {path} failed "
                      "(filesystem returned false); manifest flip aborted")


def swap_dir(spark: SparkSession, path: str, tmp: str, what: str) -> None:
    """Install the fully written replacement ``tmp`` at ``path`` by
    rename-aside: the live directory is never deleted before the
    replacement is in place, so a crash at any step leaves a complete
    copy on disk (possibly at ``<path>.old``) and a loud error. Both
    renames are checked, since Hadoop reports most failures by
    returning false; a failed install rolls the old copy back.

    MAINTENANCE-WINDOW CONTRACT: between the two renames nothing is at
    ``path``, so a concurrent reader may fail loudly mid-swap; run
    swaps (index reindex/fold, registry compaction) in a maintenance
    window, not under live readers. ``what`` names the directory in
    the errors."""
    old = path.rstrip("/") + ".old"
    delete(spark, old)  # stale debris from a prior crash
    if not rename(spark, path, old):
        raise IOError(f"failed to move live {what} {path} aside; "
                      f"replacement left at {tmp}, live {what} intact")
    if not rename(spark, tmp, path):
        restored = rename(spark, old, path)
        raise IOError(f"failed to install the new {what} at {path}; old "
                      f"{what} {'restored' if restored else f'left at {old}'}")
    delete(spark, old)


def count_files(spark: SparkSession, path: str, suffix: str = "") -> int:
    """Recursive file count, optionally filtered by name suffix."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return 0
    it = fs.listFiles(jpath, True)
    n = 0
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(suffix):
            n += 1
    return n
