"""Spilled-store generation lifecycle — retention GC, snapshot pinning,
restart recovery, and the loud-failure guards (VERDICT r8 task 4 +
ADVICE r8/r9 items on serving/store.py).

Reference parity context: the reference's queryable state lives in
Flink's state backend with checkpoint-owned retention
(QueryClientHelper.java:104-139 reads it; Flink GCs old checkpoints).
Our manifest generations are the analogous persisted state, so they
need the analogous retention story: the live manifest + held snapshots
pin leaf directories, everything else is deleted.

Round-10 layout (VERDICT r9 task 5): a generation is a ``gen-N.json``
manifest mapping each crc32 bucket to an immutable leaf directory
``data-G/spill_bucket=B``; an upsert rewrites ONLY touched buckets'
leaves and the new manifest shares every untouched leaf with its
predecessor — per-batch write cost is O(touched), never O(|store|).
"""

from __future__ import annotations

import json
import os

import pytest

from flink_ms_spark.serving.store import ModelStore


def _manifests(root: str) -> list[str]:
    return sorted(
        f for f in os.listdir(root) if f.startswith("gen-") and f.endswith(".json")
    )


def _leaves(root: str) -> set[str]:
    """Every data-G/spill_bucket=B leaf dir on disk, root-relative."""
    out = set()
    for d in os.listdir(root):
        if d.startswith("data-") and os.path.isdir(os.path.join(root, d)):
            for leaf in os.listdir(os.path.join(root, d)):
                if leaf.startswith("spill_bucket="):
                    out.add(f"{d}/{leaf}")
    return out


def _leaf_stats(root: str) -> dict[str, tuple]:
    """(inode, mtime_ns, size) of every parquet file under every leaf —
    byte-identity evidence for the sharing tests."""
    stats = {}
    for rel in _leaves(root):
        for f in os.listdir(os.path.join(root, rel)):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, rel, f))
                stats[f"{rel}/{f}"] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return stats


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "key string, x double")


def test_partial_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """THE scale property of the round-10 redesign: a spilled upsert
    whose keys land in one bucket writes exactly one new leaf, and
    every other bucket's parquet files stay byte-identical (same
    inode/mtime/size — never rewritten, just re-referenced by the new
    manifest)."""
    root = str(tmp_path / "spill")
    store = ModelStore(spark, "PARTIAL", max_dict_keys=1, spill_buckets=8, spill_dir=root)
    seed = [(f"k{i}", float(i)) for i in range(64)]
    store.upsert_batch(_mk_batch(spark, seed))
    assert store._spilled
    before = _leaf_stats(root)
    touched_bucket = store._bucket_of("k7")
    untouched_before = {
        p: s for p, s in before.items()
        if f"spill_bucket={touched_bucket}" not in p
    }
    assert untouched_before  # the seed populated other buckets

    store.upsert_batch(_mk_batch(spark, [("k7", 700.0)]))

    after = _leaf_stats(root)
    untouched_after = {
        p: s for p, s in after.items()
        if f"spill_bucket={touched_bucket}" not in p
    }
    # untouched buckets: exact same files, byte-identical, not rewritten
    assert untouched_after == untouched_before
    # exactly ONE new leaf exists (the touched bucket's), in a new data dir
    new_files = set(after) - set(before)
    assert len({p.rsplit("/", 1)[0] for p in new_files}) == 1
    assert all(f"spill_bucket={touched_bucket}" in p for p in new_files)
    # semantics intact: the touched key updated, its bucket-mates and
    # every other bucket's keys preserved
    assert store.lookup("k7").x == 700.0
    for i in (0, 1, 13, 63):
        if i != 7:
            assert store.lookup(f"k{i}").x == float(i)
    assert len(store) == 64


def test_generation_gc_bounds_disk_with_no_snapshots(spark, tmp_path):
    """N post-spill upserts with zero snapshots held leave exactly the
    live manifest's leaves on disk and ONE manifest file (the leak was
    O(view_size × n_upserts); superseded leaves must not accumulate
    either)."""
    root = str(tmp_path / "spill")
    store = ModelStore(spark, "GC", max_dict_keys=1, spill_buckets=4, spill_dir=root)
    store.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0)]))
    assert store._spilled
    for i in range(4):
        store.upsert_batch(_mk_batch(spark, [("a", float(i)), (f"k{i}", 0.5)]))
    assert _manifests(root) == [f"gen-{store._gen}.json"]
    assert _leaves(root) == set(store._manifest.values())
    assert store.lookup("a").x == 3.0
    assert store.lookup("k3").x == 0.5
    assert store.lookup("nope") is None


def test_snapshot_pins_leaves_and_release_collects_them(spark, tmp_path):
    root = str(tmp_path / "spill")
    store = ModelStore(spark, "PIN", max_dict_keys=1, spill_buckets=4, spill_dir=root)
    store.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0)]))
    v = store.snapshot()
    pinned_map = dict(store._manifest)
    store.upsert_batch(_mk_batch(spark, [("a", 9.0)]))
    # disk holds the union of the pinned and live manifests' leaves —
    # shared (untouched) leaves are the SAME directories, not copies
    assert _leaves(root) == set(pinned_map.values()) | set(store._manifest.values())
    # rollback still green while the snapshot is held
    store.rollback(v)
    assert store.lookup("a").x == 1.0
    # roll forward again by upserting, then release: the superseded
    # leaves go away and only the live manifest's remain
    store.upsert_batch(_mk_batch(spark, [("a", 9.0)]))
    store.release_snapshot(v)
    assert _leaves(root) == set(store._manifest.values())
    assert _manifests(root) == [f"gen-{store._gen}.json"]
    assert store.lookup("a").x == 9.0
    with pytest.raises(KeyError):
        store.release_snapshot(v)


def test_expire_snapshots_drops_all_pins(spark, tmp_path):
    root = str(tmp_path / "spill")
    store = ModelStore(spark, "EXP", max_dict_keys=1, spill_buckets=4, spill_dir=root)
    store.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0)]))
    for i in range(3):
        store.snapshot()
        store.upsert_batch(_mk_batch(spark, [("a", float(i))]))
    # three pinned superseded copies of a's leaf exist alongside the live one
    assert len(_leaves(root)) > len(set(store._manifest.values()))
    store.expire_snapshots()
    assert _leaves(root) == set(store._manifest.values())
    assert store.lookup("a").x == 2.0


def test_restart_recovery_reattaches_and_never_clobbers(spark, tmp_path):
    """ADVICE r8 (medium): a new ModelStore pointed at a used spill_dir
    must resume from the persisted generation, not overwrite it."""
    root = str(tmp_path / "spill")
    first = ModelStore(spark, "REC", max_dict_keys=1, spill_buckets=8, spill_dir=root)
    first.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)]))
    assert first._spilled
    old_gen = first._gen
    del first

    # constructor passes a DIFFERENT bucket count: the manifest's
    # metadata wins, so bucket pruning still matches the written layout
    second = ModelStore(spark, "REC", spill_buckets=2, spill_dir=root)
    assert second._spilled
    assert second.spill_buckets == 8
    assert second.lookup("b").x == 2.0
    assert second.lookup("zz") is None
    assert sorted(second.keys()) == ["a", "b", "c"]
    # a post-recovery upsert writes a NEW generation past the old one
    second.upsert_batch(_mk_batch(spark, [("b", 20.0)]))
    assert second._gen > old_gen
    assert second.lookup("b").x == 20.0
    assert second.lookup("a").x == 1.0


def test_recovery_on_fresh_dir_is_a_normal_empty_store(spark, tmp_path):
    root = str(tmp_path / "fresh")
    os.makedirs(root)
    store = ModelStore(spark, "FRESH", max_dict_keys=10, spill_dir=root)
    assert not store._spilled and len(store) == 0
    store.upsert_batch(_mk_batch(spark, [("a", 1.0)]))
    assert store.lookup("a").x == 1.0


def test_reserved_column_rejected_before_any_mutation(spark):
    """ADVICE r8: the spill_bucket reserved-name guard fires on the
    FIRST offending batch, before state mutates — not at spill time."""
    store = ModelStore(spark, "GUARD", max_dict_keys=100)
    store.upsert_batch(_mk_batch(spark, [("a", 1.0)]))
    bad = spark.createDataFrame([("b", 2.0, 0)], "key string, x double, spill_bucket int")
    with pytest.raises(ValueError, match="spill_bucket"):
        store.upsert_batch(bad)
    # nothing mutated: the offending batch left no trace
    assert len(store) == 1 and store.lookup("b") is None


def test_duplicate_key_leaf_fails_loud(spark, tmp_path):
    """ADVICE r8: an externally-written leaf with duplicate keys must
    raise on lookup, not silently serve an arbitrary row."""
    root = str(tmp_path / "spill")
    data = os.path.join(root, "data-1")
    from pyspark.sql import functions as F

    dup = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "key string, x double"
    ).withColumn(
        "spill_bucket",
        F.pmod(F.crc32(F.encode(F.col("key"), "UTF-8")), F.lit(4)).cast("int"),
    )
    dup.repartition(1).write.partitionBy("spill_bucket").parquet(data)
    leaves = {
        d.split("=")[1]: f"data-1/{d}"
        for d in os.listdir(data)
        if d.startswith("spill_bucket=")
    }
    with open(os.path.join(root, "gen-1.json"), "w") as fh:
        json.dump({"buckets": 4, "cols": ["key", "x"], "map": leaves}, fh)

    store = ModelStore(spark, "DUP", spill_dir=root)
    assert store._spilled
    assert store.lookup("b").x == 3.0  # unique keys still serve
    with pytest.raises(ValueError, match="expected exactly 1"):
        store.lookup("a")


def test_streaming_loop_snapshot_validate_release_bounds_disk(spark, tmp_path):
    """The operational serving loop the GC enables, end-to-end through
    the STREAMING loader (K4/X1): each incremental model drop is
    upserted via stream_model_into_store, snapshotted, validated by
    point lookup, and released — disk stays at live + held-pin leaves
    across the whole run, and a deliberately-held snapshot still rolls
    back."""
    from flink_ms_spark.streaming.loader import stream_model_into_store

    src = tmp_path / "model_in"
    src.mkdir()
    root = str(tmp_path / "spill")
    store = ModelStore(
        spark, "ALS_MODEL", max_dict_keys=1, spill_buckets=4, spill_dir=root
    )

    def drop(fname: str, lines: list[str]) -> None:
        (src / fname).write_text("\n".join(lines) + "\n")
        q = stream_model_into_store(
            spark, str(src), store, str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(120)

    drop("a.txt", ["1,U,1.0;2.0", "2,U,3.0;4.0"])  # spills (2 > cap 1)
    assert store._spilled
    held = store.snapshot()  # pin the v1 model for rollback
    held_map = dict(store._manifest)
    for i, fname in enumerate(("b.txt", "c.txt", "d.txt")):
        drop(fname, [f"1,U,{i + 10}.0;0.0"])
        v = store.snapshot()
        assert list(store.lookup("1-U").factors) == [float(i + 10), 0.0]
        store.release_snapshot(v)  # validated → un-pin
        # disk = live manifest's leaves + the held pin's — nothing else
        assert _leaves(root) == set(store._manifest.values()) | set(held_map.values())
    store.rollback(held)
    assert list(store.lookup("1-U").factors) == [1.0, 2.0]
    store.release_snapshot(held)


def test_recovery_skips_unmanifested_data_as_debris(spark, tmp_path):
    """ADVICE r9 (medium): the manifest is written AFTER the leaf
    parquet commit, so a crash in that window leaves a data-N dir
    (even a _SUCCESS'd one) no manifest references. Attaching it with
    the constructor's bucket count would silently break bucket-pruned
    lookups — recovery must skip it (newest manifest wins), resume the
    counter past it, and the next write must GC the debris."""
    root = str(tmp_path / "spill")
    first = ModelStore(spark, "REC2", max_dict_keys=1, spill_buckets=8, spill_dir=root)
    first.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0)]))
    live = first._gen
    del first

    # simulated crash between parquet commit and manifest write: a real
    # Spark write (has _SUCCESS) whose gen-N.json never landed
    dead = os.path.join(root, f"data-{live + 1}")
    from pyspark.sql import functions as F

    spark.createDataFrame([("x", 9.0)], "key string, x double").withColumn(
        "spill_bucket", F.lit(0)
    ).write.partitionBy("spill_bucket").parquet(dead)
    assert os.path.exists(os.path.join(dead, "_SUCCESS"))

    second = ModelStore(spark, "REC2", spill_buckets=2, spill_dir=root)
    assert second._spilled
    assert second.spill_buckets == 8  # the manifested generation wins
    assert second._gen == live + 1  # counter resumed past the debris
    assert second.lookup("a").x == 1.0 and second.lookup("x") is None
    second.upsert_batch(_mk_batch(spark, [("c", 3.0)]))
    assert second.lookup("c").x == 3.0
    assert not os.path.exists(dead)  # debris GC'd by the write
    assert _leaves(root) == set(second._manifest.values())


def test_recovery_falls_back_past_torn_manifest(spark, tmp_path):
    """A torn manifest WRITE (unparseable gen-N.json) must not brick
    recovery: the next-newest parseable manifest attaches, and the
    counter still resumes past the torn number so it is never reused."""
    root = str(tmp_path / "spill")
    first = ModelStore(spark, "TORN", max_dict_keys=1, spill_buckets=4, spill_dir=root)
    first.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0)]))
    live = first._gen
    del first
    with open(os.path.join(root, f"gen-{live + 1}.json"), "w") as fh:
        fh.write('{"buckets": 4, "cols": ["k')  # torn mid-write

    second = ModelStore(spark, "TORN", spill_dir=root)
    assert second._spilled and second._gen == live + 1
    assert second.lookup("a").x == 1.0
    second.upsert_batch(_mk_batch(spark, [("a", 5.0)]))
    assert second._gen == live + 2
    assert second.lookup("a").x == 5.0
    assert _manifests(root) == [f"gen-{live + 2}.json"]  # torn file GC'd


def test_lookup_spark_fallback_when_arrow_cannot_read(spark, tmp_path):
    """A leaf pyarrow can't open (e.g. hdfs:// without libhdfs) caches
    a known-bad verdict and every lookup on that leaf serves through
    the leaf-scoped Spark filter with identical rows."""
    root = str(tmp_path / "spill")
    # hot_cache_keys=0: the LRU tier would otherwise serve these
    # repeat lookups and the fallback path under test would never run
    store = ModelStore(
        spark, "FB", max_dict_keys=1, spill_buckets=4, spill_dir=root,
        hot_cache_keys=0,
    )
    store.upsert_batch(_mk_batch(spark, [("a", 1.0), ("b", 2.0)]))
    assert store._spilled
    via_arrow = store.lookup("a")
    poisoned = {store._leaf_abs(p): False for p in store._manifest.values()}
    store._arrow_cache = dict(poisoned)  # simulate unreadable leaves
    assert store.lookup("a") == via_arrow
    assert store.lookup("b").x == 2.0
    assert store.lookup("zz") is None
    assert store._arrow_cache == poisoned  # no re-probe


def test_arrow_cache_survives_upserts_to_other_buckets(spark, tmp_path):
    """Leaves are immutable, so an untouched bucket's warm pyarrow
    dataset must survive an upsert to a different bucket (the previous
    full-rewrite design invalidated the whole cache every batch)."""
    root = str(tmp_path / "spill")
    store = ModelStore(
        spark, "WARM", max_dict_keys=1, spill_buckets=8, spill_dir=root,
        hot_cache_keys=0,  # exercise the pyarrow tier, not the LRU
    )
    store.upsert_batch(_mk_batch(spark, [(f"k{i}", float(i)) for i in range(32)]))
    assert store._spilled
    probe = next(k for k in ("k0", "k1", "k2") if store._bucket_of(k) != store._bucket_of("k7"))
    assert store.lookup(probe).x == float(probe[1:])
    warm = store._arrow_cache[store._leaf_abs(store._manifest[store._bucket_of(probe)])]
    store.upsert_batch(_mk_batch(spark, [("k7", 700.0)]))
    leaf = store._leaf_abs(store._manifest[store._bucket_of(probe)])
    assert store._arrow_cache.get(leaf) is warm  # same dataset object
    assert store.lookup(probe).x == float(probe[1:])


def test_hot_tier_semantics_and_coherence(spark, tmp_path):
    """The LRU warm tier (VERDICT r9 stretch — the reference's RocksDB
    block-cache hot/cold shape): repeat hits serve from the driver
    dict; an upsert evicts exactly the touched buckets' cached entries
    (hits AND miss sentinels), so a hot key never serves stale and an
    untouched key never pays the leaf read twice; rollback clears."""
    root = str(tmp_path / "spill")
    store = ModelStore(
        spark, "HOT", max_dict_keys=1, spill_buckets=8, spill_dir=root,
        hot_cache_keys=3,
    )
    store.upsert_batch(_mk_batch(spark, [(f"k{i}", float(i)) for i in range(32)]))
    assert store._spilled

    # a miss is cached as a sentinel...
    assert store.lookup("ghost") is None
    assert "ghost" in store._hot and store._hot["ghost"] is None
    # ...and a hit is cached as its row
    assert store.lookup("k7").x == 7.0
    assert store._hot["k7"].x == 7.0

    # upsert k7's bucket + make "ghost" real in ITS bucket: both
    # cached entries must be evicted and re-read correctly
    v = store.snapshot()
    store.upsert_batch(_mk_batch(spark, [("k7", 700.0), ("ghost", 1.0)]))
    assert store.lookup("k7").x == 700.0
    assert store.lookup("ghost").x == 1.0  # miss sentinel evicted

    # an entry in an untouched bucket survives the upsert warm
    probe = next(
        k for k in (f"k{i}" for i in range(32))
        if store._bucket_of(k) not in {store._bucket_of("k7"), store._bucket_of("ghost")}
    )
    store.lookup(probe)
    cached = store._hot[probe]
    store.upsert_batch(_mk_batch(spark, [("k7", 701.0)]))
    assert store._hot.get(probe) is cached  # same object — never re-read

    # LRU cap: never more than hot_cache_keys entries
    for k in ("k1", "k2", "k3", "k5"):
        store.lookup(k)
    assert len(store._hot) <= 3

    # rollback discards the cache wholesale (rows belong to new state)
    store.rollback(v)
    assert not store._hot
    assert store.lookup("k7").x == 7.0 and store.lookup("ghost") is None
    store.release_snapshot(v)


def test_hot_tier_lookups_interleaved_with_upserts(spark, tmp_path, monkeypatch):
    """The serving loop looks keys up while the stream's upsert rewrites
    buckets. Two interleavings, made deterministic by wrapping the
    store's own methods: (1) a lookup inside the upsert's hot-tier
    eviction (through ``_bucket_of``, which the eviction calls per
    cached key) inserts a key and LRU-pops the oldest — the upsert must
    complete; (2) an upsert while a lookup reads its leaf — the lookup
    may answer with the row it read, but must not cache it."""
    store = ModelStore(
        spark, "RACE", max_dict_keys=1, spill_buckets=8,
        spill_dir=str(tmp_path / "spill"), hot_cache_keys=3,
    )
    store.upsert_batch(_mk_batch(spark, [(f"k{i}", float(i)) for i in range(32)]))
    for k in ("k0", "k1", "k2"):  # k0 is the LRU entry
        store.lookup(k)

    bucket_of = store._bucket_of
    armed = [True]

    def lookup_inside_eviction(key):
        if armed[0]:
            armed[0] = False
            store.lookup("k3")  # inserts k3, pops k0
        return bucket_of(key)

    monkeypatch.setattr(store, "_bucket_of", lookup_inside_eviction)
    store.upsert_batch(_mk_batch(spark, [("k0", 100.0)]))
    assert not armed[0]  # the interleaving happened
    assert store.lookup("k0").x == 100.0

    read_leaf = store._read_leaf

    def upsert_during_read(rel, keys):
        rows = read_leaf(rel, keys)  # the row before the upsert
        monkeypatch.setattr(store, "_read_leaf", read_leaf)
        store.upsert_batch(_mk_batch(spark, [("k5", 500.0)]))
        return rows

    monkeypatch.setattr(store, "_read_leaf", upsert_during_read)
    assert store.lookup("k5").x == 5.0  # answered with what it read
    assert store.lookup("k5").x == 500.0  # not served stale from the cache


def test_hot_tier_stress_lookups_during_upserts(spark, tmp_path):
    """Lookups on one thread (as the serving loop runs them) while
    upserts rewrite buckets on another, with a very short thread switch
    interval: no lookup raises, and afterwards every key serves its
    latest value (a stale row left in the hot tier would show here)."""
    import sys
    import threading

    keys = [f"k{i}" for i in range(40)]
    store = ModelStore(
        spark, "STRESS", max_dict_keys=1, spill_buckets=8,
        spill_dir=str(tmp_path / "spill"), hot_cache_keys=16,
    )
    store.upsert_batch(_mk_batch(spark, [(k, 0.0) for k in keys]))
    errors: list[BaseException] = []
    done = threading.Event()

    def reader():
        try:
            while not done.is_set():
                for k in keys:
                    store.lookup(k)
        except BaseException as exc:  # reported by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for v in (1.0, 2.0, 3.0):
            store.upsert_batch(_mk_batch(spark, [(k, v) for k in keys[::2]]))
    finally:
        done.set()
        t.join(timeout=30)
        sys.setswitchinterval(interval)
    assert not t.is_alive()
    assert not errors, errors
    for n, k in enumerate(keys):
        assert store.lookup(k).x == (3.0 if n % 2 == 0 else 0.0), k
