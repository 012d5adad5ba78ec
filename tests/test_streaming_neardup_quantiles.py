"""Streaming incremental LSH near-dup: cross-batch drops, replay, registry compaction."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from flink_ms_spark.streaming.neardup import StreamingNearDup, band_signatures

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _write_docs(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"part{len(list(path.iterdir()))}.json"
    f.write_text("\n".join(json.dumps(r) for r in rows))


def test_streaming_neardup_drops_cross_batch_duplicates(spark, tmp_path):
    src = tmp_path / "docs_in"
    reg = tmp_path / "registry"
    ckpt = tmp_path / "ckpt_nd"

    base = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about spark partition shuffles here"
    _write_docs(src, [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},          # within-batch dup of 1
        {"doc_id": 3, "text": uniq},
    ])

    # driver-side collect must be an EXPLICIT opt-in (ADVICE r6):
    # running with neither out_dir nor debug_keep raises before the
    # stream starts
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    with pytest.raises(ValueError, match="survivor sink"):
        StreamingNearDup(str(reg)).run(stream, str(ckpt))

    nd = StreamingNearDup(str(reg), debug_keep=True)
    q = nd.run(stream, str(ckpt))
    q.awaitTermination(120)

    kept1 = sorted(r.doc_id for r in nd.kept)
    assert kept1 == [1, 3]  # min-id keeper survives, dup dropped

    # second batch: near-dup of batch-1 content + one new doc
    _write_docs(src, [
        {"doc_id": 10, "text": base},          # dup of registered doc 1
        {"doc_id": 11, "text": "fresh novel text with no earlier overlap at all"},
    ])
    nd.kept.clear()
    q = nd.run(stream, str(ckpt))
    q.awaitTermination(120)
    kept2 = sorted(r.doc_id for r in nd.kept)
    assert kept2 == [11]  # cross-batch dup suppressed by the registry


def test_streaming_neardup_parquet_survivor_sink(spark, tmp_path):
    """With ``out_dir`` set, survivors land in ``out_dir/batch_id=N``
    parquet inside each batch and NEVER cross the driver (``kept``
    stays empty) — survivors are the non-duplicates, i.e. nearly the
    whole stream, so a driver collect is an unbounded memory sink at
    ingest scale. Replaying a batch_id rewrites its own partition
    (idempotent, like the registry write)."""
    src = tmp_path / "docs_in_sink"
    reg = tmp_path / "registry_sink"
    out = tmp_path / "survivors"
    ckpt = tmp_path / "ckpt_sink"

    base = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about spark partition shuffles here"
    _write_docs(src, [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},          # within-batch dup of 1
        {"doc_id": 3, "text": uniq},
    ])

    nd = StreamingNearDup(str(reg), out_dir=str(out))
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    nd.run(stream, str(ckpt)).awaitTermination(120)

    assert nd.kept == []  # no driver-side accumulation
    batch0 = out / "batch_id=0"
    assert batch0.is_dir()
    got0 = sorted(r.doc_id for r in spark.read.parquet(str(batch0)).collect())
    assert got0 == [1, 3]

    # second micro-batch appends its own partition; registry suppresses
    # the cross-batch dup
    _write_docs(src, [
        {"doc_id": 10, "text": base},          # dup of registered doc 1
        {"doc_id": 11, "text": "fresh novel text with no earlier overlap at all"},
    ])
    nd.run(stream, str(ckpt)).awaitTermination(120)
    assert nd.kept == []
    all_ids = sorted(r.doc_id for r in spark.read.parquet(str(out)).collect())
    assert all_ids == [1, 3, 11]

    # replay batch 0 (foreachBatch redelivery after a failure): the
    # partition is REWRITTEN, not appended — corpus stays [1, 3, 11]
    replay = spark.createDataFrame(
        [(1, base), (2, base), (3, uniq)], DOC_SCHEMA
    )
    nd._sink(replay, batch_id=0)
    assert nd.kept == []
    after = sorted(r.doc_id for r in spark.read.parquet(str(out)).collect())
    assert after == [1, 3, 11]

    # opt-in debug collect still works for small/test jobs
    nd_dbg = StreamingNearDup(
        str(tmp_path / "reg_dbg"), out_dir=str(tmp_path / "out_dbg"),
        debug_keep=True,
    )
    nd_dbg._sink(replay, batch_id=0)
    assert sorted(r.doc_id for r in nd_dbg.kept) == [1, 3]


def test_streaming_neardup_batch_replay_is_idempotent(spark, tmp_path):
    reg = tmp_path / "registry2"
    nd = StreamingNearDup(str(reg))
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")], DOC_SCHEMA
    )
    first = {r.doc_id for r in nd.process_batch(docs, batch_id=0).collect()}
    # replay of the SAME batch id must not self-collide with its own
    # registry rows (exactly-once under foreachBatch replay)
    again = {r.doc_id for r in nd.process_batch(docs, batch_id=0).collect()}
    assert first == again == {1}


def test_within_batch_collision_chain_uses_cc_min_id(spark, tmp_path, monkeypatch):
    """Chain A<D<E with D~E and E~A (but no D~A bucket): connected-
    component min-id keeps only A. A per-bucket-keeper rule would also
    keep D — the round-2 advisory divergence."""
    import flink_ms_spark.streaming.neardup as nd_mod

    crafted = spark.createDataFrame(
        [(1, 0, "sigX"), (5, 0, "sigX"),   # E=5 collides with A=1
         (3, 1, "sigY"), (5, 1, "sigY")],  # D=3 collides with E only
        "doc_id LONG, band INT, band_sig STRING",
    )
    monkeypatch.setattr(nd_mod, "band_signatures", lambda df, **kw: crafted)
    nd = nd_mod.StreamingNearDup(str(tmp_path / "reg_chain"))
    docs = spark.createDataFrame([(1, "a"), (3, "d"), (5, "e")], DOC_SCHEMA)
    kept = {r.doc_id for r in nd.process_batch(docs, 0).collect()}
    assert kept == {1}


def test_registry_compaction_preserves_decisions(spark, tmp_path):
    from flink_ms_spark.streaming.neardup import StreamingNearDup, compact_registry

    reg = str(tmp_path / "reg_c")
    nd = StreamingNearDup(reg)
    base = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about spark partition shuffles here"
    # duplicate-heavy batches: every batch re-offers the base text
    nd.process_batch(
        spark.createDataFrame([(1, base), (2, uniq)], DOC_SCHEMA), 0
    ).collect()
    for b in range(1, 4):
        nd.process_batch(
            spark.createDataFrame(
                [(10 * b, base), (10 * b + 1, f"novel text number {b} " * 5)],
                DOC_SCHEMA,
            ),
            b,
        ).collect()

    before = spark.read.parquet(reg).count()
    stats = compact_registry(spark, reg, target_files=1)
    # rows are already one-per-registered-band (survivor buckets are
    # disjoint by construction); the growth hazard is the per-batch
    # partition layout, which must collapse
    assert stats["rows_before"] == before == stats["rows_after"]
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] == 1

    # decisions identical after compaction: a REPLAY of batch 1 keeps
    # exactly its original survivor (its own rows do not self-collide),
    # and a new batch still drops dups of registered content
    replay = {
        r.doc_id
        for r in nd.process_batch(
            spark.createDataFrame(
                [(10, base), (11, "novel text number 1 " * 5)], DOC_SCHEMA
            ),
            1,
        ).collect()
    }
    assert replay == {11}
    kept = {
        r.doc_id
        for r in nd.process_batch(
            spark.createDataFrame(
                [(100, base), (101, "entirely fresh closing content here")],
                DOC_SCHEMA,
            ),
            99,
        ).collect()
    }
    assert kept == {101}


def test_band_signatures_match_batch_minhash_math(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")],
        DOC_SCHEMA,
    )
    b = band_signatures(docs).collect()
    by_doc = {}
    for r in b:
        by_doc.setdefault(r.doc_id, {})[r.band] = r.band_sig
    assert by_doc[1] == by_doc[2]  # identical text ⇒ identical bands
    assert by_doc[1] != by_doc[3]


def test_compact_registry_failed_swap_keeps_or_restores_registry(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: Hadoop rename reports failure by returning false; a
    failed swap must abort loudly with the registry still present —
    never silently leave NO registry (which would re-admit every
    previously-dropped duplicate)."""
    import pytest

    from flink_ms_spark import fsutil
    from flink_ms_spark.streaming import neardup as nd_mod

    reg = str(tmp_path / "reg_swap")
    nd = nd_mod.StreamingNearDup(reg)
    nd.process_batch(
        spark.createDataFrame([(1, "alpha beta gamma " * 4)], DOC_SCHEMA), 0
    ).collect()
    rows_before = spark.read.parquet(reg).count()
    real_rename = fsutil.rename

    # failure on the FIRST rename (live -> .old): registry untouched
    monkeypatch.setattr(fsutil, "rename", lambda s, a, b: False)
    with pytest.raises(IOError, match="aside"):
        nd_mod.compact_registry(spark, reg, target_files=1)
    assert spark.read.parquet(reg).count() == rows_before

    # failure on the SECOND rename (tmp -> live): old registry restored
    calls = {"n": 0}

    def fail_second(s, a, b):
        calls["n"] += 1
        return real_rename(s, a, b) if calls["n"] != 2 else False

    monkeypatch.setattr(fsutil, "rename", fail_second)
    with pytest.raises(IOError, match="restored"):
        nd_mod.compact_registry(spark, reg, target_files=1)
    assert spark.read.parquet(reg).count() == rows_before

    # and with renames healthy again the compaction still succeeds
    monkeypatch.setattr(fsutil, "rename", real_rename)
    stats = nd_mod.compact_registry(spark, reg, target_files=1)
    assert stats["rows_after"] == rows_before
