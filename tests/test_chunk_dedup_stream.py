"""StreamingChunkDedup: cross-batch content rejection, edit
robustness, within-batch copies, and replay idempotence."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _text(n: int, seed: str) -> str:
    out = []
    i = 0
    while len(out) < n:
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        out.extend(chr(ord("a") + int(c, 16) % 26) for c in h)
        i += 1
    return "".join(out[:n])


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_stream_chunk_dedup_end_to_end(spark, tmp_path):
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)

    a, b = _text(600, "A"), _text(600, "B")
    out1 = sd.process_batch(_docs(spark, [(1, a), (2, b)]), batch_id=0)
    assert _ids(out1) == [1, 2]

    # batch 2: doc 3 is doc A with a small edit (chunk-level dup of the
    # corpus despite no exact match), doc 4 is fresh
    edited_a = a[:40] + "XYZ" + a[40:]
    fresh = _text(600, "D")
    out2 = sd.process_batch(_docs(spark, [(3, edited_a), (4, fresh)]), batch_id=1)
    assert _ids(out2) == [4], "near-copy must be rejected, fresh admitted"

    # replay batch 2 (task retry): identical verdicts, registry stays
    # consistent (doc 4 does not self-collide with its own rows)
    out2r = sd.process_batch(_docs(spark, [(3, edited_a), (4, fresh)]), batch_id=1)
    assert _ids(out2r) == [4]


def test_within_batch_copies_keep_min_id_and_replay_stable(spark, tmp_path):
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)
    x = _text(600, "X")
    batch = _docs(spark, [(10, x), (11, x), (12, _text(600, "Z"))])
    first = sd.process_batch(batch, batch_id=0)
    assert _ids(first) == [10, 12], "copy keeps the smallest doc_id"
    replay = sd.process_batch(batch, batch_id=0)
    assert _ids(replay) == [10, 12], "replay must not flip the verdict"


def test_replay_with_partial_overlap_keeps_verdicts(spark, tmp_path):
    """ADVICE r10 scenario: the ratio rule legally co-admits two docs
    that PARTIALLY share chunks (a 400-char doc fully contained in a
    co-admitted 1000-char doc). A foreachBatch replay must reach the
    same verdicts — without the batch-exclusion rule the small doc
    would see the big doc's first-attempt registry rows as foreign
    owners, flip to 100% dup, and silently vanish from the batch."""
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)
    a = _text(400, "A")
    b = a + _text(600, "Bfresh")  # contains all of A, 40% dup at most
    batch = _docs(spark, [(1, a), (2, b)])
    first = sd.process_batch(batch, batch_id=0)
    assert _ids(first) == [1, 2], "both legally admitted under the ratio rule"
    replay = sd.process_batch(batch, batch_id=0)
    assert _ids(replay) == [1, 2], (
        "replay flipped a verdict: the probe is reading the in-flight "
        "batch's own first-attempt rows"
    )
    # and a LATER batch still rejects a copy of the contained doc
    out2 = sd.process_batch(_docs(spark, [(3, a)]), batch_id=1)
    assert _ids(out2) == []


def test_compaction_decision_invariance(spark, tmp_path):
    """Two identical pipelines, one compacted mid-stream: every later
    admission verdict must be identical, the live tier must be empty
    after compaction, and rows must collapse to <=2 witnesses/hash."""
    from flink_ms_spark import fsutil
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    plain = StreamingChunkDedup(str(tmp_path / "plain"), max_dup_ratio=0.5)
    comp = StreamingChunkDedup(str(tmp_path / "comp"), max_dup_ratio=0.5)

    batches = [
        _docs(spark, [(1, _text(600, "A")), (2, _text(600, "B"))]),
        _docs(spark, [(3, _text(600, "C")), (4, _text(600, "A"))]),
        _docs(spark, [(5, _text(600, "D"))]),
    ]
    for i, b in enumerate(batches):
        assert _ids(plain.process_batch(b, i)) == _ids(comp.process_batch(b, i))

    stats = comp.compact(spark)
    assert stats["rows_after"] <= stats["rows_before"]
    assert fsutil.count_files(spark, comp.registry_dir, ".parquet") == 0, (
        "live tier must be empty after compaction"
    )

    # probe batch mixes: corpus dup (A), edited corpus doc (C+edit),
    # fresh, and a within-batch copy pair
    edited_c = _text(600, "C")[:50] + "QQ" + _text(600, "C")[50:]
    probe = _docs(
        spark,
        [
            (10, _text(600, "A")),
            (11, edited_c),
            (12, _text(600, "F")),
            (13, _text(600, "F")),
        ],
    )
    assert _ids(plain.process_batch(probe, 3)) == _ids(comp.process_batch(probe, 3))

    # two-witness bound: no chunk_hash keeps more than 2 owner rows
    from flink_ms_spark.streaming.chunk_dedup import base_table

    base = base_table(spark, comp.registry_dir)
    worst = (
        base.groupBy("chunk_hash")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]["m"]
    )
    assert worst <= 2


def test_replay_idempotent_after_compaction(spark, tmp_path):
    """A post-compaction batch that replays (task retry before the
    checkpoint commits) must reach identical verdicts — base rows all
    predate it, and its own live rows are batch-excluded."""
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)
    sd.process_batch(_docs(spark, [(1, _text(600, "A"))]), 0)
    sd.process_batch(_docs(spark, [(2, _text(600, "B"))]), 1)
    sd.compact(spark)

    a = _text(400, "N")
    batch = _docs(spark, [(10, a), (11, a + _text(600, "M")), (12, _text(600, "A"))])
    first = sd.process_batch(batch, 2)
    assert _ids(first) == [10, 11], "12 is a corpus dup, 10/11 co-admit"
    replay = sd.process_batch(batch, 2)
    assert _ids(replay) == [10, 11]


def test_probe_join_has_no_exchange_on_registry_side(spark, tmp_path):
    """The compacted base tier is a bucketed-by-chunk_hash table: the
    probe join must scan it bucketed (no Exchange over the corpus
    registry — only the arriving batch shuffles), and the table must
    re-register from the on-disk manifest after a catalog wipe (a
    SparkSession restart loses the in-memory catalog)."""
    from flink_ms_spark.operators.chunking import cdc_chunk_spans
    from flink_ms_spark.streaming.chunk_dedup import (
        StreamingChunkDedup,
        base_table,
    )

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)
    sd.process_batch(
        _docs(spark, [(1, _text(600, "A")), (2, _text(600, "B"))]), 0
    )
    sd.compact(spark)

    # simulate a session restart: drop the catalog entry, re-resolve
    tbl = base_table(spark, sd.registry_dir)
    name = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("chunkreg_")
    ]
    assert name, "compaction must register the bucketed table"
    spark.sql(f"DROP TABLE {name[0]}")
    tbl = base_table(spark, sd.registry_dir)
    assert tbl.count() > 0, "manifest must re-register the table"

    spans = cdc_chunk_spans(_docs(spark, [(9, _text(600, "A"))]))
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        flags = sd.probe(spans, batch_id=1)
        plan = flags._jdf.queryExecution().executedPlan().toString()
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan[:3000]
    # exactly two exchanges: the batch side of the join + the final
    # per-chunk aggregation; a third would mean the registry shuffled
    assert plan.count("Exchange") == 2, plan[:3000]


def test_streaming_run_writes_partitioned_survivors(spark, tmp_path):
    import json

    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": _text(600, "A")},
        {"doc_id": 2, "text": _text(600, "A")},  # in-batch copy of 1
    ]
    with open(src / "b.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = str(tmp_path / "out")
    sd = StreamingChunkDedup(str(tmp_path / "reg"), out_dir=out)
    stream = spark.readStream.schema("doc_id LONG, text STRING").json(
        str(src)
    )
    q = sd.run(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    surv = spark.read.parquet(out)
    assert _ids(surv) == [1]


def test_two_witness_rule_is_exact_for_any_prober():
    """The compaction row rule keeps the two smallest distinct owner
    doc_ids per chunk_hash. Property (pure logic, engine-free): for
    EVERY possible probing doc, "∃ owner ≠ prober" answers identically
    over the witness pair and over the full owner set — so compaction
    can never flip an admission verdict, whatever arrives later."""
    from hypothesis import given
    from hypothesis import strategies as st

    @given(
        owners=st.sets(st.integers(0, 20), min_size=1, max_size=12),
        prober=st.integers(0, 20),
    )
    def check(owners, prober):
        witnesses = sorted(owners)[:2]
        assert any(o != prober for o in owners) == any(
            o != prober for o in witnesses
        )

    check()


def test_zero_chunk_docs_are_admitted_not_dropped(spark, tmp_path):
    """A doc with empty or null text produces no chunk spans — it is
    0% duplicated by definition and must survive the gate (review
    r11: the span-derived verdict alone would silently drop it)."""
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)
    batch = _docs(spark, [(1, _text(600, "A")), (2, ""), (3, None)])
    out = sd.process_batch(batch, 0)
    assert _ids(out) == [1, 2, 3]
    # chunkless docs register nothing; a later real dup still rejects
    out2 = sd.process_batch(_docs(spark, [(4, _text(600, "A")), (5, "")]), 1)
    assert _ids(out2) == [5]


def test_compaction_gc_reclaims_crash_orphaned_generations(spark, tmp_path):
    """A crash between the manifest flip and cleanup leaves the prior
    generation dir (and its catalog entry) orphaned; the NEXT
    compaction must reclaim every generation the manifest does not
    name, not just its direct predecessor — also when no batch arrived
    since, so the live tier is empty and the base alone is refolded."""
    from flink_ms_spark import fsutil
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"), max_dup_ratio=0.5)
    sd.process_batch(_docs(spark, [(1, _text(600, "A"))]), 0)
    sd.compact(spark)  # gen=0

    # simulate the g0→g1 crash debris: g0's dir survives a manifest
    # that now points at g1 (copy the real layout to fake the orphan)
    base = sd.registry_dir + "_base"
    orphan = fsutil.join(base, "gen=99")
    spark.read.parquet(fsutil.join(base, "gen=0")).write.parquet(orphan)
    assert fsutil.exists(spark, orphan)

    # no new batch: the live tier is empty, the refold runs off the
    # base manifest alone and sweeps gen=0 AND gen=99
    assert fsutil.count_files(spark, sd.registry_dir, ".parquet") == 0
    assert sd.compact(spark)["generation"] == 1
    names = set(fsutil.list_names(spark, base, dirs_only=True))
    assert names == {"gen=1"}, names

    spark.read.parquet(fsutil.join(base, "gen=1")).write.parquet(orphan)
    sd.process_batch(_docs(spark, [(2, _text(600, "B"))]), 1)
    sd.compact(spark)  # writes gen=2, must sweep gen=1 AND gen=99
    names = set(fsutil.list_names(spark, base, dirs_only=True))
    assert names == {"gen=2"}, names
    tables = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("chunkreg_")]
    assert all(t.endswith("_g2") or not t.startswith(
        "chunkreg_" + __import__("hashlib").md5(
            sd.registry_dir.encode()).hexdigest()[:10]) for t in tables)


def test_live_tail_growth_guard_warns_past_threshold(spark, tmp_path, caplog):
    """The probe's cost model assumes compaction keeps the live tail
    broadcast-small; an operator who never compacts regrows the
    pre-two-tier straggler SILENTLY (verdicts stay correct, every
    batch just gets slower). Past tail_warn_batches live partitions
    the probe must say so loudly — and compaction clears the state
    that triggered it."""
    import logging

    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(
        str(tmp_path / "reg"), max_dup_ratio=0.5, tail_warn_batches=2
    )
    logger = "flink_ms_spark.streaming.chunk_dedup"
    with caplog.at_level(logging.WARNING, logger=logger):
        for i in range(3):  # tail seen by probe: 0, 1, 2 dirs — under/at bar
            sd.process_batch(_docs(spark, [(i, _text(600, f"T{i}"))]), i)
        assert not [r for r in caplog.records if "live tail" in r.message]
        sd.process_batch(_docs(spark, [(9, _text(600, "T9"))]), 3)  # sees 3 > 2
        warned = [r for r in caplog.records if "live tail" in r.message]
        assert len(warned) == 1 and "3 batch partitions" in warned[0].message

    sd.compact(spark)  # folds the tail away
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=logger):
        sd.process_batch(_docs(spark, [(10, _text(600, "T10"))]), 4)
        assert not [r for r in caplog.records if "live tail" in r.message]


def test_run_requires_sink_before_stream_starts(spark, tmp_path):
    """run() without out_dir must refuse BEFORE the stream starts —
    raising from inside the first batch would mutate the registry and
    only then kill the query."""
    import pytest

    from flink_ms_spark import fsutil
    from flink_ms_spark.streaming.chunk_dedup import StreamingChunkDedup

    sd = StreamingChunkDedup(str(tmp_path / "reg"))
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema("doc_id LONG, text STRING").json(str(src))
    with pytest.raises(ValueError, match="out_dir"):
        sd.run(stream, str(tmp_path / "ckpt"))
    assert not fsutil.exists(spark, str(tmp_path / "ckpt"))


def test_base_table_reattaches_under_quoted_path(spark, tmp_path):
    """Registry paths containing a single quote must survive the
    manifest→CREATE TABLE re-registration round trip."""
    from flink_ms_spark.streaming.chunk_dedup import (
        StreamingChunkDedup,
        base_table,
    )

    qdir = tmp_path / "o'brien"
    qdir.mkdir()
    sd = StreamingChunkDedup(str(qdir / "reg"), max_dup_ratio=0.5)
    sd.process_batch(_docs(spark, [(1, _text(600, "A"))]), 0)
    sd.compact(spark)
    tbl = base_table(spark, sd.registry_dir)
    # force the re-attach path
    import hashlib as _h

    name = f"chunkreg_{_h.md5(sd.registry_dir.encode()).hexdigest()[:10]}_g0"
    spark.sql(f"DROP TABLE {name}")
    tbl = base_table(spark, sd.registry_dir)
    assert tbl.count() > 0
