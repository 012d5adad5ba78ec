"""Streaming ANN index maintenance: frozen-codebook encode of new
embedding batches, idempotent increment partitions, recency-wins id
resolution, and serving through the merged code view."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _write_jsonl(path, rows):
    import json

    path.mkdir(parents=True, exist_ok=True)
    with open(path / "part.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_ann_ingest_end_to_end(spark, tmp_path):
    from flink_ms_spark.operators.similarity import (
        build_index,
        pq_topk_codes,
        served_view,
    )
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(11)
    base_vecs = rng.normal(size=(30, 8))
    idx = str(tmp_path / "idx")
    base_df = spark.createDataFrame(
        [(i, [float(x) for x in base_vecs[i]]) for i in range(30)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    build_index(base_df, idx, kind="pq", n_subspaces=4, n_codes=8)

    # stream: 20 new vectors plus a RE-SENT id 5 with a new embedding
    new_vecs = rng.normal(size=(20, 8))
    resent_5 = rng.normal(size=8)
    rows = [
        {"vec_id": 100 + i, "embedding": [float(x) for x in new_vecs[i]]}
        for i in range(20)
    ] + [{"vec_id": 5, "embedding": [float(x) for x in resent_5]}]
    src = tmp_path / "stream_src"
    _write_jsonl(src, rows)

    ingest = StreamingAnnIngest(spark, idx)
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).json(str(src))
    ingest.run(stream, str(tmp_path / "ckpt")).awaitTermination()

    merged = served_view(spark, idx, "codes")
    assert merged.count() == 50  # 30 base + 20 new; id 5 superseded, not duped
    assert merged.where(F.col("vec_id") == 5).count() == 1

    # recency wins: id 5's served code equals the encode of the NEW vector
    from flink_ms_spark.operators.similarity import pq_encode

    want = pq_encode(
        spark.createDataFrame(
            [(5, [float(x) for x in resent_5])], "vec_id LONG, embedding ARRAY<DOUBLE>"
        ),
        ingest.artifacts["codebooks"],
    ).collect()[0].code
    got = merged.where(F.col("vec_id") == 5).collect()[0].code
    assert list(got) == list(want)

    # serving through the merged view: a streamed vector's own point
    # ranks first for its exact query
    q = spark.createDataFrame(
        [(-1, [float(x) for x in new_vecs[7]])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    top = pq_topk_codes(merged, ingest.artifacts["codebooks"], q, k=3).orderBy("rk").collect()
    assert top[0].b == 107

    # replay idempotence: a fresh checkpoint reprocesses the same files
    # into the same batch_id partition — overwrite, not duplication
    ingest2 = StreamingAnnIngest(spark, idx)
    stream2 = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).json(str(src))
    ingest2.run(stream2, str(tmp_path / "ckpt2")).awaitTermination()
    assert served_view(spark, idx, "codes").count() == 50


def test_within_batch_duplicate_id_lands_one_deterministic_row(spark, tmp_path):
    """A micro-batch carrying the same vec_id twice must land exactly
    ONE code row, identical across a replay (the recency window in
    served_view cannot be left to break an equal-batch_id tie)."""
    from flink_ms_spark.operators.similarity import build_index, served_view
    from flink_ms_spark.streaming.ann_ingest import StreamingAnnIngest

    rng = np.random.default_rng(23)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(16)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    idx = str(tmp_path / "idx")
    build_index(base, idx, kind="pq", n_subspaces=4, n_codes=8)

    dup_batch = spark.createDataFrame(
        [
            (500, [float(x) for x in rng.normal(size=8)]),
            (500, [float(x) for x in rng.normal(size=8)]),
            (501, [float(x) for x in rng.normal(size=8)]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    ingest = StreamingAnnIngest(spark, idx)
    ingest.process_batch(dup_batch, batch_id=0)
    first = {r.vec_id: r.code for r in served_view(spark, idx, "codes").collect()}
    assert list(first).count(500) == 1
    # replay the same batch (same batch_id): byte-identical outcome
    ingest.process_batch(dup_batch, batch_id=0)
    second = {r.vec_id: r.code for r in served_view(spark, idx, "codes").collect()}
    assert first == second
