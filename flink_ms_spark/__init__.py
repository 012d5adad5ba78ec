"""flink_ms_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference system mmziyad/flink-ms
(batch ALS/SVM model training, streaming model serving with point lookups,
online SGD, MSE evaluation), re-expressed Spark-first, plus the
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) that make the engine useful at 100 TB.

Architecture stance (see SURVEY.md §7):

- Everything is DataFrame-in / DataFrame-out; plans are declared with the
  DataFrame / Spark SQL API so Catalyst handles pushdown, pruning, join
  selection and whole-stage codegen.
- The reference's queryable-state KV "model table" becomes a ModelStore:
  a latest-per-key DataFrame view (join-able, broadcast-able) paired with
  a driver-side dict for sub-millisecond point lookups.
- The reference's per-record state RPCs (SGD enrichment, MSE scoring)
  become stream-static / batch joins — the hash join probes each key once
  from a built table, which is exactly the memoization the reference
  hand-rolls (reference MSE.java:47-49).
- Python UDFs are avoided in hot paths; where Python is unavoidable
  (multimodal decode) we use Arrow-batched pandas iterators.
"""

__version__ = "0.1.0"

from flink_ms_spark.session import get_spark  # noqa: F401

# Lazy public surface: keep `import flink_ms_spark` cheap (no pyspark.ml
# import chain) while exposing the operator toolkit at the top level.
_EXPORTS = {
    # training / models
    "train_als": "flink_ms_spark.ml.als",
    "als_model_table": "flink_ms_spark.ml.als",
    "train_svm": "flink_ms_spark.ml.svm",
    "svm_model_table": "flink_ms_spark.ml.svm",
    "svm_model_ranged": "flink_ms_spark.ml.svm",
    "generate_als_model": "flink_ms_spark.ml.generators",
    "generate_svm_model": "flink_ms_spark.ml.generators",
    # serving / prediction / evaluation
    "ModelStore": "flink_ms_spark.serving.store",
    "latest_per_key": "flink_ms_spark.serving.store",
    "predict_als_batch": "flink_ms_spark.operators.predict",
    "predict_svm_batch": "flink_ms_spark.operators.predict",
    "mse": "flink_ms_spark.operators.evaluate",
    "sgd_step": "flink_ms_spark.operators.sgd",
    # training-data pipeline
    "exact_dedup_groups": "flink_ms_spark.operators.dedup",
    "minhash_signatures": "flink_ms_spark.operators.dedup",
    "lsh_candidate_pairs": "flink_ms_spark.operators.dedup",
    "ngram_jaccard": "flink_ms_spark.operators.dedup",
    "simhash": "flink_ms_spark.operators.dedup",
    "cosine_topk": "flink_ms_spark.operators.similarity",
    "ivf_topk": "flink_ms_spark.operators.similarity",
    "ivf_kmeans_topk": "flink_ms_spark.operators.similarity",
    "train_ivf_codebook": "flink_ms_spark.operators.similarity",
    "embedding_neardup": "flink_ms_spark.operators.similarity",
    "hyperplane_neardup": "flink_ms_spark.operators.similarity",
    "pairwise_cos_within": "flink_ms_spark.operators.similarity",
    "train_pq_codebooks": "flink_ms_spark.operators.similarity",
    "pq_encode": "flink_ms_spark.operators.similarity",
    "pq_topk": "flink_ms_spark.operators.similarity",
    "connected_components_bipartite": "flink_ms_spark.operators.cluster",
    "canonical_per_component": "flink_ms_spark.operators.cluster",
    "asof_join_backward": "flink_ms_spark.operators.asof",
    "banded_range_join": "flink_ms_spark.operators.rangejoin",
    "quality_columns": "flink_ms_spark.operators.text",
    "predict_lang": "flink_ms_spark.operators.text",
    "scrub_pii": "flink_ms_spark.operators.text",
    "decode_image_meta": "flink_ms_spark.operators.multimodal",
    "extract_features": "flink_ms_spark.operators.multimodal",
    "synthesize_wav_media": "flink_ms_spark.operators.multimodal",
    "audio_stats": "flink_ms_spark.operators.multimodal",
    "histogram_image_decoder": "flink_ms_spark.operators.multimodal",
    "spectral_features": "flink_ms_spark.operators.multimodal",
    "pixel_stats": "flink_ms_spark.operators.multimodal",
    "drop_duplicated_lines": "flink_ms_spark.operators.text",
    # ANN index lifecycle
    "INDEX_KINDS": "flink_ms_spark.operators.similarity",
    "build_index": "flink_ms_spark.operators.similarity",
    "load_index": "flink_ms_spark.operators.similarity",
    "load_artifact": "flink_ms_spark.operators.similarity",
    "served_view": "flink_ms_spark.operators.similarity",
    "reindex": "flink_ms_spark.operators.similarity",
    "fold_ann_increments": "flink_ms_spark.operators.similarity",
    "pq_index_topk": "flink_ms_spark.operators.similarity",
    "pq_topk_codes": "flink_ms_spark.operators.similarity",
    "ivf_assignment_stats": "flink_ms_spark.operators.similarity",
    "ivf_cell_stats": "flink_ms_spark.operators.similarity",
    "ivf_query_topk": "flink_ms_spark.operators.similarity",
    "ivfpq_query_topk": "flink_ms_spark.operators.similarity",
    "ivf_members_topk": "flink_ms_spark.operators.similarity",
    "assign_members": "flink_ms_spark.operators.similarity",
    "pq_subspace_error": "flink_ms_spark.operators.similarity",
    "read_index_manifest": "flink_ms_spark.operators.similarity",
    "StreamingAnnIngest": "flink_ms_spark.streaming.ann_ingest",
    # physical layout
    "fan_out": "flink_ms_spark.partitioning",
    "write_bucketed": "flink_ms_spark.partitioning",
    "salted_join": "flink_ms_spark.partitioning",
    "zorder_write": "flink_ms_spark.partitioning",
    # correctness harness
    "compare": "flink_ms_spark.oracle",
}

__all__ = ["get_spark", *sorted(_EXPORTS)]


def __getattr__(name: str):
    if name in _EXPORTS:
        import importlib

        return getattr(importlib.import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
