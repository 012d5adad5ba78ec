"""Canonical schemas (SURVEY.md §1.3, FIXTURES.md).

The reference never declares schemas — they are implicit in ``split(...)``
parsing code. We declare them once, explicitly, so every source/sink and
operator agrees. String encodings (``id,U,f1;f2;...``) exist only at the
file/Kafka boundary (see functions/codecs.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ratings: userId<sep>itemId<sep>rating (reference ALSImpl.scala:22-32,
# SGD.java:104-109, MSE.java:40-44)
RATING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.IntegerType(), False),
        T.StructField("item_id", T.IntegerType(), False),
        T.StructField("rating", T.DoubleType(), False),
    ]
)

# als_model: id,{U|I},f1;f2;...;fk (reference ALSImpl.scala:83-85);
# state key "{id}-{U|I}" (ALSKafkaConsumer.java:79). `id` stays a string
# because the MEAN rows use the literal id "MEAN" (ALSMeanVector.scala:35).
ALS_MODEL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # 'U' | 'I'
        T.StructField("factors", T.ArrayType(T.DoubleType(), False), False),
    ]
)

# svm_model flat: featureId,weight — 1-indexed (reference SVMImpl.scala:33-35)
SVM_MODEL_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.IntegerType(), False),
        T.StructField("weight", T.DoubleType(), False),
    ]
)

# svm_model ranged: bucket,id:w;id:w;... with bucket = feature_id / range
# (int division; reference SVMImpl.scala:40-44,63-71)
SVM_MODEL_RANGED_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("entries", T.MapType(T.IntegerType(), T.DoubleType()), False),
    ]
)

# serving-store record: key -> latest payload (reference queryable state,
# ALSKafkaConsumer.java:85-92)
KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), False),
    ]
)

# JSONL document corpus, one object per line; the streaming ingest lanes
# (cli dedup-ingest, chunk-ingest) read it with this pinned schema, since
# inference scans the input twice and types drift between shards.
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# Driver-generated fixture tables (/root/testdata/<sf>/<name>.parquet).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
