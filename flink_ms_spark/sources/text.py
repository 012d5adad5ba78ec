"""Batch text-format sources (SURVEY.md §2.1 S1-S4, S6).

Each mirrors a reference source's semantics but is declared through the
DataFrame reader so Catalyst sees a proper scan (splittable files,
column pruning on the parsed projection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_ms_spark.schemas import RATING_SCHEMA


def read_csv_ratings(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """S1 — typed 3-col CSV ratings read, configurable delimiter and
    optional header skip (reference ALSImpl.scala:22-32 defaults:
    comma + ignoreFirstLine; MSE.java:40-44 defaults: tab + skip).
    """
    return (
        spark.read.option("sep", sep)
        .option("header", str(header).lower())
        .schema(RATING_SCHEMA)
        .csv(path)
    )


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """S2 — line-wise text read (reference ALSMeanVector.scala:25)."""
    return spark.read.text(path)


def read_recursive_text(spark: SparkSession, path: str) -> DataFrame:
    """S4 — recursive directory text enumeration (reference
    ALSKafkaProducer.java:24-26 ``setNestedFileEnumeration(true)``)."""
    return spark.read.option("recursiveFileLookup", "true").text(path)


def read_libsvm(spark: SparkSession, path: str, num_features: int | None = None) -> DataFrame:
    """S3 — LibSVM source (reference SVMImpl.scala:19-21 ``readLibSVM``).

    Returns (label DOUBLE, features ml.linalg Vector). ``numFeatures``
    avoids the extra pass the libsvm reader needs to infer dimension —
    at scale always pass it.
    """
    reader = spark.read.format("libsvm")
    if num_features is not None:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def parse_rating_lines(lines: DataFrame, sep: str = "\t", col: str = "value") -> DataFrame:
    """T1 — parse map ``user<sep>item<sep>rating`` → typed columns
    (reference SGD.java:96-110 InputParser; tab default). ``sep`` is a
    LITERAL separator: F.split takes a Java regex, so metachar
    delimiters ('|', '.', '+') are escaped here — a bare '|' would
    split at every position and every parse would come back NULL
    (which the streaming loader then silently filters: an empty model,
    no error)."""
    import re

    parts = F.split(F.col(col), re.escape(sep))
    return lines.select(
        parts.getItem(0).try_cast("int").alias("user_id"),
        parts.getItem(1).try_cast("int").alias("item_id"),
        parts.getItem(2).try_cast("double").alias("rating"),
    )
