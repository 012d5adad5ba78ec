"""Query registry — the build contract between SURVEY.md §2 and the
driver's correctness gate.

Every implemented operator has a named query here; each query is a
``(spark, sf_dir) -> DataFrame`` callable, and (where SQL-expressible)
a DuckDB oracle SQL string producing the same rows/columns. Column
names are aligned on both sides; float outputs are explicitly rounded
on both sides so value hashes match across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# Values are SQL strings, or zero-arg callables returning SQL for
# oracles that must embed fixture-derived constants (e.g. k-means
# centroid literals) — resolved at oracle_sql() call time so they see
# the CURRENT fixture, which the driver regenerates between rounds.
ORACLE_SQL: dict[str, str | Callable[[], str]] = {}


def register(name: str, oracle: str | Callable[[], str] | None = None):
    """Decorator: register a query callable and its oracle SQL
    (a string, or a deferred zero-arg builder)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def resolve_oracles() -> dict[str, str]:
    """Materialize every oracle to a plain SQL string."""
    return {n: (v() if callable(v) else v) for n, v in ORACLE_SQL.items()}


def register_sql(name: str, spark_sql: str, duck_sql: str | None = None) -> None:
    """Register a pure-SQL query: Spark runs ``spark_sql`` over the
    registered fixture views; DuckDB runs ``duck_sql`` (defaults to the
    same text — most relational SQL is dialect-shared).

    Only the fixture tables the SQL text actually references are
    registered per call (case-insensitive word-boundary scan at
    registration time): a ten-view registration per invocation was a
    measured driver-side tax on every SQL query rep (r14 profile), and
    a false positive in the scan merely registers one extra harmless
    view. If the scan matches NOTHING (e.g. quoted or dynamically
    assembled identifiers), fall back to registering every fixture
    view rather than failing at analysis time (ADVICE r14)."""
    import re

    from flink_ms_spark.schemas import FIXTURE_TABLES
    from flink_ms_spark.sources.tables import register_views

    referenced = tuple(
        t
        for t in FIXTURE_TABLES
        if re.search(rf"\b{t}\b", spark_sql, re.IGNORECASE)
    ) or None

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, only=referenced)
        return spark.sql(spark_sql)

    fn.__name__ = f"q_{name}"
    fn.__doc__ = spark_sql
    QUERIES[name] = fn
    ORACLE_SQL[name] = duck_sql if duck_sql is not None else spark_sql


def values_clause(rows_sql: str, table_alias: str) -> str:
    """``FROM (VALUES ...) t(cols)`` fragment that stays VALID SQL when
    the builder produced ZERO rows (a degenerate regenerated fixture):
    ``VALUES`` with an empty list is a parse error, so an empty build
    becomes a one-NULL-row VALUES filtered back out with WHERE 1=0 —
    the gate then compares two empty results instead of crashing."""
    if rows_sql.strip():
        return f"FROM (VALUES {rows_sql}) {table_alias}"
    n_cols = table_alias.split("(", 1)[1].count(",") + 1
    nulls = ", ".join(["NULL"] * n_cols)
    return f"FROM (VALUES ({nulls})) {table_alias} WHERE 1 = 0"


def fixture_index(
    spark: SparkSession, sf_dir: str, name: str, tag: str,
    build: Callable[[DataFrame, str], object],
) -> str:
    """Build-once cache of a persisted ANN index over the fixture's
    embeddings, for the catalog queries that serve one like a resident
    engine would. The directory is keyed on the fixture file's identity
    (path, mtime, size), so a regenerated fixture transparently gets a
    new index, and on ``tag``, bumped when the layout changes. The
    index counts as built once its manifest exists: every build writes
    it last, as the commit marker, so a build that died part-way is
    redone rather than served partial. ``build(embeddings, path)``
    writes the index."""
    import hashlib
    import os
    import tempfile

    from flink_ms_spark.operators.similarity import INDEX_MANIFEST
    from flink_ms_spark.sources.tables import load_table

    f = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(f)
    key = hashlib.md5(
        f"{tag}:{f}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    idx = os.path.join(tempfile.gettempdir(), f"flink_ms_{name}_{key}")
    if not os.path.exists(os.path.join(idx, INDEX_MANIFEST)):
        build(load_table(spark, sf_dir, "embeddings"), idx)
    return idx
