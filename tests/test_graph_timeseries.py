"""Invariant checks for the graph / time-series / cohort query family.

Oracle hash-parity is covered by tests/test_oracle.py; these pin the
mathematical properties the SQL linearizations must preserve.
"""

from __future__ import annotations

import math

from flink_ms_spark.plans.catalog import QUERIES


def test_pagerank_mass_conserved(spark, sf_smoke):
    rows = QUERIES["event_pagerank"](spark, sf_smoke).collect()
    assert len(rows) == 5  # one per event_type
    total = sum(r.pagerank for r in rows)
    # damping redistributes but total mass stays ~1 when no dangling nodes
    assert math.isclose(total, 1.0, abs_tol=1e-3)
    assert all(r.pagerank > 0 for r in rows)


def test_markov_rows_normalize(spark, sf_smoke):
    rows = QUERIES["markov_transitions"](spark, sf_smoke).collect()
    by_src: dict[str, float] = {}
    for r in rows:
        by_src[r.src] = by_src.get(r.src, 0.0) + r.prob
    assert by_src, "no transitions found"
    for src, p in by_src.items():
        assert math.isclose(p, 1.0, abs_tol=1e-4), (src, p)


def test_ewma_starts_at_series_and_stays_in_hull(spark, sf_smoke):
    rows = QUERIES["ewma_smooth"](spark, sf_smoke).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.day_no)
        # s_0 = x_0; every s_t lies within the running min/max hull
        assert math.isclose(series[0].ewma, series[0].day_value, rel_tol=1e-9)
        lo = hi = series[0].day_value
        for r in series[1:]:
            lo, hi = min(lo, r.day_value), max(hi, r.day_value)
            assert lo - 1e-6 <= r.ewma <= hi + 1e-6


def test_ewma_renormalized_blocks_long_series(spark):
    """10k-point key: the renormalized-block linearization must stay
    finite (the naive x·2^t form overflows past ~10³ points) and match
    the sequential recursion s_t = 0.5·x_t + 0.5·s_{t-1} — on BOTH
    engines, bit-consistently at the 6-dp output rounding."""
    import datetime

    import duckdb
    import pandas as pd

    from flink_ms_spark.plans.relational import EWMA_DUCK_SQL, EWMA_SPARK_SQL

    n = 10_000
    base = datetime.datetime(1995, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_type": ["a"] * n,
            "ts": [base + datetime.timedelta(days=t) for t in range(n)],
            # deterministic 2-dp values in [0, 1000)
            "value": [((t * 2654435761) % 100_000) / 100.0 for t in range(n)],
        }
    )
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("events")
    try:
        got = {r.day_no: r.ewma for r in spark.sql(EWMA_SPARK_SQL).collect()}
    finally:
        spark.catalog.dropTempView("events")
    assert len(got) == n
    assert all(math.isfinite(v) for v in got.values())

    # sequential reference on the per-day series (one event per day,
    # so x_t = round(value, 6) = value)
    xs = [round(v, 6) for v in pdf["value"]]
    s = xs[0]
    day0 = int(pd.Timestamp(base).timestamp()) // 86400
    assert math.isclose(got[day0], s, abs_tol=1e-6)
    for t in range(1, n):
        s = 0.5 * xs[t] + 0.5 * s
        assert math.isclose(got[day0 + t], s, abs_tol=1e-6), t

    con = duckdb.connect()
    con.register("events", pdf)
    duck = {
        int(d): e for _, d, _, e in con.execute(EWMA_DUCK_SQL).fetchall()
    }
    assert all(math.isclose(duck[d], got[d], abs_tol=1e-9) for d in got)


def test_rfm_segments_partition_customers(spark, sf_smoke):
    rows = QUERIES["rfm_segments"](spark, sf_smoke).collect()
    total = sum(r.n_customers for r in rows)
    import duckdb

    want = duckdb.sql(
        f"SELECT count(DISTINCT o_custkey) FROM '{sf_smoke}/orders.parquet'"
    ).fetchone()[0]
    assert total == want
    for r in rows:
        seg = r.segment
        assert 111 <= seg <= 444 and all(1 <= int(c) <= 4 for c in str(seg))


def test_retention_week0_is_full_cohort(spark, sf_smoke):
    rows = QUERIES["retention_cohorts"](spark, sf_smoke).collect()
    for r in rows:
        if r.week_offset == 0:
            # every cohort member is active in their first week by definition
            assert r.active_users == r.cohort_size
            assert math.isclose(r.retention, 1.0, abs_tol=1e-9)
        assert r.active_users <= r.cohort_size


def test_doc_chunks_cover_tokens_exactly(spark, sf_smoke):
    rows = QUERIES["doc_chunks"](spark, sf_smoke).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r.chunk_id)
        # stride-48 windows of size ≤64: starts advance by 48, last chunk
        # ends exactly at n_tokens, every chunk non-empty
        for i, c in enumerate(chunks):
            assert c.start_tok == i * 48
            assert 0 < c.chunk_len <= 64
            assert c.end_tok == c.start_tok + c.chunk_len
        last, prev_end = chunks[-1], None
        for c in chunks:
            if prev_end is not None:
                assert c.start_tok < prev_end  # overlap keeps continuity
            prev_end = c.end_tok
        assert last.end_tok == max(c.end_tok for c in chunks)
