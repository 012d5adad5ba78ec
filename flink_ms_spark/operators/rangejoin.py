"""Banded (time-)range join — the scale pattern for non-equi joins.

Spark has no range-join strategy: a bare ``ON r.ts BETWEEN l.ts-Δ AND
l.ts`` plans as BroadcastNestedLoopJoin (quadratic work, driver-bound
broadcast) or a full cartesian. The standard rewrite is to quantize
time into buckets of width B ≥ the band width: the right side maps to
ONE bucket (ts div B), the left side explodes to the few buckets its
band can touch, the join becomes an EQUI join on bucket (hash shuffle,
AQE-skew-splittable), and the exact band predicate filters the
bucket-coarse candidates. Candidate inflation is bounded by
ceil(band/B)+1 per left row — with B = band width, ≤ 2×.

Reference scope: the reference has no range join; this backs the
north-star `preceding_5min_count` query. A stream-stream interval join
needs no twin: Structured Streaming plans it natively with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def banded_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower: int,
    upper: int,
    bucket: int | None = None,
    how: str = "inner",
    left_keys: list[str] | None = None,
    validate_keys: bool = False,
) -> DataFrame:
    """All (left × right) rows with ``right_ts`` in the half-open band
    ``[left_ts + lower, left_ts + upper)`` — timestamps and bounds in
    the same integer unit (e.g. epoch micros). Column names must be
    disjoint (pre-alias). ``bucket`` defaults to the band width.

    ``how='inner'`` (default) keeps matched pairs. ``how='left'``
    additionally keeps each unmatched left row once, null-extended on
    the right columns — it REQUIRES ``left_keys`` (columns that
    uniquely identify a left row) because the bucket explode makes the
    naive ``.join(..., 'left')`` both duplicate matched rows and drop
    null-extended ones at the band filter; the correct complement is
    an anti join of left against the matched key set (one extra
    equi-shuffle on ``left_keys``, no new scale hazard). A surrogate
    ``monotonically_increasing_id`` is deliberately NOT used: the
    complement re-evaluates ``left``, and a recomputed surrogate can
    renumber rows between the two branches.

    SILENT-DROP HAZARD if ``left_keys`` is not actually unique: the
    anti join removes every left row whose KEY matched, so with
    duplicate keys where one duplicate lands in the band and another
    does not, the non-matching duplicate is neither in ``inner`` nor
    in the complement — it vanishes without an error (and matched
    duplicates each pair with every match of their key). Uniqueness is
    a precondition, not something the operator can repair.
    ``validate_keys=True`` verifies it eagerly (count vs distinct
    count on ``left_keys`` — two cheap keyed aggregates) and raises;
    leave it off in production plans where the key is known unique
    (a primary key), turn it on in tests/debug and for derived keys."""
    if how not in ("inner", "left"):
        raise NotImplementedError(
            "banded_range_join supports how='inner' and how='left' "
            f"(with left_keys); got {how!r}"
        )
    if how == "left" and not left_keys:
        raise ValueError("how='left' requires left_keys (unique left row id)")
    if how == "left" and validate_keys:
        # count(DISTINCT ...) ignores NULL-keyed rows, so lump them
        # with duplicates and the message misleads — and a NULL key is
        # its own hazard (it never equi-matches, so the anti-join
        # complement silently keeps/drops it by NULL semantics, not by
        # band membership). Count the two failure modes separately.
        null_pred = None
        for k in left_keys:
            c = F.col(k).isNull()
            null_pred = c if null_pred is None else (null_pred | c)
        n, nd, nnull = left.select(
            F.count(F.lit(1)),
            F.count_distinct(*[F.col(k) for k in left_keys]),
            F.sum(F.when(null_pred, 1).otherwise(0)),
        ).first()
        nnull = nnull or 0
        if nnull:
            raise ValueError(
                f"how='left' requires non-NULL left_keys {left_keys}: "
                f"{nnull} row(s) carry a NULL key column — a NULL key "
                "never equi-matches, so the row would be silently "
                "mis-classified by the anti-join complement"
            )
        if (n - nnull) != nd:
            raise ValueError(
                f"how='left' requires unique left_keys {left_keys}: "
                f"{n} rows but {nd} distinct keys — duplicate keys make "
                "the anti-join complement silently drop non-matching "
                "duplicates"
            )
    bucket = bucket or max(upper - lower, 1)
    lo_b = F.expr(f"({left_ts} + {lower}) div {bucket}")
    hi_b = F.expr(f"({left_ts} + {upper}) div {bucket}")
    l = left.withColumn("__b", F.explode(F.sequence(lo_b, hi_b)))
    r = right.withColumn("__b", F.expr(f"{right_ts} div {bucket}"))
    inner = (
        l.join(r, "__b", "inner")
        .where(
            (F.col(right_ts) >= F.col(left_ts) + F.lit(lower))
            & (F.col(right_ts) < F.col(left_ts) + F.lit(upper))
        )
        .drop("__b")
    )
    if how == "inner":
        return inner
    unmatched = left.join(
        inner.select(*left_keys).distinct(), left_keys, "left_anti"
    )
    for f in right.schema.fields:
        unmatched = unmatched.withColumn(f.name, F.lit(None).cast(f.dataType))
    return inner.unionByName(unmatched)
