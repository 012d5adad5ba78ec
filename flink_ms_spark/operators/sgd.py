"""Online SGD matrix-factorization update (SURVEY.md §2.7 M6/M7/M9, §2.3 T7).

Reference semantics (SGD.java:160-234), adopted exactly:

- error ``e = r − u·i``
- simultaneous update (both updates read PRE-update factors —
  SGD.java:199-207): ``u' = u + η(e·i − λu·u)``, ``i' = i + η(e·u − λi·i)``.
  SGDV0's sequential variant (SGDV0.java:188-197 mutates the user vector
  in place first, so the item update sees POST-update user factors:
  ``i' = i + η(e·u' − λi·i)``) is available via ``sequential=True`` —
  the semantic fork is documented in SURVEY.md M6; SGD.java is default.
- cold-start fallback: missing user/item factors ⇒ mean vector
  (MEAN-U / MEAN-I; SGD.java:140-151,219-234) — left join + coalesce.
- NaN guard: drop update rows containing NaN (SGDV0.java:206-226
  behavior, adopted per SURVEY.md M9). A rating that would write nulls
  is dropped before the update: a null rating, a null factor element,
  or user and item vectors of different lengths (a malformed model
  line parsed with try_cast gives the last two).
- one input produces two output rows (user row + item row) — T7's
  double-collect, expressed as explode of a 2-struct array.

Batch-vs-reference consistency: the reference applies updates per record
through its Kafka→state loop (eventually consistent); we apply one
micro-batch at a time — within a batch every update reads the same model
snapshot, and duplicate keys in a batch resolve last-write-wins by input
order (max input ordinal), matching per-key arrival order.

Two implementations of that one step:

- :func:`sgd_step` — the DataFrame operator (the catalog ``sgd_step``
  query): the join shuffles the *ratings batch* by user then item while
  the model is broadcast; update aggregation shuffles by key only; all
  arithmetic is codegen'd zip_with.
- :func:`sgd_step_local` — the driver kernel the online stream runs
  (``streaming.loader.run_online_sgd_stream``): it takes one collected
  micro-batch plus the factor rows that batch touches, so its driver
  memory is bounded by one micro-batch and its touched rows, never by
  the model. It performs ``sgd_step``'s operations in the same order on
  IEEE doubles (the dot product is a left-to-right fold from 0.0, one
  factor column at a time; no ``np.dot``/``sum``, whose summation
  order differs), so its output equals ``sgd_step``'s bit for bit,
  malformed ratings and factors included — a test pins the two equal,
  and ``sgd_step`` stays the reference. The one difference: ``sgd_step``
  updates kept ratings of different ranks side by side, where the kernel
  raises ValueError.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_ms_spark.functions.vector import dot, has_nan


def sgd_step(
    ratings: DataFrame,
    model: DataFrame,
    user_mean: DataFrame | None = None,
    item_mean: DataFrame | None = None,
    learning_rate: float = 0.1,
    user_reg: float = 0.0,
    item_reg: float = 0.0,
    broadcast_model: bool = True,
    ordinal_col: str | None = None,
    sequential: bool = False,
) -> DataFrame:
    """One SGD micro-batch → updated model rows (id, kind, factors).

    ``ratings``: (user_id, item_id, rating). ``model``: canonical model
    table. ``user_mean``/``item_mean``: optional 1-row (factors) frames
    (M7 fallback; reference defaults η=0.1, λu=λi=0.0, SGD.java:33-36).
    Output contains one U row and one I row per input rating (post
    NaN-drop), deduped last-write-wins per key when a key repeats.
    """
    eta, lu, li = F.lit(learning_rate), F.lit(user_reg), F.lit(item_reg)

    users = model.where(F.col("kind") == "U").select(
        F.col("id").alias("user_id"), F.col("factors").alias("u")
    )
    items = model.where(F.col("kind") == "I").select(
        F.col("id").alias("item_id"), F.col("factors").alias("i")
    )
    if broadcast_model:
        users, items = F.broadcast(users), F.broadcast(items)

    # ordinal for last-write-wins: caller-provided (source offset — fully
    # deterministic) or input order within the batch
    ord_expr = (
        F.col(ordinal_col) if ordinal_col is not None else F.monotonically_increasing_id()
    )
    r = ratings.select(
        F.col("user_id").cast("string").alias("user_id"),
        F.col("item_id").cast("string").alias("item_id"),
        F.col("rating").cast("double").alias("rating"),
        ord_expr.alias("_ord"),
    )
    joined = r.join(users, "user_id", "left").join(items, "item_id", "left")

    # M7 cold-start: coalesce missing factors with the mean vectors.
    if user_mean is not None:
        um = F.broadcast(user_mean.select(F.col("factors").alias("um"))).hint("broadcast")
        joined = joined.crossJoin(um).withColumn("u", F.coalesce("u", "um")).drop("um")
    if item_mean is not None:
        im = F.broadcast(item_mean.select(F.col("factors").alias("im")))
        joined = joined.crossJoin(im).withColumn("i", F.coalesce("i", "im")).drop("im")
    # Hard error parity: reference aborts when factors are missing and no
    # mean is available (SGD.java:147-151) — here those rows are dropped
    # and counted by the caller if needed. A null rating or factor
    # element would turn every updated factor null, which the NaN guard
    # below does not see, and zip_with pads vectors of different ranks
    # with nulls: such ratings are dropped too.
    joined = joined.where(
        F.col("u").isNotNull()
        & F.col("i").isNotNull()
        & F.col("rating").isNotNull()
        & (F.size("u") == F.size("i"))
        & ~F.exists("u", lambda x: x.isNull())
        & ~F.exists("i", lambda x: x.isNull())
    )

    e = (F.col("rating") - dot("u", "i")).alias("e")
    joined = joined.withColumn("e", e)

    u_new = F.zip_with("u", "i", lambda uf, itf: uf + eta * (F.col("e") * itf - lu * uf))
    if sequential:
        # SGDV0: item update reads the POST-update user vector
        joined = joined.withColumn("u_upd", u_new)
        u_new = F.col("u_upd")
        i_new = F.zip_with(
            "i", "u_upd", lambda itf, uf: itf + eta * (F.col("e") * uf - li * itf)
        )
    else:
        # SGD.java: simultaneous — both expressions read pre-update u/i
        i_new = F.zip_with(
            "i", "u", lambda itf, uf: itf + eta * (F.col("e") * uf - li * itf)
        )
    updated = joined.select(
        "_ord",
        F.explode(
            F.array(
                F.struct(F.col("user_id").alias("id"), F.lit("U").alias("kind"), u_new.alias("factors")),
                F.struct(F.col("item_id").alias("id"), F.lit("I").alias("kind"), i_new.alias("factors")),
            )
        ).alias("row"),
    ).select("_ord", "row.id", "row.kind", "row.factors")

    # M9 NaN guard (SGDV0 drop behavior).
    updated = updated.where(~has_nan("factors"))

    # Last-write-wins per key within the batch (per-key arrival order).
    w = F.struct(F.col("_ord").alias("o"), F.col("factors").alias("f"))
    return (
        updated.groupBy("id", "kind")
        .agg(F.max(w).alias("last"))
        .select("id", "kind", F.col("last.f").alias("factors"))
    )


def sgd_step_local(
    ratings: Iterable[Sequence],
    users: Mapping[str, Sequence[float] | None],
    items: Mapping[str, Sequence[float] | None],
    user_mean: Sequence[float] | None = None,
    item_mean: Sequence[float] | None = None,
    learning_rate: float = 0.1,
    user_reg: float = 0.0,
    item_reg: float = 0.0,
) -> list[tuple[str, str, list[float]]]:
    """:func:`sgd_step` (simultaneous form) on driver-local data.

    ``ratings``: ``(user_id, item_id, rating)`` triples in input order;
    user and item ids are not null. ``users``/``items``: factors by id (``str`` of
    the rating's id, as ``sgd_step`` casts it); a missing id or a None
    value falls back to ``user_mean``/``item_mean``, and a rating with
    neither is dropped. Returns ``(id, kind, factors)`` rows, one per
    key: the last rating in input order whose row passed the NaN guard
    wins.

    As in ``sgd_step``, a rating is dropped when it is null, when a
    factor element is null (it counts as NaN, so the guard drops both
    rows) or when its user and item vectors differ in length. Raises
    ValueError when the kept ratings do not all share one rank."""
    uids, iids, rs, us, its = [], [], [], [], []
    for user_id, item_id, rating in ratings:
        if rating is None:
            continue
        uid, iid = str(user_id), str(item_id)
        u = users.get(uid)
        i = items.get(iid)
        u = user_mean if u is None else u
        i = item_mean if i is None else i
        if u is None or i is None or len(u) != len(i):
            continue
        uids.append(uid)
        iids.append(iid)
        rs.append(float(rating))
        us.append(u)
        its.append(i)
    if not rs:
        return []
    try:
        U = np.array(us, dtype=np.float64)
        I = np.array(its, dtype=np.float64)
    except ValueError as exc:
        raise ValueError(f"sgd_step_local: ratings differ in factor rank ({exc})") from None
    # NaN/inf results are expected here and dropped by the guard below
    with np.errstate(invalid="ignore", over="ignore"):
        # dot(u, i): aggregate(zip_with(u, i, *), 0.0, +) — one column at a time
        acc = np.zeros(len(rs))
        for j in range(U.shape[1]):
            acc = acc + U[:, j] * I[:, j]
        e = (np.array(rs) - acc)[:, None]
        eta = learning_rate
        U_new = U + eta * (e * I - user_reg * U)
        I_new = I + eta * (e * U - item_reg * I)
    u_ok = ~np.isnan(U_new).any(axis=1)
    i_ok = ~np.isnan(I_new).any(axis=1)
    out: dict[tuple[str, str], list[float]] = {}
    for n, (uid, iid) in enumerate(zip(uids, iids)):
        if u_ok[n]:
            out[(uid, "U")] = U_new[n].tolist()
        if i_ok[n]:
            out[(iid, "I")] = I_new[n].tolist()
    return [(id_, kind, f) for (id_, kind), f in out.items()]
