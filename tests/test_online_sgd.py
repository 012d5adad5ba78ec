"""Online SGD on the driver: the numpy kernel against the ``sgd_step``
reference, the stream's batch-scale store access (``lookup_many``,
mapping upserts, the lazy dict-tier view) and the stream end to end on
both store tiers."""

from __future__ import annotations

import logging
import os

import numpy as np
import pytest
from pyspark.sql import Row

from flink_ms_spark.operators.sgd import sgd_step, sgd_step_local
from flink_ms_spark.serving.store import ModelStore
from flink_ms_spark.streaming.loader import run_online_sgd_stream

MODEL_SCHEMA = "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>"
RATINGS_SCHEMA = "user_id INT, item_id INT, rating DOUBLE"


def _write(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _factors(rng, n: int, rank: int) -> list[list[float]]:
    # spread magnitudes so a different summation order would round
    # differently
    return (rng.normal(size=(n, rank)) * 10.0 ** rng.integers(-3, 4, size=(n, rank))).tolist()


def _case(name: str):
    """(ratings, users, items, user_mean, item_mean, user_reg, item_reg)."""
    rng = np.random.default_rng(7)
    rank = 7
    users = {str(u): f for u, f in zip(range(1, 6), _factors(rng, 5, rank))}
    items = {str(i): f for i, f in zip(range(10, 15), _factors(rng, 5, rank))}
    mean_u, mean_i = _factors(rng, 2, rank)
    ratings = [(u, i, float(rng.integers(1, 6))) for u in range(1, 6) for i in range(10, 15)]
    rng.shuffle(ratings)
    if name == "repeats":  # every user and item appears five times
        return ratings, users, items, None, None, 0.0, 0.0
    if name == "cold_from_mean":
        cold = [(99, 10, 4.0), (1, 77, 2.0), (98, 78, 5.0)]
        return ratings[:6] + cold, users, items, mean_u, mean_i, 0.0, 0.0
    if name == "cold_without_mean":  # 99 and 77 have no factors: dropped
        return ratings[:6] + [(99, 10, 4.0), (1, 77, 2.0)], users, items, None, None, 0.0, 0.0
    if name == "nan_factor":
        # user 5's NaN poisons both rows of its ratings; the later NaN
        # rows of item 10 must not displace its earlier good row
        users = {**users, "5": [float("nan")] + users["5"][1:]}
        # user 6's inf drops only the U row (inf - inf) and keeps the I row
        users["6"] = [float("inf")] + [1.0] * (rank - 1)
        items["20"] = [1.0] * rank
        return [(1, 10, 3.0), (5, 10, 4.0), (6, 20, 1.0), (2, 11, 5.0)], users, items, None, None, 0.0, 0.0
    if name == "malformed":
        # a null element (user 7), user/item vectors of different ranks
        # (user 8, item 22) and a null rating (user 1, item 23): each of
        # these ratings is dropped, so its keys get no row
        users = {**users, "7": [None] + [1.0] * (rank - 1), "8": [1.0] * (rank - 1)}
        items = {**items, "21": [1.0] * rank, "22": [1.0] * rank, "23": [1.0] * rank}
        cases = [(7, 21, 3.0), (8, 22, 2.0), (1, 23, None)]
        return ratings[:6] + cases, users, items, None, None, 0.0, 0.0
    if name == "null_rating":
        return [(1, 10, None)], users, items, None, None, 0.0, 0.0
    if name == "regularised":
        return ratings, users, items, mean_u, mean_i, 0.03, 0.07
    raise AssertionError(name)


@pytest.mark.parametrize(
    "case",
    ["repeats", "cold_from_mean", "cold_without_mean", "nan_factor", "malformed",
     "null_rating", "regularised"],
)
def test_sgd_step_local_equals_sgd_step_bit_for_bit(spark, case):
    ratings, users, items, mean_u, mean_i, lu, li = _case(case)
    eta = 0.01
    model = spark.createDataFrame(
        [(u, "U", f) for u, f in users.items()] + [(i, "I", f) for i, f in items.items()],
        "id STRING, kind STRING, factors ARRAY<DOUBLE>",
    )

    def mean_df(m):
        return None if m is None else spark.createDataFrame([(m,)], "factors ARRAY<DOUBLE>")

    want = {
        (r.id, r.kind): list(r.factors)
        for r in sgd_step(
            spark.createDataFrame(ratings, RATINGS_SCHEMA), model,
            user_mean=mean_df(mean_u), item_mean=mean_df(mean_i),
            learning_rate=eta, user_reg=lu, item_reg=li,
        ).collect()
    }
    got_rows = sgd_step_local(
        ratings, users, items, user_mean=mean_u, item_mean=mean_i,
        learning_rate=eta, user_reg=lu, item_reg=li,
    )
    got = {(id_, kind): f for id_, kind, f in got_rows}
    assert len(got) == len(got_rows)  # one row per key
    assert got == want
    if case == "malformed":
        dropped = {("7", "U"), ("21", "I"), ("8", "U"), ("22", "I"), ("23", "I")}
        assert not dropped & set(got)
        # the sequential form drops the same ratings
        seq = sgd_step(
            spark.createDataFrame(ratings, RATINGS_SCHEMA), model,
            learning_rate=eta, sequential=True,
        ).collect()
        assert not dropped & {(r.id, r.kind) for r in seq}
        assert all(None not in r.factors for r in seq)
    if case == "null_rating":
        assert got == {}
    if case == "cold_without_mean":
        assert ("99", "U") not in got and ("77", "I") not in got
    if case == "cold_from_mean":
        assert ("99", "U") in got and ("78", "I") in got
    if case == "nan_factor":
        assert ("5", "U") not in got and ("6", "U") not in got
        assert ("20", "I") in got and ("10", "I") in got


def test_sgd_step_local_rank_mismatch():
    # user and item ranks differ within a rating: that rating is dropped
    assert sgd_step_local([(1, 2, 3.0)], {"1": [1.0, 2.0]}, {"2": [1.0]}) == []
    # kept ratings of different ranks: no single kernel shape, so it raises
    with pytest.raises(ValueError, match="rank"):
        sgd_step_local(
            [(1, 2, 3.0), (3, 4, 1.0)],
            {"1": [1.0, 2.0], "3": [1.0]},
            {"2": [1.0, 1.0], "4": [2.0]},
        )


# -- store: lazy dict-tier view, mapping upserts, lookup_many -------------


def _count_view_builds(store, monkeypatch) -> list[int]:
    calls = [0]
    build = store._dict_view

    def counted():
        calls[0] += 1
        return build()

    monkeypatch.setattr(store, "_dict_view", counted)
    return calls


def test_dict_view_is_built_lazily_and_matches_the_dict(spark, monkeypatch):
    store = ModelStore(spark, "LAZY")
    builds = _count_view_builds(store, monkeypatch)
    for n in range(4):
        store.upsert_batch(spark.createDataFrame(
            [(f"{n}-U", str(n), "U", [float(n)]), ("0-U", "0", "U", [10.0 + n])], MODEL_SCHEMA
        ))
        store.upsert_batch({f"{n}-I": Row(id=str(n), kind="I", factors=[-float(n)])})
    assert builds[0] == 0  # no write built a view
    got = {r.key: (r.id, r.kind, list(r.factors)) for r in store.view().collect()}
    assert got == {k: (v.id, v.kind, list(v.factors)) for k, v in store._dict.items()}
    assert got["0-U"] == ("0", "U", [13.0]) and got["3-I"] == ("3", "I", [-3.0])
    assert store.view() is store.view() and builds[0] == 1  # cached until a write

    # delete_keys drops keys without rebuilding; the next view() sees it
    assert store.delete_keys(["1-U", "nope"]) == 1
    assert builds[0] == 1
    assert "1-U" not in {r.key for r in store.view().collect()} and builds[0] == 2


def test_snapshot_upsert_rollback_view_returns_snapshot_rows(spark):
    store = ModelStore(spark, "SNAP_LAZY")
    store.upsert_batch(spark.createDataFrame(
        [("1-U", "1", "U", [1.0]), ("2-U", "2", "U", [2.0])], MODEL_SCHEMA
    ))
    v = store.snapshot()
    before = sorted((r.key, list(r.factors)) for r in store.view().collect())
    store.upsert_batch({"1-U": Row(id="1", kind="U", factors=[9.0]),
                        "3-U": Row(id="3", kind="U", factors=[3.0])})
    assert len(store.view().collect()) == 3
    store.rollback(v)
    assert sorted((r.key, list(r.factors)) for r in store.view().collect()) == before
    assert store.lookup("3-U") is None and list(store.lookup("1-U").factors) == [1.0]


def test_mapping_upsert_checks_payload_fields(spark):
    empty = ModelStore(spark, "EMPTY")
    with pytest.raises(ValueError, match="empty"):
        empty.upsert_batch({"1-U": Row(id="1", kind="U", factors=[1.0])})
    store = ModelStore(spark, "FIELDS")
    store.upsert_batch(spark.createDataFrame([("1-U", "1", "U", [1.0])], MODEL_SCHEMA))
    with pytest.raises(ValueError, match="payload"):
        store.upsert_batch({"2-U": Row(id="2", factors=[1.0])})
    assert store.lookup("2-U") is None


def test_lookup_many_matches_lookup_on_both_tiers(spark, tmp_path):
    rows = [(f"{i}-U", str(i), "U", [float(i), 1.0]) for i in range(40)]
    dict_store = ModelStore(spark, "LM_DICT")
    spilled = ModelStore(spark, "LM_SPILL", max_dict_keys=10, spill_buckets=4,
                         spill_dir=str(tmp_path / "spill"))
    for s in (dict_store, spilled):
        s.upsert_batch(spark.createDataFrame(rows, MODEL_SCHEMA))
    assert spilled._spilled and not dict_store._spilled
    keys = ["3-U", "17-U", "39-U", "nope", "3-U"]
    spilled.lookup("17-U")  # a hot hit
    spilled.lookup("nope")  # a cached miss
    for s in (dict_store, spilled):
        got = s.lookup_many(keys)
        assert set(got) == {"3-U", "17-U", "39-U"}
        assert all(got[k].asDict() == s.lookup(k).asDict() for k in got)

    # coherent across a mapping upsert into the spilled tier
    spilled.upsert_batch({"17-U": Row(id="17", kind="U", factors=[0.5, 0.5]),
                          "nope": Row(id="nope", kind="U", factors=[7.0, 7.0])})
    got = spilled.lookup_many(["17-U", "nope"])
    assert list(got["17-U"].factors) == [0.5, 0.5] and list(got["nope"].factors) == [7.0, 7.0]
    assert list(spilled.lookup("17-U").factors) == [0.5, 0.5]

    # the engine-only fallback returns the same rows
    want = {k: r.asDict() for k, r in spilled.lookup_many(keys + ["nope"]).items()}
    spilled._arrow_cache = {spilled._leaf_abs(p): False for p in spilled._manifest.values()}
    spilled._hot.clear()
    assert {k: r.asDict() for k, r in spilled.lookup_many(keys + ["nope"]).items()} == want


def test_spill_logs_one_event(spark, caplog):
    store = ModelStore(spark, "LOGGED", max_dict_keys=2)
    with caplog.at_level(logging.INFO, logger="flink_ms_spark"):
        store.upsert_batch(spark.createDataFrame(
            [(f"{i}-U", str(i), "U", [1.0]) for i in range(3)], MODEL_SCHEMA
        ))
        store.upsert_batch({"9-U": Row(id="9", kind="U", factors=[2.0])})  # already spilled
    events = [r for r in caplog.records if getattr(r, "event", None) == "store_spill"]
    assert len(events) == 1
    assert events[0].name.startswith("flink_ms_spark") and events[0].keys == 3
    assert events[0].max_dict_keys == 2


# -- the stream -------------------------------------------------------------


def _seed_store(spark, store, rank: int = 3) -> None:
    rng = np.random.default_rng(11)
    rows = [(f"{u}-U", str(u), "U", f) for u, f in zip(range(1, 21), _factors(rng, 20, rank))]
    rows += [(f"{i}-I", str(i), "I", f) for i, f in zip(range(1, 9), _factors(rng, 8, rank))]
    rows += [("MEAN-U", "MEAN", "U", [0.1] * rank), ("MEAN-I", "MEAN", "I", [0.2] * rank)]
    store.upsert_batch(spark.createDataFrame(rows, MODEL_SCHEMA))


def test_online_stream_spilled_store_ends_like_dict_store(spark, tmp_path):
    """Same ratings through both tiers: same final model, bit for bit,
    and each micro-batch reads its source once (numInputRows equals the
    lines of the files it took)."""
    files = [
        # repeats, cold users (30, 31) and a cold item (40)
        [f"{u}\t{1 + (u * 3) % 8}\t{1 + u % 5}.0" for u in range(1, 21)]
        + ["30\t2\t4.0", "3\t40\t1.0", "31\t40\t5.0", "3\t2\t2.0"],
        [f"{u}\t{1 + (u * 5) % 8}\t{1 + (u * 7) % 5}.0" for u in range(5, 25)],
    ]
    final = {}
    for tier, cap in (("dict", None), ("spill", 5)):
        store = ModelStore(spark, f"SGD_{tier}", max_dict_keys=cap, spill_buckets=4,
                           spill_dir=str(tmp_path / f"spill-{tier}"))
        _seed_store(spark, store)
        assert store._spilled == (cap is not None)
        src = tmp_path / f"in-{tier}"
        for n, lines in enumerate(files):
            _write(str(src / f"r{n}.tsv"), lines)
            q = run_online_sgd_stream(spark, str(src), store, str(tmp_path / f"ckpt-{tier}"),
                                      learning_rate=0.01)
            q.awaitTermination(120)
            batches = [p for p in q.recentProgress if p.numInputRows > 0]
            assert [p.numInputRows for p in batches] == [len(lines)]
        final[tier] = {r.key: (r.id, r.kind, list(r.factors)) for r in store.view().collect()}
    assert final["spill"] == final["dict"]
    assert "30-U" in final["dict"] and "40-I" in final["dict"]
    assert final["dict"]["MEAN-U"][2] == [0.1] * 3  # MEAN rows are never updated


def test_online_stream_drops_malformed_ratings(spark, tmp_path):
    """A rating that does not parse, or an item id that does not, must
    not write ``[None, None]`` factors or a key with a null id."""
    store = ModelStore(spark, "SGD_MALFORMED")
    store.upsert_batch(spark.createDataFrame(
        [("1-U", "1", "U", [1.0, 2.0]), ("10-I", "10", "I", [3.0, 1.0]),
         ("MEAN-U", "MEAN", "U", [1.0, 1.0]), ("MEAN-I", "MEAN", "I", [2.0, 2.0])],
        MODEL_SCHEMA,
    ))
    src = tmp_path / "in"
    _write(str(src / "r.tsv"), ["1\t10\tabc", "1\tx\t4.0", "1\t10\t6.0"])
    run_online_sgd_stream(spark, str(src), store, str(tmp_path / "ckpt"),
                          learning_rate=0.1).awaitTermination(120)
    assert sorted(store.keys()) == ["1-U", "10-I", "MEAN-I", "MEAN-U"]
    assert list(store.lookup("1-U").factors) == [1.3, 2.1]  # only the good line applied
    assert None not in store.lookup("10-I").factors
