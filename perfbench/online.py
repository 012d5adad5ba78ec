"""``online_update`` workload: the paper's online-learning loop.

``run_online_sgd_stream`` updates a generated ALS model held in the
dict tier of a ``ModelStore`` from ratings files renamed into its inbox,
while ``ModelStoreServer`` answers uniform ``GET /lookup`` requests from
the load generator in ``client.py``, a process of its own.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

import numpy as np

from common import NPROC, peak_rss_mb, quantile, start_spark, workload_config

HERE = os.path.dirname(os.path.abspath(__file__))
INF = float("inf")
SETUP_REPS = 3  # set-ups per run; setup_s is their median


def model_df(spark, cfg: dict, seed: int):
    from flink_ms_spark.ml.generators import generate_als_model
    from pyspark.sql import functions as F

    m = generate_als_model(spark, cfg["users"], cfg["items"], cfg["rank"], seed=seed)
    return m.select(F.concat_ws("-", "id", "kind").alias("key"), "id", "kind", "factors")


def run_client(work: str, plan: dict, tracer) -> dict:
    """Run the load generator to completion in its own process."""
    plan_path = os.path.join(work, "plan.json")
    out_path = os.path.join(work, "client.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "client.py"), plan_path, out_path],
                   check=True, timeout=150)
    tracer.add("client.run", t0, time.perf_counter())
    with open(out_path) as fh:
        return json.load(fh)


def lookup_figures(recs: list[dict], failures: dict[str, int]) -> dict[str, float]:
    """p50/p90/p99 from the due time; failed requests count as +inf."""
    lat = []
    for r in recs:
        if r["outcome"] == "ok":
            lat.append(r["latency_ms"])
        else:
            lat.append(INF)
            failures[r["outcome"]] = failures.get(r["outcome"], 0) + 1
    return {"p50": quantile(lat, 0.5), "p90": quantile(lat, 0.9), "p99": quantile(lat, 0.99),
            "late_p90": quantile([r["late_ms"] for r in recs], 0.9),
            "service_p50": quantile([r["service_ms"] for r in recs], 0.5),
            "conn_errors": sum(r["outcome"] == "refused_or_reset" for r in recs),
            "quantiles": [round(quantile(lat, q / 20), 3) for q in range(1, 20)]}


def cycle_p50s(recs: list[dict], start_s: float, period_s: float, end_s: float) -> list[float]:
    """Lookup p50 (failures as +inf) of each whole update period between
    ``start_s`` and ``end_s``: one renamed file and the lookups due until
    the next rename."""
    n = int((end_s - start_s) // period_s)
    cycles: list[list[float]] = [[] for _ in range(n)]
    for r in recs:
        k = int((r["due_s"] - start_s) // period_s)
        if 0 <= k < n:
            cycles[k].append(r["latency_ms"] if r["outcome"] == "ok" else INF)
    return [quantile(c, 0.5) for c in cycles if c]


def split_by_phase(recs: list[dict], ups: list[dict]) -> tuple[list[float], list[float]]:
    """Lookup latencies (failures as +inf) split into those due while a
    renamed file was not yet readable over HTTP and those due while no
    update was in flight."""
    busy = [(u["renamed_s"], u["renamed_s"] + (u["fresh_s"] if u["fresh_s"] is not None else INF))
            for u in ups]
    updating, idle = [], []
    for r in recs:
        lat = r["latency_ms"] if r["outcome"] == "ok" else INF
        (updating if any(a <= r["due_s"] < b for a, b in busy) else idle).append(lat)
    return updating, idle


def _stage_files(work: str, rng, cfg: dict, n_files: int) -> list[dict]:
    """Write the ratings files up front: each touches distinct users and
    distinct items, plus one rating for a probe user touched nowhere else."""
    stage = os.path.join(work, "staged")
    os.makedirs(stage, exist_ok=True)
    per = cfg["ratings_per_file"]
    users = rng.permutation(np.arange(1, cfg["users"] + 1))
    files = []
    for f in range(n_files):
        u = users[f * (per + 1):(f + 1) * (per + 1)]
        items = rng.choice(np.arange(1, cfg["items"] + 1), per + 1, replace=False)
        ratings = rng.integers(1, 6, per + 1)
        lines = [f"{u[j]}\t{items[j]}\t{ratings[j]}.0" for j in range(per + 1)]
        staged = os.path.join(stage, f"ratings-{f:04d}.tsv")
        with open(staged, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        files.append({"staged": staged, "name": os.path.basename(staged),
                      "probe": f"{u[per]}-U", "lines": lines})
    return files


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def run_online_update(ctx) -> dict:
    from flink_ms_spark.serving.server import ModelStoreServer
    from flink_ms_spark.serving.store import ModelStore
    from flink_ms_spark.streaming.loader import run_online_sgd_stream

    w = workload_config("online_update")
    cfg = {**w["model"], **w["store"], **w["load"], **w["updates"]}
    tracer, layer = ctx.tracer, {}
    rng = np.random.default_rng(ctx.seed)
    # one file per period while the lookups run (warm-up included), as far
    # as distinct users last
    files = _stage_files(ctx.work, rng, cfg, min(cfg["users"] // (cfg["ratings_per_file"] + 1),
                                                 math.ceil((cfg["warm_s"] + ctx.seconds) / cfg["period_s"])))
    starts, loads, upserts = [], [], []

    def build(rep):
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_spark(ctx.work)
        t1 = time.perf_counter()
        with tracer.span("serving.store.load"):
            store = ModelStore(spark, max_dict_keys=cfg["max_dict_keys"])
            store.upsert_batch(model_df(spark, cfg, ctx.seed))
        t2 = time.perf_counter()
        if tracer.enabled:  # time each upsert through the public method
            plain = store.upsert_batch

            def timed_upsert(*a, **kw):
                s = time.perf_counter()
                with tracer.span("serving.store.upsert_batch"):
                    plain(*a, **kw)
                upserts.append((time.perf_counter() - s) * 1e3)

            store.upsert_batch = timed_upsert
        server = ModelStoreServer(store).start()
        inbox = os.path.join(ctx.work, f"inbox-{rep}")
        os.makedirs(inbox, exist_ok=True)
        with tracer.span("streaming.start"):
            query = run_online_sgd_stream(spark, inbox, store, os.path.join(ctx.work, f"ckpt-{rep}"),
                                          learning_rate=cfg["learning_rate"], available_now=False)
        starts.append(t1 - t0)
        loads.append(t2 - t1)
        return spark, store, server, query, inbox

    def teardown(state):
        state[3].stop()
        state[2].stop()
        state[0].stop()

    state, times = None, []
    for rep in range(SETUP_REPS):
        if state is not None:
            teardown(state)
        t0 = time.perf_counter()
        state = build(rep)
        times.append(time.perf_counter() - t0)
    spark, store, server, query, inbox = state
    upserts.clear()

    n_keys = cfg["users"] + cfg["items"]
    warm = int(cfg["rate_rps"] * cfg["warm_s"])
    ids = rng.integers(0, n_keys, warm + int(cfg["rate_rps"] * ctx.seconds))
    keys = [f"{i + 1}-U" if i < cfg["users"] else f"{i - cfg['users'] + 1}-I" for i in ids]
    for f in files:
        f["target"] = os.path.join(inbox, f["name"])
    plan = {"host": server.host, "port": server.port, "rate": cfg["rate_rps"],
            "threads": max(1, NPROC - 1), "keys": keys, "warm": warm,
            "updates": {"files": [{k: f[k] for k in ("staged", "target", "probe")} for f in files],
                        "end_s": cfg["warm_s"] + ctx.seconds, "period_s": cfg["period_s"],
                        "poll_s": cfg["poll_s"],
                        "max_wait_s": cfg["max_wait_s"], "warm_s": cfg["warm_s"]}}
    client = run_client(ctx.work, plan, tracer)
    rss = peak_rss_mb()
    ups = client["updates"]
    files = files[:len(ups)]  # the ones renamed into the inbox

    # let the last batch commit before reading progress and the store
    deadline = time.time() + 30
    while time.time() < deadline:
        prog = _progress(query)
        done = sum(p["numInputRows"] for p in prog)
        if done >= len(files) * (cfg["ratings_per_file"] + 1) and not query.status["isTriggerActive"]:
            break
        time.sleep(0.1)
    query.stop()
    server.stop()

    failures: dict[str, int] = {}
    fig = lookup_figures(client["lookups"], failures)
    fresh = [u["fresh_s"] if u["outcome"] == "ok" else INF for u in ups if not u["warm"]]
    for u in ups:
        if u["outcome"] != "ok":
            failures[u["outcome"]] = failures.get(u["outcome"], 0) + 1
    if not fresh:  # nothing measured is a failure, not a best value
        failures["no_fresh_sample"] = 1
        fresh = [INF]

    batches = [p for p in prog if p["numInputRows"] > 0]
    t_verify = time.perf_counter()
    ok, check = _verify_online(spark, store, cfg, ctx.seed, files, batches)
    verify_s = time.perf_counter() - t_verify
    if not ok:
        failures["mismatch"] = failures.get("mismatch", 0) + 1

    # rename -> batch start, for the batch that took each file
    starts_at = []
    per = cfg["ratings_per_file"] + 1
    for b in batches:
        t = datetime.strptime(b["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
        starts_at += [t.timestamp()] * (b["numInputRows"] // per)
    pickup = [(s - u["renamed_at"]) * 1e3 for s, u in zip(starts_at, ups) if not u["warm"]]
    timed_batches = batches[sum(u["warm"] for u in ups):]

    def dur(k):
        return statistics.median(b["durationMs"].get(k, 0) for b in timed_batches) if timed_batches else INF

    layer.update({
        "session.start_s": statistics.median(starts), "serving.store.load_s": statistics.median(loads),
        "serving.server.conn_errors": fig["conn_errors"], "client.late_p90_ms": fig["late_p90"],
        "lookup_p99_ms": fig["p99"],
        "streaming.fresh_p50_ms": quantile(fresh, 0.5) * 1e3,
        "streaming.pickup_ms": statistics.median(pickup) if pickup else INF,
        "streaming.trigger_ms": dur("triggerExecution"), "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"), "streaming.batches": len(batches),
    })
    if tracer.enabled:
        # the timed key stream again, in process, through the store alone
        us = []
        for r in client["lookups"]:
            t0 = time.perf_counter()
            with tracer.span("serving.store.lookup"):
                store.lookup(r["key"])
            us.append((time.perf_counter() - t0) * 1e6)
        layer.update({
            "serving.store.upsert_ms": statistics.median(upserts) if upserts else INF,
            "serving.store.lookup_p50_us": quantile(us, 0.5),
            "serving.store.lookup_p90_us": quantile(us, 0.9),
            "serving.store.lookup_p99_ms": quantile(us, 0.99) / 1e3,
            "serving.server.overhead_p50_ms": fig["service_p50"] - quantile(us, 0.5) / 1e3,
        })
    report = {"lookup_p50_ms": fig["p50"], "lookup_p90_ms": fig["p90"], "lookup_p99_ms": fig["p99"],
              "fresh_p50_s": quantile(fresh, 0.5), "fresh_p90_s": quantile(fresh, 0.9),
              "fresh_samples": sum(map(math.isfinite, fresh)), "batches": len(batches), "check": check,
              "timed_requests": len(client["lookups"]), "setup_walls_s": times,
              "lookup_quantiles_ms_5_to_95": fig["quantiles"], "fresh_samples_s": fresh,
              "verify_s": verify_s}
    updating, idle = split_by_phase(client["lookups"], ups)
    report["lookups_updating_share"] = len(updating) / max(1, len(client["lookups"]))
    for tag, lat in (("updating", updating), ("idle", idle)):
        if lat:
            report[f"lookup_{tag}_p50_ms"] = quantile(lat, 0.5)
            report[f"lookup_{tag}_p90_ms"] = quantile(lat, 0.9)
    # the median over update periods, so that a stretch of slow host
    # during one period does not move the figure
    cycles = cycle_p50s(client["lookups"], cfg["warm_s"], cfg["period_s"], cfg["warm_s"] + ctx.seconds)
    report["lookup_cycle_p50s_ms"] = cycles
    if not cycles:  # no whole period timed: a failure, not a best value
        failures["no_lookup_cycle"] = 1
    e2e = {"setup_s": statistics.median(times), "py_peak_rss_mb": rss,
           "typical_ms": statistics.median(cycles) if cycles else INF,
           "slow_ms": layer["streaming.fresh_p50_ms"]}
    return {"spark": spark, "e2e": e2e, "layer": layer, "report": report,
            "attempted": len(client["lookups"]) + len(ups) + 1, "failures": failures,
            "correct": ok}


def _verify_online(spark, store, cfg, seed, files, batches) -> tuple[bool, dict]:
    """Replay ``sgd_step`` batch by batch, grouped as the stream grouped
    the files (from recentProgress, in arrival order), and compare the
    final store view and its MSE with the replay."""
    from flink_ms_spark.operators.evaluate import mse
    from flink_ms_spark.operators.sgd import sgd_step
    from flink_ms_spark.schemas import ALS_MODEL_SCHEMA
    from flink_ms_spark.sources.text import parse_rating_lines

    model = {r.key: (r.id, r.kind, list(r.factors)) for r in model_df(spark, cfg, seed).collect()}
    per = cfg["ratings_per_file"] + 1
    pos = 0
    for b in batches:
        n = b["numInputRows"] // per
        paths = [f["target"] for f in files[pos:pos + n]]
        pos += n
        ratings = parse_rating_lines(spark.read.text(paths), sep="\t")
        touched = {f"{u}-U" for f in files[pos - n:pos] for u in (ln.split("\t")[0] for ln in f["lines"])} | \
                  {f"{i}-I" for f in files[pos - n:pos] for i in (ln.split("\t")[1] for ln in f["lines"])}
        sub = spark.createDataFrame([model[k] for k in sorted(touched)], ALS_MODEL_SCHEMA)
        for r in sgd_step(ratings, sub, learning_rate=cfg["learning_rate"]).collect():
            model[f"{r.id}-{r.kind}"] = (r.id, r.kind, list(r.factors))
    served = {r.key: list(r.factors) for r in store.view().collect()}
    diff = [k for k, v in model.items() if served.get(k) != v[2]]
    all_ratings = parse_rating_lines(spark.read.text([f["target"] for f in files[:pos]]), sep="\t")
    replay_df = spark.createDataFrame(list(model.values()), ALS_MODEL_SCHEMA)
    mse_store = mse(all_ratings, store.view().select("id", "kind", "factors")).first()["mse"]
    mse_replay = mse(all_ratings, replay_df).first()["mse"]
    check = {"files_replayed": pos, "files": len(files), "keys_differing": len(diff),
             "mse_store": mse_store, "mse_replay": mse_replay}
    ok = pos == len(files) and not diff and len(served) == len(model) and mse_store == mse_replay
    return ok, check
