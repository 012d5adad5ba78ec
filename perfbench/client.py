"""Open-loop HTTP load generator, run as its own process.

    python3 perfbench/client.py PLAN.json RESULT.json

PLAN holds the server address, the lookup schedule (``keys`` sent at
``rate`` per second after ``warm`` untimed ones) and, optionally, an
``updates`` section: ratings files renamed into an inbox on a fixed
period, each followed until its probe key shows new factors.
Every request is stamped with the time it was due; latency is measured
from that stamp, so a stalled server delays the requests queued behind
it. At most ``threads`` lookup connections, plus one for the updates,
are open at once.
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time
from urllib.parse import quote

TIMEOUT_S = 5.0  # the reference query client's timeout


def get(host: str, port: int, key: str) -> tuple[str, dict | None]:
    """One GET /lookup on a fresh connection: (outcome, payload)."""
    conn = http.client.HTTPConnection(host, port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", f"/lookup?key={quote(key, safe='')}")
        resp = conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            return f"http_{resp.status}", None
        return "ok", json.loads(body)
    except TimeoutError:
        return "timeout", None
    except OSError:  # refused, reset, broken pipe
        return "refused_or_reset", None
    except http.client.HTTPException:
        return "bad_response", None
    finally:
        conn.close()


def run_lookups(plan: dict, t0: float) -> list[dict]:
    """Send ``plan['keys']`` on the open-loop schedule; returns one record
    per request (timed ones only)."""
    host, port, rate = plan["host"], plan["port"], plan["rate"]
    keys, warm = plan["keys"], plan["warm"]
    out: list[dict | None] = [None] * len(keys)
    nxt = iter(range(len(keys)))
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            due = t0 + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter()
            outcome, payload = get(host, port, keys[i])
            done = time.perf_counter()
            out[i] = {
                "key": keys[i],
                "due_s": due - t0,
                "outcome": outcome,
                "latency_ms": (done - due) * 1e3,
                "late_ms": (sent - due) * 1e3,
                "service_ms": (done - sent) * 1e3,
                "factors": payload.get("factors") if payload else None,
            }

    threads = [threading.Thread(target=worker) for _ in range(plan["threads"])]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out[warm:]


def run_updates(plan: dict, t0: float) -> list[dict]:
    """Rename the staged ratings files into the inbox every ``period_s``
    from ``t0`` until ``end_s``, whatever the server does (open loop).
    After each rename, poll the file's probe key every ``poll_s`` until
    its factors change or ``max_wait_s`` passes; one connection serves
    every pending probe in turn."""
    up = plan["updates"]
    host, port = plan["host"], plan["port"]
    due = [(f, t0 + k * up["period_s"]) for k, f in enumerate(up["files"])
           if k * up["period_s"] < up["end_s"]]
    out: list[dict] = []
    pending: list[tuple[dict, str, list, float]] = []
    while due or pending:
        if due and time.perf_counter() >= due[0][1]:
            f, at = due.pop(0)
            status, before = get(host, port, f["probe"])
            os.rename(f["staged"], f["target"])
            start = time.perf_counter()
            rec = {"file": os.path.basename(f["target"]), "renamed_at": time.time(),
                   "renamed_s": start - t0,
                   "late_ms": (start - at) * 1e3, "fresh_s": None, "polls": 0,
                   "outcome": "fresh_timeout", "warm": at < t0 + up["warm_s"]}
            out.append(rec)
            if before is None:
                rec["outcome"] = f"probe_{status}"  # nothing to compare against
            else:
                pending.append((rec, f["probe"], before["factors"], start))
        time.sleep(up["poll_s"])
        for item in pending[:]:
            rec, probe, before, start = item
            status, now = get(host, port, probe)
            rec["polls"] += 1
            waited = time.perf_counter() - start
            if status == "ok" and now["factors"] != before:
                rec["fresh_s"], rec["outcome"] = waited, "ok"
                pending.remove(item)
            elif waited >= up["max_wait_s"]:
                pending.remove(item)
    return out


def main() -> None:
    plan_path, result_path = sys.argv[1], sys.argv[2]
    with open(plan_path) as fh:
        plan = json.load(fh)
    t0 = time.perf_counter() + 0.05
    result: dict = {}
    upd = None
    if plan.get("updates"):
        upd = threading.Thread(
            target=lambda: result.__setitem__("updates", run_updates(plan, t0)))
        upd.start()
    result["lookups"] = run_lookups(plan, t0)
    if upd is not None:
        upd.join()
    result["wall_s"] = time.perf_counter() - t0
    with open(result_path, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
