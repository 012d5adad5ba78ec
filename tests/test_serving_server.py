"""Out-of-process queryable-state façade (reference
QueryClientHelper.java:104-139 parity: network lookup, miss ⇒ empty,
5 s timeout)."""

from __future__ import annotations

import json
import socket
import subprocess
import sys
import time

import pytest

from flink_ms_spark.serving.server import DEADLINE_S, ModelStoreServer, query_model
from flink_ms_spark.serving.store import ModelStore


def _populated_store(spark) -> ModelStore:
    store = ModelStore(spark, "ALS_MODEL")
    batch = spark.createDataFrame(
        [("1-U", "1", "U", [1.0, 2.0]), ("7-I", "7", "I", [3.0, 4.0])],
        "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>",
    )
    store.upsert_batch(batch)
    return store


def test_lookup_hit_miss_same_process(spark):
    server = ModelStoreServer(_populated_store(spark)).start()
    try:
        hit = query_model(server.host, server.port, "1-U")
        assert hit["found"] and hit["factors"] == [1.0, 2.0]
        assert query_model(server.host, server.port, "99-U") is None  # miss
    finally:
        server.stop()


def test_lookup_from_subprocess(spark):
    """A DIFFERENT process can point-query the serving view — the
    reference's whole client module does exactly this (2 network hops);
    the 5 s client timeout is the default."""
    server = ModelStoreServer(_populated_store(spark)).start()
    code = (
        "import json, sys; from urllib.request import urlopen; "
        f"r = urlopen('http://{server.host}:{server.port}/lookup?key=7-I', timeout=5.0); "
        "print(json.dumps(json.loads(r.read())))"
    )
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, timeout=30
        )
        assert out.returncode == 0, out.stderr
        payload = json.loads(out.stdout)
        assert payload["found"] is True
        assert payload["kind"] == "I"
        assert payload["factors"] == [3.0, 4.0]
    finally:
        server.stop()


def test_server_reflects_upserts(spark):
    """The façade serves the LIVE store: an upsert after start is
    visible to the next query (the reference's Kafka→state loop has
    the same read-your-writes-at-batch-boundary shape)."""
    store = _populated_store(spark)
    server = ModelStoreServer(store).start()
    try:
        assert query_model(server.host, server.port, "2-U") is None
        batch = store.spark.createDataFrame(
            [("2-U", "2", "U", [9.0])],
            "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>",
        )
        store.upsert_batch(batch)
        assert query_model(server.host, server.port, "2-U")["factors"] == [9.0]
    finally:
        server.stop()


def test_snapshot_rollback_serving(spark):
    """Versioned serving: upsert a new model, validate, roll back in
    O(1) — lookups and the join view flip atomically."""
    store = _populated_store(spark)
    v1 = store.snapshot()

    # "deploy" a regressed model for key 1-U and add a new key
    bad = spark.createDataFrame(
        [("1-U", "1", "U", [9.0, 9.0]), ("2-U", "2", "U", [5.0, 5.0])],
        "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>",
    )
    store.upsert_batch(bad)
    assert list(store.lookup("1-U").factors) == [9.0, 9.0]
    assert store.lookup("2-U") is not None
    v2 = store.snapshot()

    store.rollback(v1)
    assert list(store.lookup("1-U").factors) == [1.0, 2.0]  # restored
    assert store.lookup("2-U") is None  # new key gone with the rollback
    assert store.view().where("key = '2-U'").count() == 0

    store.rollback(v2)  # roll FORWARD works too
    assert list(store.lookup("1-U").factors) == [9.0, 9.0]

    import pytest as _pytest

    with _pytest.raises(KeyError):
        store.rollback(99)


def test_lookup_over_http_from_spilled_store(spark):
    """X2 façade against a SPILLED store (max_dict_keys exceeded): the
    HTTP lookup path goes store.lookup → DataFrame point filter instead
    of the dict, with identical hit/miss payloads — the network surface
    must not care which backend answers."""
    store = ModelStore(spark, "ALS_MODEL", max_dict_keys=1)
    batch = spark.createDataFrame(
        [("1-U", "1", "U", [1.0, 2.0]), ("7-I", "7", "I", [3.0, 4.0])],
        "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>",
    )
    store.upsert_batch(batch)
    assert store._spilled  # 2 keys > cap of 1
    server = ModelStoreServer(store).start()
    try:
        hit = query_model(server.host, server.port, "1-U")
        assert hit["found"] and hit["factors"] == [1.0, 2.0]
        assert query_model(server.host, server.port, "99-U") is None  # miss
    finally:
        server.stop()


ODD_KEYS = ["a&b", "a b", "a#b", "a+b", "é"]


@pytest.fixture(scope="module")
def served(spark):
    store = _populated_store(spark)
    store.upsert_batch(
        spark.createDataFrame(
            [(k, k, "U", [float(n)]) for n, k in enumerate(ODD_KEYS)],
            "key STRING, id STRING, kind STRING, factors ARRAY<DOUBLE>",
        )
    )
    server = ModelStoreServer(store).start()
    yield server
    server.stop()


def _raw(server, request: bytes) -> tuple[int, bytes]:
    """Send raw request bytes; read until the server closes the
    connection (a socket timeout fails the test); (status, body)."""
    with socket.create_connection((server.host, server.port), timeout=5.0) as s:
        s.sendall(request)
        reply = b""
        while chunk := s.recv(65536):
            reply += chunk
    head, _, body = reply.partition(b"\r\n\r\n")
    return int(head.split()[1]), body


HIT = {"found": True, "key": "1-U", "id": "1", "kind": "U", "factors": [1.0, 2.0]}


@pytest.mark.parametrize(
    "request_bytes,status,want",
    [
        pytest.param(b"GET /lookup?key=1-U HTTP/1.1\r\nHost: x\r\n\r\n", 200, HIT, id="hit"),
        pytest.param(
            b"GET /lookup?key=99-U HTTP/1.1\r\n\r\n", 404, {"found": False, "key": "99-U"},
            id="miss",
        ),
        pytest.param(b"GET /lookup?other=1 HTTP/1.1\r\n\r\n", 400, None, id="missing_key"),
        pytest.param(b"GET /metrics?key=1-U HTTP/1.1\r\n\r\n", 404, None, id="unknown_path"),
        pytest.param(
            b"POST /lookup?key=1-U HTTP/1.1\r\nContent-Length: 3\r\n\r\nabc", 501, None,
            id="post",
        ),
        pytest.param(b"GARBAGE\r\n\r\n", 400, None, id="malformed_request_line"),
        pytest.param(
            b"GET /lookup?key=" + b"a" * 70_000 + b" HTTP/1.1\r\n\r\n", 414, None,
            id="request_line_over_64k",
        ),
        # the reply goes out before the request is read in full; the
        # server drains the rest, or closing would reset the connection
        pytest.param(
            b"GET /lookup?key=" + b"a" * 1_000_000 + b" HTTP/1.1\r\n\r\n", 414, None,
            id="request_line_of_1mb",
        ),
    ],
)
def test_request_contract(served, request_bytes, status, want):
    """Status codes of the parent's threading server; every reply is
    JSON and ends with the server closing the connection."""
    code, body = _raw(served, request_bytes)
    assert code == status
    payload = json.loads(body)
    if want is not None:
        assert payload == want


@pytest.mark.parametrize("key", ODD_KEYS)
def test_odd_keys_round_trip(served, key):
    hit = query_model(served.host, served.port, key)
    assert hit["key"] == key and hit["id"] == key
    assert hit["factors"] == [float(ODD_KEYS.index(key))]


def test_stalled_client_delays_nothing_and_is_closed_at_its_deadline(spark):
    """One loop thread serves every connection: a client that sends half
    a head and stalls must not delay another lookup, is closed at its
    deadline, and does not hold up stop(); the port is free again after
    stop()."""
    store = _populated_store(spark)
    server = ModelStoreServer(store).start()
    host, port = server.host, server.port
    partial = b"GET /lookup?key=1-U HTTP/1.1\r\nHost: x\r\n"  # no blank line
    try:
        with socket.create_connection((host, port), timeout=DEADLINE_S + 3) as stalled:
            stalled.sendall(partial)
            t0 = time.monotonic()
            assert query_model(host, port, "1-U", timeout=1.0)["found"]
            assert time.monotonic() - t0 < 1.0
            assert stalled.recv(1) == b""  # closed by the server
            assert time.monotonic() - t0 >= DEADLINE_S - 0.5

        with socket.create_connection((host, port), timeout=3.0) as open_conn:
            open_conn.sendall(partial)
            # the loop accepts every pending connection at once, so once
            # this lookup is answered open_conn has been accepted too
            assert query_model(host, port, "7-I", timeout=1.0)["found"]
            t0 = time.monotonic()
            server.stop()
            assert time.monotonic() - t0 < 1.0
            assert open_conn.recv(1) == b""  # closed by stop()
    finally:
        server.stop()
    again = ModelStoreServer(store, port=port).start()
    try:
        assert query_model(again.host, again.port, "1-U")["found"]
    finally:
        again.stop()


def test_failed_lookup_answers_500_and_the_loop_keeps_serving():
    class Flaky:
        def lookup(self, key):
            if key == "boom":
                raise RuntimeError("leaf read failed")
            return None

    server = ModelStoreServer(Flaky()).start()
    try:
        code, body = _raw(server, b"GET /lookup?key=boom HTTP/1.1\r\n\r\n")
        assert code == 500 and json.loads(body)["error"] == "lookup failed"
        assert query_model(server.host, server.port, "other") is None
    finally:
        server.stop()
