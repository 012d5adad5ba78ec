"""Out-of-process point-query façade over ModelStore (SURVEY.md §2.6
X1/X2 — the reference's queryable-state CLIENT side).

The reference exposes Flink queryable ValueState over the network and
ships a client helper with a 5 s query timeout and miss ⇒
Optional.empty (QueryClientHelper.java:104-139). Spark has no state
server, so this module completes the parity story with a thin
localhost HTTP façade over ``ModelStore.lookup``:

- ``ModelStoreServer`` — an HTTP server bound to 127.0.0.1 on the
  DRIVER (where the store's dict mirror lives).
  GET /lookup?key=K → 200 {"found": true, "key": K, ...payload...}, or
  404 {"found": false, "key": K} for a miss; no key → 400, another
  path → 404, another method → 501.
- ``query_model`` — the client helper: any process on the machine can
  point-query the serving view; ``timeout`` defaults to the
  reference's 5 s; a miss returns None (Optional.empty parity).

Threading model: ONE loop thread, built on stdlib ``selectors``, owns
the non-blocking listening socket and every connection; no thread is
started per request. Each wake-up accepts every pending connection,
reads each readable connection's head up to ``\\r\\n\\r\\n`` without
blocking, parses only the request line (headers are not parsed),
answers ``store.lookup(key)`` inline and writes an ``HTTP/1.0`` reply
with ``Connection: close``. A reply the kernel does not take in full is
finished when the socket turns writable, so one client never blocks
the others. Bounds:

- a request head is capped at 64 KiB (the stdlib handler's line limit);
  over the cap the reply is 414 (request line) or 431 (headers);
- every connection is closed 5 s after it was accepted (the reference
  client's timeout), whatever state it is in, so a client that stalls
  mid-head holds one descriptor for at most 5 s;
- ``stop()`` wakes the loop through a socketpair; the loop closes the
  listener and every open connection, and ``stop()`` joins it.

Trade-off: the lookup runs ON the loop thread. On the dict tier that is
a dict get (µs), which is what makes the loop cheaper than a thread per
request. On a spilled store a hot-tier miss reads a parquet leaf
(ms-class), and the Spark fallback runs a job; every request queued
behind such a lookup waits for it. There is no thread pool and no
option to add one.

Scale note: this is a serving-layer façade for the MODEL (bounded,
driver-resident by design — see serving/store.py); it is not a data
path. A production deployment would front the same lookup contract
with a real KV tier; every caller-visible semantic (latest-per-key,
miss ⇒ empty, timeout) is pinned here.
"""

from __future__ import annotations

import json
import logging
import selectors
import socket
import threading
import time
from collections import deque
from http import HTTPStatus
from typing import Optional
from urllib.parse import parse_qs, urlparse
from urllib.request import urlopen

from flink_ms_spark.serving.store import ModelStore

MAX_HEAD = 64 * 1024  # request-head cap, bytes
DEADLINE_S = 5.0  # per-connection lifetime, the reference client's timeout

_log = logging.getLogger(__name__)


class _Conn:
    __slots__ = ("sock", "deadline", "head", "out", "linger")

    def __init__(self, sock: socket.socket, deadline: float):
        self.sock = sock
        self.deadline = deadline
        self.head = bytearray()  # request bytes read so far
        self.out: memoryview | None = None  # reply bytes not yet sent
        # after the reply, read the client's input to EOF before closing
        self.linger = False


class ModelStoreServer:
    """Localhost HTTP façade over a ModelStore; ``port=0`` picks a free
    port (read it back from ``.port``)."""

    def __init__(self, store: ModelStore, host: str = "127.0.0.1", port: int = 0):
        self._store = store
        self._listener = socket.create_server((host, port))
        self._listener.setblocking(False)
        self.host, self.port = self._listener.getsockname()[:2]
        self._wake_r, self._wake_w = socket.socketpair()
        self._thread: threading.Thread | None = None

    def start(self) -> "ModelStoreServer":
        self._thread = threading.Thread(
            target=self._serve, name="model-store-server", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        """Close the listener and every open connection; returns once the
        loop thread has exited (or after ``DEADLINE_S`` if a lookup in
        progress holds it). Calling it again does nothing."""
        if self._thread is not None:
            self._wake_w.send(b"\0")
            self._thread.join(timeout=DEADLINE_S)
            self._thread = None
        else:  # never started, or stopped already
            self._listener.close()
            self._wake_r.close()
        self._wake_w.close()

    # -- the loop --------------------------------------------------------

    def _serve(self) -> None:
        sel = selectors.DefaultSelector()
        sel.register(self._listener, selectors.EVENT_READ)
        sel.register(self._wake_r, selectors.EVENT_READ)
        # connections in accept order, which is deadline order; closed
        # ones are skipped when they reach the front
        by_deadline: deque[_Conn] = deque()
        try:
            while True:
                timeout = None
                if by_deadline:
                    timeout = max(0.0, by_deadline[0].deadline - time.monotonic())
                for key, events in sel.select(timeout):
                    conn = key.data
                    if conn is not None:
                        if events & selectors.EVENT_WRITE:
                            self._send(sel, conn)
                        else:
                            self._read(sel, conn)
                    elif key.fileobj is self._listener:
                        self._accept(sel, by_deadline)
                    else:  # woken by stop()
                        return
                now = time.monotonic()
                while by_deadline and (
                    by_deadline[0].sock.fileno() < 0 or by_deadline[0].deadline <= now
                ):
                    self._close(sel, by_deadline.popleft())
        finally:
            for key in list(sel.get_map().values()):
                key.fileobj.close()  # listener, wake socket, connections
            sel.close()

    def _accept(self, sel: selectors.BaseSelector, by_deadline: deque) -> None:
        while True:
            try:
                sock, _ = self._listener.accept()
            except OSError:  # nothing pending, or an error retried next pass
                return
            sock.setblocking(False)
            conn = _Conn(sock, time.monotonic() + DEADLINE_S)
            sel.register(sock, selectors.EVENT_READ, conn)
            by_deadline.append(conn)

    def _read(self, sel: selectors.BaseSelector, conn: _Conn) -> None:
        try:
            data = conn.sock.recv(MAX_HEAD)
        except BlockingIOError:
            return
        except OSError:  # reset by the client
            data = b""
        if not data:
            self._close(sel, conn)
            return
        if conn.linger:
            return  # discard input that follows an answered head
        seen = len(conn.head)
        conn.head += data
        end = conn.head.find(b"\r\n\r\n", max(0, seen - 3))
        if end < 0 and len(conn.head) <= MAX_HEAD:
            return  # head incomplete: wait for more
        if 0 <= end <= MAX_HEAD:
            line = bytes(conn.head[: conn.head.find(b"\r\n")])
            try:
                code, payload = self._answer(line)
                body = json.dumps(payload).encode()
            except Exception:  # the loop must outlive one failed request
                _log.exception("answering %r failed", line[:200])
                code, body = 500, b'{"error": "lookup failed"}'
        elif conn.head.find(b"\r\n", 0, MAX_HEAD) < 0:
            code, body = 414, b'{"error": "request line too long"}'
        else:
            code, body = 431, b'{"error": "request head too large"}'
        # an error reply may leave input unread (a body, the rest of an
        # over-long head); closing over unread input resets the
        # connection, which can destroy the reply before the client
        # reads it, so such connections are drained to EOF first
        conn.linger = code not in (200, 404)
        conn.head = bytearray()
        conn.out = memoryview(
            (
                f"HTTP/1.0 {code} {HTTPStatus(code).phrase}\r\n"
                "Content-Type: application/json\r\n"
                f"Content-Length: {len(body)}\r\n"
                "Connection: close\r\n\r\n"
            ).encode("ascii")
            + body
        )
        self._send(sel, conn)

    def _answer(self, line: bytes) -> tuple[int, dict]:
        words = line.decode("iso-8859-1").split()
        if len(words) != 3 or not words[2].startswith("HTTP/"):
            return 400, {"error": "bad request line"}
        method, target, _ = words
        if method != "GET":
            return 501, {"error": f"unsupported method {method}"}
        url = urlparse(target)
        if url.path != "/lookup":
            return 404, {"error": "unknown path"}
        keys = parse_qs(url.query).get("key")
        if not keys:
            return 400, {"error": "missing key"}
        row = self._store.lookup(keys[0])
        if row is None:  # miss => empty, QueryClientHelper.java:135-137
            return 404, {"found": False, "key": keys[0]}
        return 200, {"found": True, "key": keys[0], **row.asDict()}

    def _send(self, sel: selectors.BaseSelector, conn: _Conn) -> None:
        try:
            sent = conn.sock.send(conn.out)
        except BlockingIOError:
            sent = 0
        except OSError:  # the client went away
            self._close(sel, conn)
            return
        conn.out = conn.out[sent:]
        if conn.out:  # finish when the socket turns writable
            sel.modify(conn.sock, selectors.EVENT_WRITE, conn)
        elif conn.linger:
            try:
                conn.sock.shutdown(socket.SHUT_WR)
            except OSError:
                self._close(sel, conn)
                return
            sel.modify(conn.sock, selectors.EVENT_READ, conn)
        else:
            self._close(sel, conn)

    @staticmethod
    def _close(sel: selectors.BaseSelector, conn: _Conn) -> None:
        if conn.sock.fileno() >= 0:
            sel.unregister(conn.sock)
            conn.sock.close()


def query_model(
    host: str, port: int, key: str, timeout: float = 5.0
) -> Optional[dict]:
    """Client helper: point-query a served model; miss ⇒ None. The 5 s
    default timeout mirrors QueryClientHelper.java's query timeout."""
    from urllib.error import HTTPError
    from urllib.parse import quote

    # keys are arbitrary parsed strings — encode, or '&'/'#'/'+'/' '
    # inside a key queries the wrong key (or malforms the request)
    url = f"http://{host}:{port}/lookup?key={quote(key, safe='')}"
    try:
        with urlopen(url, timeout=timeout) as resp:
            return json.loads(resp.read())
    except HTTPError as e:
        if e.code == 404:
            return None
        raise
