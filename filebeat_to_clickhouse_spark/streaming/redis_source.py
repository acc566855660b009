"""Redis LIST / PUBSUB source sidecar (C3, config.yaml:35-40) — a
stdlib-only RESP client that drains the Filebeat redis output's data
structure into the spool landing dir, where the ordinary file stream +
wire parsers take over (the same sidecar pattern as the HTTP receiver:
Spark has no Redis streaming source, so the ~100 lines that talk RESP
stay OUTSIDE Spark and the Spark side remains an idiomatic file stream).

The reference declares this input and stubs the body with a TODO
(main.go:632-641, "needs the go-redis library"); the protocol is simple
enough to not need a library: RESP2 framing is length-prefixed text.

- ``mode="list"``: the Filebeat redis output RPUSHes one JSON event per
  LIST element; the sidecar drains with ``LPOP key COUNT n`` (Redis
  ≥ 6.2), falling back automatically to single-element ``LPOP`` against
  older servers, and spools each drained batch as one NDJSON body.
- ``mode="pubsub"``: SUBSCRIBE to the channel and spool each pushed
  message (no replay on restart — inherent to pub/sub, same caveat the
  reference's config comment implies).

Delivery semantics: LPOP is destructive, so list mode is at-most-once
across sidecar crashes (an element popped but not yet spooled is lost);
the atomic spool rename keeps the Spark side exactly-once from the
spool file onward. A production hardening is LMOVE to a processing list
+ trim-after-spool; out of scope here, documented for honesty.
"""

from __future__ import annotations

import socket
import threading

from .receiver import landing_dir, spool_body


class RespError(RuntimeError):
    """Server-reported RESP error (`-ERR ...`)."""


def _encode_command(*args: str | bytes) -> bytes:
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a if isinstance(a, bytes) else a.encode()
        out.append(b"$%d\r\n" % len(b))
        out.append(b + b"\r\n")
    return b"".join(out)


def _read_reply(f):
    """Parse one RESP2 reply from a buffered socket file. Returns
    str | int | bytes | None | list (recursively); raises RespError for
    error replies and EOFError on a closed connection."""
    line = f.readline()
    if not line:
        raise EOFError("redis connection closed")
    kind, rest = line[:1], line[1:-2]
    if kind == b"+":
        return rest.decode()
    if kind == b"-":
        raise RespError(rest.decode())
    if kind == b":":
        return int(rest)
    if kind == b"$":
        n = int(rest)
        if n == -1:
            return None
        payload = f.read(n + 2)[:-2]
        return payload
    if kind == b"*":
        n = int(rest)
        if n == -1:
            return None
        return [_read_reply(f) for _ in range(n)]
    raise RespError(f"unparseable RESP reply prefix: {line!r}")


class _SockReader:
    """readline/read over a raw socket for the blocking PUBSUB path.

    ``socket.makefile`` marks itself permanently unusable after ONE
    timeout ("cannot read from timed out object"), so a quiet channel
    would poison the stream on the first idle gap. This reader treats a
    recv timeout as an idle poll instead: partial data stays buffered,
    the retry continues exactly where it left off (no mid-reply desync),
    and ``stop()`` is honored at every poll boundary via EOFError."""

    def __init__(self, sock, stop_event):
        self._sock, self._stop, self._buf = sock, stop_event, b""

    def _fill(self) -> None:
        while True:
            try:
                chunk = self._sock.recv(65536)
                break
            except TimeoutError:
                if self._stop.is_set():
                    raise EOFError("stopped") from None
        if not chunk:
            raise EOFError("connection closed")
        self._buf += chunk

    def readline(self) -> bytes:
        while b"\n" not in self._buf:
            self._fill()
        i = self._buf.index(b"\n") + 1
        out, self._buf = self._buf[:i], self._buf[i:]
        return out

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            self._fill()
        out, self._buf = self._buf[:n], self._buf[n:]
        return out


class RedisSpoolSource:
    """Drain a Redis LIST or PUBSUB channel into ``spool_dir/bulk/``.

    Bodies land via the same atomic ``.part`` → rename protocol as the
    HTTP receiver, into the same directory, so the service's one spool
    stream and the bulk parser consume them unchanged.
    """

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 6379,
        key: str = "filebeat:logs",
        mode: str = "list",
        password: str = "",
        batch_size: int = 128,
        poll_interval: float = 0.2,
        socket_timeout: float = 5.0,
    ):
        if mode not in ("list", "pubsub"):
            raise ValueError(f"mode must be 'list' or 'pubsub', got {mode!r}")
        self.spool_dir = spool_dir
        self.host, self.port, self.key, self.mode = host, port, key, mode
        self.password, self.batch_size, self.poll_interval = password, batch_size, poll_interval
        self.socket_timeout = socket_timeout
        self.last_error: Exception | None = None  # latest drain-loop failure
        landing_dir(spool_dir)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._lpop_count_ok = True  # downgraded on first LPOP COUNT error

    # -- wire ---------------------------------------------------------------
    def _connect(self):
        sock = socket.create_connection((self.host, self.port), timeout=self.socket_timeout)
        f = sock.makefile("rb")
        if self.password:
            sock.sendall(_encode_command("AUTH", self.password))
            _read_reply(f)
        return sock, f

    def _drain_list_once(self, sock, f) -> int:
        """One LPOP round; returns number of elements spooled."""
        if self._lpop_count_ok:
            sock.sendall(_encode_command("LPOP", self.key, str(self.batch_size)))
            try:
                reply = _read_reply(f)
            except RespError:
                # pre-6.2 server: LPOP takes no COUNT — downgrade for good
                self._lpop_count_ok = False
                return self._drain_list_once(sock, f)
            items = reply or []
        else:
            items = []
            for _ in range(self.batch_size):
                sock.sendall(_encode_command("LPOP", self.key))
                item = _read_reply(f)
                if item is None:
                    break
                items.append(item)
        if items:
            spool_body(self.spool_dir, b"\n".join(items))
        return len(items)

    def _run(self) -> None:
        """Reconnect-forever drain loop (the same never-die contract as the
        Kafka sidecar): ANY error — a server restart, an AUTH failure,
        protocol garbage — records itself in ``last_error`` and retries
        with capped exponential backoff; only ``stop()`` ends the loop.
        The pre-r5 form returned on the first EOFError/OSError, which
        permanently killed ingestion on a Redis restart AND on any idle
        gap longer than the socket timeout (the blocking PUBSUB read
        times out) while the service stayed up. PUBSUB re-SUBSCRIBEs
        after a reconnect; messages published while disconnected are
        lost — that is Redis pub/sub's own delivery contract, not
        something this loop can change (use LIST mode for durability)."""
        backoff = self.poll_interval
        while not self._stop.is_set():
            sock = None
            try:
                sock, f = self._connect()
                if self.mode == "pubsub":
                    # _SockReader, not the makefile: an idle gap longer
                    # than the socket timeout must be a poll, not a
                    # poisoned stream (see _SockReader). The AUTH reply
                    # was fully consumed by the makefile and the server
                    # sends nothing further before SUBSCRIBE, so handing
                    # the raw socket over here cannot split a reply.
                    rd = _SockReader(sock, self._stop)
                    sock.sendall(_encode_command("SUBSCRIBE", self.key))
                    _read_reply(rd)  # subscribe confirmation
                    while not self._stop.is_set():
                        msg = _read_reply(rd)
                        backoff = self.poll_interval
                        if isinstance(msg, list) and len(msg) == 3 and msg[0] == b"message":
                            spool_body(self.spool_dir, msg[2])
                    return
                while not self._stop.is_set():
                    if self._drain_list_once(sock, f) == 0:
                        self._stop.wait(self.poll_interval)
                    backoff = self.poll_interval
            except Exception as e:  # noqa: BLE001 — see docstring: never die
                if self._stop.is_set():
                    return
                self.last_error = e
                self._stop.wait(backoff)
                backoff = min(backoff * 2, 10.0)
            finally:
                if sock is not None:
                    try:
                        sock.close()
                    except OSError:
                        pass

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> "RedisSpoolSource":
        self._thread.start()
        return self

    def stop(self, timeout: float = 5.0) -> None:
        self._stop.set()
        self._thread.join(timeout)

    def __enter__(self) -> "RedisSpoolSource":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
