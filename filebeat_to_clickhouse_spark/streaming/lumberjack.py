"""Lumberjack/Beats v2 TCP input sidecar (C1, config.yaml:21-24) — the
binary protocol the reference declares and stubs with a TODO
(main.go:612-617, "needs a dedicated library"). The v2 framing (as
implemented by Logstash's beats input and elastic's public go-lumber) is
small enough for ~100 lines of stdlib ``struct`` + ``zlib``:

every frame starts with a version byte ``2`` and a type byte —

| frame | payload |
|---|---|
| ``W`` window size | uint32 count: events per ack window |
| ``C`` compressed  | uint32 length + zlib block containing J/D frames |
| ``J`` json event  | uint32 seq, uint32 len, JSON bytes |
| ``D`` data event  | uint32 seq, uint32 npairs, then (len,key,len,val)× |
| ``A`` ack (reply) | uint32 seq — highest consumed sequence |

All integers big-endian. The sidecar accepts connections, decodes
events to NDJSON (a ``D`` frame's key/value pairs become a flat JSON
object), spools each ack window as one body via the atomic ``.part`` →
rename protocol (``receiver.spool_body``), and acks the highest sequence
— at-least-once into the spool (Beats resends unacked windows; replays
dedup downstream via ``streaming_dedup``), exactly-once from the spool
file onward. The Spark side stays the service's one spool stream
(``<spool>/bulk`` + the bulk parser).
"""

from __future__ import annotations

import io
import json
import socketserver
import struct
import threading
import zlib

from .receiver import landing_dir, spool_body


def _read_exact(f, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = f.read(n - len(buf))
        if not chunk:
            raise EOFError("lumberjack connection closed mid-frame")
        buf += chunk
    return buf


def _u32(f) -> int:
    return struct.unpack(">I", _read_exact(f, 4))[0]


def decode_frames(f):
    """Yield ('W', n) / ('J', seq, json_bytes) / ('D', seq, dict) from a
    binary stream; transparently descends into compressed blocks."""
    while True:
        try:
            hdr = f.read(2)
        except EOFError:
            return
        if not hdr or len(hdr) < 2:
            return
        version, ftype = hdr[0:1], hdr[1:2]
        if version != b"2":
            raise ValueError(f"unsupported lumberjack version byte {version!r}")
        if ftype == b"W":
            yield ("W", _u32(f))
        elif ftype == b"C":
            block = zlib.decompress(_read_exact(f, _u32(f)))
            yield from decode_frames(io.BytesIO(block))
        elif ftype == b"J":
            seq = _u32(f)
            yield ("J", seq, _read_exact(f, _u32(f)))
        elif ftype == b"D":
            seq = _u32(f)
            pairs = {}
            for _ in range(_u32(f)):
                k = _read_exact(f, _u32(f)).decode("utf-8", "replace")
                pairs[k] = _read_exact(f, _u32(f)).decode("utf-8", "replace")
            yield ("D", seq, pairs)
        else:
            raise ValueError(f"unknown lumberjack frame type {ftype!r}")


class LumberjackSpoolSource:
    """Threaded Lumberjack v2 TCP server spooling event batches under
    ``spool_dir/bulk/``."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.spool_dir = spool_dir
        landing_dir(spool_dir)
        source = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                window = 0
                pending: list[bytes] = []
                max_seq = 0
                try:
                    for frame in decode_frames(self.rfile):
                        if frame[0] == "W":
                            window = frame[1]
                            continue
                        _, seq, payload = frame
                        max_seq = max(max_seq, seq)
                        line = (
                            payload
                            if frame[0] == "J"
                            else json.dumps(frame[2], sort_keys=True).encode()
                        )
                        pending.append(line)
                        if window and len(pending) >= window:
                            spool_body(source.spool_dir, b"\n".join(pending))
                            pending = []
                            self.wfile.write(b"2A" + struct.pack(">I", max_seq))
                except (EOFError, ValueError, zlib.error):
                    pass
                finally:
                    if pending:
                        spool_body(source.spool_dir, b"\n".join(pending))
                        try:
                            self.wfile.write(b"2A" + struct.pack(">I", max_seq))
                        except OSError:
                            pass

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "LumberjackSpoolSource":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "LumberjackSpoolSource":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class TcpLinesSpoolSource:
    """Plain TCP JSON-lines input (C5, config.yaml:49-52; TODO body
    main.go:656-665) as a spooling sidecar — unlike Spark's built-in
    ``socket`` source (no replay, test-quality by its own docs), lines
    landed in the spool get checkpointed file-stream semantics: restart
    replays nothing, loses nothing from the spool file onward.

    Each connection's complete lines are spooled in chunks as NDJSON
    bodies (a trailing line without newline flushes on disconnect); the
    bulk parser's bare-document tolerance consumes them unchanged.
    """

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_lines: int = 256,
    ):
        self.spool_dir = spool_dir
        landing_dir(spool_dir)
        source = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                pending: list[bytes] = []
                try:
                    for raw in self.rfile:
                        line = raw.rstrip(b"\r\n")
                        if line:
                            pending.append(line)
                        if len(pending) >= flush_lines:
                            spool_body(source.spool_dir, b"\n".join(pending))
                            pending = []
                finally:
                    if pending:
                        spool_body(source.spool_dir, b"\n".join(pending))

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._server = Server((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "TcpLinesSpoolSource":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "TcpLinesSpoolSource":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
