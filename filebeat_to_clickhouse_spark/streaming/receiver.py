"""HTTP push receiver sidecar: wire-compatible with the reference's ingest
API, spooling request bodies to a landing directory that the Spark file
stream tails.

Spark has no HTTP server source, so this ~100-line stdlib sidecar keeps the
Spark side idiomatic (SURVEY §4 "custom work #1"). Route surface mirrors the
reference router (main.go:158-176):

| Route | Format | Reference handler |
|---|---|---|
| POST /_bulk, /:idx/_bulk, /:idx/:type/_bulk | ES bulk NDJSON | handleBulk (main.go:257) |
| POST /, /logstash | Logstash JSON | handleLogstash (main.go:562) |
| POST /events | JSON array | handleEvents (main.go:348) |
| POST /filebeat, /ingest | single JSON | handleFilebeat (main.go:365) |
| GET /health, / | health JSON | healthCheck (main.go:246) |

Bodies land as ``<spool>/<fmt>/<ts>-<seq>.body`` via atomic rename, so the
file stream never observes partial writes. The bulk ack is ES-CONFORMANT:
``took``/``errors`` plus a real per-action ``items`` ARRAY
(``{"<verb>": {"status": ..., "_id": ...}}`` per action line, 201 for
index/create, 200 for update/delete) — the reference replies ``items``
as a bare count (main.go:340-344), which real Filebeat ES outputs can't
parse for per-item retry decisions; this closes that fidelity gap.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

FORMATS = ("bulk", "logstash", "events", "single")

_ACTION_VERBS = ("index", "create", "update", "delete")

# process-wide, not per writer: a receiver and sidecars (or two receivers)
# sharing one spool directory must never pick the same body name
_SEQ = itertools.count()


def spool_body(spool_dir: str, fmt: str, body: bytes) -> str:
    """Land one body as ``<spool_dir>/<fmt>/<ts>-<seq>.body``: written to a
    hidden ``.part`` file first and renamed, so the file stream never
    observes a partial write. The receiver and every input sidecar spool
    through here."""
    name = f"{time.time_ns()}-{next(_SEQ)}"
    tmp = os.path.join(spool_dir, fmt, f".{name}.part")
    final = os.path.join(spool_dir, fmt, f"{name}.body")
    with open(tmp, "wb") as f:
        f.write(body)
    os.rename(tmp, final)
    return final


def bulk_ack(body: bytes) -> dict:
    """ES-conformant bulk ack for a request body: one ``items`` entry per
    action line (same single-key action-shape rule as the Spark-side
    parser, ingest/formats.py), ``took`` = number of document lines (the
    reference's count, main.go:340-344). Malformed lines are skipped
    silently, like both the reference and the batch parser."""
    items: list[dict] = []
    n_docs = 0
    for raw in body.decode("utf-8", "replace").split("\n"):
        line = raw.strip()
        if not line:
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        keys = list(obj)
        if len(keys) == 1 and keys[0] in _ACTION_VERBS:
            verb = keys[0]
            meta = obj[verb] if isinstance(obj[verb], dict) else {}
            item = {"status": 201 if verb in ("index", "create") else 200}
            if "_id" in meta:
                item["_id"] = meta["_id"]
            if "_index" in meta:
                item["_index"] = meta["_index"]
            items.append({verb: item})
        else:
            n_docs += 1
    return {"took": n_docs, "errors": False, "items": items}


def _classify(path: str) -> str | None:
    parts = [p for p in path.split("?")[0].split("/") if p]
    if parts and parts[-1] == "_bulk" and len(parts) <= 3:
        return "bulk"
    route = "/" + "/".join(parts)
    if route in ("/", "/logstash"):
        return "logstash"
    if route == "/events":
        return "events"
    if route in ("/filebeat", "/ingest"):
        return "single"
    return None


class SpoolReceiver:
    """Threaded HTTP receiver spooling bodies under ``spool_dir/<fmt>/``."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.spool_dir = spool_dir
        for fmt in FORMATS:
            os.makedirs(os.path.join(spool_dir, fmt), exist_ok=True)
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, payload: dict):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path.split("?")[0] in ("/", "/health"):
                    self._reply(
                        200,
                        {
                            "status": "ok",
                            "service": "filebeat-to-clickhouse-spark-receiver",
                            "time": datetime.now(timezone.utc).isoformat(),
                        },
                    )
                else:
                    self._reply(404, {"error": "not found"})

            def do_POST(self):
                fmt = _classify(self.path)
                if fmt is None:
                    self._reply(404, {"error": "not found"})
                    return
                # error REPLIES, not dropped connections: socketserver
                # would contain a handler exception (server survives), but
                # the client would see a reset instead of the status code
                # the reference's HTTP surface answers with (main.go's
                # handlers reply 400/500 on bad requests / IO failures)
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    if n < 0:
                        # rfile.read(-1) would block reading to EOF while
                        # the client waits for the reply — a deadlock, not
                        # a 400
                        raise ValueError("negative Content-Length")
                    body = self.rfile.read(n)
                except ValueError:
                    self._reply(400, {"error": "invalid Content-Length"})
                    return
                try:
                    spool_body(receiver.spool_dir, fmt, body)
                except OSError as e:
                    self._reply(500, {"error": f"spool failure: {e}"})
                    return
                if fmt == "bulk":
                    self._reply(200, bulk_ack(body))
                else:
                    self._reply(200, {"status": "ok"})

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def start(self) -> "SpoolReceiver":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "SpoolReceiver":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
