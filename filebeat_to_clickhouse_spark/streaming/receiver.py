"""HTTP push receiver sidecar: wire-compatible with the reference's ingest
API, spooling request bodies to a landing directory that the Spark file
stream tails.

Spark has no HTTP server source, so this ~100-line stdlib sidecar keeps the
Spark side idiomatic (SURVEY §4 "custom work #1"). Route surface mirrors the
reference router (main.go:158-176):

| Route | Body | Reference handler |
|---|---|---|
| POST /_bulk, /:idx/_bulk, /:idx/:type/_bulk | ES bulk NDJSON, spooled as sent | handleBulk (main.go:257) |
| POST /, /logstash | JSON object or array | handleLogstash (main.go:562) |
| POST /events | JSON array | handleEvents (main.go:348) |
| POST /filebeat, /ingest | JSON object | handleFilebeat (main.go:365) |
| GET /health, / | health JSON | healthCheck (main.go:246) |

Every route lands as NDJSON in ``<spool>/bulk/<ts>-<seq>.body`` (atomic
rename). Bulk bodies are spooled as sent; JSON bodies are converted at the
edge (``to_ndjson``; not JSON → 400), as the reference binds JSON per
handler. Bodies over ``MAX_BODY_BYTES`` / ``MAX_JSON_BODY_BYTES`` get a 413
unread. The bulk ack is ES-CONFORMANT: ``took``/``errors`` plus a real
per-action ``items`` ARRAY (``{"<verb>": {"status": ..., "_id": ...}}`` per
action line, 201 for index/create, 200 for update/delete) — the reference
replies ``items`` as a bare count (main.go:340-344), which real Filebeat ES
outputs can't parse for per-item retry decisions; this closes that gap.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_ACTION_VERBS = ("index", "create", "update", "delete")

# process-wide, not per writer: a receiver and sidecars (or two receivers)
# sharing one spool directory must never pick the same body name
_SEQ = itertools.count()

# Elasticsearch's http.max_content_length default; larger bodies get a 413
MAX_BODY_BYTES = 100 * 1024 * 1024
# JSON routes decode the whole body into Python objects, ~9x its size in
# RSS; at 32 MiB that peaks near a bulk body at MAX_BODY_BYTES (~3.5x)
MAX_JSON_BODY_BYTES = 32 * 1024 * 1024


def landing_dir(spool_dir: str) -> None:
    """Create ``<spool_dir>/bulk``; each spool writer calls it once, at init."""
    os.makedirs(os.path.join(spool_dir, "bulk"), exist_ok=True)


def spool_body(spool_dir: str, body: bytes) -> str:
    """Land one NDJSON body as ``<spool_dir>/bulk/<ts>-<seq>.body``: written
    to a hidden ``.part`` file first and renamed, so the file stream never
    observes a partial write. The receiver and every input sidecar spool
    through here, after ``landing_dir`` created the directory."""
    name = f"{time.time_ns()}-{next(_SEQ)}"
    tmp = os.path.join(spool_dir, "bulk", f".{name}.part")
    final = os.path.join(spool_dir, "bulk", f"{name}.body")
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


def to_ndjson(body: bytes) -> bytes:
    """A JSON object or array body → bulk-parser NDJSON: one compact line
    per object (the body, or each object element of an array). Raises
    ValueError if not an object or array, RecursionError if too deep."""
    doc = json.loads(body)
    if not isinstance(doc, (dict, list)):
        raise ValueError("body is not a JSON object or array")
    docs = [doc] if isinstance(doc, dict) else [d for d in doc if isinstance(d, dict)]
    # backslashreplace: a lone surrogate (a valid "\udXXX" escape that UTF-8
    # cannot encode) is written back as the same JSON escape
    return b"\n".join(
        json.dumps(d, separators=(",", ":"), ensure_ascii=False).encode("utf-8", "backslashreplace")
        for d in docs
    )


def _route(path: str) -> str | None:
    parts = [p for p in path.split("?")[0].split("/") if p]
    if parts and parts[-1] == "_bulk" and len(parts) <= 3:
        return "bulk"
    if "/" + "/".join(parts) in ("/", "/logstash", "/events", "/filebeat", "/ingest"):
        return "json"
    return None


class SpoolReceiver:
    """Threaded HTTP receiver spooling bodies under ``spool_dir/bulk/``."""

    def __init__(self, spool_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.spool_dir = spool_dir
        landing_dir(spool_dir)
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
                route = _route(self.path)
                if route is None:
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
                except ValueError:
                    self._reply(400, {"error": "invalid Content-Length"})
                    return
                cap = MAX_BODY_BYTES if route == "bulk" else MAX_JSON_BODY_BYTES
                if n > cap:
                    self._reply(413, {"error": f"body over {cap} bytes"})
                    return
                body = self.rfile.read(n)
                if route == "json":
                    try:
                        body = to_ndjson(body)
                    except (ValueError, RecursionError) as e:
                        self._reply(400, {"error": f"invalid JSON body: {e}"})
                        return
                try:
                    if body:
                        spool_body(receiver.spool_dir, body)
                except OSError as e:
                    self._reply(500, {"error": f"spool failure: {e}"})
                    return
                if route == "bulk":
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
