"""Open-loop load generator, run as its own process:

    python3 perfbench/loadgen.py BODY_DIR HOST PORT RATE START_EPOCH THREADS OUT

POSTs every ``BODY_DIR/<i>.body`` to ``/_bulk``, body ``i`` due at
``START_EPOCH + i / RATE`` whether or not earlier requests have returned
(so a stalled receiver builds a queue here, as it would for real
shippers). At most THREADS requests are in flight. Writes one JSON list per
request to OUT: [i, due, sent, acked, status, took, items] (epoch seconds).
"""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time


def main(argv: list[str]) -> int:
    body_dir, host, port, rate, start, threads, out = argv
    port, rate, start, threads = int(port), float(rate), float(start), int(threads)
    names = sorted(os.listdir(body_dir), key=lambda n: int(n.split(".")[0]))
    bodies = []
    for n in names:
        with open(os.path.join(body_dir, n), "rb") as f:
            bodies.append(f.read())
    results: list[list] = [None] * len(bodies)
    nxt = iter(range(len(bodies)))
    lock = threading.Lock()

    def worker() -> None:
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            due = start + i / rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            status, took, items = 0, -1, -1
            try:
                conn = http.client.HTTPConnection(host, port, timeout=60)
                conn.request("POST", "/_bulk", bodies[i], {"Content-Type": "application/x-ndjson"})
                resp = conn.getresponse()
                payload = resp.read()
                status = resp.status
                if status == 200:
                    ack = json.loads(payload)
                    took, items = ack["took"], len(ack["items"])
                conn.close()
            except (OSError, ValueError, KeyError):
                status = -1
            results[i] = [i, due, sent, time.time(), status, took, items]

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    with open(out, "w") as f:
        json.dump(results, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
