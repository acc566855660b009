"""Seeded input generators. Everything here depends only on the seed.

Bulk bodies are Elasticsearch-bulk NDJSON as Filebeat's container input
ships them: an action line, then one event line, per document. Each event
carries ``bench.body`` / ``bench.seq`` so a sink row can be traced back to
the body (and therefore the due time) it came from.
"""

from __future__ import annotations

import hashlib
import json
import random

EVENTS_PER_BODY = 500
JUNK_SHARE = 0.01  # share of document lines replaced by a non-JSON line
TS_FALLBACK_SHARE = 0.005  # share of events whose @timestamp cannot be parsed

# The wire shapes `queries.multiformat_timestamp_parse` exercises, as
# strftime-style renderers over (date, time, fraction) parts.
TS_SHAPES = (
    lambda d, t, us: f"{d}T{t}Z",
    lambda d, t, us: f"{d}T{t}.{us // 1000:03d}Z",
    lambda d, t, us: f"{d} {t}",
    lambda d, t, us: f"{d}T{t}.{us:06d}Z",
    lambda d, t, us: f"{d}T{t}+00:00",
)

_WORDS = (
    "GET POST PUT DELETE request response upstream timeout retry connected "
    "user session cache miss hit worker queue job started finished failed "
    "error warn info debug db query rows ms latency status ok pod node "
    "shard replica leader follower commit flush compaction gc heap"
).split()


ACTION_LINE = '{"index":{"_index":"filebeat-8.11.0"}}'


def _containers(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """Per container: the JSON fragment placed before ``"bench"`` in every
    event line, once keyed by name and once by id (Filebeat sends the id
    when the name is unknown)."""
    out = []
    for i in range(n):
        cid = "%064x" % rng.getrandbits(256)
        name = f"svc-{i:02d}-{rng.choice(('api', 'web', 'db', 'worker', 'cache'))}"
        rest = json.dumps(
            {
                "host": {"name": f"node-{i % 7}"},
                "docker": {"container": {"id": cid, "name": name}},
                "agent": {"name": "filebeat", "version": "8.11.0", "type": "filebeat"},
                "log": {"file": {"path": f"/var/lib/docker/containers/{cid}/{cid}-json.log"}},
                "stream": "stdout",
            },
            separators=(",", ":"),
        )[1:-1]
        out.append((f'"container":{{"name":"{name}"}},{rest}', f'"container":{{"id":"{cid}"}},{rest}'))
    return out


def _days(base_s: int) -> list[str]:
    import datetime as dt

    first = dt.date(1970, 1, 1) + dt.timedelta(days=base_s // 86400)
    return [(first + dt.timedelta(days=k)).isoformat() for k in range(3)]


def make_bodies(seed: int, n_bodies: int, first_body: int = 0) -> list[bytes]:
    """``n_bodies`` bulk bodies of EVENTS_PER_BODY events each. Body ``i``
    is the same bytes for a given (seed, first_body + i) whatever
    ``n_bodies`` is, so warm-up and timed bodies never collide."""
    crng = random.Random(seed * 1_000_003 + 17)
    containers = _containers(crng, 24)
    days = _days(1_717_200_000 + crng.randrange(0, 30) * 86400)  # June 2024 onwards
    bodies = []
    for b in range(first_body, first_body + n_bodies):
        rng = random.Random((seed << 32) ^ (b * 2_654_435_761))
        rand, randrange, choice = rng.random, rng.randrange, rng.choice
        lines = []
        for j in range(EVENTS_PER_BODY):
            lines.append(ACTION_LINE)
            if rand() < JUNK_SHARE:
                lines.append(f"junk line {b}-{j} <<not json")
                continue
            if rand() < TS_FALLBACK_SHARE:
                ts = "not-a-timestamp"
            else:
                s = randrange(86400)
                t = f"{s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"
                ts = choice(TS_SHAPES)(choice(days), t, randrange(1_000_000))
            msg = " ".join([choice(_WORDS) for _ in range(max(1, int(rng.lognormvariate(2.3, 0.6))))])
            by_name, by_id = containers[randrange(len(containers))]
            lines.append(
                f'{{"@timestamp":"{ts}","message":"{msg}",'
                f'{by_name if rand() < 0.9 else by_id},"bench":{{"body":{b},"seq":{j}}}}}'
            )
        bodies.append(("\n".join(lines) + "\n").encode())
    return bodies


def doc_lines(body: bytes) -> list[str]:
    """The document lines of a body, as the receiver's ack and the bulk
    parser see them: trimmed, JSON objects, not action lines."""
    out = []
    for raw in body.decode().split("\n"):
        line = raw.strip()
        if not line or line.startswith('{"index"'):
            continue
        if line.startswith("{"):
            out.append(line)
    return out


def digest(line: str) -> bytes:
    return hashlib.blake2b(line.encode(), digest_size=12).digest()


def body_of(raw_json: str) -> int:
    """Body index of a sink row, from the ``bench`` field of its raw line."""
    i = raw_json.rindex('"bench":{"body":') + 16
    return int(raw_json[i : raw_json.index(",", i)])
