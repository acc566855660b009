"""The ingest_push workload and the per-layer passes of the ingest layers.

- ingest_push: open loop. A separate generator process POSTs bulk bodies
  to ``build_service`` (parquet sink, 2 s trigger) on a fixed schedule;
  freshness and ack latency are timed from each body's due time. The
  receiver, the trigger loop and per-batch overhead are on the path.
- the drain layer (traced runs): a backlog landed in a spool is drained
  with ``run_spool_to_parquet(..., available_now=True)``. Per-row work
  dominates.

Both check the sink: every acked document must appear exactly once, by
content digest, and nothing else may appear.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from collections import Counter

import gen
from harness import CORES, median, nearest_rank, phase

# bodies/s offered to ingest_push: 2 500 events/s, about a quarter of the
# drain rate of the same events (pipeline.drain_events_per_s). At twice this
# rate a micro-batch took 1.9 s of the 2 s trigger and freshness swung with
# every stall of the machine (see README.md).
PUSH_RATE = 5.0
PUSH_WARM_S = 4.0  # service warm-up at the offered rate, excluded from timing
TRIGGER_S = 2
DRAIN_BODIES = 60  # 30 000 events per drain
DRAIN_FIRST_BODY = 2_000_000  # body indices of the drained backlog
DRAINS = 3
WARM_BODIES = 10  # the warm-up spool: JIT and codegen before anything is timed
ISO_BODIES = 40  # bodies the isolation passes run over
WARM_FIRST_BODY = 1_000_000  # body indices of the warm-up spool
TAIL_TIMEOUT_S = 60.0
HERE = os.path.dirname(os.path.abspath(__file__))


class SinkWatcher:
    """Polls a parquet table directory every 50 ms and records when each
    data file first became visible."""

    def __init__(self, root: str, period: float = 0.05):
        self.root = root
        self.period = period
        self.first_seen: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def scan(self) -> None:
        now = time.time()
        try:
            parts = [e for e in os.scandir(self.root) if e.name.startswith("ym=")]
        except FileNotFoundError:
            return
        for part in parts:
            try:
                for f in os.scandir(part.path):
                    if f.name.endswith(".parquet") and f.name[0] not in "._":
                        self.first_seen.setdefault(f.path, now)
            except FileNotFoundError:
                continue

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.scan()

    def start(self) -> "SinkWatcher":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        self.scan()
        return self.first_seen


def expected_rows(bodies: dict[int, bytes]) -> dict[int, Counter]:
    return {b: Counter(gen.digest(line) for line in gen.doc_lines(body)) for b, body in bodies.items()}


def sink_rows(first_seen: dict[str, float]) -> tuple[dict[int, Counter], dict[int, float]]:
    """Per body: the digests of its rows in the sink, and the time its
    last row became visible."""
    import pyarrow.parquet as pq

    rows: dict[int, Counter] = {}
    visible: dict[int, float] = {}
    for path, t in first_seen.items():
        for raw in pq.read_table(path, columns=["raw_json"]).column(0).to_pylist():
            b = gen.body_of(raw)
            rows.setdefault(b, Counter())[gen.digest(raw)] += 1
            visible[b] = max(visible.get(b, 0.0), t)
    return rows, visible


def failed_bodies(expected: dict[int, Counter], got: dict[int, Counter]) -> set[int]:
    """Bodies whose rows are missing, duplicated or altered in the sink."""
    return {b for b, want in expected.items() if got.get(b, Counter()) != want}


def post(port: int, body: bytes) -> tuple[int, dict]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/_bulk", body, {"Content-Type": "application/x-ndjson"})
        resp = conn.getresponse()
        payload = resp.read()
        return resp.status, (json.loads(payload) if resp.status == 200 else {})
    finally:
        conn.close()


def land(spool_dir: str, bodies: list[bytes]) -> None:
    """Spool bodies through the receiver itself, as Filebeat would."""
    from filebeat_to_clickhouse_spark.streaming.receiver import SpoolReceiver

    with SpoolReceiver(spool_dir, port=0) as r:
        for body in bodies:
            status, _ = post(r.port, body)
            if status != 200:
                raise RuntimeError(f"landing a backlog body failed with HTTP {status}")


def drain(spark, spool: str, out: str, ckpt: str):
    from filebeat_to_clickhouse_spark.streaming.pipeline import run_spool_to_parquet

    q = run_spool_to_parquet(spark, spool, out, ckpt, fmt="bulk", available_now=True)
    q.awaitTermination()
    return q


def _weighted(values_by_body: dict[int, float], weights: dict[int, int]) -> list[float]:
    out: list[float] = []
    for b, v in values_by_body.items():
        out.extend([v] * weights[b])
    return out


def _progress_layer(progress: list[dict]) -> dict[str, float]:
    """Per-batch streaming-progress figures of one query, averaged over
    its non-empty batches."""
    full = [p for p in progress if p["numInputRows"] > 0]
    if not full:
        return {}

    def avg(key):
        return sum(p["durationMs"].get(key, 0) for p in full) / len(full)

    return {
        "sources.latest_offset_ms": avg("latestOffset"),
        "sources.get_batch_ms": avg("getBatch"),
        "sources.files_per_batch": sum(p["numInputRows"] for p in full) / len(full),
        "pipeline.query_planning_ms": avg("queryPlanning"),
        "pipeline.wal_commit_ms": avg("walCommit"),
        "pipeline.commit_offsets_ms": avg("commitOffsets"),
        "pipeline.trigger_ms_p50": median([p["durationMs"]["triggerExecution"] for p in full]),
        "sink.add_batch_ms": avg("addBatch"),
    }


def _trace_batches(tracer, name: str, progress: list[dict]) -> None:
    """Lay each batch's progress durations out as spans under one trigger
    span, in the order the micro-batch executes them."""
    from datetime import datetime

    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = p["durationMs"]
        tid = f"{name}-batch{p['batchId']}"
        top = tracer.add("streaming.pipeline", "trigger", start, start + d["triggerExecution"] / 1000, trace_id=tid)
        t = start
        for key, layer in (
            ("latestOffset", "streaming.sources"),
            ("walCommit", "streaming.pipeline"),
            ("getBatch", "streaming.sources"),
            ("queryPlanning", "streaming.pipeline"),
            ("addBatch", "streaming.sink"),
            ("commitOffsets", "streaming.pipeline"),
        ):
            if key in d:
                tracer.add(layer, key, t, t + d[key] / 1000, parent=top, trace_id=tid)
                t += d[key] / 1000


def sink_layout(out: str, rows: int) -> dict[str, float]:
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(out) for f in fs if f.endswith(".parquet") and f[0] not in "._"]
    size = sum(os.path.getsize(f) for f in files)
    parts = {os.path.basename(os.path.dirname(f)) for f in files}
    return {
        "sink.files_written": len(files),
        "sink.bytes_written": size,
        "sink.bytes_per_row": size / max(rows, 1),
        "storage.partitions": len(parts),
        "storage.table_files": len(files),
        "storage.table_bytes": size,
    }


def receiver_isolation(work, bodies: list[bytes], tracer) -> dict[str, float]:
    """The receiver's ack builder alone, and the same POSTs against a
    receiver with Spark idle: loaded minus idle ack time is the time acks
    wait for CPU while batches run."""
    from filebeat_to_clickhouse_spark.streaming.receiver import SpoolReceiver, bulk_ack

    t = time.time()
    with tracer.span("streaming.receiver", "bulk_ack"):
        for body in bodies:
            bulk_ack(body)
    out = {"receiver.bulk_ack_ms": (time.time() - t) * 1000 / len(bodies)}
    idle = []
    with SpoolReceiver(work.sub("idle-spool"), port=0) as r:
        for body in bodies:
            a = time.time()
            post(r.port, body)
            idle.append((time.time() - a) * 1000)
    out["receiver.ack_p50_ms_idle"] = median(idle)
    return out


def row_isolation(spark, work, bodies: list[bytes], tracer) -> dict[str, float]:
    """Layer-isolation passes of the per-row path over the same bodies: the
    bulk parse alone, parse + normalize, and the parquet sink on an
    already-normalized batch. Each is timed three times after one warm
    pass; the median is reported."""
    import pyspark.sql.functions as F

    from filebeat_to_clickhouse_spark.ingest import parse_bulk_ndjson
    from filebeat_to_clickhouse_spark.streaming.pipeline import parse_stream
    from filebeat_to_clickhouse_spark.streaming.sink import foreach_batch_parquet

    out: dict[str, float] = {}
    spool = work.sub("iso-spool")
    os.makedirs(spool, exist_ok=True)
    for i, body in enumerate(bodies):
        with open(os.path.join(spool, f"{i:06d}.body"), "wb") as f:
            f.write(body)
    values = spark.read.text(spool, wholetext=True)

    def timed(layer, name, fn) -> float:
        fn()
        ts = []
        for _ in range(3):
            with tracer.span(layer, name):
                a = time.time()
                fn()
                ts.append((time.time() - a) * 1000)
        return median(ts)

    parse_ms = timed("ingest.formats", "parse", lambda: parse_bulk_ndjson(values).write.format("noop").mode("overwrite").save())
    both_ms = timed("normalize", "parse+normalize", lambda: parse_stream(values, "bulk").write.format("noop").mode("overwrite").save())
    out["ingest.parse_ms"] = parse_ms
    out["normalize.ms"] = max(0.0, both_ms - parse_ms)

    lines = [ln.strip() for body in bodies for ln in body.decode().split("\n") if ln.strip()]
    docs = parse_bulk_ndjson(values).count()
    actions = sum(1 for ln in lines if ln == gen.ACTION_LINE)
    out["ingest.lines_in"] = len(lines)
    out["ingest.docs_out"] = docs
    out["ingest.junk_lines"] = len(lines) - actions - docs
    out["ingest.docs_per_line"] = docs / len(lines)
    normalized = parse_stream(values, "bulk").cache()
    normalized.count()
    out["normalize.ts_fallback_rows"] = normalized.filter(
        F.col("raw_json").contains('"@timestamp":"not-a-timestamp"')
    ).count()
    k = iter(range(100))
    out["sink.write_ms"] = timed(
        "streaming.sink", "write", lambda: foreach_batch_parquet(work.sub(f"iso-out{next(k)}"))(normalized, 0)
    )
    normalized.unpersist()
    return out


def warm(spark, work, seed: int) -> None:
    """JIT and codegen of the parse / normalize / sink path before anything
    is timed: one drain of bodies no timed phase uses. The first drain in a
    session costs about 11 s on 4 cores whatever its size."""
    warm_spool = work.sub("warm-spool")
    phase("warm-up")
    land(warm_spool, gen.make_bodies(seed, WARM_BODIES, first_body=WARM_FIRST_BODY))
    drain(spark, warm_spool, work.sub("warm-out"), work.sub("warm-ck"))


def drain_layer(spark, work, seed: int, tracer) -> dict:
    """The per-row path without the receiver or the trigger: a backlog of
    DRAIN_BODIES bodies landed in a spool is drained DRAINS times with
    ``run_spool_to_parquet(..., available_now=True)``, each time into a
    fresh table and checkpoint, and checked like the pushed rows. Then the
    isolation passes of the per-row layers and the single-core drain."""
    backlog = gen.make_bodies(seed, DRAIN_BODIES, first_body=DRAIN_FIRST_BODY)
    spool = work.sub("spool")
    land(spool, backlog)
    expected = expected_rows({DRAIN_FIRST_BODY + i: body for i, body in enumerate(backlog)})
    events = sum(sum(c.values()) for c in expected.values())
    phase("drains")
    drain_ms, failed, progress = [], 0, []
    for k in range(DRAINS):
        out = work.sub(f"drain-out{k}")
        watcher = SinkWatcher(out).start()
        with tracer.span("streaming.pipeline", "drain", trace_id=f"drain{k}"):
            a = time.time()
            q = drain(spark, spool, out, work.sub(f"drain-ck{k}"))
            drain_ms.append((time.time() - a) * 1000)
        failed += len(failed_bodies(expected, sink_rows(watcher.stop())[0]))
        progress += q.recentProgress
        _trace_batches(tracer, f"drain{k}", q.recentProgress)
    full = [p for p in progress if p["numInputRows"] > 0]
    return {
        "attempted": DRAINS * len(backlog),
        "failed": failed,
        "layer": {
            "pipeline.drain_events_per_s": events * 1000 / median(drain_ms),
            "pipeline.drain_events_per_s_1core": one_core_drain(work, spool, work.sub("warm-spool"), events),
            "drain.batch_ms_p50": median([p["durationMs"]["triggerExecution"] for p in full]),
            **row_isolation(spark, work, backlog[:ISO_BODIES], tracer),
        },
    }


def run_push(spark, work, seed: int, seconds: float, tracer, status, t_start: float, rss, inject_drop: int = 0) -> dict:
    """ingest_push: warm, start the service, run the generator process over
    PUSH_WARM_S of warm-up bodies and then ``seconds`` of timed bodies,
    wait for the sink to catch up, check. ``inject_drop`` deletes that many
    sink files before the check, so the check has rows to miss. A traced
    run adds the drain layer after the check."""
    from filebeat_to_clickhouse_spark.__main__ import build_service
    from filebeat_to_clickhouse_spark.config import PipelineConfig

    warm(spark, work, seed)
    n_warm = int(PUSH_RATE * PUSH_WARM_S)
    n_timed = int(PUSH_RATE * seconds)
    bodies = gen.make_bodies(seed, n_warm + n_timed)
    body_dir = work.sub("bodies")
    os.makedirs(body_dir)
    for i, body in enumerate(bodies):
        with open(os.path.join(body_dir, f"{i}.body"), "wb") as f:
            f.write(body)
    cfg = PipelineConfig()
    cfg.server.host, cfg.server.port = "127.0.0.1", 0
    cfg.spool_dir, cfg.checkpoint_dir = work.sub("push-spool"), work.sub("push-ckpt")
    cfg.trigger_seconds = TRIGGER_S
    out = work.sub("logs")
    phase("service start")
    front, queries = build_service(cfg, "parquet", out, once=False, spark=spark)
    phase("push warm-up")
    watcher = SinkWatcher(out).start()
    start = time.time() + 0.5
    first_timed_due = start + n_warm / PUSH_RATE
    results_path = work.sub("loadgen.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), body_dir, "127.0.0.1", str(front.port),
         str(PUSH_RATE), repr(start), str(CORES), results_path]
    )
    rss.exclude.add(proc.pid)
    try:
        time.sleep(max(0.0, first_timed_due - time.time()))
        phase("timed push")
        if tracer.enabled:
            status.snapshot()
        proc.wait(timeout=len(bodies) / PUSH_RATE + 120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    with open(results_path) as f:
        sent = json.load(f)
    bulk_q = queries[0]  # build_service starts the bulk stream first

    # tail: wait until the bulk stream has consumed every spooled body
    phase("tail")
    deadline = time.time() + TAIL_TIMEOUT_S
    while time.time() < deadline:
        if sum(p["numInputRows"] for p in bulk_q.recentProgress) >= len(bodies):
            break
        time.sleep(0.1)
    eng = status.since() if tracer.enabled else {}
    progress = [q.recentProgress for q in queries]
    active = len(spark.streams.active)
    front.stop()
    for q in queries:
        q.stop()
    first_seen = watcher.stop()
    for path in sorted(first_seen)[:inject_drop]:
        os.remove(path)
        del first_seen[path]
    phase("check")

    timed = range(n_warm, len(bodies))
    expected = expected_rows({b: bodies[b] for b in timed})
    got, visible = sink_rows(first_seen)
    bad_rows = failed_bodies(expected, got)
    bad_posts = {
        b for b in timed
        if sent[b][4] != 200 or sent[b][5] != sum(expected[b].values()) or sent[b][6] != gen.EVENTS_PER_BODY
    }
    weights = {b: sum(expected[b].values()) for b in timed}
    fresh_by_body = {b: (visible[b] - sent[b][1]) * 1000 for b in timed if b in visible and b not in bad_rows}
    fresh = _weighted(fresh_by_body, weights)
    res = {
        "setup_s": first_timed_due - t_start,
        "latency_ms": fresh,
        "samples": len(fresh_by_body),
        # an operation is a POST and, separately, the rows of its body
        "attempted": 2 * n_timed,
        "failed": len(bad_posts) + len(bad_rows),
    }
    if not tracer.enabled:
        return res

    for b in timed:
        _, due, t_sent, acked, *_ = sent[b]
        top = tracer.add("gen", "post", due, acked, trace_id=f"body{b}")
        tracer.add("streaming.receiver", "bulk", t_sent, acked, parent=top, trace_id=f"body{b}")
    for i, prog in enumerate(progress):
        _trace_batches(tracer, f"stream{i}", prog)
    ack = [(sent[b][3] - sent[b][1]) * 1000 for b in timed if b not in bad_posts]
    late = [(sent[b][2] - sent[b][1]) * 1000 for b in timed]
    half = n_warm + n_timed // 2
    first = _weighted({b: v for b, v in fresh_by_body.items() if b < half}, weights)
    second = _weighted({b: v for b, v in fresh_by_body.items() if b >= half}, weights)
    full = [p for p in progress[0] if p["numInputRows"] > 0]
    res["layer"] = {
        **_progress_layer(progress[0]),
        **sink_layout(out, sum(weights.values())),
        **eng,
        "receiver.requests": len(sent),
        "receiver.non_200": sum(1 for r in sent if r[4] != 200),
        "receiver.spool_bytes": sum(e.stat().st_size for e in os.scandir(os.path.join(cfg.spool_dir, "bulk"))),
        "receiver.ack_p50_ms": nearest_rank(ack, 50)[0],
        "receiver.ack_p99_ms": nearest_rank(ack, 99)[0],
        "gen.late_p50_ms": nearest_rank(late, 50)[0],
        "gen.late_p99_ms": nearest_rank(late, 99)[0],
        "pipeline.batches": len(full),
        "pipeline.empty_batches": sum(1 for prog in progress for p in prog if p["numInputRows"] == 0),
        "pipeline.active_streams": active,
        "pipeline.rows_per_batch": sum(weights.values()) / max(1, len(full)),
        "pipeline.trigger_wait_ms": _trigger_wait_ms(full),
        "pipeline.freshness_p99_ms": nearest_rank(fresh, 99)[0],
        "pipeline.freshness_p99_ms_first_half": nearest_rank(first, 99)[0],
        "pipeline.freshness_p99_ms_second_half": nearest_rank(second, 99)[0],
        "sources.input_tasks_per_batch": eng["spark.tasks"] / max(1, len(full)),
        **receiver_isolation(work, bodies[:ISO_BODIES], tracer),
    }
    d = drain_layer(spark, work, seed, tracer)
    res["attempted"] += d["attempted"]
    res["failed"] += d["failed"]
    res["layer"].update(d["layer"])
    return res


def _trigger_wait_ms(full: list[dict]) -> float:
    """Mean gap between the end of one non-empty batch and the start of
    the next: time rows sat spooled while the trigger waited."""
    from datetime import datetime

    def ts(p):
        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    full = sorted(full, key=ts)
    gaps = [
        (ts(b) - ts(a)) * 1000 - a["durationMs"]["triggerExecution"] for a, b in zip(full, full[1:])
    ]
    return sum(gaps) / len(gaps) if gaps else 0.0


def one_core_drain(work, spool: str, warm_spool: str, events: int) -> float:
    """The single-threaded baseline: the same drain in a local[1] session
    of its own process, after one warm drain."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "drain1.py"), spool, warm_spool, work.sub("one-core")],
        capture_output=True, text=True, timeout=170, check=True,
    )
    return events / float(out.stdout.strip().splitlines()[-1])
