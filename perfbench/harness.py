"""Run-time plumbing shared by the workloads: the work directory, the
Spark session and its shutdown, the memory poller, percentiles, spans and
the Spark status-store readers.

Everything a run writes lives under ``.bench_work/`` in the directory the
benchmark is started from.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager

CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


_T0 = time.time()


def phase(name: str) -> None:
    """One progress line on standard error: where a run spends its time."""
    print(f"perfbench: {name} at {time.time() - _T0:.1f} s", file=sys.stderr, flush=True)


def nearest_rank(values, pct: float) -> tuple[float, int]:
    """(p-th percentile by the nearest-rank rule, sample count). The
    nearest-rank value is an actual sample: the smallest one with at
    least ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    k = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[k - 1], len(s)


def median(values) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of an empty sample")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


class WorkDir:
    """``.bench_work/<workload>-<pid>`` under the start directory; removed
    by ``close``. Spark's scratch, temp files and warehouse go here too."""

    def __init__(self, root: str, workload: str):
        self.base = os.path.join(root, ".bench_work")
        self.path = os.path.join(self.base, f"{workload}-{os.getpid()}")
        os.makedirs(self.path, exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: WorkDir, cores: int = CORES):
    """The engine's own session factory (``session.get_spark``), with its
    scratch space pointed into the work directory."""
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={work.sub('warehouse')}",
            f"--conf spark.sql.streaming.checkpointLocation={work.sub('ckpt-default')}",
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"',
            "pyspark-shell",
        ]
    )
    from filebeat_to_clickhouse_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a wedged JVM is killed, not leaked
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _proc_tree() -> dict[int, int]:
    ppid = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return ppid


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssPoller:
    """Peak of the summed RSS of this process and its descendants (the
    driver JVM and the Python workers it forks), sampled every 100 ms.
    Pids in ``exclude`` (the load generator) are left out with their
    descendants."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        tree = _proc_tree()
        children: dict[int, list[int]] = {}
        for pid, parent in tree.items():
            children.setdefault(parent, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_bytes(pid)
            todo.extend(children.get(pid, ()))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> "RssPoller":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        return self.peak / 2**20


class Tracer:
    """In-memory spans: (id, layer, name, start_s, end_s, parent id, trace
    id). ``enabled=False`` makes every call a no-op, which is how untraced
    runs keep the wrappers on their path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()

    def add(self, layer, name, start, end, parent=None, trace_id=None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append((sid, layer, name, start, end, parent, trace_id))
        return sid

    @contextmanager
    def span(self, layer: str, name: str, trace_id=None):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        stack.append(sid)
        t0 = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._lock:
                self.spans[sid] = (sid, layer, name, t0, time.time(), parent, trace_id)

    def count(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + value

    def self_ms(self) -> dict[str, float]:
        """Per layer: the summed span time not covered by child spans."""
        kids: dict[int, list[tuple]] = {}
        for s in self.spans:
            if s[5] is not None:
                kids.setdefault(s[5], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            for lo, hi in _merge([(max(c[3], s[3]), min(c[4], s[4])) for c in kids.get(s[0], ())]):
                covered += hi - lo
            out[s[1]] = out.get(s[1], 0.0) + max(0.0, (s[4] - s[3]) - covered) * 1000
        return out

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["id", "layer", "name", "start_s", "end_s", "parent", "trace_id"],
                    "spans": self.spans,
                    "counts": self.counts,
                },
                f,
            )


def _merge(intervals):
    out: list[list[float]] = []
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkStatus:
    """Engine counters read from the JVM SparkContext's status store, the
    same store the status tracker reads. ``snapshot`` marks the start of a
    phase; ``since`` sums the stages completed after it."""

    def __init__(self, spark):
        self.spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mark_stages: set[int] = set()
        self._mark_jobs: set[int] = set()
        self._mark_t = time.time()

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        return _seq(self._store.stageList(None, False, False, empty, None))

    def _jobs(self):
        return _seq(self._store.jobsList(None))

    def snapshot(self) -> None:
        self._mark_stages = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self._mark_jobs = {j.jobId() for j in self._jobs()}
        self._mark_t = time.time()

    def since(self, job_groups: set[str] | None = None) -> dict[str, float]:
        jobs = [j for j in self._jobs() if j.jobId() not in self._mark_jobs]
        if job_groups is not None:
            jobs = [j for j in jobs if j.jobGroup().isDefined() and j.jobGroup().get() in job_groups]
            stage_ids = {int(sid) for j in jobs for sid in _seq(j.stageIds())}
        stages = [
            s
            for s in self._stages()
            if (s.stageId(), s.attemptId()) not in self._mark_stages
            and (job_groups is None or s.stageId() in stage_ids)
        ]
        run_ms = sum(s.executorRunTime() for s in stages)
        wall_ms = (time.time() - self._mark_t) * 1000
        return {
            "spark.jobs": len(jobs),
            "spark.tasks": sum(s.numCompleteTasks() for s in stages),
            "spark.executor_run_ms": run_ms,
            "spark.executor_cpu_ms": sum(s.executorCpuTime() for s in stages) / 1e6,
            "spark.gc_ms": sum(s.jvmGcTime() for s in stages),
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spark.shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "spark.spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages),
            "spark.input_bytes": sum(s.inputBytes() for s in stages),
            "spark.input_records": sum(s.inputRecords() for s in stages),
            "spark.core_busy_ratio": run_ms / (wall_ms * CORES) if wall_ms > 0 else 0.0,
        }
