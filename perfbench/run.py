#!/usr/bin/env python3
"""The repository benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload ingest_push --seed 1 --seconds 10 --trace 0

Workloads (README.md says why each exists and what every metric means):

- ingest_push   open-loop bulk POSTs to the running service
- log_query     closed-loop operational queries over a partitioned table

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones (E2E below); with ``--trace 1`` the per-layer ones
(PER_LAYER), and the spans go to ``.bench_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("ingest_push", "log_query")

# Every workload prints every one of these. ``latency`` is the workload's
# own operation: an event's freshness (due time until its row is visible)
# on ingest_push, one query on log_query.
E2E = (
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
)

PER_LAYER = (
    ("peak_rss_mb", "MB"),
    ("receiver.requests", "count"),
    ("receiver.non_200", "count"),
    ("receiver.bulk_ack_ms", "ms"),
    ("receiver.ack_p50_ms", "ms"),
    ("receiver.ack_p99_ms", "ms"),
    ("receiver.ack_p50_ms_idle", "ms"),
    ("receiver.spool_bytes", "bytes"),
    ("gen.late_p50_ms", "ms"),
    ("gen.late_p99_ms", "ms"),
    ("sources.latest_offset_ms", "ms"),
    ("sources.get_batch_ms", "ms"),
    ("sources.files_per_batch", "count"),
    ("sources.input_tasks_per_batch", "count"),
    ("pipeline.batches", "count"),
    ("pipeline.trigger_ms_p50", "ms"),
    ("pipeline.query_planning_ms", "ms"),
    ("pipeline.wal_commit_ms", "ms"),
    ("pipeline.commit_offsets_ms", "ms"),
    ("pipeline.rows_per_batch", "count"),
    ("pipeline.active_streams", "count"),
    ("pipeline.empty_batches", "count"),
    ("pipeline.trigger_wait_ms", "ms"),
    ("pipeline.freshness_p99_ms", "ms"),
    ("pipeline.freshness_p99_ms_first_half", "ms"),
    ("pipeline.freshness_p99_ms_second_half", "ms"),
    ("pipeline.drain_events_per_s", "1/s"),
    ("pipeline.drain_events_per_s_1core", "1/s"),
    ("drain.batch_ms_p50", "ms"),
    ("ingest.parse_ms", "ms"),
    ("ingest.lines_in", "count"),
    ("ingest.docs_out", "count"),
    ("ingest.junk_lines", "count"),
    ("ingest.docs_per_line", "ratio"),
    ("normalize.ms", "ms"),
    ("normalize.ts_fallback_rows", "count"),
    ("sink.add_batch_ms", "ms"),
    ("sink.write_ms", "ms"),
    ("sink.files_written", "count"),
    ("sink.bytes_written", "bytes"),
    ("sink.bytes_per_row", "bytes"),
    ("storage.partitions", "count"),
    ("storage.table_files", "count"),
    ("storage.table_bytes", "bytes"),
    ("storage.files_scanned_per_query", "count"),
    ("storage.bytes_scanned_per_query", "bytes"),
    ("storage.rows_scanned_per_row_returned", "ratio"),
    ("query.build_ms", "ms"),
    ("query.exec_ms", "ms"),
    ("query.jobs", "count"),
    ("query.tasks", "count"),
    ("query.shuffle_bytes", "bytes"),
    ("query.count_all_p50_ms", "ms"),
    ("query.range_agg_p50_ms", "ms"),
    ("query.latest_n_p50_ms", "ms"),
    ("query.hourly_by_container_p50_ms", "ms"),
    ("operators.mad_outliers_ms", "ms"),
    ("extensions.dedup_ms", "ms"),
    ("extensions.similarity_ms", "ms"),
    ("extensions.text_ms", "ms"),
    ("extensions.retrieval_ms", "ms"),
    ("extensions.curation_pipeline_ms", "ms"),
    ("extensions.curation_pass_s", "s"),
    ("extensions.neardup_pairs", "count"),
    ("io.load_table_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.input_records", "count"),
    ("spark.core_busy_ratio", "ratio"),
    ("self_ms.gen", "ms"),
    ("self_ms.streaming.receiver", "ms"),
    ("self_ms.streaming.sources", "ms"),
    ("self_ms.streaming.pipeline", "ms"),
    ("self_ms.streaming.sink", "ms"),
    ("self_ms.ingest.formats", "ms"),
    ("self_ms.normalize", "ms"),
    ("self_ms.storage", "ms"),
    ("self_ms.queries", "ms"),
    ("self_ms.session", "ms"),
    ("self_ms.extensions", "ms"),
    ("trace.spans", "count"),
    ("trace.latency_p50_ms", "ms"),
    ("trace.latency_samples", "count"),
    ("trace.failed_ratio", "fraction"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=float, required=True,
        help="length of the timed phase; reported runs use run_seconds from BENCHMARK.json",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--inject-drop", type=int, default=0,
        help="ingest_push only: delete this many sink files before the check, "
        "to show that lost rows are counted as failures",
    )
    return ap.parse_args(argv)


def run(args) -> dict:
    from harness import RssPoller, SparkStatus, Tracer, WorkDir, nearest_rank, phase, start_spark, stop_spark

    root = os.getcwd()
    work = WorkDir(root, args.workload)
    tracer = Tracer(bool(args.trace))
    # memory is polled in traced runs only: the poller costs CPU
    rss = RssPoller()
    if tracer.enabled:
        rss.start()
    try:
        phase("session start")
        spark = start_spark(work)
        phase("session ready")
        try:
            status = SparkStatus(spark)
            common = (spark, work, args.seed, args.seconds, tracer, status, T_START)
            if args.workload == "ingest_push":
                from ingest import run_push

                res = run_push(*common, rss, inject_drop=args.inject_drop)
            else:
                from logquery import run as run_queries

                res = run_queries(*common)
            lat = res.pop("latency_ms")
            for pct in (50, 90):
                res[f"latency_p{pct}_ms"] = nearest_rank(lat, pct)[0]
            if tracer.enabled and args.workload == "log_query":
                from curation import FAMILIES, run as curation

                ext = curation(spark, work, args.seed, tracer)
                res["attempted"] += sum(len(names) for _, names in FAMILIES)
                res["failed"] += ext.pop("extensions.oracle_failed")
                res["layer"].update(ext)
            if tracer.enabled:
                res["layer"].update({f"self_ms.{k}": v for k, v in tracer.self_ms().items()})
                res["layer"]["trace.spans"] = len(tracer.spans)
                res["layer"]["trace.latency_p50_ms"] = res["latency_p50_ms"]
                res["layer"]["trace.latency_samples"] = res["samples"]
                res["layer"]["trace.failed_ratio"] = res["failed"] / res["attempted"]
        finally:
            phase("session stop")
            stop_spark(spark)
            phase("done")
        if tracer.enabled:
            res["layer"]["peak_rss_mb"] = rss.stop()
    finally:
        rss.stop()
        work.close()
    if tracer.enabled:
        path = os.path.join(work.base, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
    return res


def report(args, res: dict) -> dict:
    attempted, failed = int(res["attempted"]), int(res["failed"])
    if args.trace:
        # a layer the workload does not exercise reports 0
        layer = res["layer"]
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(res[name]), "unit": unit} for name, unit in E2E}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "filebeat_to_clickhouse_spark")):
        print(
            "perfbench: run from the root of a checkout that holds the "
            "filebeat_to_clickhouse_spark package",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, os.getcwd())
    res = run(args)
    out = report(args, res)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
