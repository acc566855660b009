"""Runnable service: the drop-in equivalent of the reference converter
process (main.go:140-200) — load config, start the HTTP receiver, run one
streaming query over its spool, sink to ClickHouse or parquet.

    python -m filebeat_to_clickhouse_spark [--config /path/config.yaml]
        [--sink parquet|clickhouse] [--out /data/logs] [--once]

Point Filebeat's ``output.elasticsearch.hosts`` at the receiver port,
exactly as with the reference (README.md:160-170). ``--once`` drains the
current spool backlog and exits (smoke/batch runs); default runs until
interrupted with a processing-time trigger.
"""

from __future__ import annotations

import argparse
import glob
import os
import signal
import sys


class _ServiceFront:
    """The HTTP receiver plus any enabled TCP/Redis input sidecars, with
    the receiver's single-object contract (.port, .stop()) preserved."""

    def __init__(self, receiver, sidecars):
        self._receiver = receiver
        self._sidecars = sidecars
        self.port = receiver.port
        self.spool_dir = receiver.spool_dir

    def stop(self) -> None:
        for s in self._sidecars:
            s.stop()
        self._receiver.stop()


def build_service(cfg, sink: str, out_path: str, once: bool, spark=None):
    """Start receiver (+ enabled sidecars) + the spool query (+ the Kafka
    connector query); returns (front, queries), spool query first. Parity:
    inputs.redis and inputs.logstash (config.yaml:21-24, 35-40) start the
    RESP and Lumberjack sidecars the reference declares but stubs."""
    from .config import PipelineConfig
    from .session import get_spark
    from .streaming.pipeline import parse_stream
    from .streaming.receiver import SpoolReceiver
    from .streaming.sink import foreach_batch_clickhouse_http, foreach_batch_parquet
    from .streaming.sources import stream_spool_dir

    assert isinstance(cfg, PipelineConfig)
    # other subdirs are earlier versions' per-format spools (never emptied)
    bulk_dir = os.path.join(cfg.spool_dir, "bulk")
    stale = sorted({os.path.dirname(p) for p in glob.glob(os.path.join(cfg.spool_dir, "*", "*.body"))} - {bulk_dir})
    if stale:
        raise RuntimeError(f"{stale[0]} holds old per-format spool bodies: drain it with --once on the "
                           "previous version, then delete it or move it out of the spool directory")
    spark = spark or get_spark("filebeat-to-clickhouse-spark")
    receiver = SpoolReceiver(cfg.spool_dir, host=cfg.server.host, port=cfg.server.port).start()
    # checkpoint name "bulk", as before: its committed offsets carry over
    streams = {"bulk": parse_stream(stream_spool_dir(spark, bulk_dir), "bulk")}

    sidecars = []  # each spools NDJSON into <spool>/bulk, as the receiver does
    rcfg = cfg.inputs.get("redis")
    if rcfg is not None and rcfg.enabled:
        from .streaming.redis_source import RedisSpoolSource

        addr = rcfg.options.get("address", "localhost:6379")
        rhost, _, rport = addr.partition(":")
        sidecars.append(
            RedisSpoolSource(
                cfg.spool_dir,
                host=rhost or "127.0.0.1",
                port=int(rport or 6379),
                key=rcfg.options.get("key", "filebeat:logs"),
                mode=rcfg.options.get("mode", "list"),
                password=rcfg.options.get("password", ""),
            ).start()
        )
    lcfg = cfg.inputs.get("logstash")
    if lcfg is not None and lcfg.enabled:
        from .streaming.lumberjack import LumberjackSpoolSource

        sidecars.append(
            LumberjackSpoolSource(
                cfg.spool_dir,
                host=cfg.server.host,
                port=int(lcfg.options.get("port", 5044)),
            ).start()
        )
    kcfg = cfg.inputs.get("kafka")
    if kcfg is not None and kcfg.enabled:
        # two rungs (C2, config.yaml:27-32): mode="connector" is the
        # production path — Spark's own Kafka source with offset tracking
        # inside Structured Streaming (requires spark-sql-kafka on the
        # cluster; fails at plan build with a clear error when absent) as
        # a query of its own — and mode="sidecar" is the dependency-free
        # stdlib wire-protocol client spooling like the Redis/Lumberjack
        # inputs, which is also what the in-repo e2e tests exercise.
        brokers = kcfg.options.get("brokers", ["localhost:9092"])
        topic = kcfg.options.get("topic", "filebeat")
        if kcfg.options.get("mode", "connector") == "sidecar":
            from .streaming.kafka_source import KafkaSpoolSource

            sidecars.append(
                KafkaSpoolSource(cfg.spool_dir, bootstrap=brokers[0], topic=topic).start()
            )
        else:
            from .streaming.sources import stream_kafka

            streams["kafka-connector"] = parse_stream(
                stream_kafka(spark, ",".join(brokers), topic), "bulk"
            )
    tcfg = cfg.inputs.get("tcp")
    if tcfg is not None and tcfg.enabled:
        from .streaming.lumberjack import TcpLinesSpoolSource

        sidecars.append(
            TcpLinesSpoolSource(
                cfg.spool_dir,
                host=cfg.server.host,
                port=int(tcfg.options.get("port", 9000)),
            ).start()
        )

    # one sink fn for every query: the sinks namespace their per-epoch
    # state (parquet epoch markers, ClickHouse dedup tokens) by the running
    # query's id, so queries sharing the table never collide
    if sink == "clickhouse":
        ch = cfg.clickhouse
        sink_fn = foreach_batch_clickhouse_http(
            host=ch.host, port=ch.port, database=ch.database,
            table=ch.table, user=ch.user, password=ch.password,
            idempotent=ch.idempotent, batch_id_col=ch.batch_id_col,
        )
    else:
        sink_fn = foreach_batch_parquet(out_path)

    queries = []
    for name, rows in streams.items():
        writer = (
            rows.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, name))
            .outputMode("append")
        )
        if once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{cfg.trigger_seconds or 5} seconds"
            )
        queries.append(writer.start())
    return _ServiceFront(receiver, sidecars), queries


def main(argv: list[str] | None = None) -> int:
    from .config import load_config

    ap = argparse.ArgumentParser(prog="filebeat-to-clickhouse-spark")
    ap.add_argument("--config", default=None, help="YAML config path (else $CONFIG_PATH)")
    ap.add_argument("--sink", choices=("parquet", "clickhouse"), default="parquet")
    ap.add_argument("--out", default="./logs_table", help="parquet sink path")
    ap.add_argument("--once", action="store_true", help="drain backlog and exit")
    args = ap.parse_args(argv)

    cfg = load_config(args.config)
    receiver, queries = build_service(cfg, args.sink, args.out, args.once)
    print(
        f"receiver on {cfg.server.host}:{receiver.port} "
        f"(spool {cfg.spool_dir}); sink={args.sink}; {len(queries)} streams",
        file=sys.stderr,
    )

    stop = {"flag": False}
    signal.signal(signal.SIGINT, lambda *a: stop.update(flag=True))
    signal.signal(signal.SIGTERM, lambda *a: stop.update(flag=True))
    try:
        for q in queries:
            if args.once:
                q.awaitTermination()
            else:
                while not stop["flag"] and q.isActive:
                    q.awaitTermination(1)
                if stop["flag"]:
                    break
        if stop["flag"]:
            for q in queries:
                q.stop()
    finally:
        receiver.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
