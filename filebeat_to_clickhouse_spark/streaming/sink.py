"""Sinks: partitioned parquet and ClickHouse-over-HTTP (JSONEachRow).

Both are ``foreachBatch`` functions behind Structured Streaming's
replayable file source: a micro-batch that fails, or crashes before its
offset commit, is replayed with the same epoch id. The parquet sink makes
that replay a no-op, so the table gets every row exactly once; the
ClickHouse sink can do the same through server-side insert dedup. This
replaces the reference's fire-and-forget lossy sink (main.go:333-337
drops whole batches on error; SURVEY A14).

The parquet sink writes each micro-batch from one Arrow table on the
driver, one time-sorted file per month, with no staging directory: see
``foreach_batch_parquet`` for why not Spark's file writer.

Both namespace their per-epoch state by the running streaming query's id
(``sql.streaming.queryId``): it is stable across restarts from one
checkpoint and differs between checkpoints, so several queries can share
one table and a fresh checkpoint never meets a previous query's epochs.
Outside a query (a direct call) the namespace is empty.

The ClickHouse transport reproduces the reference's wire protocol exactly
(main.go:438-558): ``INSERT INTO db.table FORMAT JSONEachRow`` in the URL
query string, NDJSON body, Basic Auth with default-user fallback, 30 s
timeout, status-code check — but POSTs from executors via
``foreachPartition`` (one INSERT per partition), so sink throughput scales
with the cluster instead of a single driver connection.
"""

from __future__ import annotations

import glob
import json
import os
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable, Iterable, Iterator

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from ..normalize import format_timestamp_expr, with_month_partition
from ..storage import NULL_PARTITION

CLICKHOUSE_TIMEOUT_SEC = 30  # main.go:544


def _query_id(batch: DataFrame) -> str:
    """The running streaming query's id, or "" outside a query."""
    return batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId") or ""


def foreach_batch_parquet(path: str, partition_col: str = "ym") -> Callable[[DataFrame, int], None]:
    """Append each micro-batch exactly once as monthly-partitioned,
    time-sorted parquet — the Spark analog of MergeTree PARTITION BY
    toYYYYMM + ORDER BY timestamp (init.sql:21-22), with partition pruning
    from the directory layout.

    The batch is collected once (``toArrow``, its only Spark job) and
    pyarrow writes one timestamp-sorted file per ``partition_col`` value
    (path-safe, as ``yyyyMM`` is; null → ``__HIVE_DEFAULT_PARTITION__``).
    Spark's Hadoop file writer has a fixed per-task cost — deserializing
    the whole Hadoop configuration, and a forked ``chmod`` per mkdir and
    file create without the native Hadoop library — that is most of a
    small batch's time. The sources bound the batch (``sources.py``).

    Each file is written under a hidden name in its live partition
    directory and renamed to ``epoch-<ns><id>-NNNNN.parquet``; a zero-byte
    commit marker ``_epochs/<ns><id>`` is created last (``<ns>`` is the
    query id plus ``-``). A replay of a committed epoch is a no-op; a
    replay after a crash before the marker first deletes the epoch's
    files, final and hidden (their names identify them), and rewrites, so
    no row is duplicated or lost. An empty batch writes no file but
    commits. Concurrent queries on one path share nothing but the live
    directories, so they need no lock.

    Committing epoch N deletes marker N − ``minBatchesToRetain`` (only the
    latest epoch can be replayed), so ``_epochs/`` stays bounded. Renames
    need a (shared-)posix path, as ``storage.compact_log_table`` does; for
    object stores use the ClickHouse sink's token dedup.
    """

    def write(batch: DataFrame, epoch_id: int) -> None:
        if partition_col not in batch.columns:
            batch = with_month_partition(batch, out=partition_col)
        qid = _query_id(batch)
        ns = f"{qid}-" if qid else ""
        epoch = f"{ns}{int(epoch_id)}"
        epochs = os.path.join(path, "_epochs")
        marker = os.path.join(epochs, epoch)
        if os.path.exists(marker):
            return  # epoch fully committed by a previous attempt
        table = batch.toArrow()
        # a crash before the marker left some of this epoch's files: delete them
        # (the "-" after the id keeps epoch 1 from matching epoch 10's files)
        tag = f"epoch-{epoch}-"
        for name in (tag, f".{tag}"):
            for partial in glob.glob(os.path.join(path, f"{partition_col}=*", f"{name}*")):
                os.remove(partial)
        keys = table.column(partition_col)
        data = table.drop_columns([partition_col])
        for i, value in enumerate(pc.unique(keys).to_pylist()):  # none for an empty batch
            part = data.filter(pc.is_null(keys) if value is None else pc.equal(keys, value))
            live = os.path.join(path, f"{partition_col}={NULL_PARTITION if value is None else value}")
            os.makedirs(live, exist_ok=True)
            hidden = os.path.join(live, f".{tag}{i:05d}.parquet")
            pq.write_table(part.sort_by("timestamp"), hidden)
            os.rename(hidden, os.path.join(live, f"{tag}{i:05d}.parquet"))
        os.makedirs(epochs, exist_ok=True)
        with open(marker, "w"):
            pass  # commit point: marker present == epoch installed exactly once
        retain = int(batch.sparkSession.conf.get("spark.sql.streaming.minBatchesToRetain"))
        if epoch_id >= retain:
            try:
                os.remove(os.path.join(epochs, f"{ns}{int(epoch_id) - retain}"))
            except FileNotFoundError:
                pass

    return write


def clickhouse_insert_url(
    host: str, port: int, database: str, table: str
) -> str:
    """The INSERT endpoint URL, query-encoded like the reference
    (main.go:521-523)."""
    q = urllib.parse.quote(f"INSERT INTO {database}.{table} FORMAT JSONEachRow")
    return f"http://{host}:{port}/?query={q}"


def rows_to_jsoneachrow(rows: Iterable[dict]) -> bytes:
    """Rows → NDJSON request body (main.go:513-525). Timestamps must already
    be rendered as strings (the sink formats them before collecting)."""
    return "\n".join(json.dumps(r, ensure_ascii=False, separators=(",", ":")) for r in rows).encode()


def _post_ndjson(url: str, body: bytes, user: str, password: str, timeout: int) -> None:
    import base64

    req = urllib.request.Request(url, data=body, method="POST")
    req.add_header("Content-Type", "application/x-ndjson")
    # Basic auth with default-user fallback, like main.go:531-537.
    cred = base64.b64encode(f"{user or 'default'}:{password or ''}".encode()).decode()
    req.add_header("Authorization", f"Basic {cred}")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            if resp.status not in (200, 204):
                raise RuntimeError(
                    f"ClickHouse INSERT failed: HTTP {resp.status}: {resp.read()[:500]!r}"
                )
    except urllib.error.HTTPError as e:
        # The ClickHouse HTTP interface reports failures as a non-2xx
        # status with the `Code: N. DB::Exception: ...` text in the body
        # and the numeric code in X-ClickHouse-Exception-Code; surface
        # both (the reference reads the error body too, main.go:545-549)
        # instead of letting a bare HTTPError hide the server's message.
        exc_code = e.headers.get("X-ClickHouse-Exception-Code", "") if e.headers else ""
        detail = e.read()[:500]
        raise RuntimeError(
            f"ClickHouse INSERT failed: HTTP {e.code}"
            + (f" (exception code {exc_code})" if exc_code else "")
            + f": {detail!r}"
        ) from None


def foreach_batch_clickhouse_http(
    host: str = "localhost",
    port: int = 8123,
    database: str = "logs",
    table: str = "logs_table",
    user: str = "default",
    password: str = "",
    timeout: int = CLICKHOUSE_TIMEOUT_SEC,
    ts_col: str = "timestamp",
    idempotent: bool = False,
    batch_id_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink POSTing JSONEachRow INSERTs from executors.

    One INSERT per partition per micro-batch: `repartition(n)` upstream
    controls sink concurrency (the reference's "run N instances behind LB"
    scale-out, README.md:537-543, collapses into partition count).

    Delivery semantics ladder (the SURVEY §7.4 delta over the reference's
    lossy at-most-once, main.go:333-337/551-554):

    - default: checkpointed at-least-once — a failed micro-batch is
      replayed, so no data is lost, but a replay re-inserts its rows.
    - ``idempotent=True``: each partition's INSERT carries a DETERMINISTIC
      ``insert_deduplication_token`` (``<epoch_id>-<partitionId>-of-
      <numPartitions>`` — all stable across Structured Streaming replays,
      which re-run the same epoch over the same source offsets).
      ClickHouse drops an insert whose token it has already applied
      (MergeTree with ``non_replicated_deduplication_window > 0``, or any
      Replicated table), upgrading replays to effectively exactly-once
      within the server's dedup window. The partition COUNT is part of
      the token on purpose: if a replay somehow runs with a different
      layout (upstream repartition changed between restarts), every token
      differs and the failure mode is duplicate rows — never the silent
      LOSS that reusing a same-name token over different row sets would
      cause. PRECONDITION: token dedup assumes deterministic row-to-
      partition PLACEMENT at a given partition count — true for this
      pipeline's file-spool source with narrow transforms, but a replay
      that lays the same rows out differently at the same count (AQE
      re-plan, an upstream wide transform with nondeterministic
      partitioning) would reuse a token over a different row set and
      ClickHouse would drop the unseen rows. Behind such a stage, either
      repartition on a deterministic key first or fall back to
      ``batch_id_col`` ReplacingMergeTree dedup, which is placement-
      independent.
    - ``batch_id_col``: additionally stamps every row with the epoch id,
      the belt-and-braces key for engines/windows where token dedup can't
      apply — declare the target as ``ReplacingMergeTree`` with the batch
      id in the ORDER BY key and late replays collapse at merge time.

    The token starts with the query id (``fbck-<query id>-<epoch_id>-…``):
    several queries inserting into one table each number their epochs
    from 0, and without it query B's token would collide with query A's
    and the server would silently DROP query B's insert as a "replay".
    """
    base_url = clickhouse_insert_url(host, port, database, table)

    def write(batch: DataFrame, epoch_id: int) -> None:
        qid = _query_id(batch)
        token_ns = f"fbck-{qid}" if qid else "fbck"
        out = batch
        if ts_col in batch.columns:
            out = out.withColumn(ts_col, format_timestamp_expr(ts_col))
        if batch_id_col is not None:
            from pyspark.sql import functions as F

            out = out.withColumn(batch_id_col, F.lit(int(epoch_id)).cast("bigint"))

        n_parts = out.rdd.getNumPartitions() if idempotent else 0

        def send(it: Iterator) -> None:
            rows = [row.asDict() for row in it]
            if not rows:  # empty-batch short-circuit (main.go:438-441)
                return
            url = base_url
            if idempotent:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                token = urllib.parse.quote(
                    f"{token_ns}-{epoch_id}-{pid}-of-{n_parts}", safe=""
                )
                url = f"{base_url}&insert_deduplication_token={token}"
            _post_ndjson(url, rows_to_jsoneachrow(rows), user, password, timeout)

        out.foreachPartition(send)

    return write
