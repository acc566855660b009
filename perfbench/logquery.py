"""log_query: a closed loop of one client running the reference's
operational queries over a seeded, monthly-partitioned log table.

The table is generated inside Spark from the seed (hash of seed and row
id, so the rows do not depend on partitioning) and written through
``storage.write_log_table``. Queries read it through
``storage.read_log_table`` and filter on ``timestamp`` only, as a user of
the table would: whatever pruning happens comes from the storage layout.
"""

from __future__ import annotations

import math
import os
import random
import time

TABLE_ROWS = 500_000  # see README.md for why not more
CORES_FOR_WRITE = 4
WORDS = "GET POST request response timeout retry cache miss hit worker job failed error warn info db".split()
FIRST_DAY = "2024-01-01"
SPAN_DAYS = 213  # 2024-01-01 .. 2024-07-31: seven monthly partitions
MONTHS = 7
CONTAINERS = 24
RANGE_DAYS = 14  # range_agg
LATEST_DAYS = 7  # latest_n
MAD_DAYS = 28  # mad_outliers
WARM_CYCLES = 1
# weights of the query mix; one cycle runs each entry this many times
MIX = (("count_all", 2), ("range_agg", 3), ("latest_n", 3), ("hourly_by_container", 2), ("mad_outliers", 1))


def build_table(spark, seed: int, path: str, rows: int = TABLE_ROWS) -> None:
    import pyspark.sql.functions as F

    from filebeat_to_clickhouse_spark.storage import write_log_table

    # two 64-bit hashes of (seed, id); fields take disjoint bit ranges
    h1 = F.xxhash64(F.lit(seed), F.col("id"))
    h2 = F.xxhash64(F.col("id"), F.lit(seed))

    def bits(h, lo: int, n: int):
        return F.shiftright(h, lo).bitwiseAND(F.lit((1 << n) - 1))

    words = F.array(*[F.lit(w) for w in WORDS])
    base = F.unix_timestamp(F.lit(f"{FIRST_DAY} 00:00:00").cast("timestamp"))
    secs = F.pmod(h1, F.lit(SPAN_DAYS * 86400))
    # 2% of rows land in one of 40 seeded burst hours, so hourly rates have
    # outliers for mad_outliers to find
    burst = F.pmod(bits(h2, 0, 16), F.lit(40)) * (SPAN_DAYS * 86400 // 40) + F.pmod(bits(h2, 16, 16), F.lit(3600))
    offset = F.when(F.pmod(bits(h2, 32, 16), F.lit(50)) == 0, burst).otherwise(secs)
    # skewed container popularity: sqrt of a uniform draw
    cont = (CONTAINERS - 1 - F.floor(F.sqrt(F.pmod(bits(h2, 48, 14), F.lit(CONTAINERS * CONTAINERS))))).cast("int")
    name = F.format_string("svc-%02d", cont)
    df = spark.range(0, rows, numPartitions=CORES_FOR_WRITE).select(
        F.timestamp_seconds(base + offset).cast("timestamp_ntz").alias("timestamp"),
        F.concat_ws(" ", *[F.element_at(words, (bits(h1, 40 + 4 * k, 4) + 1).cast("int")) for k in range(6)]).alias("message"),
        name.alias("container"),
        F.format_string("node-%d", cont % 7).alias("host_name"),
        F.format_string("%064d", cont).alias("docker_container_id"),
        name.alias("docker_container_name"),
        F.lit("filebeat").alias("agent_name"),
        F.lit("8.11.0").alias("agent_version"),
        F.format_string("/var/log/containers/svc-%02d.log", cont).alias("log_file_path"),
        F.format_string('{"seq":%d,"v":%d}', F.col("id"), bits(h1, 20, 10)).alias("raw_json"),
    )
    write_log_table(df, path, mode="overwrite")


def query_set(seed: int) -> list[tuple[str, tuple]]:
    """The distinct queries of a run, one per type. The seed picks where
    each range lies; every range lies inside one monthly partition and has
    a fixed length, so seeds differ in data, not in how much of it a query
    reads."""
    import datetime as dt

    rng = random.Random(seed * 7919 + 3)
    first = dt.date.fromisoformat(FIRST_DAY)

    def days(n: int) -> tuple[str, str]:
        month = first.replace(month=first.month + rng.randrange(MONTHS))
        start = month + dt.timedelta(days=rng.randrange(29 - n))  # every month has 28 days
        return f"{start} 00:00:00", f"{start + dt.timedelta(days=n)} 00:00:00"

    return [
        ("count_all", ()),
        ("range_agg", days(RANGE_DAYS)),
        ("latest_n", days(LATEST_DAYS)),
        ("hourly_by_container", days(1)),
        ("mad_outliers", days(MAD_DAYS)),
    ]


def cycle(seed: int) -> list[tuple[str, tuple]]:
    """One closed-loop cycle: each query as often as its weight, in a
    seeded order."""
    weight = dict(MIX)
    seq = [q for q in query_set(seed) for _ in range(weight[q[0]])]
    random.Random(seed).shuffle(seq)
    return seq


def build(spark, path: str, q: tuple[str, tuple]):
    """The DataFrame of one query, as a client builds it."""
    import pyspark.sql.functions as F

    from filebeat_to_clickhouse_spark.operators import mad_outliers
    from filebeat_to_clickhouse_spark.storage import read_log_table

    kind, args = q
    t = read_log_table(spark, path)
    if args:
        lo, hi = (F.lit(a).cast("timestamp_ntz") for a in args)
        t = t.filter((F.col("timestamp") >= lo) & (F.col("timestamp") < hi))
    if kind == "count_all":
        return t.agg(F.count(F.lit(1)).alias("n"))
    if kind == "range_agg":
        return t.agg(F.count(F.lit(1)).alias("n"), F.min("timestamp").alias("min_ts"), F.max("timestamp").alias("max_ts"))
    if kind == "latest_n":
        return (
            t.select("timestamp", "container", "message", "raw_json")
            .orderBy(F.desc("timestamp"), F.desc("raw_json"))
            .limit(10)
        )
    hourly = t.groupBy("container", F.date_trunc("hour", F.col("timestamp")).alias("hour_ts")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    if kind == "hourly_by_container":
        return hourly
    return (
        mad_outliers(hourly, "n", ("container",), k=3)
        .filter(F.col("is_outlier"))
        .select("container", "hour_ts", "n", "med", "mad")
    )


def oracle_sql(path: str, q: tuple[str, tuple]) -> str:
    kind, args = q
    src = f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    where = f"WHERE timestamp >= TIMESTAMP '{args[0]}' AND timestamp < TIMESTAMP '{args[1]}'" if args else ""
    if kind == "count_all":
        return f"SELECT count(*) AS n FROM {src}"
    if kind == "range_agg":
        return f"SELECT count(*) AS n, min(timestamp) AS min_ts, max(timestamp) AS max_ts FROM {src} {where}"
    if kind == "latest_n":
        return (
            f"SELECT timestamp, container, message, raw_json FROM {src} {where} "
            "ORDER BY timestamp DESC, raw_json DESC LIMIT 10"
        )
    hourly = (
        f"SELECT container, date_trunc('hour', timestamp) AS hour_ts, CAST(count(*) AS BIGINT) AS n "
        f"FROM {src} {where} GROUP BY 1, 2"
    )
    if kind == "hourly_by_container":
        return hourly
    # operators.mad_outliers' rank rule: the smallest value whose
    # cumulative count reaches half the group, for the median and for the
    # median absolute deviation
    return f"""WITH hourly AS ({hourly}),
h AS (SELECT container, n, CAST(count(*) AS BIGINT) AS w FROM hourly GROUP BY 1, 2),
c AS (SELECT container, n, SUM(w) OVER (PARTITION BY container ORDER BY n) AS cum,
             SUM(w) OVER (PARTITION BY container) AS total FROM h),
med AS (SELECT container, CAST(min(CASE WHEN cum * 100 >= 50 * total THEN n END) AS BIGINT) AS med
        FROM c GROUP BY 1),
h2 AS (SELECT container, CAST(abs(h.n - med.med) AS BIGINT) AS dev, sum(h.w) AS w
       FROM h JOIN med USING (container) GROUP BY 1, 2),
c2 AS (SELECT container, dev, SUM(w) OVER (PARTITION BY container ORDER BY dev) AS cum,
              SUM(w) OVER (PARTITION BY container) AS total FROM h2),
mad AS (SELECT container, CAST(min(CASE WHEN cum * 100 >= 50 * total THEN dev END) AS BIGINT) AS mad
        FROM c2 GROUP BY 1)
SELECT hourly.container, hourly.hour_ts, hourly.n, med.med, mad.mad
FROM hourly JOIN med USING (container) JOIN mad USING (container)
WHERE abs(hourly.n - med.med) > 3 * mad.mad"""


def _canon(v) -> str:
    import datetime as dt

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, float) and v.is_integer():
        v = int(v)
    return str(v)


def same_rows(spark_rows: list, oracle_rows: list, ordered: bool) -> bool:
    a = [tuple(_canon(v) for v in r) for r in spark_rows]
    b = [tuple(_canon(v) for v in r) for r in oracle_rows]
    return a == b if ordered else sorted(a) == sorted(b)


def check_against_duckdb(path: str, results: dict) -> set:
    """Queries (keys of ``results``) whose Spark rows differ from DuckDB
    over the same parquet files."""
    import duckdb

    bad = set()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for q, rows in results.items():
            oracle = con.execute(oracle_sql(path, q)).fetchall()
            if not same_rows(rows, oracle, ordered=q[0] == "latest_n"):
                bad.add(q)
    finally:
        con.close()
    return bad


def table_layout(path: str) -> dict[str, float]:
    parts = [d for d in os.listdir(path) if d.startswith("ym=")]
    files = [
        os.path.join(path, d, f) for d in parts for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
    ]
    return {
        "storage.partitions": len(parts),
        "storage.table_files": len(files),
        "storage.table_bytes": sum(os.path.getsize(f) for f in files),
    }


def scan_metrics(df) -> tuple[float, float, float]:
    """(files read, bytes read, rows output) summed over the parquet scans
    of an executed DataFrame's final physical plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    files = size = rows = 0.0
    todo = [plan]
    while todo:
        node = todo.pop()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
        if hasattr(node, "plan") and node.nodeName().startswith("QueryStage") or node.nodeName().endswith("QueryStage"):
            todo.append(node.plan())
        if node.nodeName().startswith("Scan parquet"):
            m = node.metrics()
            files += m.apply("numFiles").value() if m.contains("numFiles") else 0
            size += m.apply("filesSize").value() if m.contains("filesSize") else 0
            rows += m.apply("numOutputRows").value() if m.contains("numOutputRows") else 0
    return files, size, rows


def run(spark, work, seed: int, seconds: float, tracer, status, t_start: float) -> dict:
    """Set up, warm, then run the mix until ``seconds`` passed."""
    from harness import median, nearest_rank, phase

    path = work.sub("logs")
    phase("table write")
    with tracer.span("storage", "write_log_table"):
        build_table(spark, seed, path)
    seq = cycle(seed)
    # warm-up, untimed: plans, codegen and JIT. On 4 cores the first cycle
    # runs about 2.5x a settled one, the second about 1.2x.
    phase("warm-up")
    for _ in range(WARM_CYCLES):
        for q in seq:
            build(spark, path, q).collect()
    setup_s = time.time() - t_start

    results, executed = {}, []
    per_kind: dict[str, list[float]] = {}
    build_ms, exec_ms = [], []
    scans = []
    if tracer.enabled:
        status.snapshot()
    phase("timed queries")
    t0 = time.time()
    n = 0
    # one whole cycle at least, so every query type has a sample
    while n < len(seq) or time.time() - t0 < seconds:
        for q in seq:
            if n >= len(seq) and time.time() - t0 >= seconds:
                break
            n += 1
            tid = f"q{n}"
            if tracer.enabled:
                spark.sparkContext.setJobGroup(tid, q[0])
            with tracer.span("queries", q[0], trace_id=tid):
                a = time.time()
                with tracer.span("queries", "build", trace_id=tid):
                    df = build(spark, path, q)
                b = time.time()
                with tracer.span("session", "execute", trace_id=tid):
                    rows = df.collect()
                c = time.time()
            executed.append(q)
            per_kind.setdefault(q[0], []).append((c - a) * 1000)
            build_ms.append((b - a) * 1000)
            exec_ms.append((c - b) * 1000)
            results.setdefault(q, [tuple(r) for r in rows])
            if tracer.enabled:
                scans.append((q[0], len(rows)) + scan_metrics(df))
    if tracer.enabled:
        spark.sparkContext.setJobGroup("after", "after")

    phase("check")
    bad = check_against_duckdb(path, results)
    # The latency sample is each type's median latency, counted as often as
    # the type's weight: a window cut mid-cycle holds a varying share of each
    # type, and the types differ fivefold in cost.
    weight = dict(MIX)
    out = {
        "setup_s": setup_s,
        "latency_ms": [median(v) for k, v in per_kind.items() for _ in range(weight[k])],
        "samples": n,
        "attempted": n,
        "failed": sum(1 for q in executed if q in bad),
    }
    if tracer.enabled:
        eng = status.since({f"q{i}" for i in range(1, n + 1)})
        out["layer"] = {
            **status.since(),
            **table_layout(path),
            "query.build_ms": sum(build_ms) / n,
            "query.exec_ms": sum(exec_ms) / n,
            "query.jobs": eng["spark.jobs"] / n,
            "query.tasks": eng["spark.tasks"] / n,
            "query.shuffle_bytes": eng["spark.shuffle_write_bytes"] / n,
            "storage.files_scanned_per_query": sum(s[2] for s in scans) / len(scans),
            "storage.bytes_scanned_per_query": sum(s[3] for s in scans) / len(scans),
            "storage.rows_scanned_per_row_returned": sum(s[4] for s in scans) / max(1, sum(s[1] for s in scans)),
            **{f"query.{k}_p50_ms": nearest_rank(v, 50)[0] for k, v in per_kind.items() if k != "mad_outliers"},
            "operators.mad_outliers_ms": nearest_rank(per_kind["mad_outliers"], 50)[0],
        }
    return out
