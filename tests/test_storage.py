"""Storage layout: partition pruning, compaction, bucketed co-located joins
— asserted on the physical plan, since the layout exists only to change it."""

from __future__ import annotations

import glob
import os

import pytest

import pyspark.sql.functions as F


def _normalized_rows(spark, n=1000):
    from filebeat_to_clickhouse_spark.io import load_table
    from filebeat_to_clickhouse_spark.normalize import normalize_events, with_month_partition
    from filebeat_to_clickhouse_spark.ingest import parse_single
    from filebeat_to_clickhouse_spark.queries import _line_expr

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(n)
    # testdata events all fall in one month; spread over three for pruning
    ev = ev.withColumn("ts", F.expr("timestampadd(MONTH, int(event_id % 3), ts)"))
    rows = normalize_events(parse_single(ev.select(_line_expr().alias("value"))), raw_col="raw_json")
    return with_month_partition(rows)


class TestLogTable:
    def test_partition_pruning_from_directory_layout(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs")
        storage.write_log_table(_normalized_rows(spark), path)
        months = sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*"))
        assert len(months) >= 2  # sf0.001 events span several months

        got = storage.read_log_table(spark, path).filter(F.col("ym") == months[0][3:])
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(ym" in plan  # pruned at scan
        assert got.count() > 0

    def test_rows_time_sorted_within_files(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs2")
        storage.write_log_table(_normalized_rows(spark), path)
        one = glob.glob(f"{path}/ym=*/*.parquet")[0]
        ts = [r["timestamp"] for r in spark.read.parquet(one).select("timestamp").collect()]
        assert ts == sorted(ts)

    def test_compaction_reduces_files_keeps_rows(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs3")
        rows = _normalized_rows(spark)
        for _ in range(3):  # simulate micro-batch appends → small files
            storage.write_log_table(rows, path)
        before_files = len(glob.glob(f"{path}/ym=*/*.parquet"))
        n = spark.read.parquet(path).count()
        storage.compact_log_table(spark, path)
        after_files = len(glob.glob(f"{path}/ym=*/*.parquet"))
        assert after_files < before_files
        assert spark.read.parquet(path).count() == n
        assert not os.path.exists(path + "._old") and not os.path.exists(path + "._compact")


def _spread_rows(spark, n, months, tasks=4):
    """``n`` log rows over ``months`` consecutive months of 2024, every
    source task holding rows of every month — the shape that leaves one
    file per (task, partition) without a clustering write."""
    from filebeat_to_clickhouse_spark.schema import LOG_COLUMNS

    ts = F.expr(
        f"timestampadd(SECOND, int(id * 7919 % 86400), "
        f"timestampadd(MONTH, int(id % {months}), TIMESTAMP_NTZ '2024-01-01 00:00:00'))"
    )
    return spark.range(0, n, numPartitions=tasks).select(
        ts.alias("timestamp"),
        *[F.format_string(f"{c}-%d", F.col("id")).alias(c) for c in LOG_COLUMNS[1:]],
    )


class TestReadLogTable:
    def test_declared_schema_starts_no_job(self, spark, tmp_path):
        from pyspark.sql.types import StringType

        from filebeat_to_clickhouse_spark import storage
        from filebeat_to_clickhouse_spark.schema import LOG_COLUMNS

        path = str(tmp_path / "logs")
        storage.write_log_table(_spread_rows(spark, 200, 2).withColumn("extra", F.lit(1)), path)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        sc.setJobGroup("read_log_table", "no inference job")
        try:
            before = len(tracker.getJobIdsForGroup("read_log_table"))
            got = storage.read_log_table(spark, path)
            assert len(tracker.getJobIdsForGroup("read_log_table")) == before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got.columns == [*LOG_COLUMNS, "ym"]  # "extra" is not read
        assert got.schema["ym"].dataType == StringType()  # inference would say int
        assert sorted(r["ym"] for r in got.select("ym").distinct().collect()) == ["202401", "202402"]

    def test_null_timestamp_partition_reads_null_ym(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs")
        rows = _spread_rows(spark, 10, 1)
        no_ts = rows.filter(F.col("message") == "message-0").withColumn("timestamp", F.lit(None))
        storage.write_log_table(rows.union(no_ts), path)
        assert os.path.isdir(f"{path}/ym=__HIVE_DEFAULT_PARTITION__")
        [row] = storage.read_log_table(spark, path).filter(F.col("ym").isNull()).collect()
        assert row["timestamp"] is None and row["message"] == "message-0"


class TestWriteLogTableLayout:
    def test_one_time_sorted_file_per_partition_per_write(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs")
        storage.write_log_table(_spread_rows(spark, 4000, 3), path)
        parts = sorted(glob.glob(f"{path}/ym=*"))
        assert len(parts) == 3
        for part in parts:
            [f] = glob.glob(f"{part}/*.parquet")  # one file, not one per task
            ts = pq.read_table(f, columns=["timestamp"]).column("timestamp").to_pylist()
            assert len(ts) > 1000 and ts == sorted(ts)

        # an append touching two of the three months adds one file to each
        storage.write_log_table(_spread_rows(spark, 2000, 2), path)
        counts = [len(glob.glob(f"{part}/*.parquet")) for part in parts]
        assert counts == [2, 2, 1]


class TestBucketedJoin:
    def test_bucketed_join_has_no_shuffle(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage
        from filebeat_to_clickhouse_spark.io import load_table

        # warehouse.dir is a static conf — managed tables land in the
        # session default; DROP TABLE (finally) removes their data.
        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        orders_like = ev.select(F.col("user_id"), F.col("value"))
        storage.write_bucketed_table(ev.select("user_id", "event_id", "ts"), "ev_b", "user_id", 4)
        storage.write_bucketed_table(orders_like, "val_b", "user_id", 4)
        try:
            joined = (
                spark.table("ev_b")
                .hint("merge")  # force SMJ so the only possible exchange is the join's
                .join(spark.table("val_b"), "user_id")
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
            assert "SortMergeJoin" in plan
            assert joined.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS ev_b")
            spark.sql("DROP TABLE IF EXISTS val_b")

    def test_auto_bucket_count_sizes_files_and_directories(self, tmp_path):
        """auto_bucket_count must size a DIRECTORY-backed table by the sum
        of its data files — os.path.getsize on the directory itself returns
        the ~4 KB dirent, which silently reinstated the fixed-8-bucket
        parallelism ceiling the function exists to remove (r7 advice)."""
        from filebeat_to_clickhouse_spark.storage import auto_bucket_count

        one = tmp_path / "single.parquet"
        one.write_bytes(b"x" * (3 << 20))
        assert auto_bucket_count(str(one), target_bytes=1 << 20, floor=1) == 4

        # directory of 8 x 3 MiB parts (+ sidecars that must NOT count):
        # sum = 24 MiB -> 32 buckets at 1 MiB target; the dirent-size bug
        # would return the floor
        d = tmp_path / "table.parquet"
        d.mkdir()
        for i in range(8):
            (d / f"part-{i:05d}.parquet").write_bytes(b"x" * (3 << 20))
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-00000.crc").write_bytes(b"y" * (1 << 20))
        assert auto_bucket_count(str(d), target_bytes=1 << 20, floor=1) == 32
        # grows with data: the same directory at a 4 MiB target halves twice
        assert auto_bucket_count(str(d), target_bytes=4 << 20, floor=1) == 8
        # largest side wins across multiple paths
        assert auto_bucket_count(str(one), str(d), target_bytes=1 << 20, floor=1) == 32
        # floor still applies to small sources; missing paths raise
        assert auto_bucket_count(str(one), target_bytes=1 << 30) == 8
        with pytest.raises(FileNotFoundError):
            auto_bucket_count(str(tmp_path / "nope.parquet"))

    def test_bucketed_digest_store_scan_never_shuffles(self, spark):
        """The incremental-dedup docstring's 100 TB claim, gated: with the
        digest store persisted bucketed on digest, the batch anti-join
        shuffles ONLY the (small) incoming batch — the store scan feeds
        the join in place. One exchange total in the whole plan, on the
        batch side."""
        import re

        from filebeat_to_clickhouse_spark import storage
        from filebeat_to_clickhouse_spark.extensions.dedup import incremental_dedup
        from filebeat_to_clickhouse_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        store = docs.filter("doc_id % 2 = 0").select(F.md5("text").alias("digest"))
        storage.write_bucketed_table(store, "digest_store_b", "digest", 4)
        try:
            batch = docs.filter("doc_id % 2 = 1").select("doc_id", "text").hint("merge")
            out = incremental_dedup(batch, spark.table("digest_store_b").hint("merge"))
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert re.search(r"SortMergeJoin \[.*\], LeftAnti", plan)
            assert "Bucketed: true" in plan  # the store scan reads in place
            # exactly one hash exchange: the batch side (the groupBy after
            # the join reuses the join's digest partitioning)
            assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
            assert out.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS digest_store_b")


class TestCompactionCrashSafety:
    def test_stale_staging_and_backup_recovered(self, spark, tmp_path):
        """A prior run that died mid-swap leaves ._old holding the data and
        possibly a ._compact; the next invocation must restore and proceed."""
        import shutil

        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs")
        storage.write_log_table(_normalized_rows(spark, n=200), path)
        n = spark.read.parquet(path).count()

        # simulate death between the two renames: table gone, backup present,
        # stale staging dir also lying around
        os.rename(path, path + "._old")
        os.makedirs(path + "._compact/junk")
        storage.compact_log_table(spark, path)
        assert spark.read.parquet(path).count() == n
        assert not os.path.exists(path + "._old")
        assert not os.path.exists(path + "._compact")

        # simulate death after the swap: live table present, backup residue
        shutil.copytree(path, path + "._old")
        storage.compact_log_table(spark, path)
        assert spark.read.parquet(path).count() == n
        assert not os.path.exists(path + "._old")

    def test_partition_set_complete_at_every_swap_boundary(self, spark, tmp_path, monkeypatch):
        """The r3 swap protocol: per-partition atomic exchange — an observer
        listing the table immediately before, after, and AT every swap
        boundary always sees the complete partition set (the pre-r3 design
        had a whole-table missing-path window)."""
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs")
        rows = _normalized_rows(spark, n=300)
        for _ in range(3):
            storage.write_log_table(rows, path)
        want_parts = sorted(
            os.path.basename(p) for p in glob.glob(f"{path}/ym=*")
        )
        n = spark.read.parquet(path).count()

        observed: list[list[str]] = []

        def observing_listing():
            observed.append(
                sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*"))
            )

        real_swap = storage._swap_partition
        real_exchange = storage._exchange_dirs

        def spy_swap(live_dir, staged_dir):
            observing_listing()
            real_swap(live_dir, staged_dir)
            observing_listing()

        def spy_exchange(a, b):
            observing_listing()  # the instant before the atomic syscall
            real_exchange(a, b)
            observing_listing()  # the instant after

        monkeypatch.setattr(storage, "_swap_partition", spy_swap)
        monkeypatch.setattr(storage, "_exchange_dirs", spy_exchange)
        storage.compact_log_table(spark, path)

        assert len(observed) >= 4 * len(want_parts)  # every boundary sampled
        assert all(parts == want_parts for parts in observed), (
            "partition set incomplete at a swap boundary: "
            f"{[p for p in observed if p != want_parts][:2]}"
        )
        assert spark.read.parquet(path).count() == n
        # compaction actually happened: one file per partition
        for part in want_parts:
            assert len(glob.glob(f"{path}/{part}/*.parquet")) == 1

    def test_fallback_two_rename_path_restores_on_failure(self, spark, tmp_path, monkeypatch):
        """Where RENAME_EXCHANGE is unsupported (the OSError fallback), a
        failure between the two renames must restore the live partition."""
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "logs")
        storage.write_log_table(_normalized_rows(spark, n=100), path)
        n = spark.read.parquet(path).count()

        def no_exchange(a, b):
            raise OSError(95, "Operation not supported")

        monkeypatch.setattr(storage, "_exchange_dirs", no_exchange)
        storage.compact_log_table(spark, path)  # fallback path end-to-end
        assert spark.read.parquet(path).count() == n
        assert not glob.glob(f"{path}/.ym=*._old")

        # crash between the fallback's two renames → hidden backup left;
        # next invocation restores it
        parts = glob.glob(f"{path}/ym=*")
        victim = parts[0]
        hidden = os.path.join(
            os.path.dirname(victim), "." + os.path.basename(victim) + "._old"
        )
        os.rename(victim, hidden)
        storage.compact_log_table(spark, path)
        assert spark.read.parquet(path).count() == n
        assert not glob.glob(f"{path}/.ym=*._old")

    def test_streaming_appends_during_compaction_not_lost(self, spark, tmp_path, monkeypatch):
        """The single-writer contract, exercised live: the streaming parquet
        sink appends micro-batches into a NEW month partition at every swap
        boundary while compaction installs the old partitions. No appended
        row and no original row may be lost, the new partition must be left
        untouched (it appeared after the staging snapshot), and every
        observer listing must contain the complete original partition set."""
        from filebeat_to_clickhouse_spark import storage
        from filebeat_to_clickhouse_spark.streaming.sink import foreach_batch_parquet

        path = str(tmp_path / "logs")
        for _ in range(2):  # two generations → small files worth compacting
            storage.write_log_table(_normalized_rows(spark, n=300), path)
        orig_parts = sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*"))
        n_orig = spark.read.parquet(path).count()

        # the stream writes into 2099-01 — a month no compacted partition has
        def stream_batch(n, start):
            return spark.createDataFrame(
                [(f"2099-01-01T00:{i:02d}:00", f"live-{start + i}") for i in range(n)],
                "ts string, message string",
            ).select(
                F.col("ts").cast("timestamp_ntz").alias("timestamp"), "message"
            ).coalesce(1)

        sink = foreach_batch_parquet(path)
        epochs = iter(range(100))
        observed: list[list[str]] = []
        real_swap = storage._swap_partition

        def appending_swap(live_dir, staged_dir):
            # a micro-batch lands between every pair of partition installs —
            # the worst-case interleaving of the two writers
            sink(stream_batch(5, 0), next(epochs))
            observed.append(sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*")))
            real_swap(live_dir, staged_dir)
            observed.append(sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*")))

        monkeypatch.setattr(storage, "_swap_partition", appending_swap)
        storage.compact_log_table(spark, path)
        monkeypatch.undo()
        n_appended = 5 * len(orig_parts)  # one micro-batch per original partition

        got = spark.read.parquet(path)
        assert got.count() == n_orig + n_appended
        assert got.filter(F.col("message").startswith("live-")).count() == n_appended
        # original partitions were compacted; the streamed partition kept its
        # per-epoch files (it postdates the staging snapshot — untouched)
        for part in orig_parts:
            assert len(glob.glob(f"{path}/{part}/*.parquet")) == 1
        assert len(glob.glob(f"{path}/ym=209901/epoch-*.parquet")) == len(orig_parts)
        # every observer listing held the complete original partition set
        assert all(set(parts) >= set(orig_parts) for parts in observed), observed
        # and a follow-up compaction folds the streamed partition too
        storage.compact_log_table(spark, path)
        assert spark.read.parquet(path).count() == n_orig + n_appended
        assert len(glob.glob(f"{path}/ym=209901/*.parquet")) == 1


class TestZorderWrite:
    def test_files_cover_compact_rectangles_of_both_dims(self, spark, tmp_path):
        import glob

        import pyspark.sql.functions as F

        from filebeat_to_clickhouse_spark.io import load_table
        from filebeat_to_clickhouse_spark.storage import quantize_expr, zorder_write

        ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
            "event_id", "user_id", F.unix_timestamp(F.col("ts").cast("timestamp")).cast("bigint").alias("t")
        )
        out = str(tmp_path / "zorder")
        zorder_write(
            ev,
            out,
            # range_bits matched to the sf0.01 domains (~150 users, one month
            # of seconds): a declared range much wider than the data zeroes
            # the high bits of that dimension and the interleave degenerates
            # toward a single-column sort — the stats-driven choice matters
            [quantize_expr(F.col("user_id"), 0, 8), quantize_expr(F.col("t"), 1704067200, 22)],
            n_files=16,
        )

        def mean_frac_spread(path_glob, col, global_lo, global_hi):
            spreads = []
            for f in sorted(glob.glob(path_glob)):
                mm = spark.read.parquet(f).agg(F.min(col), F.max(col)).first()
                spreads.append((mm[1] - mm[0]) / (global_hi - global_lo))
            return sum(spreads) / len(spreads)

        g = ev.agg(
            F.min("user_id"), F.max("user_id"), F.min("t"), F.max("t")
        ).first()
        u_spread = mean_frac_spread(out + "/part-*.parquet", "user_id", g[0], g[1])
        t_spread = mean_frac_spread(out + "/part-*.parquet", "t", g[2], g[3])
        # a single-column time sort would leave user spread ~1.0 per file;
        # z-order must keep BOTH dimensions compact per file
        assert u_spread < 0.6, u_spread
        assert t_spread < 0.6, t_spread

        # row identity preserved
        assert spark.read.parquet(out).count() == ev.count()


class TestPartitionGrain:
    def test_day_grain_layout_and_pruning(self, spark, tmp_path):
        """grain='day' writes ym=yyyyMMdd directories that prune the same
        way month partitions do — the 100 TB setting is a flag, not a
        code edit."""
        import pytest

        from filebeat_to_clickhouse_spark import storage

        rows = _normalized_rows(spark, n=200).drop("ym")
        path = str(tmp_path / "daylogs")
        storage.write_log_table(rows, path, grain="day")
        days = sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*"))
        assert days and all(len(d.split("=")[1]) == 8 for d in days)  # yyyyMMdd
        assert len(days) > 3  # finer than the 3 synthetic months

        got = storage.read_log_table(spark, path).filter(F.col("ym") == days[0][3:])
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(ym" in plan
        assert got.count() > 0

        with pytest.raises(ValueError):
            storage.write_log_table(rows, path, grain="week")

    def test_expire_partitions_drops_only_older(self, spark, tmp_path):
        """Retention is per-partition directory removal at the table's own
        grain — the MergeTree TTL analog, schedulable like compaction."""
        import pytest

        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "ttl")
        storage.write_log_table(_normalized_rows(spark, n=300), path)
        months = sorted(
            os.path.basename(p)[3:] for p in glob.glob(f"{path}/ym=*")
        )
        assert len(months) >= 3
        cutoff = months[1]
        dropped = storage.expire_partitions(path, keep_from=cutoff)
        assert dropped == [m for m in months if m < cutoff]
        left = sorted(os.path.basename(p)[3:] for p in glob.glob(f"{path}/ym=*"))
        assert left == [m for m in months if m >= cutoff]
        got = storage.read_log_table(spark, path)
        assert got.count() > 0  # survivors still readable
        # grain mismatch must raise, not silently mis-compare
        with pytest.raises(ValueError, match="different grain"):
            storage.expire_partitions(path, keep_from=cutoff + "15")
        with pytest.raises(ValueError, match="yyyyMM"):
            storage.expire_partitions(path, keep_from="2024-01")

    def test_mixed_grain_append_rejected(self, spark, tmp_path):
        """A table path keeps ONE grain for its lifetime: appending day
        partitions into a month-partitioned table would silently break
        month-range pruning predicates, so it raises instead (r2 advice)."""
        import pytest

        from filebeat_to_clickhouse_spark import storage

        rows = _normalized_rows(spark, n=100).drop("ym")
        path = str(tmp_path / "grainlock")
        storage.write_log_table(rows, path, grain="month")
        with pytest.raises(ValueError, match="different grain"):
            storage.write_log_table(rows, path, grain="day")
        # same grain still appends; overwrite may switch grains
        storage.write_log_table(rows, path, grain="month")
        storage.write_log_table(rows, path, mode="overwrite", grain="day")
        days = glob.glob(f"{path}/ym=*")
        assert days and all(len(os.path.basename(p).split("=")[1]) == 8 for p in days)


class TestCompactReplacing:
    def test_last_version_per_key_within_partition(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "kv")
        rows = spark.createDataFrame(
            [
                # key a: three versions in 202401 → keep seq 3
                ("202401", "a", 1, "v1"), ("202401", "a", 3, "v3"), ("202401", "a", 2, "v2"),
                # key b: versions straddle partitions → one survivor EACH
                # (ReplacingMergeTree never merges across partitions)
                ("202401", "b", 1, "b-jan"), ("202402", "b", 2, "b-feb"),
                ("202402", "c", 5, "c5"),
            ],
            "ym string, k string, seq int, payload string",
        )
        rows.write.partitionBy("ym").parquet(path)
        # appends land as plain rows: duplicates visible before the merge
        assert spark.read.parquet(path).count() == 6

        storage.compact_replacing(spark, path, key_cols=["k"], seq_col="seq")
        got = {
            (r["ym"], r["k"]): (r["seq"], r["payload"])
            for r in spark.read.parquet(path).collect()
        }
        # partition values read back type-inferred (int)
        assert got == {
            (202401, "a"): (3, "v3"),
            (202401, "b"): (1, "b-jan"),
            (202402, "b"): (2, "b-feb"),
            (202402, "c"): (5, "c5"),
        }

    def test_seq_tie_resolves_by_remaining_columns(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "kv2")
        spark.createDataFrame(
            [("202401", "a", 1, "x"), ("202401", "a", 1, "z"), ("202401", "a", 1, "y")],
            "ym string, k string, seq int, payload string",
        ).write.partitionBy("ym").parquet(path)
        storage.compact_replacing(spark, path, key_cols=["k"], seq_col="seq")
        [row] = spark.read.parquet(path).collect()
        assert row["payload"] == "z"  # deterministic: max over (seq, payload)


class TestCompactSumming:
    def test_sums_within_partition_only(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "counters")
        spark.createDataFrame(
            [
                # key a: three addends in 202401 → one summed row
                ("202401", "a", 10, "m1"), ("202401", "a", 5, "m0"), ("202401", "a", 1, "m2"),
                # key b straddles partitions → one row EACH (never merges across)
                ("202401", "b", 7, "x"), ("202402", "b", 3, "y"),
            ],
            "ym string, k string, hits int, meta string",
        ).write.partitionBy("ym").parquet(path)
        assert spark.read.parquet(path).count() == 5  # addends visible pre-merge

        storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        got = {
            (r["ym"], r["k"]): (r["hits"], r["meta"])
            for r in spark.read.parquet(path).collect()
        }
        assert got == {
            (202401, "a"): (16, "m0"),  # summed; meta = deterministic min
            (202401, "b"): (7, "x"),
            (202402, "b"): (3, "y"),
        }

    def test_idempotent_and_schema_stable(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "counters2")
        spark.createDataFrame(
            [("202401", "a", 2), ("202401", "a", 3)], "ym string, k string, hits int"
        ).write.partitionBy("ym").parquet(path)
        before = spark.read.parquet(path).schema["hits"].dataType
        storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        rows = spark.read.parquet(path).collect()
        assert [(r["k"], r["hits"]) for r in rows] == [("a", 5)]
        assert spark.read.parquet(path).schema["hits"].dataType == before

    def test_unknown_column_raises(self, spark, tmp_path):
        import pytest
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "counters3")
        spark.createDataFrame([("202401", "a", 1)], "ym string, k string, hits int").write.partitionBy("ym").parquet(path)
        with pytest.raises(ValueError, match="not in table"):
            storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["nope"])

    def test_int32_overflow_fails_instead_of_wrapping(self, spark, tmp_path):
        """A per-key sum past the column's int32 range must FAIL the merge
        (before any partition swap) — the non-ANSI cast-back would
        otherwise silently wrap the counter (ADVICE r4)."""
        import pytest
        from pyspark.errors.exceptions.captured import SparkRuntimeException
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "counters4")
        spark.createDataFrame(
            [("202401", "a", 2**31 - 1), ("202401", "a", 1)],
            "ym string, k string, hits int",
        ).write.partitionBy("ym").parquet(path)
        with pytest.raises(SparkRuntimeException, match="overflows int"):
            storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        # merge aborted in staging: the addend rows are still intact
        assert spark.read.parquet(path).count() == 2

    def test_bigint_sums_unchecked(self, spark, tmp_path):
        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "counters5")
        spark.createDataFrame(
            [("202401", "a", 2**31 - 1), ("202401", "a", 1)],
            "ym string, k string, hits long",
        ).write.partitionBy("ym").parquet(path)
        storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        [row] = spark.read.parquet(path).collect()
        assert row["hits"] == 2**31


class TestCompactSummingConcurrency:
    def test_appends_during_summing_compaction_not_lost(self, spark, tmp_path, monkeypatch):
        """compact_summing under a live writer: addend rows land in a NEW
        partition between every pair of partition installs. No addend and
        no merged sum may be lost, and the late partition stays un-merged
        until the next compaction (it postdates the staging snapshot)."""
        import glob
        import os

        from filebeat_to_clickhouse_spark import storage

        path = str(tmp_path / "counters_live")
        rows = [("202401", "a", 1)] * 3 + [("202402", "b", 2)] * 3
        spark.createDataFrame(rows, "ym string, k string, hits int").write.partitionBy(
            "ym"
        ).parquet(path)
        orig_parts = sorted(os.path.basename(p) for p in glob.glob(f"{path}/ym=*"))

        batches = iter(range(100))
        real_swap = storage._swap_partition

        def appending_swap(live_dir, staged_dir):
            i = next(batches)
            spark.createDataFrame(
                [("209901", "late", 10 + i)], "ym string, k string, hits int"
            ).write.mode("append").partitionBy("ym").parquet(path)
            real_swap(live_dir, staged_dir)

        monkeypatch.setattr(storage, "_swap_partition", appending_swap)
        storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        monkeypatch.undo()

        got = {
            (r["ym"], r["k"]): r["hits"]
            for r in spark.read.parquet(path)
            .groupBy("ym", "k")
            .sum("hits")
            .withColumnRenamed("sum(hits)", "hits")
            .collect()
        }
        # merged sums intact, every live addend present (10 + 11 per batch)
        assert got[(202401, "a")] == 3 and got[(202402, "b")] == 6
        assert got[(209901, "late")] == 10 + 11
        # late partition kept its addend files; the next compaction folds it
        assert len(glob.glob(f"{path}/ym=209901/*.parquet")) >= 2
        storage.compact_summing(spark, path, key_cols=["k"], sum_cols=["hits"])
        assert len(glob.glob(f"{path}/ym=209901/*.parquet")) == 1
        [late] = (
            spark.read.parquet(path).filter("k = 'late'").select("hits").collect()
        )
        assert late["hits"] == 21
