"""io.load_table behaviors that the query surface leans on."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import SF_ORACLE

from filebeat_to_clickhouse_spark.io import _scan_splits_wide


class TestScanSplitsWide:
    def test_single_row_group_testdata_keeps_rebalance(self):
        """The small-SF files are single-row-group: the scan can never
        split past one task, so the rebalance must stay."""
        assert not _scan_splits_wide(os.path.join(SF_ORACLE, "lineitem.parquet"), 32)

    def test_wide_multi_row_group_file_skips_rebalance(self, tmp_path):
        """≥ n_par row groups AND enough bytes for Spark's split sizing →
        the scan parallelizes on its own and the rebalance exchange is
        pure overhead (measured ~2.3 s of q1's 6.5 s at sf10)."""
        p = str(tmp_path / "wide.parquet")
        n = 2_200_000  # ~17.6 MB of raw int64 > 2 × (2 × 4 MB openCost)
        tbl = pa.table({"x": pa.array(range(n), type=pa.int64())})
        pq.write_table(tbl, p, row_group_size=n // 4, compression="none")
        assert pq.ParquetFile(p).metadata.num_row_groups >= 4
        assert _scan_splits_wide(p, 2)
        # but not wider than its row groups allow
        assert not _scan_splits_wide(p, 8)

    def test_unreadable_path_keeps_rebalance(self, tmp_path):
        assert not _scan_splits_wide(str(tmp_path / "missing.parquet"), 2)


class TestLoadTablePlanCache:
    def test_max_partition_bytes_is_part_of_the_key(self, spark):
        """The rebalance width reads maxPartitionBytes, so a change to that
        conf must not be served the frame cached under the old value."""
        import re

        from filebeat_to_clickhouse_spark.io import load_table, parquet_footprint

        def width(df) -> int:
            return int(re.search(r"Repartition (\d+), true", df._jdf.queryExecution().analyzed().toString()).group(1))

        conf = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(conf)
        try:
            spark.conf.set(conf, "134217728")
            a = load_table(spark, SF_ORACLE, "lineitem", rebalance=True)
            assert load_table(spark, SF_ORACLE, "lineitem", rebalance=True) is a
            spark.conf.set(conf, "16k")
            b = load_table(spark, SF_ORACLE, "lineitem", rebalance=True)
        finally:
            spark.conf.set(conf, old)
        assert b is not a
        footprint_bytes = parquet_footprint(os.path.join(SF_ORACLE, "lineitem.parquet"))[0]
        assert width(b) == -(-footprint_bytes // 16384) > width(a)
