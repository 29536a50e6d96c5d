"""Sink seam (io_sinks): name mapping, parquet sink behavior, and the
env-gate on the Iceberg implementation (no Iceberg runtime here)."""

import pytest

from markdown_articles_tool_spark.io_sinks import (
    IcebergTableSink,
    ParquetMarkerSink,
    parse_table_name,
    partitioned_write_spec,
)


class TestNameMapping:
    def test_plain(self):
        assert parse_table_name('docs') == ('docs', [])

    def test_partitions(self):
        assert parse_table_name('stage/pass=0/links/shard=3') == (
            'stage_links', [('pass', '0'), ('shard', '3')]
        )

    def test_wildcard(self):
        assert parse_table_name('stage/pass=*/images') == ('stage_images', [('pass', None)])

    def test_no_table_segment(self):
        with pytest.raises(ValueError):
            parse_table_name('pass=0')

    def test_partitioned_wave_write(self):
        # a wave stages its shards into one table partitioned by
        # (pass, shard) and replaces exactly those shards' rows
        assert partitioned_write_spec('stage/pass=0/links', 'shard', [1, 2]) == (
            'stage_links', [('pass', 0)], ['pass', 'shard'], '`pass` = 0 AND `shard` IN (1, 2)'
        )
        assert partitioned_write_spec('stage/pass=3/fetched', 'shard', [7]) == (
            'stage_fetched', [('pass', 3)], ['pass', 'shard'], '`pass` = 3 AND `shard` IN (7)'
        )

    def test_partitioned_write_refuses_wildcards(self):
        with pytest.raises(ValueError):
            partitioned_write_spec('stage/pass=*/links', 'shard', [0])


class TestParquetMarkerSink:
    def test_write_read_roundtrip_with_partition_discovery(self, spark, tmp_path):
        sink = ParquetMarkerSink(str(tmp_path))
        df = spark.createDataFrame([(1, 'a'), (2, 'b')], 'id long, v string')
        sink.write(df, 'stage/pass=0/links/shard=0')
        sink.write(df, 'stage/pass=0/links/shard=1')
        # leaf read: no partition columns
        leaf = sink.read(spark, 'stage/pass=0/links/shard=1')
        assert sorted(leaf.columns) == ['id', 'v'] and leaf.count() == 2
        # prefix read: trailing partition discovered as a column
        pref = sink.read(spark, 'stage/pass=0/links')
        assert 'shard' in pref.columns and pref.count() == 4

    def test_write_partitions_replaces_only_the_named_partitions(self, spark, tmp_path):
        sink = ParquetMarkerSink(str(tmp_path))
        schema = 'id long, v string, shard int'
        rows = spark.createDataFrame([(1, 'a', 0), (2, 'b', 1), (3, 'c', 2)], schema)
        sink.write_partitions(rows, 'stage/pass=0/links', 'shard', [0, 1, 2])
        # a re-run of shards 1 and 2 where shard 2 gets no rows: its
        # stale row goes, shard 0 (not named) stays
        sink.write_partitions(spark.createDataFrame([(4, 'd', 1)], schema),
                              'stage/pass=0/links', 'shard', [1, 2])
        got = sink.read_partitions(spark, 'stage/pass=0/links', schema)
        assert sorted(tuple(r) for r in got.collect()) == [(1, 'a', 0), (4, 'd', 1)]

    def test_read_partitions_of_an_all_empty_write(self, spark, tmp_path):
        sink = ParquetMarkerSink(str(tmp_path))
        schema = 'id long, v string, shard int'
        sink.write_partitions(spark.createDataFrame([], schema), 'stage/pass=0/links', 'shard', [0, 1])
        got = sink.read_partitions(spark, 'stage/pass=0/links', schema)
        assert got.columns == ['id', 'v', 'shard'] and got.count() == 0

    def test_markers(self, tmp_path):
        sink = ParquetMarkerSink(str(tmp_path))
        assert not sink.is_committed('pass=0_shard=1')
        sink.mark_committed('pass=0_shard=1')
        assert sink.is_committed('pass=0_shard=1')
        assert not sink.is_committed('pass=0_shard=2')


class TestIcebergGate:
    def test_refuses_without_catalog(self, spark):
        with pytest.raises(RuntimeError, match='Iceberg'):
            IcebergTableSink(spark, 'nosuchcatalog.db')
