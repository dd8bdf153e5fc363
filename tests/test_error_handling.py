"""Error-path semantics: missing input skips, corrupt input raises.

VERDICT r1 item 4 / ADVICE: a bare ``except Exception`` treated corrupt or
permission-denied reads as "first load", silently re-inserting duplicates
at scale.  Only PATH_NOT_FOUND may be interpreted as absence.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql.utils import AnalysisException

from hfp_loader_spark.job import LoadReport, hfp_load, load_event_group
from hfp_loader_spark.schema import STOP_EVENT
from hfp_loader_spark.sink import ParquetSink


def test_missing_table_is_empty_keyset(spark, tmp_path):
    sink = ParquetSink(str(tmp_path / "stage"))
    keys = sink.existing_keys(spark, "vehicleposition", "2021-02-09")
    assert keys.count() == 0


def test_corrupt_table_raises_not_empty(spark, tmp_path):
    stage = tmp_path / "stage" / "vehicleposition"
    stage.mkdir(parents=True)
    (stage / "part-00000.parquet").write_bytes(b"this is not parquet")
    sink = ParquetSink(str(tmp_path / "stage"))
    with pytest.raises(Exception):
        sink.existing_keys(spark, "vehicleposition", "2021-02-09").count()


def test_column_dropped_table_raises_not_reinserts(spark, tmp_path):
    """ADVICE r15: the pinned SINK_SCHEMA read NULLs (not errors) any
    column the on-disk files lack, so a sink table written by an older
    layout without ``uuid`` would silently re-insert the whole day.
    existing_keys must refuse loudly instead."""
    stage = tmp_path / "stage" / "vehicleposition"
    stage.parent.mkdir(parents=True)
    # an "older layout" table: has oday but NO uuid column
    spark.sql(
        "SELECT DATE '2021-02-09' AS oday, 1001 AS vehicle_number"
    ).write.parquet(str(stage))
    sink = ParquetSink(str(tmp_path / "stage"))
    keys = sink.existing_keys(spark, "vehicleposition", "2021-02-09")
    # collect(), not count(): count prunes the projection away, while the
    # real consumer (the dedup anti-join) evaluates uuid — as collect does
    with pytest.raises(Exception, match="null uuid|refusing"):
        keys.collect()


def test_missing_blobs_skip_group(spark, tmp_path):
    report = LoadReport(date="2021-02-09")
    sink = ParquetSink(str(tmp_path / "stage"))
    load_event_group(
        spark, sink, str(tmp_path / "empty"), STOP_EVENT, "2021-02-09", report
    )
    assert report.inserted_by_table == {}


def test_invalid_date_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        hfp_load(spark, str(tmp_path), "2021-13-99", ParquetSink(str(tmp_path)))


def test_jdbc_existing_keys_validates_date():
    from hfp_loader_spark.sink import JdbcSink

    sink = JdbcSink("jdbc:postgresql://localhost/nope")
    with pytest.raises(ValueError):
        sink.existing_keys(None, "vehicleposition", "2021-02-09'; DROP TABLE x--")


@pytest.mark.parametrize("layout", ["missing_table", "other_day_only"])
def test_missing_day_never_reads_parquet(spark, tmp_path, monkeypatch, layout):
    """A key scan of a day the sink does not hold is decided by an
    existence check, not by a read that fails: Spark logs a stack trace
    for every failed read of a missing path, even a caught one."""
    from pyspark.sql.readwriter import DataFrameReader

    sink = ParquetSink(str(tmp_path / "stage"))
    if layout == "other_day_only":
        spark.sql(
            "SELECT 'u1' AS uuid, DATE '2021-02-08' AS oday"
        ).write.partitionBy("oday").parquet(sink.table_path("vehicleposition"))
    calls = []
    monkeypatch.setattr(
        DataFrameReader, "parquet", lambda self, *p: calls.append(p)
    )
    keys = sink.existing_keys(spark, "vehicleposition", "2021-02-09")
    assert calls == []
    monkeypatch.undo()
    assert keys.count() == 0


def test_parquet_existing_keys_validates_date():
    """The date names the partition directory read, so a non-ISO date
    must raise before it becomes part of a path."""
    sink = ParquetSink("/nonexistent/stage")
    with pytest.raises(ValueError):
        sink.existing_keys(None, "vehicleposition", "2021-02-09/../x")
