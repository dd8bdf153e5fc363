"""Golden end-to-end ETL scenarios (FIXTURES.md §A4, SURVEY §5.2).

1. Fresh load: inserted = input − empty-uuid rows; routing split correct.
2. Re-run same date: 0 new rows (idempotency via day-scoped anti-join).
3. Partial prior state: only non-blocked uuids inserted; VP key-set union
   blocks from BOTH vehicleposition and unsignedevent.
4. Intra-run duplicate uuids pass twice (reference scoping, hfpTask.ts:97).
"""

from __future__ import annotations

import pytest

from hfp_loader_spark.job import hfp_load
from hfp_loader_spark.sink import ParquetSink
from tests.hfp_fixtures import write_fixture

DATE = "2021-02-09"


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("hfp_blobs")
    rows_by_group = write_fixture(root, date=DATE)
    return root, rows_by_group


def expected_counts(rows_by_group):
    """Expected inserts per table on a fresh load (dedup key = uuid != '')."""
    by_table: dict[str, int] = {}
    for group, rows in rows_by_group.items():
        for row in rows:
            if not row["uuid"]:
                continue
            if group == "vehiclePosition":
                table = (
                    "vehicleposition"
                    if row["journey_type"] == "journey"
                    else "unsignedevent"
                )
            else:
                table = "stopevent" if group == "stopEvent" else "otherevent"
            by_table[table] = by_table.get(table, 0) + 1
    return by_table


def test_fresh_load_counts_and_routing(spark, fixture_root, tmp_path):
    root, rows_by_group = fixture_root
    sink = ParquetSink(str(tmp_path / "stage"))
    report = hfp_load(spark, str(root), DATE, sink)
    assert report.inserted_by_table == expected_counts(rows_by_group)
    # routing invariant: no non-journey rows in vehicleposition and vice versa
    vp = spark.read.parquet(sink.table_path("vehicleposition"))
    assert vp.where("journey_type is null or journey_type != 'journey'").count() == 0
    un = spark.read.parquet(sink.table_path("unsignedevent"))
    assert un.where("journey_type = 'journey'").count() == 0


def test_rerun_is_idempotent(spark, fixture_root, tmp_path):
    root, _ = fixture_root
    sink = ParquetSink(str(tmp_path / "stage"))
    first = hfp_load(spark, str(root), DATE, sink)
    assert first.total_inserted > 0
    second = hfp_load(spark, str(root), DATE, sink)
    assert second.total_inserted == 0
    # intra-run duplicates passed twice on the first load (reference scoping)
    se = spark.read.parquet(sink.table_path("stopevent"))
    dup_uuids = (
        se.groupBy("uuid").count().where("count > 1").count()
    )
    assert dup_uuids > 0, "intra-run duplicate uuids must NOT be deduplicated"


def test_partial_prior_state_blocks_only_matching_day(spark, fixture_root, tmp_path):
    root, rows_by_group = fixture_root
    sink = ParquetSink(str(tmp_path / "stage"))

    #

    # Seed prior state: load only the StopEvent group first.
    pre = hfp_load(spark, str(root), DATE, sink, event_groups=["stopEvent"])
    assert pre.inserted_by_table.get("stopevent", 0) > 0

    # Full load: stopevent now fully blocked, other groups fresh.
    report = hfp_load(spark, str(root), DATE, sink)
    expected = expected_counts(rows_by_group)
    assert report.inserted_by_table.get("stopevent", 0) == 0
    assert report.inserted_by_table["otherevent"] == expected["otherevent"]
    assert report.inserted_by_table["vehicleposition"] == expected["vehicleposition"]


def test_vp_union_keyset_blocks_across_tables(spark, fixture_root, tmp_path):
    """A uuid already in unsignedevent blocks the same uuid arriving for
    vehicleposition (key-set union, hfpTask.ts:100-103)."""
    root, rows_by_group = fixture_root
    sink = ParquetSink(str(tmp_path / "stage"))
    first = hfp_load(spark, str(root), DATE, sink, event_groups=["vehiclePosition"])
    n_unsigned = first.inserted_by_table.get("unsignedevent", 0)
    assert n_unsigned > 0
    # Re-run the VP group: every uuid (in either table) is blocked.
    second = hfp_load(spark, str(root), DATE, sink, event_groups=["vehiclePosition"])
    assert second.total_inserted == 0


def test_second_day_loads_beside_the_first(spark, tmp_path):
    """Day B into a sink holding day A: B inserts in full, A is untouched,
    and a re-load of B inserts nothing.  The fixture repeats A's uuids on
    B, so only the day-scoped key set (hfpTask.ts:97) lets B's rows in."""
    day_b = "2021-02-10"
    root = tmp_path / "blobs"
    write_fixture(root, date=DATE)
    rows_b = write_fixture(root, date=day_b)
    sink = ParquetSink(str(tmp_path / "stage"))
    first = hfp_load(spark, str(root), DATE, sink)

    def rows_of_day_a(table):
        return (
            spark.read.parquet(sink.table_path(table))
            .where(f"oday = DATE '{DATE}'")
            .count()
        )

    day_a_rows = {t: rows_of_day_a(t) for t in first.inserted_by_table}
    report = hfp_load(spark, str(root), day_b, sink)
    assert report.inserted_by_table == expected_counts(rows_b)
    assert {t: rows_of_day_a(t) for t in day_a_rows} == day_a_rows
    assert hfp_load(spark, str(root), day_b, sink).total_inserted == 0


def test_multiline_quoted_newline_parity(spark, tmp_path):
    """Opt-in multiLine matches the reference's quote-aware-across-newlines
    csv-parse; the default (splittable scan) documents the divergence."""
    from hfp_loader_spark.schema import HFP_COLUMNS
    from hfp_loader_spark.sources.csv_source import read_hfp_csv

    n = len(HFP_COLUMNS)
    # row 1: desi (col 1) holds a quoted embedded newline; row 2 is plain
    row1 = ["u1", '"li\nne"'] + ["x"] * (n - 2)
    row2 = ["u2", "plain"] + ["y"] * (n - 2)
    p = tmp_path / "blob.csv"
    p.write_text(",".join(row1) + "\n" + ",".join(row2) + "\n")

    parity = read_hfp_csv(spark, str(p), multi_line=True)
    assert parity.count() == 2
    desi = {r["acc"]: r["desi"] for r in parity.select("acc", "desi").collect()}
    assert desi["u1"] == "li\nne"  # newline survives inside the quoted field

    default = read_hfp_csv(spark, str(p))
    # splittable reader breaks the quoted row at the newline → 3 rows
    assert default.count() == 3


def test_sink_schema_matches_inferred(spark, fixture_root, tmp_path):
    """SINK_SCHEMA (the pinned existing_keys read schema — saves the
    eager footer-schema job per read, VERDICT r14 #5) must equal what
    Spark would infer from files ParquetSink actually writes; a drift
    would silently null out mismatched columns in the dedup scan."""
    from hfp_loader_spark.sink import SINK_SCHEMA

    root, _ = fixture_root
    sink = ParquetSink(str(tmp_path / "stage"))
    hfp_load(spark, str(root), DATE, sink)
    for table in ("stopevent", "otherevent", "vehicleposition", "unsignedevent"):
        inferred = spark.read.parquet(sink.table_path(table)).schema
        assert [(f.name, f.dataType) for f in inferred] == [
            (f.name, f.dataType) for f in SINK_SCHEMA
        ], table


def test_existing_keys_missing_table_still_empty(spark, tmp_path):
    """The pinned-schema read keeps the first-load contract: missing
    table directory → empty key set, not an error."""
    sink = ParquetSink(str(tmp_path / "nosuch"))
    df = sink.existing_keys(spark, "vehicleposition", DATE)
    assert df.columns == ["uuid"]
    assert df.count() == 0


def test_typed_projection_cache_survives_across_plans(spark, fixture_root):
    """The memoized 44-column list (r15 driver-time shave) must yield
    identical plans when reused across different source DataFrames."""
    from hfp_loader_spark.operators.transform import (
        _typed_columns,
        typed_projection,
    )
    from hfp_loader_spark.sources.csv_source import read_hfp_group

    root, _ = fixture_root
    raw1 = read_hfp_group(spark, str(root), "stopEvent", DATE)
    raw2 = read_hfp_group(spark, str(root), "otherEvent", DATE)
    assert _typed_columns() is _typed_columns()  # cache hit, same JVM
    a = typed_projection(raw1)
    b = typed_projection(raw2)
    assert a.schema == b.schema
    assert a.count() > 0 and b.count() > 0
