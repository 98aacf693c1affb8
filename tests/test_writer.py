"""W1 writer + F9 verification report."""

from __future__ import annotations

import pytest

from _spark_multi_format_data_lake_pipeline_spark.catalog import CatalogManager
from _spark_multi_format_data_lake_pipeline_spark.registry import TableHandle
from _spark_multi_format_data_lake_pipeline_spark.sinks.writer import verify_tables, write_tables

DB = "writer_test_db"


@pytest.fixture()
def cleanup(spark):
    yield
    CatalogManager(spark).drop_database(DB)


def test_write_and_verify(spark, cleanup):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], schema="id int, v string")
    df2 = spark.createDataFrame([(9,)], schema="x int")
    handles = [
        TableHandle(df1, "json_products", "JSON", 2, 2),
        TableHandle(df2, "csv_misc", "CSV", 1, 1),
    ]
    results = write_tables(spark, handles, database=DB)
    assert results == {"json_products": 2, "csv_misc": 1}

    report = verify_tables(spark, DB)
    assert set(report) == {"json_products", "csv_misc"}
    assert report["json_products"]["rows"] == 2
    assert report["json_products"]["columns"] == ["id", "v"]


def test_write_tables_failure_lets_other_tables_finish(spark, cleanup):
    """The tables write concurrently: when the middle table's write
    raises, the first and the last still land with their rows, and the
    error raised is the middle table's."""
    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    bad = spark.range(1).selectExpr(
        "CAST(raise_error('middle table write failed') AS STRING) AS v"
    )
    handles = [
        TableHandle(ok, "first_t", "JSON", 2, 2),
        TableHandle(bad, "middle_t", "JSON", 1, 1),
        TableHandle(ok, "last_t", "JSON", 2, 2),
    ]
    with pytest.raises(Exception, match="middle table write failed"):
        write_tables(spark, handles, database=DB)
    for t in ("first_t", "last_t"):
        assert sorted(tuple(r) for r in spark.table(f"{DB}.{t}").collect()) == [
            (1, "a"),
            (2, "b"),
        ]


def test_write_tables_same_name_last_handle_wins(spark, cleanup):
    """Two handles naming one table (x.docx and x.txt both sweep as
    ``text_x``) write one after another, in handle order, as a serial
    sweep would: the table holds the last handle's rows."""
    first = spark.createDataFrame([("a",)], "value string")
    last = spark.createDataFrame([("b",), ("c",)], "value string")
    other = spark.createDataFrame([("z",)], "value string")
    res = write_tables(
        spark,
        [
            TableHandle(first, "text_x", "TEXT", 1, 1),
            TableHandle(other, "text_y", "TEXT", 1, 1),
            TableHandle(last, "text_x", "TEXT", 2, 1),
        ],
        database=DB,
    )
    assert res == {"text_x": 2, "text_y": 1}
    assert list(res) == ["text_x", "text_y"]
    assert sorted(r.value for r in spark.table(f"{DB}.text_x").collect()) == ["b", "c"]


def test_write_partitioned(spark, cleanup):
    df = spark.createDataFrame(
        [(1, "x", "2024-01-01"), (2, "y", "2024-01-02")],
        schema="id int, v string, day string",
    )
    write_tables(
        spark,
        [TableHandle(df, "events_part", "PARQUET", 2, 3)],
        database=DB,
        partition_by={"events_part": ["day"]},
    )
    got = spark.table(f"{DB}.events_part")
    assert got.count() == 2
    assert "day" in got.columns


def test_max_records_per_file_splits_output(spark, cleanup, tmp_path):
    df = spark.range(0, 100).coalesce(1)
    handles = [TableHandle(df, "wide_table", "PARQUET", 100, 1)]
    write_tables(
        spark, handles, database=DB, max_records_per_file=25
    )
    files = [
        f
        for f in (spark.table(f"{DB}.wide_table")
                  .select("_metadata.file_name").distinct().collect())
    ]
    # single task, 100 rows, cap 25 -> four data files
    assert len(files) == 4
    assert spark.table(f"{DB}.wide_table").count() == 100


def test_versioned_plane_mode_symmetry_and_file_sizing(spark, tmp_path):
    """write_tables on the versioned plane (r16): recreate_database=True
    is a true drop+recreate — bindings drop first so mode='error' never
    fires (matching the warehouse plane), every table snapshots FRESH
    (append can't see prior rows) at its previously-bound path (history
    preserved); recreate_database=False keeps save-mode semantics; and
    max_records_per_file threads through to the versioned writer."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versions,
    )

    vc = VersionedCatalog(tmp_path / "wh")
    df = spark.createDataFrame([(i, "v") for i in range(10)], "id int, v string")
    h = [TableHandle(df, "items", "JSON", 10, 2)]
    write_tables(spark, h, database="vdb", versioned=vc,
                 max_records_per_file=3)
    p = vc.resolve("vdb.items")
    assert versions(p) == [1]
    # maxRecordsPerFile threaded through: 10 rows / cap 3 -> >= 4 files
    from pathlib import Path

    n_files = len(list((Path(p) / "data").rglob("*.parquet")))
    assert n_files >= 4
    # recreate + mode='error': never fires (warehouse drop+recreate
    # symmetry), rewrites the SAME path as a fresh snapshot
    write_tables(spark, h, database="vdb", versioned=vc, mode="error")
    assert vc.resolve("vdb.items") == p
    assert versions(p) == [1, 2]
    assert read_version(spark, p).count() == 10
    # recreate + mode='append' also snapshots fresh (no prior rows seen)
    write_tables(spark, h, database="vdb", versioned=vc, mode="append")
    assert read_version(spark, p).count() == 10
    # non-recreate keeps DataFrameWriter semantics: error raises,
    # ignore skips, append stacks rows
    with pytest.raises(ValueError, match="already exists"):
        write_tables(spark, h, database="vdb", versioned=vc,
                     mode="error", recreate_database=False)
    res = write_tables(spark, h, database="vdb", versioned=vc,
                       mode="ignore", recreate_database=False)
    assert res == {"items": 0}
    write_tables(spark, h, database="vdb", versioned=vc,
                 mode="append", recreate_database=False)
    assert read_version(spark, p).count() == 20
    # a stale name the sweep no longer produces is unregistered
    vc.register("vdb.orphan", str(tmp_path / "orphan"))
    write_tables(spark, h, database="vdb", versioned=vc)
    assert not vc.exists("vdb.orphan")
    assert vc.exists("vdb.items")
