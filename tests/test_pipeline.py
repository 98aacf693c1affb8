"""End-to-end pipeline flows (SURVEY.md §3.1/§3.2) + foreachBatch upsert
sink + winnowing fingerprints."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from _spark_multi_format_data_lake_pipeline_spark.catalog import CatalogManager
from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import winnowing_fingerprints
from _spark_multi_format_data_lake_pipeline_spark.pipeline import run_ingestion, run_merge
from _spark_multi_format_data_lake_pipeline_spark.streaming.events import read_event_stream
from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_upsert_sink


@pytest.fixture()
def dbs(spark):
    names = [f"pl_src_{uuid.uuid4().hex[:6]}", f"pl_dst_{uuid.uuid4().hex[:6]}"]
    yield names
    cat = CatalogManager(spark)
    for n in names:
        cat.drop_database(n)


def test_ingestion_then_merge_flow(spark, tmp_path, dbs):
    src_db, dst_db = dbs
    base = tmp_path / "data"
    (base / "json").mkdir(parents=True)
    (base / "csv").mkdir()
    (base / "json" / "items.json").write_text(
        '[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]'
    )
    (base / "csv" / "notes.csv").write_text("id,note\n1,hello\n")

    rep = run_ingestion(spark, base, database=src_db)
    assert set(rep.written) == {"json_items", "csv_notes"}
    assert rep.total_rows == 3
    assert rep.rows_per_sec > 0
    assert rep.verification["json_items"]["rows"] == 2

    # first merge: CTAS everything; second: MERGE on the key column
    r1 = run_merge(spark, src_db, dst_db)
    assert {r["strategy"] for r in r1.values()} == {"CREATE_TABLE"}
    r2 = run_merge(spark, src_db, dst_db)
    assert r2["json_items"]["strategy"] == "MERGE"
    assert r2["json_items"]["final_rows"] == 2
    # csv ids are strings -> still a key column present ('id')
    assert r2["csv_notes"]["strategy"] == "MERGE"


def test_merge_isolates_per_table_errors(spark, dbs):
    src_db, dst_db = dbs
    cat = CatalogManager(spark)
    cat.create_database(src_db)
    spark.createDataFrame([(1, "x")], "id int, v string").write.saveAsTable(
        f"{src_db}.good"
    )
    spark.createDataFrame([("a",)], "v string").write.saveAsTable(f"{src_db}.nokey")
    # pre-create a target with an incompatible schema to force one failure
    cat.create_database(dst_db)
    spark.createDataFrame([(1, 2, 3)], "a int, b int, c int").write.saveAsTable(
        f"{dst_db}.nokey"
    )
    res = run_merge(spark, src_db, dst_db)
    assert res["good"]["strategy"] == "CREATE_TABLE"
    assert res["nokey"]["strategy"] == "ERROR"  # isolated, didn't kill the run


def test_map_tables_bounds_width_keeps_order_and_runs_every_call(spark):
    """Stress the per-table pool with many more calls than cores and a
    short switch interval: at most defaultParallelism calls are in flight
    at once, results keep input order, and when calls raise every other
    call still runs before the first failure in input order re-raises."""
    import sys
    import threading
    import time

    from _spark_multi_format_data_lake_pipeline_spark.registry import map_tables

    width = spark.sparkContext.defaultParallelism
    n = 4 * width + 3
    lock = threading.Lock()
    live, peak, ran = [0], [0], []

    def fn(x):
        with lock:
            live[0] += 1
            peak[0] = max(peak[0], live[0])
        time.sleep(0.005)
        with lock:
            live[0] -= 1
            ran.append(x)
        if x in fail:
            raise ValueError(f"call {x}")
        return x * x

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        fail = set()
        assert map_tables(spark, fn, range(n)) == [x * x for x in range(n)]
        assert 2 <= peak[0] <= width
        ran.clear()
        fail = {n - 2, 3, 5}
        with pytest.raises(ValueError, match="^call 3$"):
            map_tables(spark, fn, range(n))
        assert sorted(ran) == list(range(n)) and live[0] == 0
    finally:
        sys.setswitchinterval(old)


def test_run_merge_overlaps_tables(spark, dbs, monkeypatch):
    """run_merge keeps two tables in flight at once: each merge_table
    call waits on a two-party barrier, which only a second concurrent
    call can release (serially, the first call's wait times out and the
    table reports ERROR).  The report keeps list_tables order."""
    import threading

    from _spark_multi_format_data_lake_pipeline_spark.sinks.merge import TableMerger

    src_db, dst_db = dbs
    cat = CatalogManager(spark)
    cat.create_database(src_db)
    for t in ("zeta", "alpha"):
        spark.createDataFrame([(1, t)], "id int, v string").write.saveAsTable(
            f"{src_db}.{t}"
        )
    barrier = threading.Barrier(2, timeout=10)
    real = TableMerger.merge_table

    def both_in_flight(self, *a, **k):
        barrier.wait()
        return real(self, *a, **k)

    monkeypatch.setattr(TableMerger, "merge_table", both_in_flight)
    res = run_merge(spark, src_db, dst_db)
    assert list(res) == cat.list_tables(src_db) == ["alpha", "zeta"]
    assert [r["strategy"] for r in res.values()] == ["CREATE_TABLE"] * 2, res
    assert [r["final_rows"] for r in res.values()] == [1, 1]


def test_load_all_sources_overlaps_files(spark, tmp_path, monkeypatch):
    """load_all_sources reads two files at once (a two-party barrier in
    both readers releases only when both are in flight) and returns the
    handles in sweep order: the json folder before the csv folder."""
    import threading

    from _spark_multi_format_data_lake_pipeline_spark.sources import readers

    (tmp_path / "json").mkdir()
    (tmp_path / "csv").mkdir()
    (tmp_path / "json" / "zeta.json").write_text('[{"id": 1}, {"id": 2}]')
    (tmp_path / "csv" / "alpha.csv").write_text("id,note\n1,hello\n")
    barrier = threading.Barrier(2, timeout=10)
    for name in ("read_json", "read_csv"):
        real = getattr(readers, name)

        def both_in_flight(spark_, path, _real=real):
            barrier.wait()
            return _real(spark_, path)

        monkeypatch.setattr(readers, name, both_in_flight)
    handles = readers.load_all_sources(spark, tmp_path)
    assert [(h.name, h.row_count) for h in handles] == [
        ("json_zeta", 2),
        ("csv_alpha", 1),
    ]
    for h in handles:
        h.df.unpersist()


def test_stream_upsert_sink(spark, sf_dir, tmp_path, dbs):
    src_db, _ = dbs
    CatalogManager(spark).create_database(src_db)
    target = f"{src_db}.events_lake"

    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table

    events = load_table(spark, sf_dir, "events").limit(200)
    src = tmp_path / "stream_src"
    events.repartition(2).write.mode("overwrite").parquet(str(src))

    q = stream_upsert_sink(
        read_event_stream(spark, str(src)),
        target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        key="event_id",
    )
    q.awaitTermination()
    assert spark.table(target).count() == 200

    # re-run over the same files with a FRESH checkpoint: every batch
    # replays, and the keyed upsert keeps the table exactly-once
    q = stream_upsert_sink(
        read_event_stream(spark, str(src)),
        target,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        key="event_id",
    )
    q.awaitTermination()
    assert spark.table(target).count() == 200


def test_winnowing_shared_substring(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (0, f"intro words here {shared} tail piece one"),
            (1, f"other beginning text {shared} different ending"),
            (2, "completely separate vocabulary nothing matches at all here now"),
        ],
        "doc_id bigint, text string",
    )
    fp = winnowing_fingerprints(df, "doc_id", "text", k=3, window=2)
    got = fp.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    by_id = {r.doc_id: set(r.fps) for r in got}
    assert by_id[0] & by_id[1], "docs sharing a long substring must share fingerprints"
    assert not (by_id[0] & by_id[2])


def test_ingestion_lands_on_versioned_plane(spark, tmp_path, dbs):
    """run_ingestion(versioned=...) writes each swept table as an
    atomic versioned-table snapshot registered by name — the lakehouse
    twin of the saveAsTable ingestion — and verify_tables enumerates
    and reads them through the registry.  A re-run is a new snapshot
    (time travel over ingestion runs), not a table swap."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versions,
    )

    src_db, _ = dbs
    base = tmp_path / "data"
    (base / "json").mkdir(parents=True)
    (base / "json" / "items.json").write_text(
        '[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]'
    )
    vc = VersionedCatalog(tmp_path / "wh")
    rep = run_ingestion(spark, base, database=src_db, versioned=vc)
    assert rep.written == {"json_items": 2}
    assert rep.verification["json_items"]["rows"] == 2
    name = f"{src_db}.json_items"
    assert vc.exists(name)
    p = vc.resolve(name)
    assert versions(p) == [1]
    assert read_version(spark, p).count() == 2
    # re-ingestion = a new snapshot of the SAME table, history intact
    rep2 = run_ingestion(spark, base, database=src_db, versioned=vc)
    assert rep2.written == {"json_items": 2}
    assert versions(p) == [1, 2]
    assert read_version(spark, p, 1).count() == 2
    # the whole flow composes: versioned ingestion -> named merge
    r = run_merge(spark, src_db, src_db + "_t", versioned=vc,
                  create_versioned=True)
    assert r["json_items"]["strategy"] == "CREATE_TABLE"
    assert vc.exists(f"{src_db}_t.json_items")
