"""Streaming tests (SURVEY.md §5 item 5): batch==stream equivalence for
windowed aggregation, watermark late-data drop, stateful dedup, session
windows, stream-static join. File source + Trigger.AvailableNow keeps
everything deterministic."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table
from _spark_multi_format_data_lake_pipeline_spark.streaming.events import (
    dedup_events,
    read_event_stream,
    run_available_now,
    session_counts,
    stream_static_join,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Copy the events table (us timestamps) into a clean stream-source dir."""
    d = tmp_path_factory.mktemp("events_stream")
    load_table(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data")


def _memtable(spark, name):
    return spark.table(name)


def test_tumbling_stream_equals_batch(spark, sf_dir, events_dir):
    stream = read_event_stream(spark, events_dir)
    name = f"t_{uuid.uuid4().hex[:8]}"
    # complete mode: with AvailableNow the watermark only advances at the
    # end of the run, so append mode would emit nothing for the last window
    run_available_now(tumbling_counts(stream), name, output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in _memtable(spark, name).collect()
    }

    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want


def test_session_windows_run(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    name = f"s_{uuid.uuid4().hex[:8]}"
    run_available_now(session_counts(stream), name, output_mode="complete")
    rows = _memtable(spark, name).collect()
    assert len(rows) > 0
    # session invariant: end >= start, counts positive
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in rows)


def test_stateful_dedup_drops_duplicates(spark, tmp_path):
    src = tmp_path / "dup_stream"
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),
            (1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}"),  # dup id
            (2, "2024-01-01 00:01:00", 7, "view", 2.0, "{}"),
        ],
        schema="event_id bigint, ts string, user_id bigint, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = read_event_stream(spark, str(src))
    name = f"d_{uuid.uuid4().hex[:8]}"
    run_available_now(dedup_events(stream), name)
    got = sorted(r.event_id for r in _memtable(spark, name).collect())
    assert got == [1, 2]


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Two micro-batches: the second contains an event older than the
    watermark established by the first -> it must not create/update a
    window in update mode."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from _spark_multi_format_data_lake_pipeline_spark.streaming.events import EVENTS_SCHEMA

    src = tmp_path / "late_stream"
    src.mkdir()

    def write_events(fname, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, src / fname)

    # three parquet files with controlled names AND mtimes, written in
    # order; maxFilesPerTrigger=1 turns them into sequential micro-batches
    # within ONE AvailableNow run. The watermark from file a (11:00) is
    # COMMITTED after file b's batch and so governs file c — Spark applies
    # a newly-raised watermark one batch later, which is why the late row
    # rides in the third file, not the second.
    write_events("a_batch1.parquet", [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 12:00:00"),  # raises watermark to 11:00
    ])
    time.sleep(1.05)
    write_events("b_batch2.parquet", [(3, "2024-01-01 12:30:00")])
    time.sleep(1.05)
    write_events("c_batch3.parquet", [(4, "2024-01-01 08:00:00")])  # late
    assert os.path.getmtime(src / "a_batch1.parquet") < os.path.getmtime(src / "c_batch3.parquet")

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .repartition(1)
    )
    name = f"w_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_counts(stream, window="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    starts = {r.window_start.hour for r in _memtable(spark, name).collect()}
    assert 10 in starts and 12 in starts
    assert 8 not in starts  # late event dropped


def test_stream_static_join(spark, sf_dir, events_dir):
    users = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = read_event_stream(spark, events_dir)
    name = f"j_{uuid.uuid4().hex[:8]}"
    run_available_now(stream_static_join(stream, users), name)
    out = _memtable(spark, name)
    assert "c_mktsegment" in out.columns
    assert out.count() == load_table(spark, sf_dir, "events").count()


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """stream_file_sink: restarting from the same checkpoint after new
    source files arrive processes ONLY the new files — no duplicates, no
    loss (the file-source WAL + _spark_metadata sink log together give
    end-to-end exactly-once)."""
    import json as jsonlib

    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_file_sink

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(fname, ids):
        (src / fname).write_text(
            "\n".join(jsonlib.dumps({"id": i, "v": i * 10}) for i in ids)
        )

    write_batch("a.json", range(5))
    stream = spark.readStream.schema("id bigint, v bigint").json(str(src))
    q = stream_file_sink(stream, str(out), str(ckpt))
    q.awaitTermination(60)
    got1 = {r["id"] for r in spark.read.parquet(str(out)).collect()}
    assert got1 == set(range(5))

    # second run, same checkpoint: only the new file lands
    write_batch("b.json", range(5, 8))
    stream2 = spark.readStream.schema("id bigint, v bigint").json(str(src))
    q2 = stream_file_sink(stream2, str(out), str(ckpt))
    q2.awaitTermination(60)
    rows = spark.read.parquet(str(out)).collect()
    assert len(rows) == 8, "replayed rows would show up as duplicates here"
    assert {r["id"] for r in rows} == set(range(8))


def test_file_sink_partitioned_output_prunes(spark, tmp_path):
    import json as jsonlib

    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_file_sink

    src = tmp_path / "src"
    src.mkdir()
    (src / "x.json").write_text(
        "\n".join(jsonlib.dumps({"id": i, "bucket": i % 2}) for i in range(10))
    )
    stream = spark.readStream.schema("id bigint, bucket int").json(str(src))
    q = stream_file_sink(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), partition_by=["bucket"]
    )
    q.awaitTermination(60)
    assert (tmp_path / "out" / "bucket=0").exists()
    df = spark.read.parquet(str(tmp_path / "out")).filter("bucket = 1")
    assert df.count() == 5


def test_stream_stream_join_equals_batch(spark, sf_dir, events_dir):
    from _spark_multi_format_data_lake_pipeline_spark.streaming.events import stream_stream_join

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    clicks_s, purchases_s = split(read_event_stream(spark, events_dir))
    name = f"ss_{uuid.uuid4().hex[:8]}"
    run_available_now(stream_stream_join(clicks_s, purchases_s), name)
    got = {
        (r.user_id, r.left_id, r.right_id, r.lag_us)
        for r in _memtable(spark, name).collect()
    }

    clicks_b, purchases_b = split(load_table(spark, sf_dir, "events"))
    want = {
        (r.user_id, r.left_id, r.right_id, r.lag_us)
        for r in stream_stream_join(clicks_b, purchases_b).collect()
    }
    assert got == want and len(want) > 0


def test_dedup_within_watermark_catches_late_duplicate(spark, tmp_path):
    """A retry re-emits event_id=1 with its ORIGINAL old timestamp in a
    later micro-batch. dropDuplicatesWithinWatermark still suppresses it
    (state lifetime is measured from first arrival, not event time)."""
    import datetime as dt
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from _spark_multi_format_data_lake_pipeline_spark.streaming.events import (
        EVENTS_SCHEMA,
        dedup_events_within_watermark,
    )

    src = tmp_path / "retry_stream"
    src.mkdir()

    def write_events(fname, rows):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array(
                        [dt.datetime.fromisoformat(r[1]) for r in rows],
                        pa.timestamp("us"),
                    ),
                    "user_id": pa.array([1] * len(rows), pa.int64()),
                    "event_type": pa.array(["click"] * len(rows)),
                    "value": pa.array([1.0] * len(rows)),
                    "props": pa.array(["{}"] * len(rows)),
                }
            ),
            src / fname,
        )

    write_events("a.parquet", [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 13:00:00"),  # raises watermark to 11:00
    ])
    time.sleep(1.05)
    # duplicate of id 1 with its original ts (10:00 < watermark 11:00)
    write_events("b.parquet", [(1, "2024-01-01 10:00:00"), (3, "2024-01-01 13:30:00")])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .repartition(1)
    )
    name = f"wd_{uuid.uuid4().hex[:8]}"
    run_available_now(dedup_events_within_watermark(stream), name)
    ids = sorted(r.event_id for r in _memtable(spark, name).collect())
    assert ids == [1, 2, 3]  # id 1 exactly once despite the late retry


def test_stream_stream_join_requires_utc_session(spark):
    """The NTZ cast in lag_us is DST-sensitive, so a non-UTC session must be
    rejected up front rather than silently skewing lags."""
    from _spark_multi_format_data_lake_pipeline_spark.streaming.events import stream_stream_join

    df = spark.createDataFrame([], "user_id bigint, event_id bigint, ts timestamp")
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC"):
            stream_stream_join(df, df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_stream_hll_registers_converge_to_batch(spark, sf_dir, tmp_path):
    """Incremental sketch maintenance (the q136 register algebra fed by a
    stream): registers folded batch-by-batch through foreachBatch MAX-merge
    must equal the one-pass batch registers over the full table — the
    mergeability guarantee under micro-batch ingestion."""
    import uuid

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.functions.sketches import (
        hll_merge_registers,
        hll_register_partials,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_hll_register_sink

    ev = load_table(spark, sf_dir, "events").select("user_id")
    src = tmp_path / "hll_src"
    # two parquet files -> two sequential micro-batches
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a"), mode="overwrite"
    )
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b"), mode="overwrite"
    )
    tbl = f"hll_regs_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_hll_register_sink(
        stream, tbl, str(tmp_path / "ckpt"), "user_id", p=6
    )
    q.awaitTermination()

    streamed = sorted(map(tuple, spark.table(tbl).collect()))
    batch = sorted(
        map(
            tuple,
            hll_merge_registers(
                hll_register_partials(ev, "user_id", F.lit(0), p=6)
            ).collect(),
        )
    )
    assert streamed == batch
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stream_cms_converges_and_replay_is_idempotent(spark, sf_dir, tmp_path):
    """CMS under micro-batch ingestion: the partition-per-batch fold must
    (a) converge to the one-pass batch sketch, and (b) be a no-op under a
    foreachBatch replay — counters ADD, so the naive read-merge-overwrite
    fold would double-count; the partition overwrite design cannot."""
    import uuid

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.functions.sketches import cms_build
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        cms_stream_merged,
        fold_cms_batch,
        stream_cms_sink,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type")
    src = tmp_path / "cms_src"
    ev.filter(F.pmod(F.xxhash64("event_type"), F.lit(2)) == 0).coalesce(1).write.parquet(
        str(src / "a"), mode="overwrite"
    )
    ev.filter(F.pmod(F.xxhash64("event_type"), F.lit(2)) == 1).coalesce(1).write.parquet(
        str(src / "b"), mode="overwrite"
    )
    tbl = f"cms_sketch_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_cms_sink(stream, tbl, str(tmp_path / "ckpt"), "event_type")
    q.awaitTermination()

    merged = sorted(map(tuple, cms_stream_merged(spark, tbl).collect()))
    batch = sorted(
        map(tuple, cms_build(ev, "event_type", depth=4, width=1024).collect())
    )
    assert merged == batch

    # replay the last folded batch: partition overwrite must be a no-op
    last_batch = spark.table(tbl).agg(F.max("batch_id")).collect()[0][0]
    replay_rows = spark.table(tbl).filter(F.col("batch_id") == last_batch).count()
    assert replay_rows > 0
    half_b = spark.read.parquet(str(src / "b"))
    fold_cms_batch(spark, half_b, last_batch, tbl, "event_type")
    assert sorted(map(tuple, cms_stream_merged(spark, tbl).collect())) == batch
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stream_stream_left_outer_emits_unmatched_on_expiry(spark, tmp_path):
    """leftOuter stream-stream interval join: a click with no purchase in
    its 30-minute window must be emitted exactly once — with null right
    columns — after the watermark passes its eviction bound. Four
    maxFilesPerTrigger=1 micro-batches advance the watermark and absorb
    the one-batch commit lag."""
    import datetime as dt
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from _spark_multi_format_data_lake_pipeline_spark.streaming.events import (
        EVENTS_SCHEMA,
        stream_stream_join,
    )

    lsrc, rsrc = tmp_path / "clicks", tmp_path / "purchases"
    lsrc.mkdir(), rsrc.mkdir()

    def write(dirpath, fname, rows):  # rows: (event_id, ts, user_id, type)
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, dirpath / fname)

    # batch 1: user 1 converts at +10min; user 2 never converts
    write(lsrc, "a.parquet", [(1, "2024-01-01 10:00:00", 1, "click"),
                              (2, "2024-01-01 10:00:00", 2, "click")])
    write(rsrc, "a.parquet", [(101, "2024-01-01 10:10:00", 1, "purchase")])
    time.sleep(1.05)
    # batches 2-4: both sides advance their watermarks well past
    # 10:30 (user 2's eviction bound) + the 1h delay + commit lag
    for i, hour in enumerate(("13", "15", "17")):
        write(lsrc, f"{'bcd'[i]}.parquet",
              [(3 + i, f"2024-01-01 {hour}:00:00", 90 + i, "click")])
        write(rsrc, f"{'bcd'[i]}.parquet",
              [(103 + i, f"2024-01-01 {hour}:00:00", 80 + i, "purchase")])
        time.sleep(1.05)

    def src(path):
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(path))
            .repartition(1)
        )

    joined = stream_stream_join(src(lsrc), src(rsrc), how="leftOuter")
    name = f"oj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = _memtable(spark, name).collect()

    matched = [r for r in rows if r.left_id == 1]
    assert [(r.right_id, r.lag_us) for r in matched] == [(101, 600_000_000)]
    unmatched_u2 = [r for r in rows if r.left_id == 2]
    assert len(unmatched_u2) == 1, rows  # emitted exactly once
    assert unmatched_u2[0].right_id is None and unmatched_u2[0].lag_us is None


def test_python_datasource_stream_reader_exactly_once(spark, tmp_path):
    """Streaming side of the custom Python Data Source: offset-based
    micro-batches drain the bounded corpus exactly once, and restarting
    from the same checkpoint continues at the committed offset instead of
    re-reading (the replayability contract a custom source must honor)."""
    from _spark_multi_format_data_lake_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain(max_rows):
        # parquet sink: the one that supports restart-from-checkpoint
        # (memory sink refuses recovery); output accumulates across runs
        q = (
            spark.readStream.format("synthetic_docs")
            .option("rows_per_batch", 50)
            .option("max_rows", max_rows)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(pydatasource.SCHEMA).parquet(out).collect()

    # availableNow with a simple stream reader snapshots one prefetched
    # batch per run, so each drain() is one micro-batch advancing the
    # committed offset; repeated runs against the SAME checkpoint must
    # continue where the last stopped — never re-reading, never skipping.
    seen = []
    for _ in range(6):
        seen = drain(120)
        ids = sorted(r.doc_id for r in seen)
        assert ids == list(range(len(ids)))  # contiguous prefix, no dupes
        if len(seen) >= 120:
            break
    assert sorted(r.doc_id for r in seen) == list(range(120))
    # raising the bound after full drain appends exactly the new rows
    allrows = drain(150)
    for _ in range(4):  # bounded: a stuck offset must fail, not hang CI
        if len(allrows) >= 150:
            break
        allrows = drain(150)
    assert sorted(r.doc_id for r in allrows) == list(range(150))
    # content equals the batch formula
    by_id = {r.doc_id: r.text for r in allrows}
    assert by_id[7] == pydatasource.make_doc(7)[1]


def test_stream_expectations_converges_and_replay_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Data-quality monitoring under micro-batch ingestion: per-batch
    expect() reports folded partition-per-batch must (a) sum to the
    one-pass batch report for additive rules, and (b) be a no-op under a
    foreachBatch replay (counts ADD — same trap as CMS)."""
    import uuid

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.expectations import (
        expect,
        in_range,
        in_set,
        not_null,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        expectations_stream_merged,
        fold_expectations_batch,
        stream_expectations_sink,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    src = tmp_path / "exp_src"
    ev.filter(F.pmod(F.xxhash64("event_type"), F.lit(2)) == 0).coalesce(1).write.parquet(
        str(src / "a"), mode="overwrite"
    )
    ev.filter(F.pmod(F.xxhash64("event_type"), F.lit(2)) == 1).coalesce(1).write.parquet(
        str(src / "b"), mode="overwrite"
    )
    rules = [
        not_null("type_not_null", "event_type"),
        in_set("type_domain", "event_type", ["click", "view", "purchase"]),
        in_range("value_range", "value", 0, 50),
    ]
    tbl = f"exp_monitor_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_expectations_sink(stream, tbl, str(tmp_path / "exp_ckpt"), rules)
    q.awaitTermination()

    merged = sorted(map(tuple, expectations_stream_merged(spark, tbl).collect()))
    batch = sorted(map(tuple, expect(ev, rules).collect()))
    assert merged == batch
    # the suite must have actually fired: signup/error are out of domain
    by_rule = dict((r[0], r[1]) for r in merged)
    assert by_rule["type_domain"] > 0

    # replay the last folded batch: partition overwrite must be a no-op
    last_batch = spark.table(tbl).agg(F.max("batch_id")).collect()[0][0]
    half_b = spark.read.parquet(str(src / "b"))
    fold_expectations_batch(spark, half_b, last_batch, tbl, rules)
    assert sorted(map(tuple, expectations_stream_merged(spark, tbl).collect())) == batch
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stream_kmeans_stats_converges_and_replay_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Mini-batch k-means sufficient statistics under a FIXED quantizer:
    the partition-per-batch fold must (a) yield the same per-cluster
    counts and mean centroids as a one-pass batch computation, and (b) be
    a no-op under a foreachBatch replay (sums/counts ADD)."""
    import uuid

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.llm.clustering import assign_clusters
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        fold_kmeans_stats_batch,
        kmeans_stats_merged,
        stream_kmeans_stats_sink,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # fixed quantizer: the 4 lowest-id vectors (same seeds as q150)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    src = tmp_path / "km_src"
    emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0).coalesce(1).write.parquet(
        str(src / "a"), mode="overwrite"
    )
    emb.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 1).coalesce(1).write.parquet(
        str(src / "b"), mode="overwrite"
    )
    tbl = f"km_stats_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_kmeans_stats_sink(stream, tbl, str(tmp_path / "km_ckpt"), cents)
    q.awaitTermination()

    def rounded(df):
        return sorted(
            (r["cluster"], r["n"], tuple(round(x, 6) for x in r["centroid"]))
            for r in df.collect()
        )

    merged = rounded(kmeans_stats_merged(spark, tbl, len(cents[0])))

    cluster, _ = assign_clusters(F.col("embedding"), cents)
    dim = len(cents[0])
    batch = rounded(
        emb.select(cluster.alias("cluster"), F.col("embedding").alias("_v"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.array(
                *[
                    (F.sum(F.element_at(F.col("_v"), i + 1).cast("double")) / F.count(F.lit(1)))
                    for i in range(dim)
                ]
            ).alias("centroid"),
        )
    )
    assert merged == batch

    # replay the last folded batch: partition overwrite must be a no-op
    last_batch = spark.table(tbl).agg(F.max("batch_id")).collect()[0][0]
    half_b = spark.read.parquet(str(src / "b"))
    fold_kmeans_stats_batch(spark, half_b, last_batch, tbl, cents)
    assert rounded(kmeans_stats_merged(spark, tbl, len(cents[0]))) == batch
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_stream_scd2_sink_builds_history_and_replay_is_idempotent(
    spark, tmp_path
):
    """Streaming SCD2 dimension maintenance: two in-order micro-batches of
    user-state updates must produce exactly the history that batch
    scd2_apply produces applied sequentially, and re-folding the last
    batch (foreachBatch replay) must be the identity — the no-op
    suppression IS the exactly-once mechanism (idempotent transformation,
    like the CDC sink; NOT additive partials like CMS/kmeans)."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.sinks.scd import scd2_apply
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        fold_scd2_batch,
        stream_scd2_sink,
    )

    b1 = spark.createDataFrame(
        [(1, "bronze", "2024-01-01 00:00:00"), (2, "silver", "2024-01-01 00:00:00")],
        "user_id int, tier string, ts string",
    )
    b2 = spark.createDataFrame(
        [
            (1, "gold", "2024-02-01 00:00:00"),    # change -> close + reopen
            (2, "silver", "2024-02-01 00:00:00"),  # no-op
            (3, "bronze", "2024-02-01 00:00:00"),  # insert
        ],
        "user_id int, tier string, ts string",
    )
    src = tmp_path / "scd_src"
    b1.coalesce(1).write.parquet(str(src / "a"), mode="overwrite")
    b2.coalesce(1).write.parquet(str(src / "b"), mode="overwrite")
    # FileStreamSource orders candidate files oldest-modTime-first; pin
    # the order explicitly so batch 1 precedes batch 2 deterministically
    for i, d in enumerate(("a", "b")):
        for root, _, files in os.walk(src / d):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + i, 1_700_000_000 + i))

    tbl = f"scd2_dim_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("user_id int, tier string, ts string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_scd2_sink(
        stream, tbl, str(tmp_path / "scd_ckpt"), key="user_id",
        attrs=["tier"], ts_col="ts",
    )
    q.awaitTermination()

    def canon(df):
        return sorted(
            (r["user_id"], r["tier"], str(r["valid_from"]), str(r["valid_to"]),
             r["is_current"])
            for r in df.collect()
        )

    # reference: sequential batch application to an empty dimension
    empty = b1.select(
        "user_id", "tier",
        F.col("ts").cast("timestamp").alias("valid_from"),
        F.col("ts").cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).filter(F.lit(False))
    ref = canon(scd2_apply(scd2_apply(empty, b1, "user_id", ["tier"], "ts"),
                           b2, "user_id", ["tier"], "ts"))
    got = canon(spark.table(tbl))
    assert got == ref
    # user 1 has a closed v1 + open v2; users 2 and 3 one current row each
    assert sum(1 for r in got if r[0] == 1) == 2

    # replay the second batch: must be the identity
    fold_scd2_batch(spark, b2, 1, tbl, "user_id", ["tier"], "ts")
    assert canon(spark.table(tbl)) == ref
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_scd2_swap_crash_window_recovers_not_rebuilds(spark):
    """Simulate a driver crash INSIDE the table swap (target renamed to
    __old, fully-staged new state sitting in __stage): the next fold must
    FINISH the swap — not mistake the missing target for a first batch
    and rebuild the dimension from one batch (the silent-history-loss
    failure the recoverable swap exists to prevent). Also: crash BEFORE
    staging (only __old present) must restore the old state."""
    import uuid

    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import fold_scd2_batch

    tbl = f"scd2_crash_{uuid.uuid4().hex[:8]}"
    b1 = spark.createDataFrame(
        [(1, "bronze", "2024-01-01 00:00:00"), (2, "silver", "2024-01-01 00:00:00")],
        "user_id int, tier string, ts string",
    )
    b2 = spark.createDataFrame(
        [(1, "gold", "2024-02-01 00:00:00")], "user_id int, tier string, ts string"
    )
    fold_scd2_batch(spark, b1, 0, tbl, "user_id", ["tier"], "ts")
    fold_scd2_batch(spark, b2, 1, tbl, "user_id", ["tier"], "ts")
    full = sorted(
        (r["user_id"], r["tier"], r["is_current"]) for r in spark.table(tbl).collect()
    )
    assert len(full) == 3  # u1 v1 closed + u1 v2 current + u2 current

    # crash point A: target renamed away, staged state present
    spark.table(tbl).write.mode("overwrite").format("parquet").saveAsTable(
        f"{tbl}__stage"
    )
    spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}__old")
    b3 = spark.createDataFrame(
        [(2, "gold", "2024-03-01 00:00:00")], "user_id int, tier string, ts string"
    )
    fold_scd2_batch(spark, b3, 2, tbl, "user_id", ["tier"], "ts")
    rows = sorted(
        (r["user_id"], r["tier"], r["is_current"]) for r in spark.table(tbl).collect()
    )
    # u1's FULL history survived (2 rows) + u2 closed + u2 new current
    assert len(rows) == 4
    assert (1, "gold", True) in rows and (2, "gold", True) in rows

    # crash point B: only __old exists (crash before staging completed)
    spark.sql(f"ALTER TABLE {tbl} RENAME TO {tbl}__old")
    b4 = spark.createDataFrame(
        [(3, "bronze", "2024-04-01 00:00:00")], "user_id int, tier string, ts string"
    )
    fold_scd2_batch(spark, b4, 3, tbl, "user_id", ["tier"], "ts")
    rows = sorted(
        (r["user_id"], r["tier"]) for r in spark.table(tbl).collect()
    )
    assert len(rows) == 5 and (3, "bronze") in rows
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_versioned_changes_stream_follows_appends(spark, tmp_path):
    """The versioned-table streaming source: each availableNow run
    drains the commits since the checkpointed version — batch 1 streams
    the initial snapshot, later runs exactly the appended rows; a
    partitioned table re-attaches its partition values; a rewrite
    commit is refused at planning unless skipChangeCommits."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    versioned_stream.register(spark)
    t = str(tmp_path / "tbl")
    mk = lambda lo, day: spark.createDataFrame(
        [(lo + i, f"v{lo + i}", day) for i in range(5)],
        "id int, v string, day string",
    )
    versioned_write(mk(0, "d1"), t, partition_by=["day"])
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("versioned_changes")
            .option("path", t)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema("id int, v string, day string").parquet(
            out
        ).collect()

    got = drain()
    assert sorted(r.id for r in got) == list(range(5))
    assert {r.day for r in got} == {"d1"}  # partition value re-attached
    # appends stream exactly once, across separate drains
    versioned_write(mk(10, "d2"), t)
    versioned_write(mk(20, "d1"), t)
    got = drain()
    assert sorted(r.id for r in got) == sorted(
        list(range(5)) + list(range(10, 15)) + list(range(20, 25))
    )
    assert {r.day for r in got if r.id >= 10 and r.id < 15} == {"d2"}
    # an overwrite is not representable in an append-only stream
    versioned_write(mk(90, "d1"), t, mode="overwrite")
    rd = VersionedChangesStreamReader({"path": t})
    with pytest.raises(ValueError, match="append-only stream"):
        rd.partitions({"version": 3}, {"version": 4})
    # ... unless the caller opts into skipping change commits; later
    # appends keep flowing
    versioned_write(mk(100, "d2"), t)
    rd2 = VersionedChangesStreamReader(
        {"path": t, "skipChangeCommits": "true"}
    )
    parts = rd2.partitions({"version": 3}, {"version": 5})
    # read() emits Arrow RecordBatches on the fast path
    rows = [
        r for p in parts for b in rd2.read(p) for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows) == list(range(100, 105))
    assert {r["day"] for r in rows} == {"d2"}


def test_versioned_changes_metadata_only_commit_is_noop(spark, tmp_path):
    """A metadata-only commit (add/drop CHECK constraint) changes what
    future writes must satisfy, not what rows exist — the stream must
    pass over it without raising and without skipChangeCommits, and
    keep delivering later appends exactly once."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        add_check_constraint,
        drop_check_constraint,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    versioned_write(mk(0), t)
    add_check_constraint(spark, t, "id_nonneg", "id >= 0")  # v2: metadata only
    versioned_write(mk(10), t)  # v3
    drop_check_constraint(t, "id_nonneg")  # v4: metadata only
    versioned_write(mk(20), t)  # v5
    rd = VersionedChangesStreamReader({"path": t})
    parts = rd.partitions({"version": 1}, {"version": 5})
    rows = [r for p in parts for b in rd.read(p) for r in b.to_pylist()]
    assert sorted(r["id"] for r in rows) == [10, 11, 12, 20, 21, 22]


def test_versioned_changes_offset_behind_retention_raises(spark, tmp_path):
    """After vacuum trims manifests past a lagging stream's offset, the
    missed changes are unreconstructable: the source must RAISE (Delta's
    offset-behind-retention), never silently re-emit the surviving
    snapshot as duplicates.  Offsets at or after the earliest surviving
    manifest keep streaming."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import vacuum, versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    for lo in (0, 10, 20, 30):
        versioned_write(mk(lo), t)
    vacuum(t, keep_last=2)  # manifests v1, v2 gone; vs = [3, 4]
    rd = VersionedChangesStreamReader({"path": t})
    # a checkpointed offset from before the horizon (v1, v2 diffs lost)
    for behind in (0, 1, 2):
        with pytest.raises(ValueError, match="retention|predates"):
            rd.partitions({"version": behind}, {"version": 4})
    # at/after the earliest survivor: exactly the v4 rows, no duplicates
    parts = rd.partitions({"version": 3}, {"version": 4})
    rows = [r for p in parts for b in rd.read(p) for r in b.to_pylist()]
    assert sorted(r["id"] for r in rows) == [30, 31, 32]


def test_versioned_changes_fresh_stream_bootstraps_vacuumed_table(
    spark, tmp_path
):
    """A BRAND-NEW stream (no checkpoint: the engine starts from
    ``initialOffset``) on an ever-vacuumed table has delivered nothing,
    so there is no duplication hazard — it must bootstrap by emitting
    the earliest surviving snapshot as the initial load (Delta's
    initial-snapshot behavior), then follow later appends.  The raise
    stays for genuinely checkpointed plain offsets (previous test)."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import vacuum, versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    for lo in (0, 10, 20, 30):
        versioned_write(mk(lo), t)
    vacuum(t, keep_last=2)  # vs = [3, 4]; v3 holds rows 0..22
    rd = VersionedChangesStreamReader({"path": t})
    off0 = rd.initialOffset()
    assert off0 == {"version": 2, "snapshot_start": True}
    parts = rd.partitions(off0, rd.latestOffset())
    rows = [r for p in parts for b in rd.read(p) for r in b.to_pylist()]
    # full surviving snapshot (v3: 0..22) + the v4 append (30..32),
    # each exactly once
    assert sorted(r["id"] for r in rows) == [
        0, 1, 2, 10, 11, 12, 20, 21, 22, 30, 31, 32
    ]
    # replaying batch 0 from the checkpointed marked offset is identical
    rows2 = [
        r
        for p in rd.partitions(off0, {"version": 4})
        for b in rd.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows2) == sorted(r["id"] for r in rows)
    # explicit startingVersion='earliest' requests the same bootstrap
    rd_e = VersionedChangesStreamReader(
        {"path": t, "startingVersion": "earliest"}
    )
    assert rd_e.initialOffset() == {"version": 2, "snapshot_start": True}
    # a marked offset the horizon moved past can no longer reproduce
    # batch 0 — degrades to the behind-retention error
    versioned_write(mk(40), t)  # v5
    vacuum(t, keep_last=2)  # vs = [4, 5]
    with pytest.raises(ValueError, match="retention|predates"):
        rd.partitions(
            {"version": 2, "snapshot_start": True}, {"version": 5}
        )
    # a fresh reader created NOW bootstraps from the new horizon
    rd2 = VersionedChangesStreamReader({"path": t})
    assert rd2.initialOffset() == {"version": 3, "snapshot_start": True}
    rows3 = [
        r
        for p in rd2.partitions(rd2.initialOffset(), {"version": 5})
        for b in rd2.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows3) == [
        0, 1, 2, 10, 11, 12, 20, 21, 22, 30, 31, 32, 40, 41, 42
    ]
    # non-vacuumed table: fresh start stays the plain {"version": 0}
    t2 = str(tmp_path / "tbl2")
    versioned_write(mk(0), t2)
    assert VersionedChangesStreamReader({"path": t2}).initialOffset() == {
        "version": 0
    }


def test_stream_drift_converges_and_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Streaming drift monitor: the per-batch bin-count fold must (a)
    converge to the one-pass batch histogram — so drift_report over the
    merged stream equals the report over the full current period in one
    batch — and (b) be a no-op under a foreachBatch replay (counts ADD;
    partition overwrite is the exactly-once design).  Numeric PSI path
    (reference decile edges) and categorical JSD path both covered."""
    import math
    import uuid

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        drift_bin_expr,
        drift_report,
        drift_stream_merged,
        fold_drift_batch,
        stream_drift_sink,
    )

    od = load_table(spark, sf_dir, "orders").select("o_totalprice")
    ref = od.filter(F.col("o_totalprice") <= 100000.0)
    cur = od.filter(F.col("o_totalprice") > 100000.0)
    edges = list(
        ref.agg(
            *[F.percentile("o_totalprice", i / 10.0) for i in range(1, 10)]
        ).collect()[0]
    )
    src = tmp_path / "drift_src"
    cur.filter(F.pmod(F.xxhash64(F.col("o_totalprice").cast("string")), F.lit(3)) == 0).coalesce(1).write.parquet(str(src / "a"))
    cur.filter(F.pmod(F.xxhash64(F.col("o_totalprice").cast("string")), F.lit(3)) == 1).coalesce(1).write.parquet(str(src / "b"))
    cur.filter(F.pmod(F.xxhash64(F.col("o_totalprice").cast("string")), F.lit(3)) == 2).coalesce(1).write.parquet(str(src / "c"))
    tbl = f"drift_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("o_totalprice double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_drift_sink(
        stream, tbl, str(tmp_path / "ckpt"), "o_totalprice", edges=edges
    )
    q.awaitTermination()

    ref_hist = ref.select(
        drift_bin_expr("o_totalprice", edges).alias("bin")
    ).groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    cur_hist_batch = cur.select(
        drift_bin_expr("o_totalprice", edges).alias("bin")
    ).groupBy("bin").agg(F.count(F.lit(1)).alias("n"))

    got = sorted(
        map(tuple, drift_report(drift_stream_merged(spark, tbl), ref_hist).collect())
    )
    want = sorted(map(tuple, drift_report(cur_hist_batch, ref_hist).collect()))
    assert got == want
    # the shifted-right current period must show real drift, finite terms
    psi = sum(r[3] for r in got)
    jsd = sum(r[4] for r in got)
    assert psi > 0.1 and math.isfinite(psi)
    assert 0.0 < jsd <= math.log(2.0) + 1e-9

    # replay the last folded batch: partition overwrite must be a no-op
    last_batch = spark.table(tbl).agg(F.max("batch_id")).collect()[0][0]
    part_c = spark.read.parquet(str(src / "c"))
    fold_drift_batch(spark, part_c, last_batch, tbl, "o_totalprice", edges)
    again = sorted(
        map(tuple, drift_report(drift_stream_merged(spark, tbl), ref_hist).collect())
    )
    assert again == got
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # categorical path: bins are the values themselves; disjoint bins
    # exercise the q=0 (p*ln2) and p=0 (0) JSD branches exactly
    a = spark.createDataFrame([("x",)] * 3 + [("y",)] * 1, "v string")
    b = spark.createDataFrame([("x",)] * 1 + [("z",)] * 3, "v string")
    rep = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["jsd_term"])
        for r in drift_report(
            b.groupBy(F.col("v").alias("bin")).agg(F.count(F.lit(1)).alias("n")),
            a.groupBy(F.col("v").alias("bin")).agg(F.count(F.lit(1)).alias("n")),
        ).collect()
    }
    assert set(rep) == {"x", "y", "z"}
    assert rep["y"][1] == 0 and rep["z"][0] == 0
    total_jsd = sum(v[2] for v in rep.values())
    assert 0.0 < total_jsd <= math.log(2.0) + 1e-9


def test_versioned_changes_stream_over_widened_and_evolved_table(
    spark, tmp_path
):
    """A stream started AFTER a type widening and a partition-spec
    evolution drains every commit with the wide committed schema:
    narrow pre-widening files upcast exactly through the Arrow cast,
    and files from both partition layouts reconstruct their values
    from wherever each file put them (data vs path)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream

    versioned_stream.register(spark)
    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, 1.5, "d1"), (2, 2.5, "d1")], "id int, x float, day string"
        ),
        t,
    )
    big = 10_000_000_000
    versioned_write(
        spark.createDataFrame(
            [(big, 3.5, "d2")], "id long, x double, day string"
        ),
        t,
        allow_type_widening=True,
    )
    versioned_write(
        spark.createDataFrame(
            [(4, 4.5, "d3")], "id long, x double, day string"
        ),
        t,
        partition_by=["day"],
        evolve_partitioning=True,
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        map(
            tuple,
            spark.read.schema("id long, x double, day string")
            .parquet(out)
            .collect(),
        )
    )
    assert got == [
        (1, 1.5, "d1"),
        (2, 2.5, "d1"),
        (4, 4.5, "d3"),
        (big, 3.5, "d2"),
    ]


def test_versioned_changes_stream_across_incremental_compact(spark, tmp_path):
    """An incremental (scoped) compact is a rewrite commit like any
    other: the stream refuses it without skipChangeCommits and passes
    over it with the flag, still delivering later appends exactly
    once."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import compact, versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n=3: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "k int, v string"
    ).coalesce(1)
    versioned_write(mk(0), t)       # v1
    versioned_write(mk(100), t)     # v2
    compact(spark, t, target_files=1, prune_col="k", lo=90, hi=200)  # v3
    versioned_write(mk(200), t)     # v4
    rd = VersionedChangesStreamReader({"path": t})
    with pytest.raises(ValueError, match="skipChangeCommits"):
        rd.partitions({"version": 2}, {"version": 4})
    rd2 = VersionedChangesStreamReader(
        {"path": t, "skipChangeCommits": "true"}
    )
    parts = rd2.partitions({"version": 2}, {"version": 4})
    rows = [r for p in parts for b in rd2.read(p) for r in b.to_pylist()]
    assert sorted(r["k"] for r in rows) == [200, 201, 202]


def test_versioned_changes_bootstrap_applies_deletion_vectors(
    spark, tmp_path
):
    """The fresh-stream bootstrap serves CURRENT table state (Delta
    initial-snapshot semantics): when the earliest surviving manifest
    carries deletion vectors, the snapshot batch must filter the DV'd
    positions — the raw data files still hold the deleted rows, and
    emitting them would resurrect what a batch read correctly hides."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        vacuum,
        versioned_delete,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    for lo in (0, 10, 20):
        versioned_write(mk(lo), t)  # v1..v3: 9 rows
    versioned_delete(spark, t, "id = 11", strategy="dv")  # v4: DV commit
    versioned_write(mk(30), t)  # v5
    vacuum(t, keep_last=2)  # vs = [4, 5]; v4 carries the DV
    assert read_version(spark, t).count() == 11
    rd = VersionedChangesStreamReader({"path": t})
    off0 = rd.initialOffset()
    assert off0 == {"version": 3, "snapshot_start": True}
    parts = rd.partitions(off0, rd.latestOffset())
    rows = [r for p in parts for b in rd.read(p) for r in b.to_pylist()]
    got = sorted(r["id"] for r in rows)
    # snapshot (DV applied: no 11) + the v5 append, each exactly once
    assert got == [0, 1, 2, 10, 12, 20, 21, 22, 30, 31, 32]
    # replaying batch 0 from the checkpointed marked offset is identical
    rows2 = [
        r
        for p in rd.partitions(off0, {"version": 5})
        for b in rd.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows2) == got


def test_versioned_changes_max_files_per_trigger_caps_batches(
    spark, tmp_path
):
    """maxFilesPerTrigger: latestOffset returns sub-commit offsets
    ({"version": V, "file_index": K}) so a multi-file commit — and the
    backlog across commits — drains as bounded micro-batches, each
    admitting at most the cap, jointly exactly-once."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 9).repartitionByRange(3, "id"), t)  # v1: 3 files
    versioned_write(mk(100, 6).repartitionByRange(2, "id"), t)  # v2: 2 files
    rd = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}
    )
    cur = rd.initialOffset()
    assert cur == {"version": 0}
    seen = []
    offsets = []
    for _ in range(20):
        nxt = rd.latestOffset()
        if nxt == cur:
            break
        parts = rd.partitions(cur, nxt)
        assert len(parts) <= 1, "1-file cap must bound every batch"
        seen += [
            r for p in parts for b in rd.read(p) for r in b.to_pylist()
        ]
        offsets.append(nxt)
        cur = nxt
    assert cur == {"version": 2}, "the walk must converge on the head"
    assert len(offsets) == 5, "5 files -> 5 single-file batches"
    assert [o.get("file_index") for o in offsets] == [1, 2, None, 1, None]
    assert sorted(r["id"] for r in seen) == sorted(
        list(range(9)) + list(range(100, 106))
    ), "capped batches must jointly deliver exactly-once"
    # caught up: latestOffset is a fixed point
    assert rd.latestOffset() == {"version": 2}
    # a new append resumes capped from the cursor
    versioned_write(mk(200, 1).repartition(1), t)
    nxt = rd.latestOffset()
    assert nxt == {"version": 3}
    rows = [
        r
        for p in rd.partitions(cur, nxt)
        for b in rd.read(p)
        for r in b.to_pylist()
    ]
    assert [r["id"] for r in rows] == [200]


def test_versioned_changes_rate_limit_replays_mid_commit(spark, tmp_path):
    """A restart while a capped batch is in flight replays the exact
    (start, end] file slice from the checkpointed offsets (the engine
    calls partitions with both), then keeps capping from there — no
    row lost, none duplicated, across a reader instance boundary."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(12)], "id int, v string"
    )
    versioned_write(df.repartitionByRange(4, "id"), t)  # v1: 4 files
    rd = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "2"}
    )
    cur = rd.initialOffset()
    first = rd.latestOffset()
    assert first == {"version": 1, "file_index": 2}
    batch1 = sorted(
        r["id"]
        for p in rd.partitions(cur, first)
        for b in rd.read(p)
        for r in b.to_pylist()
    )
    # "crash" mid-stream: a NEW reader replays the in-flight batch from
    # the checkpointed pair — identical rows
    rd2 = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "2"}
    )
    replay = sorted(
        r["id"]
        for p in rd2.partitions({"version": 0}, first)
        for b in rd2.read(p)
        for r in b.to_pylist()
    )
    assert replay == batch1
    # the replay taught the new reader its position: capping continues
    nxt = rd2.latestOffset()
    assert nxt == {"version": 1}
    batch2 = sorted(
        r["id"]
        for p in rd2.partitions(first, nxt)
        for b in rd2.read(p)
        for r in b.to_pylist()
    )
    assert sorted(batch1 + batch2) == list(range(12))


def test_versioned_changes_byte_cap_and_capped_dv_bootstrap(
    spark, tmp_path
):
    """maxBytesPerTrigger is a soft max admitting at least one file per
    batch; combined with the vacuumed-table bootstrap it must split
    the initial snapshot into bounded batches that still apply the
    surviving deletion vectors — jointly equal to the batch read."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        vacuum,
        versioned_delete,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(4)], "id int, v string"
    ).repartition(1)
    for lo in (0, 10, 20):
        versioned_write(mk(lo), t)  # v1..v3, one file each
    versioned_delete(spark, t, "id IN (1, 21)", strategy="dv")  # v4
    versioned_write(mk(30), t)  # v5
    vacuum(t, keep_last=2)  # vs=[4,5]; v4 carries DVs on 2 of 3 files
    want = sorted(r["id"] for r in read_version(spark, t).collect())
    rd = VersionedChangesStreamReader(
        {"path": t, "maxBytesPerTrigger": "1"}  # soft max: 1 file/batch
    )
    cur = rd.initialOffset()
    assert cur == {"version": 3, "snapshot_start": True}
    seen = []
    batches = 0
    for _ in range(20):
        nxt = rd.latestOffset()
        if nxt == cur:
            break
        parts = rd.partitions(cur, nxt)
        assert len(parts) == 1, "1-byte soft cap admits exactly one file"
        seen += [
            r for p in parts for b in rd.read(p) for r in b.to_pylist()
        ]
        batches += 1
        cur = nxt
    assert batches == 4  # 3 snapshot files + the v5 append file
    assert sorted(r["id"] for r in seen) == want  # DVs applied, no dups
    # a generous byte cap drains everything in one batch
    rd2 = VersionedChangesStreamReader(
        {"path": t, "maxBytesPerTrigger": str(1 << 30)}
    )
    c0 = rd2.initialOffset()
    n1 = rd2.latestOffset()
    assert n1 == {"version": 5}
    rows = [
        r
        for p in rd2.partitions(c0, n1)
        for b in rd2.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows) == want


def test_versioned_changes_partial_offset_diff_base_vacuumed_raises(
    spark, tmp_path
):
    """A capped stream's partial offset {"version": V, "file_index": K}
    indexes V's new-file list AS DIFFED AGAINST MANIFEST V-1.  If
    vacuum drops V-1 while V survives (V == earliest survivor), a
    restart must RAISE the behind-retention error — diffing V against
    an empty prev would slice V's FULL file list and re-emit
    already-delivered files, breaking exactly-once (r12 ADVICE)."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import vacuum, versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 6).repartitionByRange(2, "id"), t)  # v1: 2 files
    versioned_write(mk(100, 9).repartitionByRange(3, "id"), t)  # v2: 3 files
    versioned_write(mk(200, 2).repartition(1), t)  # v3: 1 file
    rd = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}
    )
    cur = rd.initialOffset()
    delivered = []
    # drain v1 fully (2 batches) and ONE file into v2 (partial offset)
    for _ in range(3):
        nxt = rd.latestOffset()
        delivered += [
            r
            for p in rd.partitions(cur, nxt)
            for b in rd.read(p)
            for r in b.to_pylist()
        ]
        cur = nxt
    assert cur == {"version": 2, "file_index": 1}
    # vacuum keeps v2 and v3 but drops v1 — the partial offset's diff
    # base is gone even though its own version survives
    vacuum(t, keep_last=2)
    rd2 = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}
    )
    with pytest.raises(ValueError, match="diff base|vacuumed"):
        rd2.partitions(cur, {"version": 3})
    # the capped walk must not fabricate batches from that cursor
    # either: latestOffset returns head and leaves the raise to
    # partitions on the engine's next plan
    rd2._cursor = dict(cur)
    assert rd2.latestOffset() == {"version": 3}
    with pytest.raises(ValueError, match="diff base|vacuumed"):
        rd2.partitions(cur, {"version": 3})


def test_versioned_changes_partial_snapshot_offset_survives_restart(
    spark, tmp_path
):
    """The one SANCTIONED empty-prev slice: a capped bootstrap of an
    ever-vacuumed table marks its partial offsets ``snapshot_start``,
    because there file_index slices the full surviving file list (the
    snapshot) and replays identically.  A restart mid-snapshot must
    resume without raising and deliver exactly-once."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import vacuum, versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 4).repartition(1), t)  # v1
    versioned_write(mk(100, 9).repartitionByRange(3, "id"), t)  # v2
    vacuum(t, keep_last=1)  # only v2 survives; its 4 files are the snapshot
    rd = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "2"}
    )
    cur = rd.initialOffset()
    assert cur == {"version": 1, "snapshot_start": True}
    first = rd.latestOffset()
    assert first == {
        "version": 2,
        "file_index": 2,
        "snapshot_start": True,
    }, "partial marks inside the bootstrap snapshot must carry the tag"
    batch1 = sorted(
        r["id"]
        for p in rd.partitions(cur, first)
        for b in rd.read(p)
        for r in b.to_pylist()
    )
    # crash + restart mid-snapshot: replay the in-flight pair, then
    # continue capping from the tagged partial offset — no raise
    rd2 = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "2"}
    )
    replay = sorted(
        r["id"]
        for p in rd2.partitions(cur, first)
        for b in rd2.read(p)
        for r in b.to_pylist()
    )
    assert replay == batch1
    nxt = rd2.latestOffset()
    assert nxt == {"version": 2}
    batch2 = sorted(
        r["id"]
        for p in rd2.partitions(first, nxt)
        for b in rd2.read(p)
        for r in b.to_pylist()
    )
    assert sorted(batch1 + batch2) == sorted(
        list(range(4)) + list(range(100, 109))
    ), "snapshot under a cap must jointly deliver exactly-once"


def test_versioned_changes_rate_limit_end_to_end(spark, tmp_path):
    """Engine-level rate limiting: a running query with
    maxFilesPerTrigger=1 drains a multi-file backlog as a sequence of
    single-file micro-batches (offsets round-trip the JVM checkpoint
    as plain JSON), converging to exactly the table's rows."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream

    versioned_stream.register(spark)
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(12)], "id int, v string"
    )
    versioned_write(df.repartitionByRange(4, "id"), t)  # 4 files
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(data_batches) == 4, (
        "4 files under a 1-file cap must drain as 4 micro-batches"
    )
    assert all(p["numInputRows"] == 3 for p in data_batches)
    got = spark.read.schema("id int, v string").parquet(out)
    assert sorted(r["id"] for r in got.collect()) == list(range(12))


def test_versioned_changes_rate_limit_clean_restart_no_duplicates(
    spark, tmp_path
):
    """Clean-boundary restart of a capped stream: the fresh reader's
    cursor seed trails the checkpoint, so its first capped end
    REGRESSES behind the engine's committed start — that batch must
    plan NOTHING (those rows were delivered before the restart), and
    the follow-up batch starting at the regressed offset must resume
    from the true committed position.  Net effect: one empty trigger,
    zero duplicate rows, zero lost rows."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(12)], "id int, v string"
    )
    versioned_write(df.repartitionByRange(4, "id"), t)  # v1: 4 files
    versioned_write(
        spark.createDataFrame([(100, "x")], "id int, v string")
        .repartition(1),
        t,
    )  # v2: 1 file
    # pre-restart history: v1 fully delivered, committed at {"version":1}
    committed = {"version": 1}
    rd = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}
    )  # fresh instance: cursor seeded at {"version": 0}
    l1 = rd.latestOffset()
    assert l1 == {"version": 1, "file_index": 1}  # regressed behind C
    parts = rd.partitions(committed, l1)
    assert parts == [], "regressed batch must plan nothing"
    l2 = rd.latestOffset()
    assert l2 == {"version": 2}, "cursor snapped to the committed start"
    rows = [
        r
        for p in rd.partitions(l1, l2)  # engine start = regressed end
        for b in rd.read(p)
        for r in b.to_pylist()
    ]
    assert [r["id"] for r in rows] == [100], (
        "follow-up batch resumes at the committed position: v2 only"
    )


def test_versioned_changes_rename_mid_stream_keeps_old_name(
    spark, tmp_path
):
    """Schema-tracking pin (Delta's schemaTrackingLocation analog,
    documented in SCALING.md): a stream whose reader was built before
    a rename_column keeps emitting the OLD logical name — the rename
    is a metadata-only commit the stream passes over, and files carry
    physical names the old logical still resolves to.  A reader built
    AFTER the rename emits the new name.  Data is identical either
    way."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        rename_column,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    ).repartition(1)
    versioned_write(mk(0), t)  # v1
    rd_old = VersionedChangesStreamReader({"path": t})  # fields fixed now
    rename_column(t, "v", "w")  # v2: metadata-only
    # post-rename appends speak the NEW logical name; files still
    # write the unchanged physical name through the column mapping
    versioned_write(
        spark.createDataFrame(
            [(10 + i, f"v{10 + i}") for i in range(3)],
            "id int, w string",
        ).repartition(1),
        t,
    )  # v3
    rows = [
        r
        for p in rd_old.partitions({"version": 0}, {"version": 3})
        for b in rd_old.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 10, 11, 12]
    assert all("v" in r and "w" not in r for r in rows), (
        "pre-rename reader keeps the old logical name until restart"
    )
    # a restarted (fresh) reader emits the new logical name, same data
    rd_new = VersionedChangesStreamReader({"path": t})
    rows2 = [
        r
        for p in rd_new.partitions({"version": 0}, {"version": 3})
        for b in rd_new.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows2) == [0, 1, 2, 10, 11, 12]
    assert all("w" in r and "v" not in r for r in rows2)
    assert sorted(r["w"] for r in rows2) == sorted(r["v"] for r in rows)


def test_versioned_changes_schema_tracking_restart_contract(
    spark, tmp_path
):
    """schemaTrackingLocation (the implementation half of the
    SCALING.md pin): the reader persists the field-list vintage it
    emits under; a RESTART after a mid-stream rename adopts the NEW
    committed schema (new logical name, no NULL columns — physical
    names are stable so every live file resolves), rewrites the
    tracked copy, and surfaces a one-time schema-changed marker
    recording old -> new."""
    import json
    import warnings
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        rename_column,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    track = str(tmp_path / "track")
    opts = {"path": t, "schemaTrackingLocation": track}
    versioned_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(3)], "id int, v string"
        ).repartition(1),
        t,
    )  # v1
    rd1 = VersionedChangesStreamReader(dict(opts))
    tracked = json.loads((Path(track) / "schema.json").read_text())
    assert [f["name"] for f in tracked["fields"]] == ["id", "v"]
    assert not list(Path(track).glob("schema_change_*")), (
        "first run records the vintage without a change marker"
    )
    rows1 = [
        r
        for p in rd1.partitions({"version": 0}, {"version": 1})
        for b in rd1.read(p)
        for r in b.to_pylist()
    ]
    assert all("v" in r for r in rows1)
    # mid-stream rename + post-rename append, then "crash" + restart
    rename_column(t, "v", "w")  # v2: metadata-only
    versioned_write(
        spark.createDataFrame(
            [(10 + i, f"v{10 + i}") for i in range(3)], "id int, w string"
        ).repartition(1),
        t,
    )  # v3
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rd2 = VersionedChangesStreamReader(dict(opts))
    assert any("schema" in str(w.message) for w in caught), (
        "the restart must surface the one-time schema-changed warning"
    )
    markers = list(Path(track).glob("schema_change_*"))
    assert len(markers) == 1
    rec = json.loads(markers[0].read_text())
    assert [f["name"] for f in rec["old"]["fields"]] == ["id", "v"]
    assert [f["name"] for f in rec["new"]["fields"]] == ["id", "w"]
    tracked2 = json.loads((Path(track) / "schema.json").read_text())
    assert [f["name"] for f in tracked2["fields"]] == ["id", "w"]
    # the restarted stream emits the NEW name — including for the
    # pre-rename backlog files — with no NULL columns
    rows2 = [
        r
        for p in rd2.partitions({"version": 0}, {"version": 3})
        for b in rd2.read(p)
        for r in b.to_pylist()
    ]
    assert sorted(r["id"] for r in rows2) == [0, 1, 2, 10, 11, 12]
    assert all("w" in r and "v" not in r for r in rows2)
    assert all(r["w"] is not None for r in rows2)
    # a further unchanged restart: no new marker, no warning
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        VersionedChangesStreamReader(dict(opts))
    assert not any("schema" in str(w.message) for w in caught2)
    assert len(list(Path(track).glob("schema_change_*"))) == 1


def test_versioned_changes_available_now_with_cap_drains_per_run(
    spark, tmp_path
):
    """Pin the Trigger.AvailableNow x rate-limit interaction: the
    engine snapshots ONE end offset per availableNow run, so a capped
    stream drains exactly one capped batch per run and successive runs
    continue from the checkpoint — jointly exactly-once (re-run to
    drain; a processingTime trigger drains the whole backlog in one
    query, tested elsewhere)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream

    versioned_stream.register(spark)
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(9)], "id int, v string"
    )
    versioned_write(df.repartitionByRange(3, "id"), t)  # 3 files
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain_once():
        q = (
            spark.readStream.format("versioned_changes")
            .option("path", t)
            .option("maxFilesPerTrigger", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.schema("id int, v string").parquet(out)
        return sorted(r["id"] for r in got.collect())

    assert len(drain_once()) == 3  # one capped batch per run
    assert len(drain_once()) == 6  # continues from the checkpoint
    assert drain_once() == list(range(9))  # jointly exactly-once


def test_drain_versioned_changes_full_backlog_under_cap(spark, tmp_path):
    """Delta's trigger(availableNow=True)-under-admission-control
    contract as one call: a 6-file backlog under a 1-file cap drains as
    6 slices (the cap splits both commits) and lands in the sink
    exactly once, without starting a streaming query or writing engine
    offsets; a follow-up commit drains incrementally through the same
    checkpoint."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        drain_versioned_changes,
    )

    t = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 12).repartitionByRange(4, "id"), t)  # 4 files
    versioned_write(mk(100, 6).repartitionByRange(2, "id"), t)  # 2 files
    runs = drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    )
    assert runs == 6, f"6 files under a 1-file cap -> 6 data runs, got {runs}"
    assert spark.streams.active == []
    assert not (tmp_path / "ckpt" / "offsets").exists()
    got = spark.read.schema("id int, v string").parquet(out)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        list(range(12)) + list(range(100, 106))
    ), "the drained sink must equal the table exactly once"
    # incremental: a new commit drains through the SAME checkpoint
    versioned_write(mk(200, 2).repartition(1), t)
    runs2 = drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    )
    assert runs2 == 1
    got2 = spark.read.schema("id int, v string").parquet(out)
    assert sorted(r["id"] for r in got2.collect()) == sorted(
        list(range(12)) + list(range(100, 106)) + [200, 201]
    )
    # caught up: a further drain is a clean zero-run no-op
    assert drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    ) == 0


def test_cdf_partial_offset_survives_vacuumed_diff_base(spark, tmp_path):
    """A capped readChangeFeed stream's partial offset inside a CDF
    commit indexes that commit's OWN cdf_files list (self-contained in
    its manifest — no diff base), so vacuum dropping V-1 must NOT
    raise the behind-retention error for it: the resume delivers the
    remaining change rows exactly once.  (Data-file slices still
    require their diff base — the r12-ADVICE guard is unchanged for
    them, and the earliest survivor stays excluded because it replans
    as a bootstrap snapshot.)"""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_tag,
        enable_change_data_feed,
        vacuum,
        versioned_delete,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _read_manifest as _rm
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id int, v string"
        ).repartitionByRange(2, "id"),
        t,
    )  # v1: 2 files
    create_tag(t, "anchor", 1)  # keeps v1 through the vacuum
    enable_change_data_feed(t)  # v2 (metadata-only for the stream)
    versioned_delete(spark, t, "id % 2 = 0", strategy="dv")  # v3: CDF
    m3 = _rm(t, 3)
    assert len(m3["cdf_files"]) >= 2, (
        "test needs a multi-part change commit to slice"
    )
    opts = {"path": t, "readChangeFeed": "true", "maxFilesPerTrigger": "1"}
    rd = VersionedChangesStreamReader(dict(opts))
    cur = rd.initialOffset()
    seen = []
    # drain until the cursor sits PARTIALLY inside the cdf commit
    while cur != {"version": 3, "file_index": 1}:
        nxt = rd.latestOffset()
        assert nxt != cur, "stream stalled before reaching the slice"
        seen += [
            r
            for p in rd.partitions(cur, nxt)
            for b in rd.read(p)
            for r in b.to_pylist()
        ]
        cur = nxt
    # vacuum drops v2 (v1 survives by tag, v3 is the head): the cdf
    # slice's V-1 diff base is gone, but its list is self-contained
    vacuum(t, keep_last=1)
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versions as _vs

    assert _vs(t) == [1, 3]
    rd2 = VersionedChangesStreamReader(dict(opts))
    rest = [
        r
        for p in rd2.partitions(cur, {"version": 3})
        for b in rd2.read(p)
        for r in b.to_pylist()
    ]
    rows = seen + rest
    ins = sorted(
        r["id"] for r in rows if r["_change_type"] == "insert"
    )
    dels = sorted(
        r["id"] for r in rows if r["_change_type"] == "delete"
    )
    assert ins == list(range(8)), "bootstrap inserts exactly once"
    assert dels == [0, 2, 4, 6], "every change row exactly once, no dup"


def test_replicate_versioned_changes_end_to_end(spark, tmp_path):
    """CDC replication composed end to end: the change feed over the
    source applies every capped slice to a SECOND versioned table via
    versioned_apply_changes — through restarts (each call resumes from
    the cursor), a bounded backfill phase, and a source vacuum that
    trims the delivered prefix — and the target's final state equals
    the source's head snapshot exactly."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_version,
        vacuum,
        versioned_delete,
        versioned_upsert,
        versioned_write,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        replicate_versioned_changes,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(20)]).repartitionByRange(4, "id"),
        src,
    )  # v1: 4 files — under a 2-file cap the bootstrap takes 2 runs
    enable_change_data_feed(src)  # v2
    versioned_upsert(
        mk([(i, f"u{i}") for i in range(0, 20, 3)] + [(30, "i30")]),
        src,
        ["id"],
    )  # v3: updates %3 + insert 30
    versioned_delete(spark, src, "id % 5 = 0", strategy="dv")  # v4
    versioned_write(mk([(41, "a41"), (42, "a42")]).coalesce(1), src)  # v5

    state = lambda df: sorted((r["id"], r["v"]) for r in df.collect())
    # phase 1: bounded backfill through v3, capped (forces >= 2 slices)
    runs1 = replicate_versioned_changes(
        spark, src, dst, ckpt, ["id"],
        max_files_per_trigger=2, ending_version=3,
    )
    assert runs1 >= 2, "the cap must split the backfill into several runs"
    assert state(read_version(spark, dst)) == state(
        read_version(spark, src, 3)
    ), "the bounded phase must reproduce the source AS OF the bound"
    # the delivered prefix may be vacuumed away mid-replication
    vacuum(src, keep_last=3)
    assert versions(src) == [3, 4, 5]
    # phase 2: same checkpoint, unbounded — catches up to the head
    replicate_versioned_changes(
        spark, src, dst, ckpt, ["id"], max_files_per_trigger=2
    )
    assert state(read_version(spark, dst)) == state(
        read_version(spark, src)
    ), "the replica must equal the source head after the drain"
    # the delete really replicated as a delete, not a missing update
    assert all(i % 5 != 0 for i, _ in state(read_version(spark, dst)))
    # re-running against a caught-up feed is a no-op (idempotent)
    dvs = versions(dst)
    assert (
        replicate_versioned_changes(
            spark, src, dst, ckpt, ["id"], max_files_per_trigger=2
        )
        == 0
    )
    assert versions(dst) == dvs, "a caught-up re-run must commit nothing"


def test_replicate_follows_source_schema_evolution(spark, tmp_path):
    """Replication across a mid-stream source schema evolution: after
    the source gains a column, the next replication run's fresh reader
    adopts the widened schema and allow_schema_evolution=True lets the
    apply add it to the replica (pre-evolution rows read NULL).  The
    default refuses the widened batch instead of silently dropping the
    column."""
    import pytest as _pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_version,
        versioned_upsert,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        replicate_versioned_changes,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    mk2 = lambda rows: spark.createDataFrame(rows, "id int, v string")
    mk3 = lambda rows: spark.createDataFrame(
        rows, "id int, v string, w double"
    )
    versioned_write(mk2([(i, f"v{i}") for i in range(6)]).coalesce(1), src)
    enable_change_data_feed(src)  # v2
    replicate_versioned_changes(spark, src, dst, ckpt, ["id"])
    assert read_version(spark, dst).columns == ["id", "v"]
    # the source evolves: an append adds column w, an upsert uses it
    versioned_write(mk3([(10, "a10", 1.5)]).coalesce(1), src)  # v3
    versioned_upsert(mk3([(1, "u1", 2.5), (11, "i11", 3.5)]), src, ["id"])
    # default: the widened batch must refuse, not drop the column
    with _pytest.raises(Exception, match="[Ss]chema|column"):
        replicate_versioned_changes(spark, src, dst, ckpt, ["id"])
    # with evolution allowed the replica follows
    replicate_versioned_changes(
        spark, src, dst, ckpt, ["id"], allow_schema_evolution=True
    )
    d = read_version(spark, dst)
    assert set(d.columns) == {"id", "v", "w"}
    got = {r["id"]: (r["v"], r["w"]) for r in d.collect()}
    exp = {i: (f"v{i}", None) for i in range(6)}
    exp[1] = ("u1", 2.5)
    exp[10] = ("a10", 1.5)
    exp[11] = ("i11", 3.5)
    assert got == exp
    s = {
        r["id"]: (r["v"], r["w"])
        for r in read_version(spark, src).collect()
    }
    assert got == s, "replica must equal the evolved source head"


def test_versioned_stream_by_registered_name(spark, tmp_path):
    """Name-addressed streaming: option('table', 'db.tbl') +
    option('catalogRoot', registry_root) resolves through the
    VersionedCatalog — a stream can follow a registered table without
    knowing its path.  Refusals: table without catalogRoot,
    disagreeing path+table, unregistered names."""
    import pytest as _pytest

    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    root = tmp_path / "wh"
    vc = VersionedCatalog(root)
    p = vc.default_path("lake.ev")
    versioned_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id int, v string"
        ).coalesce(1),
        p,
    )
    vc.register("lake.ev", p)
    opts = {"table": "lake.ev", "catalogRoot": str(root)}
    r = VersionedChangesStreamReader(dict(opts))
    assert r.path == p
    assert r.latestOffset() == {"version": 1}
    with _pytest.raises(ValueError, match="catalogRoot"):
        VersionedChangesStreamReader({"table": "lake.ev"})
    with _pytest.raises(ValueError, match="disagree"):
        VersionedChangesStreamReader(
            {**opts, "path": str(tmp_path / "elsewhere")}
        )
    with _pytest.raises(KeyError, match="registered"):
        VersionedChangesStreamReader(
            {"table": "lake.nope", "catalogRoot": str(root)}
        )
    # end to end through the engine: drain the named stream to parquet
    versioned_stream.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_changes")
        .option("table", "lake.ev")
        .option("catalogRoot", str(root))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    got = sorted(
        (r["id"], r["v"])
        for r in spark.read.schema("id int, v string").parquet(out).collect()
    )
    assert got == [(1, "a"), (2, "b")]


def test_replicate_by_name(spark, tmp_path):
    """Name-addressed replication: with a VersionedCatalog, src/dst may
    be registered db.table names; an unregistered dst name lands at the
    registry's default path and registers once created — 'replicate
    lake.orders into lake.orders_replica' is one call."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_version,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        replicate_versioned_changes,
    )

    vc = VersionedCatalog(tmp_path / "wh")
    p = vc.default_path("lake.orders")
    versioned_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id int, v string"
        ).coalesce(1),
        p,
    )
    enable_change_data_feed(p)
    vc.register("lake.orders", p)
    replicate_versioned_changes(
        spark,
        "lake.orders",
        "lake.orders_replica",
        str(tmp_path / "ckpt"),
        ["id"],
        catalog=vc,
    )
    assert vc.exists("lake.orders_replica")
    got = sorted(
        (r["id"], r["v"])
        for r in vc.table(spark, "lake.orders_replica").collect()
    )
    assert got == [(1, "a"), (2, "b")]


def test_replicate_batch_engine_no_stream_startup(spark, tmp_path, monkeypatch):
    """A capped bounded backfill runs as read_change_feed slices
    through the cursor file — NO streaming query ever starts
    (monkeypatched to prove it), no Spark engine checkpoint is created,
    and the slice count, bounded-to-v3 state and cursor resume hold."""
    import json as jsonlib

    from pyspark.sql.streaming import readwriter as stream_rw

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_version,
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        replicate_versioned_changes,
    )

    def _no_start(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("replication must not start a streaming query")

    monkeypatch.setattr(stream_rw.DataStreamWriter, "start", _no_start)

    src, dst, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "ckpt")
    )
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(12)]).repartition(3), src
    )  # v1: 3 files
    enable_change_data_feed(src)  # v2
    versioned_upsert(mk([(0, "u0"), (20, "i20")]), src, ["id"])  # v3
    versioned_delete(spark, src, "id % 5 = 0", strategy="dv")  # v4

    runs = replicate_versioned_changes(
        spark, src, dst, ckpt, ["id"],
        max_files_per_trigger=2, ending_version=3,
    )
    assert runs >= 2, "the cap must split the backfill into slices"
    state = lambda df: sorted((r["id"], r["v"]) for r in df.collect())
    assert state(read_version(spark, dst)) == state(
        read_version(spark, src, 3)
    )
    # the cursor file (the stream reader's floor format), parked at the bound
    cur = jsonlib.loads(
        (tmp_path / "ckpt" / "_vc_cursor" / "cursor.json").read_text()
    )
    assert cur == {"version": 3}
    # no Spark streaming checkpoint state was ever created
    assert not (tmp_path / "ckpt" / "offsets").exists()
    assert not (tmp_path / "ckpt" / "commits").exists()
    # catch-up resumes from the cursor and converges on the head
    replicate_versioned_changes(spark, src, dst, ckpt, ["id"])
    assert state(read_version(spark, dst)) == state(read_version(spark, src))
    assert (
        replicate_versioned_changes(spark, src, dst, ckpt, ["id"]) == 0
    ), "a caught-up re-run must deliver nothing"


def test_replicate_database_sweep(spark, tmp_path):
    """replicate_database (r16): the reference's catalog-loop topology
    on the versioned plane — enumerate src_db in the registry, per-
    table CDC replication into dst_db by name with per-table error
    isolation, per-table cursors (re-invoking = restart = no-op when
    caught up), key auto-detect via the W6 finder, and per-table
    ending_versions bounds."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_version,
        versioned_upsert,
        versioned_write,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        replicate_database,
    )

    vc = VersionedCatalog(tmp_path / "wh")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    # lake.alpha: v1 write, v2 cdf, v3 upsert
    pa_ = vc.default_path("lake.alpha")
    versioned_write(mk([(i, f"a{i}") for i in range(6)]).coalesce(1), pa_)
    enable_change_data_feed(pa_)
    versioned_upsert(mk([(1, "u1"), (10, "i10")]), pa_, ["id"])
    vc.register("lake.alpha", pa_)
    # lake.beta: auto-detectable key ('id'), appends only
    pb = vc.default_path("lake.beta")
    versioned_write(mk([(7, "b7")]).coalesce(1), pb)
    enable_change_data_feed(pb)
    versioned_write(mk([(8, "b8")]).coalesce(1), pb)
    vc.register("lake.beta", pb)
    # lake.gamma: NO detectable key -> isolated per-table error
    pg = vc.default_path("lake.gamma")
    versioned_write(
        spark.createDataFrame([("x", 1.0)], "name string, val double")
        .coalesce(1),
        pg,
    )
    vc.register("lake.gamma", pg)

    ckpts = str(tmp_path / "ckpts")
    res = replicate_database(
        spark, vc, "lake", "mirror", ckpts,
        key_cols={"alpha": ["id"]},  # beta auto-detects, gamma fails
        ending_versions={"alpha": 2},  # alpha bounded to its snapshot
    )
    assert set(res) == {"alpha", "beta", "gamma"}
    assert "error" in res["gamma"] and "key" in res["gamma"]["error"]
    assert res["beta"]["final_rows"] == 2
    assert vc.exists("mirror.alpha") and vc.exists("mirror.beta")
    assert not vc.exists("mirror.gamma")
    # alpha stopped at its bound: v1 state only
    state = lambda df: sorted((r["id"], r["v"]) for r in df.collect())
    assert state(vc.table(spark, "mirror.alpha")) == state(
        read_version(spark, pa_, 2)
    )
    # the restart: re-invoke unbounded — alpha catches up through its
    # cursor, beta is a no-op (0 runs, no new replica commit)
    beta_commits = len(versions(vc.resolve("mirror.beta")))
    res2 = replicate_database(
        spark, vc, "lake", "mirror", ckpts, key_cols={"alpha": ["id"]}
    )
    assert res2["alpha"]["runs"] >= 1
    assert res2["beta"]["runs"] == 0
    assert len(versions(vc.resolve("mirror.beta"))) == beta_commits
    assert state(vc.table(spark, "mirror.alpha")) == state(
        read_version(spark, pa_)
    )


def test_drain_batch_engine(spark, tmp_path):
    """Capped append slices land as slice-keyed files through the
    cursor — exactly-once across re-runs and incremental drains, a cap
    splits a commit, non-append commits refuse unless
    skip_change_commits, and cursors or options the slice planner
    cannot serve refuse."""
    import json as jsonlib

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_upsert,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        drain_versioned_changes,
    )

    t, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(1, "a"), (2, "b")]).repartition(2), t)  # v1: 2 files
    versioned_write(mk([(3, "c")]).coalesce(1), t)  # v2
    runs = drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    )
    assert runs == 3, "the 1-file cap splits the 2-file v1, then v2"
    read = lambda: sorted(
        (r["id"], r["v"])
        for r in spark.read.schema("id int, v string").parquet(out).collect()
    )
    assert read() == [(1, "a"), (2, "b"), (3, "c")]
    # slice-keyed deterministic names, no Spark engine checkpoint
    names = sorted(p.name for p in (tmp_path / "out").glob("slice-*"))
    assert names and all(n.startswith("slice-v") for n in names)
    assert any(n.startswith("slice-v000001f000001-") for n in names), (
        "the sub-commit slice is keyed by its full start offset"
    )
    assert not (tmp_path / "ckpt" / "offsets").exists()
    assert jsonlib.loads(
        (tmp_path / "ckpt" / "_vc_cursor" / "cursor.json").read_text()
    ) == {"version": 2}
    # caught-up re-drain: 0 runs, sink unchanged
    assert drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    ) == 0
    assert read() == [(1, "a"), (2, "b"), (3, "c")]
    # a row-level commit refuses without skip_change_commits
    versioned_upsert(mk([(1, "u1")]), t, ["id"])  # v3
    versioned_write(mk([(4, "d")]).coalesce(1), t)  # v4
    with pytest.raises(ValueError, match="append-only"):
        drain_versioned_changes(spark, t, out, ckpt)
    runs2 = drain_versioned_changes(
        spark, t, out, ckpt, skip_change_commits=True
    )
    assert runs2 == 1
    assert read() == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # offsets inside the bootstrap snapshot, or inside a change-feed
    # commit, are not resumable by the slice planners
    cur = tmp_path / "ckpt2" / "_vc_cursor"
    cur.mkdir(parents=True)
    for off, opts in (
        ({"version": 0, "file_index": 1, "snapshot_start": True}, None),
        ({"version": 1, "file_index": 1}, {"readChangeFeed": "true"}),
    ):
        (cur / "cursor.json").write_text(jsonlib.dumps(off))
        with pytest.raises(ValueError, match="cannot resume"):
            drain_versioned_changes(
                spark, t, str(tmp_path / "out2"), str(tmp_path / "ckpt2"),
                extra_options=opts,
            )
    # reader options other than readChangeFeed belong to the source
    with pytest.raises(ValueError, match="readStream"):
        drain_versioned_changes(
            spark, t, out, ckpt, extra_options={"startingVersion": "1"}
        )


def test_drain_batch_engine_bootstrap_and_build(spark, tmp_path):
    """Batch drain of an ever-vacuumed table bootstraps from the
    earliest surviving snapshot (DV state applied), build() transforms
    ride each slice, and a behind-retention cursor refuses."""
    import json as jsonlib

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        vacuum,
        versioned_delete,
        versioned_write,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        drain_versioned_changes,
    )

    t = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(6)]).coalesce(1), t)
    versioned_write(mk([(10, "x10")]).coalesce(1), t)  # v2
    versioned_delete(spark, t, "id = 3", strategy="dv")  # v3
    versioned_write(mk([(11, "x11")]).coalesce(1), t)  # v4
    vacuum(t, keep_last=2)
    assert versions(t) == [3, 4]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    runs = drain_versioned_changes(
        spark, t, out, ckpt, build=lambda df: df.select("id")
    )
    assert runs == 2, "bootstrap snapshot + the v4 append"
    got = sorted(
        r["id"] for r in spark.read.schema("id int").parquet(out).collect()
    )
    assert got == [0, 1, 2, 4, 5, 10, 11], "DV'd id=3 must not resurrect"
    # a cursor behind the retention horizon refuses
    cur = tmp_path / "ckpt2" / "_vc_cursor"
    cur.mkdir(parents=True)
    (cur / "cursor.json").write_text('{"version": 1}')
    with pytest.raises(ValueError, match="vacuumed manifest"):
        drain_versioned_changes(
            spark, t, str(tmp_path / "out2"), str(tmp_path / "ckpt2")
        )


def test_drain_engines_full_interleave_and_crash_recovery(
    spark, tmp_path, monkeypatch
):
    """(b) a crash between slice write and cursor advance, with NEW
    commits landing before the retry, converges with no duplicates
    (leftovers clear by slice START, not exact range); (c) a
    mid-backlog column RENAME drains pre-rename rows under the head's
    logical name through physical identity, never as NULLs."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        rename_column,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream as VS

    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    read = lambda p: sorted(
        (r["id"], r["v"])
        for r in spark.read.schema("id int, v string").parquet(p).collect()
    )
    # (b) crash between slice write and cursor advance + new commits
    t2, out2, ckpt2 = (
        str(tmp_path / "t2"), str(tmp_path / "out2"), str(tmp_path / "ck2")
    )
    versioned_write(mk([(1, "a"), (2, "b")]).coalesce(1), t2)  # v1
    real_advance = VS._cursor_advance
    calls = {"n": 0}

    def crashy(cur_dir, version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash before cursor advance")
        real_advance(cur_dir, version)

    monkeypatch.setattr(VS, "_cursor_advance", crashy)
    with pytest.raises(OSError, match="simulated crash"):
        VS.drain_versioned_changes(spark, t2, out2, ckpt2)
    versioned_write(mk([(3, "c")]).coalesce(1), t2)  # v2 lands pre-retry
    VS.drain_versioned_changes(spark, t2, out2, ckpt2)
    assert read(out2) == [(1, "a"), (2, "b"), (3, "c")], (
        "the crashed slice must be superseded, not duplicated"
    )
    monkeypatch.setattr(VS, "_cursor_advance", real_advance)
    # (c) mid-backlog rename: physical identity, not NULLs
    t3, out3, ckpt3 = (
        str(tmp_path / "t3"), str(tmp_path / "out3"), str(tmp_path / "ck3")
    )
    versioned_write(mk([(1, "old1")]).coalesce(1), t3)  # v1 (id, v)
    rename_column(t3, "v", "w")  # v2
    versioned_write(
        spark.createDataFrame([(2, "new2")], "id int, w string").coalesce(1),
        t3,
    )  # v3
    VS.drain_versioned_changes(spark, t3, out3, ckpt3)
    got = sorted(
        (r["id"], r["w"])
        for r in spark.read.schema("id int, w string").parquet(out3).collect()
    )
    assert got == [(1, "old1"), (2, "new2")], (
        "pre-rename rows must resolve through physical identity"
    )


def test_drain_sub_commit_slice_crash_retry_converges(
    spark, tmp_path, monkeypatch
):
    """A cap that splits a commit lands SUB-COMMIT slices.  A crash
    between landing one and advancing the cursor, with a new commit
    landing before the retry, must leave the sink equal to the table
    exactly once: the retry replans from the same start offset and its
    slice replaces the crashed attempt's files."""
    import json as jsonlib

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream as VS

    t, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 12).repartitionByRange(4, "id"), t)  # v1: 4 files
    real_advance = VS._cursor_advance
    calls = {"n": 0}

    def crashy(cur_dir, off):
        calls["n"] += 1
        if calls["n"] == 2:  # the second slice landed, cursor not moved
            raise OSError("simulated crash before cursor advance")
        real_advance(cur_dir, off)

    monkeypatch.setattr(VS, "_cursor_advance", crashy)
    with pytest.raises(OSError, match="simulated crash"):
        VS.drain_versioned_changes(
            spark, t, out, ckpt, max_files_per_trigger=1
        )
    monkeypatch.setattr(VS, "_cursor_advance", real_advance)
    assert jsonlib.loads(
        (tmp_path / "ckpt" / "_vc_cursor" / "cursor.json").read_text()
    ) == {"version": 1, "file_index": 1}, "the crash left a sub-commit cursor"
    ids = lambda: sorted(
        r["id"]
        for r in spark.read.schema("id int, v string").parquet(out).collect()
    )
    assert len(ids()) > 3, "the crashed slice's files are in the sink"
    versioned_write(mk(100, 2).repartition(1), t)  # v2 lands pre-retry
    runs = VS.drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    )
    assert runs == 4, "v1's last three files, then v2"
    assert ids() == list(range(12)) + [100, 101], (
        "the retried sub-commit slice must replace, not duplicate"
    )


def test_drain_cap_takes_commit_after_vacuum_gap_whole(spark, tmp_path):
    """A cap splits a commit only when its direct predecessor manifest
    survives: a sub-commit cursor indexes the new-file list diffed
    against V-1, so a commit behind a tag+vacuum gap is taken whole
    (the soft cap) and the drain still converges exactly once."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_tag,
        vacuum,
        versioned_write,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        drain_versioned_changes,
    )

    t, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 2).coalesce(1), t)  # v1
    create_tag(t, "anchor", 1)
    versioned_write(mk(10, 4).repartitionByRange(2, "id"), t)  # v2
    versioned_write(mk(20, 4).repartitionByRange(2, "id"), t)  # v3
    vacuum(t, keep_last=1)
    assert versions(t) == [1, 3]
    runs = drain_versioned_changes(
        spark, t, out, ckpt, max_files_per_trigger=1
    )
    assert runs == 2, "v1, then v2+v3's four files as one slice"
    got = sorted(
        r["id"]
        for r in spark.read.schema("id int, v string").parquet(out).collect()
    )
    assert got == [0, 1, 10, 11, 12, 13, 20, 21, 22, 23]


def test_drain_empty_slice_lands_nothing(spark, tmp_path):
    """An empty slice is not a delivered batch: Spark writes one
    zero-row part file for an empty frame, so ``_land_slice`` decides
    emptiness from the written rows, lands no file and returns 0 — and
    a drain whose ``build`` filters every row away returns 0 and leaves
    no ``slice-*`` file."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream as VS

    empty = spark.createDataFrame([], "id int, v string")
    sink = tmp_path / "direct"
    sink.mkdir()
    assert VS._land_slice(empty, str(sink), "parquet", "slice-x-") == 0
    assert not list(sink.glob("slice-*"))

    t = str(tmp_path / "t")
    versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        .coalesce(1),
        t,
    )
    out = tmp_path / "out"
    runs = VS.drain_versioned_changes(
        spark, t, str(out), str(tmp_path / "ck"),
        build=lambda df: df.filter("id < 0"),
    )
    assert runs == 0, f"an all-filtered drain delivered {runs}"
    assert not list(out.glob("slice-*"))


def test_drain_change_feed_default_batch_engine(spark, tmp_path):
    """The change-feed drain runs as batch slices: across an upsert, a
    DV delete and an append the sink equals ``read_change_feed(0)``
    with no streaming query started and no engine offsets written, and
    a later drain through the same cursor lands only the new window."""
    import json as jsonlib

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_change_feed,
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream as VS

    t, out, ckpt = (
        str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    cdf = {"readChangeFeed": "true"}
    versioned_write(mk([(i, f"v{i}") for i in range(6)]).coalesce(2), t)  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(mk([(1, "u1"), (9, "i9")]), t, ["id"])  # v3
    versioned_delete(spark, t, "id = 4", strategy="dv")  # v4
    versioned_write(mk([(7, "a7")]).coalesce(1), t)  # v5
    feed = lambda: sorted(
        tuple(r) for r in read_change_feed(spark, t, 0).collect()
    )
    sink = lambda: sorted(
        tuple(r)
        for r in spark.read.schema(
            "id int, v string, _change_type string, _commit_version long"
        ).parquet(out).collect()
    )
    assert VS.drain_versioned_changes(
        spark, t, out, ckpt, extra_options=cdf
    ) == 1
    assert sink() == feed()
    assert not (tmp_path / "ckpt" / "offsets").exists()
    assert spark.streams.active == []
    assert all(
        p.name.startswith("slice-v") for p in (tmp_path / "out").glob("slice-*")
    )
    assert jsonlib.loads(
        (tmp_path / "ckpt" / "_vc_cursor" / "cursor.json").read_text()
    ) == {"version": 5}
    assert VS.drain_versioned_changes(
        spark, t, out, ckpt, extra_options=cdf
    ) == 0, "a caught-up drain delivers nothing"

    # incremental: the next drain lands exactly the new window
    versioned_upsert(mk([(2, "u2")]), t, ["id"])  # v6
    versioned_delete(spark, t, "id = 5", strategy="dv")  # v7
    assert VS.drain_versioned_changes(
        spark, t, out, ckpt, extra_options=cdf
    ) == 1
    assert sink() == feed(), "every window lands exactly once"


def test_drain_change_feed_batch_bootstrap_and_gap(spark, tmp_path):
    """The batch change-feed drain of an ever-vacuumed table first
    emits the earliest surviving snapshot (DV state applied) as inserts
    at ``_commit_version = vs[0]`` — the stream reader's bootstrap —
    and a tag+vacuum hole inside the range refuses under the drain's
    own name."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_tag,
        enable_change_data_feed,
        read_change_feed,
        vacuum,
        versioned_delete,
        versioned_upsert,
        versioned_write,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        drain_versioned_changes,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    cdf = {"readChangeFeed": "true"}
    schema = "id int, v string, _change_type string, _commit_version long"
    t = str(tmp_path / "t")
    versioned_write(mk([(i, f"v{i}") for i in range(5)]).coalesce(1), t)
    enable_change_data_feed(t)  # v2
    versioned_delete(spark, t, "id = 3", strategy="dv")  # v3
    versioned_upsert(mk([(1, "u1")]), t, ["id"])  # v4
    vacuum(t, keep_last=2)
    assert versions(t) == [3, 4]
    out = str(tmp_path / "out")
    runs = drain_versioned_changes(
        spark, t, out, str(tmp_path / "ck"), extra_options=cdf
    )
    assert runs == 2, "bootstrap snapshot + the v4 feed slice"
    got = sorted(
        tuple(r) for r in spark.read.schema(schema).parquet(out).collect()
    )
    boot = [(i, f"v{i}", "insert", 3) for i in (0, 1, 2, 4)]
    assert [g for g in got if g[3] == 3] == boot, "DV'd id=3 must not resurrect"
    assert [g for g in got if g[3] > 3] == sorted(
        tuple(r) for r in read_change_feed(spark, t, 3).collect()
    )

    t2 = str(tmp_path / "t2")
    versioned_write(mk([(1, "a")]).coalesce(1), t2)  # v1
    create_tag(t2, "anchor", 1)
    enable_change_data_feed(t2)  # v2
    versioned_delete(spark, t2, "id = 1", strategy="dv")  # v3
    vacuum(t2, keep_last=1)
    assert versions(t2) == [1, 3]
    with pytest.raises(
        ValueError, match=r"drain_versioned_changes: version\(s\) \[2\]"
    ):
        drain_versioned_changes(
            spark, t2, str(tmp_path / "out2"), str(tmp_path / "ck2"),
            extra_options=cdf,
        )


def test_write_tables_mid_sweep_failure_keeps_bindings(
    spark, tmp_path, monkeypatch
):
    """r16 self-review fix: recreate_database=True keeps each SWEPT
    binding until its replacement write succeeds — a mid-sweep failure
    leaves the unwritten rest of the database resolvable (only stale
    names drop up front)."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.registry import TableHandle
    from _spark_multi_format_data_lake_pipeline_spark.sinks.writer import write_tables

    vc = VersionedCatalog(tmp_path / "wh")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    handles = [TableHandle(df, n, "JSON", 1, 2) for n in ("alpha", "beta")]
    write_tables(spark, handles, database="db", versioned=vc)
    p_beta = vc.resolve("db.beta")
    real_write = V.versioned_write

    def failing(df_, path, **kw):
        if path.endswith("beta"):
            raise RuntimeError("simulated write failure")
        return real_write(df_, path, **kw)

    monkeypatch.setattr(V, "versioned_write", failing)
    with pytest.raises(RuntimeError, match="simulated write failure"):
        write_tables(spark, handles, database="db", versioned=vc)
    # alpha rewrote; beta's binding SURVIVES the failed sweep
    assert vc.resolve("db.beta") == p_beta
    assert vc.table(spark, "db.beta").count() == 1
