"""Versioned parquet tables (sinks/versioned.py): snapshot manifests,
time travel, atomic optimistic commits, rollback, vacuum."""

from __future__ import annotations

import pytest

from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
    ConcurrentCommitError,
    _commit,
    _read_manifest,
    read_version,
    rollback,
    vacuum,
    versioned_write,
    versions,
)


def _rows(df):
    return sorted((r["id"], r["v"]) for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), t
    )
    v2 = versioned_write(
        spark.createDataFrame([(3, "c")], "id int, v string"), t, mode="append"
    )
    v3 = versioned_write(
        spark.createDataFrame([(9, "z")], "id int, v string"), t, mode="overwrite"
    )
    assert (v1, v2, v3) == (1, 2, 3)
    assert versions(t) == [1, 2, 3]
    # latest = the overwrite
    assert _rows(read_version(spark, t)) == [(9, "z")]
    # time travel: every prior snapshot still reads exactly
    assert _rows(read_version(spark, t, 1)) == [(1, "a"), (2, "b")]
    assert _rows(read_version(spark, t, 2)) == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(ValueError, match="version 7"):
        read_version(spark, t, 7)


def test_rollback_is_append_only_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    versioned_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), t, mode="overwrite"
    )
    v3 = rollback(t, 1)
    assert v3 == 3 and versions(t) == [1, 2, 3]
    assert _rows(read_version(spark, t)) == [(1, "a")]
    # the rolled-back-over version is still readable (history preserved)
    assert _rows(read_version(spark, t, 2)) == [(2, "b")]


def test_concurrent_commit_exactly_one_winner(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    # simulate the race: two writers both target version 2
    _commit(t, 2, {"version": 2, "mode": "append", "files": [], "row_count": 0,
                   "schema": {"type": "struct", "fields": []}})
    with pytest.raises(ConcurrentCommitError):
        _commit(t, 2, {"version": 2, "mode": "append", "files": [],
                       "row_count": 0,
                       "schema": {"type": "struct", "fields": []}})
    assert versions(t) == [1, 2]


def test_half_finished_write_is_invisible(spark, tmp_path):
    """Data files with no manifest must not be readable through the
    table — the reader's file list comes from the manifest only."""
    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    # orphan files: a writer that crashed before committing
    spark.createDataFrame([(99, "ghost")], "id int, v string").write.parquet(
        str(tmp_path / "tbl" / "data" / "orphan")
    )
    assert _rows(read_version(spark, t)) == [(1, "a")]


def test_vacuum_drops_unreferenced_files_and_old_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    versioned_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), t, mode="overwrite"
    )
    deleted = vacuum(t, keep_last=1)
    assert deleted  # v1's files are gone
    assert versions(t) == [2]
    assert _rows(read_version(spark, t)) == [(2, "b")]
    # time travel before the horizon is gone — by design
    with pytest.raises(ValueError):
        read_version(spark, t, 1)
    # the vacuumed write's UUID dir is fully gone (no empty dirs, no
    # stray _SUCCESS markers accumulate — ADVICE r6), live dirs remain
    data_dirs = [p for p in (tmp_path / "tbl" / "data").iterdir() if p.is_dir()]
    assert len(data_dirs) == 1
    assert any(p.suffix == ".parquet" for p in data_dirs[0].rglob("*"))


def test_rollback_does_not_carry_txn_id(spark, tmp_path):
    """A rollback commit must not replay-shield the rolled-back txn id:
    a producer retrying that transaction after the rollback changed
    visible state must land, not be skipped (ADVICE r6)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        last_txn_id,
        versioned_write_txn,
    )

    t = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    df2 = spark.createDataFrame([(2, "b")], "id int, v string")
    assert versioned_write_txn(df1, t, txn_id="t1") == 1
    assert versioned_write_txn(df2, t, txn_id="t2") == 2
    v3 = rollback(t, 1)
    assert v3 == 3
    # head no longer advertises t2 (audit trail keeps it under a
    # distinct key), so retrying t2 against the rolled-back table lands
    assert last_txn_id(t) is None
    assert _read_manifest(t, 3).get("rolled_back_txn_id") == "t1"
    assert versioned_write_txn(df2, t, txn_id="t2") == 4


def test_stream_versioned_sink_commits_snapshots_and_replay_skips(
    spark, tmp_path
):
    """Each micro-batch commits one snapshot; a foreachBatch replay of
    the last batch finds its txn id on the head manifest and commits
    NOTHING (the Delta txn-ledger exactly-once design)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versioned_write_txn,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_versioned_sink

    src = tmp_path / "vsrc"
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string").coalesce(
        1
    ).write.parquet(str(src / "f1"))
    spark.createDataFrame([(3, "c")], "id int, v string").coalesce(1).write.parquet(
        str(src / "f2")
    )
    t = str(tmp_path / "vtbl")
    stream = (
        spark.readStream.schema("id int, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_versioned_sink(stream, t, str(tmp_path / "vckpt"))
    q.awaitTermination()

    assert versions(t) == [1, 2]
    got = sorted((r["id"], r["v"]) for r in read_version(spark, t).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # replay of the LAST batch: same (checkpoint-scoped) txn id ->
    # skipped, no new version
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import _txn_scope

    scope = _txn_scope(str(tmp_path / "vckpt"))
    last = spark.createDataFrame([(3, "c")], "id int, v string")
    assert versioned_write_txn(last, t, txn_id=f"stream-{scope}-1") is None
    assert versions(t) == [1, 2]
    # a NEW txn id commits normally — in particular, batch 1 of a stream
    # with a DIFFERENT checkpoint is a different transaction, not a
    # replay (the ADVICE r6 shared-table scenario)
    other = _txn_scope(str(tmp_path / "other_ckpt"))
    assert versioned_write_txn(last, t, txn_id=f"stream-{other}-1") == 3


def test_stream_quarantine_sink_routes_and_replays_safely(spark, tmp_path):
    """Violating rows carry the failed-rule names into quarantine, clean
    rows land in good, and a replayed batch is skipped on BOTH sides
    (shared txn id)."""
    import pytest as _pytest

    from _spark_multi_format_data_lake_pipeline_spark.operators.expectations import (
        in_range,
        not_null,
        unique,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version, versions
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_quarantine_sink

    rows = [(1, 10.0), (2, None), (3, 999.0), (4, 50.0)]
    src = tmp_path / "qsrc"
    spark.createDataFrame(rows, "id int, v double").coalesce(1).write.parquet(
        str(src / "f1")
    )
    rules = [not_null("v_present", "v"), in_range("v_sane", "v", 0, 100)]
    good_t, bad_t = str(tmp_path / "good"), str(tmp_path / "bad")
    stream = spark.readStream.schema("id int, v double").parquet(str(src / "*"))
    q = stream_quarantine_sink(
        stream, rules, good_t, bad_t, str(tmp_path / "qckpt")
    )
    q.awaitTermination()

    good = sorted(r["id"] for r in read_version(spark, good_t).collect())
    bad = {
        r["id"]: sorted(r["_violated"])
        for r in read_version(spark, bad_t).collect()
    }
    assert good == [1, 4]
    assert bad == {2: ["v_present"], 3: ["v_sane"]}
    assert versions(good_t) == [1] and versions(bad_t) == [1]

    # replaying the same batch id commits nothing on either side
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write_txn

    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import _txn_scope

    scope = _txn_scope(str(tmp_path / "qckpt"))
    again = spark.createDataFrame(rows, "id int, v double")
    assert versioned_write_txn(again, good_t, txn_id=f"quarantine-{scope}-0") is None
    assert versions(good_t) == [1]

    # non-row-level rules are rejected up front
    with _pytest.raises(ValueError, match="row-level"):
        stream_quarantine_sink(
            stream, [unique("u", "id")], good_t, bad_t, str(tmp_path / "x")
        )


def test_read_version_pruned_skips_files_but_matches_filter(spark, tmp_path):
    """Manifest zone-map pruning: appends with disjoint id ranges land
    in separate files; a range read opens only the intersecting files
    and returns exactly what a full-scan filter would."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_pruned

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        rows = [(lo + i, f"v{lo + i}") for i in range(10)]
        versioned_write(
            spark.createDataFrame(rows, "id int, v string").coalesce(1), t
        )
    pruned = read_version_pruned(spark, t, "id", lo=100, hi=109)
    full = read_version(spark, t).filter("id BETWEEN 100 AND 109")
    assert _rows(pruned) == _rows(full)
    # only the middle append's file survives the manifest prune
    assert len(pruned.inputFiles()) == 1
    assert len(read_version(spark, t).inputFiles()) == 3
    # one-sided bounds and the conservative no-stats path
    assert len(read_version_pruned(spark, t, "id", lo=205).inputFiles()) == 1
    # a range beyond every file prunes the whole scan list
    assert read_version_pruned(spark, t, "id", lo=9999).count() == 0
    assert len(read_version_pruned(spark, t, "id", lo=9999).inputFiles()) == 0
    # a column with no harvested stats keeps every file (never wrong)
    assert len(read_version_pruned(spark, t, "nosuchcol").inputFiles()) == 3


def test_file_stats_survive_append_and_reset_on_overwrite(spark, tmp_path):
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _read_manifest

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, "a")], "id int, v string").coalesce(1), t
    )
    versioned_write(
        spark.createDataFrame([(2, "b")], "id int, v string").coalesce(1), t
    )
    m2 = _read_manifest(t, 2)
    assert len(m2["file_stats"]) == len(m2["files"]) == 2
    ranges = sorted(st["id"] for st in m2["file_stats"].values())
    assert ranges == [[1, 1], [2, 2]]
    versioned_write(
        spark.createDataFrame([(9, "z")], "id int, v string").coalesce(1),
        t,
        mode="overwrite",
    )
    m3 = _read_manifest(t, 3)
    assert len(m3["file_stats"]) == 1
    assert list(m3["file_stats"].values())[0]["id"] == [9, 9]


def test_schema_evolution_on_append(spark, tmp_path):
    """Appending a frame with a new column widens the snapshot schema;
    pre-evolution files read the added column as NULL; a type CHANGE on
    a shared column is refused (no implicit widening)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _read_manifest

    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    versioned_write(
        spark.createDataFrame(
            [(2, "b", 9.5)], "id int, v string, score double"
        ),
        t,
    )
    got = {
        r["id"]: (r["v"], r["score"])
        for r in read_version(spark, t).collect()
    }
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    names = [f["name"] for f in _read_manifest(t, 2)["schema"]["fields"]]
    assert names == ["id", "v", "score"]
    # string -> int is not widening-compatible, so the append refuses
    # even though the hint now points at allow_type_widening
    with pytest.raises(ValueError, match="type changed"):
        versioned_write(
            spark.createDataFrame([(3, 7)], "id int, v int"), t
        )
    with pytest.raises(ValueError, match="not widening-compatible"):
        versioned_write(
            spark.createDataFrame([(3, 7)], "id int, v int"),
            t,
            allow_type_widening=True,
        )


def test_compact_rewrites_files_preserving_rows_and_history(spark, tmp_path):
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import compact

    t = str(tmp_path / "tbl")
    for i in range(3):
        versioned_write(
            spark.createDataFrame([(i, f"v{i}")], "id int, v string").coalesce(1),
            t,
        )
    assert len(read_version(spark, t).inputFiles()) == 3
    v = compact(spark, t, target_files=1)
    assert v == 4
    assert len(read_version(spark, t).inputFiles()) == 1
    assert _rows(read_version(spark, t)) == [(0, "v0"), (1, "v1"), (2, "v2")]
    # pre-compaction history still readable; vacuum reclaims it
    assert _rows(read_version(spark, t, 3)) == [(0, "v0"), (1, "v1"), (2, "v2")]
    deleted = vacuum(t, keep_last=1)
    assert len(deleted) == 3
    assert _rows(read_version(spark, t)) == [(0, "v0"), (1, "v1"), (2, "v2")]


def test_read_as_of_timestamp(spark, tmp_path):
    """TIMESTAMP AS OF: the newest snapshot committed at or before the
    probe time; a probe before the first commit raises."""
    import time

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_as_of

    t = str(tmp_path / "tbl")
    before_any = time.time()
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    between = time.time()
    versioned_write(
        spark.createDataFrame([(9, "z")], "id int, v string"), t, mode="overwrite"
    )
    assert _rows(read_as_of(spark, t, between)) == [(1, "a")]
    assert _rows(read_as_of(spark, t, time.time())) == [(9, "z")]
    with pytest.raises(ValueError, match="no snapshot"):
        read_as_of(spark, t, before_any)

def test_rollback_read_as_of_resolves_by_commit_time(spark, tmp_path):
    """ADVICE r7 (high): a rollback restores OLD data at a NEW time —
    it must stamp a fresh committed_at, and read_as_of must resolve a
    probe taken while a later version was current to THAT version, not
    let the rollback (higher version, inherited old clock) shadow it."""
    import time

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_as_of

    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    time.sleep(0.05)
    versioned_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), t, mode="overwrite"
    )
    time.sleep(0.05)
    when_v2_current = time.time()
    time.sleep(0.05)
    v3 = rollback(t, 1)
    m3 = _read_manifest(t, 3)
    # fresh clock, strictly after the source snapshot's commit
    assert m3["committed_at"] > _read_manifest(t, 1)["committed_at"]
    assert v3 == 3
    # a probe from when v2 was the table still resolves to v2
    assert _rows(read_as_of(spark, t, when_v2_current)) == [(2, "b")]
    # a probe now resolves to the rollback state
    assert _rows(read_as_of(spark, t, time.time())) == [(1, "a")]


def test_read_as_of_legacy_manifests_fall_back_to_mtime(spark, tmp_path):
    """ADVICE r7 (low): commits written before the committed_at field
    existed keep timestamp travel — the manifest file's mtime (the
    commit's creation time) stands in for the missing clock."""
    import json
    import os
    import time
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_as_of

    t = str(tmp_path / "tbl")
    versioned_write(spark.createDataFrame([(1, "a")], "id int, v string"), t)
    versioned_write(
        spark.createDataFrame([(2, "b")], "id int, v string"), t, mode="overwrite"
    )
    now = time.time()
    for v, age in ((1, 100.0), (2, 50.0)):
        p = Path(t) / "_manifests" / f"v{v}.json"
        m = json.loads(p.read_text())
        m.pop("committed_at", None)
        p.write_text(json.dumps(m))
        os.utime(p, (now - age, now - age))
    # probe between the two legacy commits -> v1; after both -> v2
    assert _rows(read_as_of(spark, t, now - 75.0)) == [(1, "a")]
    assert _rows(read_as_of(spark, t, now)) == [(2, "b")]
    with pytest.raises(ValueError, match="no snapshot"):
        read_as_of(spark, t, now - 200.0)


def test_harvest_omits_columns_without_full_rowgroup_coverage(tmp_path):
    """ADVICE r7 (medium): a column whose stats are unusable in SOME row
    group (here: binary min/max that fails UTF-8 decode in the second
    group) must not be recorded at all — a range built from the other
    groups could under-cover the file and make pruning skip matching
    rows. Fully-covered columns in the same file still get ranges."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _harvest_file_stats

    d = tmp_path / "t" / "data"
    d.mkdir(parents=True)
    tbl = pa.table(
        {"id": [1, 2, 3, 4], "raw": [b"a", b"b", b"\xff\xfe", b"\xff"]}
    )
    pq.write_table(tbl, d / "f.parquet", row_group_size=2)
    stats = _harvest_file_stats(str(tmp_path / "t"), ["data/f.parquet"])[
        "data/f.parquet"
    ]
    assert stats.get("id") == [1, 4]
    assert "raw" not in stats


def test_stream_versioned_sink_legacy_unscoped_txn_replay_skips(spark, tmp_path):
    """ADVICE r7 (low): a table whose head commit was written by the
    pre-scope release (txn id ``stream-{batch_id}``) must not get a
    duplicate append when the upgraded sink replays that batch; later
    batches commit normally under the scoped id."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        last_txn_id,
        read_version,
        versioned_write_txn,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        _txn_scope,
        stream_versioned_sink,
    )

    t = str(tmp_path / "vtbl")
    batch0 = [(1, "a"), (2, "b")]
    # the old release landed batch 0, crashed before the checkpoint commit
    versioned_write_txn(
        spark.createDataFrame(batch0, "id int, v string"), t, txn_id="stream-0"
    )
    src = tmp_path / "vsrc"
    spark.createDataFrame(batch0, "id int, v string").coalesce(1).write.parquet(
        str(src / "f1")
    )
    ckpt = str(tmp_path / "vckpt")
    stream = (
        spark.readStream.schema("id int, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_versioned_sink(stream, t, ckpt)
    q.awaitTermination()
    # the replayed batch 0 matched the LEGACY head id and was skipped
    assert versions(t) == [1]
    assert sorted((r["id"], r["v"]) for r in read_version(spark, t).collect()) == batch0
    # the next batch is a different transaction and lands scoped
    spark.createDataFrame([(3, "c")], "id int, v string").coalesce(1).write.parquet(
        str(src / "f2")
    )
    stream2 = (
        spark.readStream.schema("id int, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q2 = stream_versioned_sink(stream2, t, ckpt)
    q2.awaitTermination()
    assert versions(t) == [1, 2]
    assert last_txn_id(t) == f"stream-{_txn_scope(ckpt)}-1"


def test_stream_quarantine_sink_legacy_unscoped_txn_replay_skips(spark, tmp_path):
    """Same legacy-id shim on the quarantine sink: a head manifest with
    the pre-scope ``quarantine-{batch_id}`` id skips that side."""
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.operators.expectations import not_null
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_write_txn,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_quarantine_sink

    rows = [(1, 10.0), (2, None)]
    good_t, bad_t = str(tmp_path / "good"), str(tmp_path / "bad")
    # old release landed batch 0 on both sides, crashed pre-checkpoint
    versioned_write_txn(
        spark.createDataFrame([(1, 10.0)], "id int, v double"),
        good_t,
        txn_id="quarantine-0",
    )
    versioned_write_txn(
        spark.createDataFrame([(2, None)], "id int, v double").withColumn(
            "_violated", F.array(F.lit("v_present"))
        ),
        bad_t,
        txn_id="quarantine-0",
    )
    src = tmp_path / "qsrc"
    spark.createDataFrame(rows, "id int, v double").coalesce(1).write.parquet(
        str(src / "f1")
    )
    stream = spark.readStream.schema("id int, v double").parquet(str(src / "*"))
    q = stream_quarantine_sink(
        stream,
        [not_null("v_present", "v")],
        good_t,
        bad_t,
        str(tmp_path / "qckpt"),
    )
    q.awaitTermination()
    # replay of batch 0 skipped on BOTH sides — no duplicate snapshots
    assert versions(good_t) == [1] and versions(bad_t) == [1]


# ---------------------------------------------------------------- r8 —
# copy-on-write row-level ops, partitioned writes, size-binned compact,
# change-data-feed reader


def _write_ranged(spark, t, lo, n=10, **kw):
    rows = [(lo + i, f"v{lo + i}") for i in range(n)]
    return versioned_write(
        spark.createDataFrame(rows, "id int, v string").coalesce(1), t, **kw
    )


def test_upsert_update_insert_and_untouched_file_identity(spark, tmp_path):
    """The r7-verdict upsert matrix: update 1 row, insert 1 row, and —
    the copy-on-write contract — files whose zone-map range cannot
    intersect the change set are carried VERBATIM (same physical file,
    never rewritten)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_upsert

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        _write_ranged(spark, t, lo)
    m_before = _read_manifest(t, 3)
    # change set entirely inside the middle file's [100, 109] range:
    # update id=105, insert id=150
    chg = spark.createDataFrame(
        [(105, "UPDATED"), (150, "INSERTED")], "id int, v string"
    )
    v = versioned_upsert(chg, t, ["id"])
    assert v == 4
    got = dict(_rows(read_version(spark, t)))
    assert got[105] == "UPDATED" and got[150] == "INSERTED"
    assert len(got) == 31  # 30 original + 1 insert
    assert got[104] == "v104" and got[0] == "v0" and got[209] == "v209"
    m_after = _read_manifest(t, 4)
    # the two non-intersecting files are the SAME paths as before
    untouched_before = [
        f for f in m_before["files"]
        if m_before["file_stats"][f]["id"][1] < 100
        or m_before["file_stats"][f]["id"][0] > 109
    ]
    assert set(untouched_before) <= set(m_after["files"])
    # exactly one old file (the middle one) was replaced by the rewrite
    assert len(set(m_before["files"]) - set(m_after["files"])) == 1
    # carried stats/meta entries survive verbatim; row_count is exact
    for f in untouched_before:
        assert m_after["file_stats"][f] == m_before["file_stats"][f]
        assert m_after["file_meta"][f] == m_before["file_meta"][f]
    assert m_after["row_count"] == 31
    # history: the pre-upsert snapshot still reads exactly
    assert dict(_rows(read_version(spark, t, 3)))[105] == "v105"


def test_upsert_rejects_duplicate_keys_and_creates_empty_table(spark, tmp_path):
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_upsert

    t = str(tmp_path / "tbl")
    # upsert into a nonexistent table is the initial commit
    v = versioned_upsert(
        spark.createDataFrame([(1, "a")], "id int, v string"), t, ["id"]
    )
    assert v == 1 and _rows(read_version(spark, t)) == [(1, "a")]
    with pytest.raises(ValueError, match="multiple rows"):
        versioned_upsert(
            spark.createDataFrame(
                [(1, "x"), (1, "y")], "id int, v string"
            ),
            t,
            ["id"],
        )


def test_upsert_crash_before_commit_leaves_orphans_only(spark, tmp_path):
    """A writer that dies after writing rewrite files but before the
    manifest commit changes nothing: the table reads as before and
    vacuum sweeps the orphaned files."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V

    t = str(tmp_path / "tbl")
    for lo in (0, 100):
        _write_ranged(spark, t, lo)
    chg = spark.createDataFrame([(5, "X")], "id int, v string")
    real_commit = V._commit

    def _boom(path, version, manifest):
        raise RuntimeError("crash before commit")

    V._commit = _boom
    try:
        with pytest.raises(RuntimeError, match="crash"):
            V.versioned_upsert(chg, t, ["id"])
    finally:
        V._commit = real_commit
    # table unchanged, at the same version
    assert V.versions(t) == [1, 2]
    assert dict(_rows(read_version(spark, t)))[5] == "v5"
    # the crashed rewrite's files are unreferenced; vacuum removes them
    deleted = vacuum(t, keep_last=2)
    assert deleted  # orphans swept
    assert dict(_rows(read_version(spark, t)))[5] == "v5"


def test_delete_prunes_untouched_files_and_keeps_null_predicate_rows(
    spark, tmp_path
):
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_delete

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        _write_ranged(spark, t, lo)
    m_before = _read_manifest(t, 3)
    v = versioned_delete(
        spark, t, "id BETWEEN 103 AND 106", prune_col="id", lo=103, hi=106
    )
    assert v == 4
    ids = [i for i, _ in _rows(read_version(spark, t))]
    assert len(ids) == 26 and not any(103 <= i <= 106 for i in ids)
    m_after = _read_manifest(t, 4)
    # only the middle file was rewritten
    assert len(set(m_before["files"]) - set(m_after["files"])) == 1
    assert m_after["row_count"] == 26
    # NULL predicate rows are kept (SQL DELETE semantics)
    t2 = str(tmp_path / "tbl2")
    versioned_write(
        spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 50.0)], "id int, x double"
        ),
        t2,
    )
    versioned_delete(spark, t2, "x > 10")
    assert sorted(
        r["id"] for r in read_version(spark, t2).collect()
    ) == [1, 2]


def test_partitioned_write_roundtrip_prune_and_confined_upsert(
    spark, tmp_path
):
    """partition_by: Hive-layout files, partition values recovered with
    committed types (a string '01' must NOT come back as int 1), a
    pruned read on the partition column opens only that partition's
    files, and an upsert pruned on the partition column rewrites only
    the touched partition."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version_pruned,
        versioned_upsert,
    )

    t = str(tmp_path / "ptbl")
    rows = [
        (1, "01", 10.0), (2, "01", 20.0),
        (3, "02", 30.0), (4, "02", 40.0), (5, "10", 50.0),
    ]
    versioned_write(
        spark.createDataFrame(rows, "id int, day string, x double"),
        t,
        partition_by=["day"],
    )
    m = _read_manifest(t, 1)
    assert m["partition_by"] == ["day"]
    assert all("day=" in f for f in m["files"])
    # partition values in the zone maps as [v, v] string ranges
    assert all(
        st["day"][0] == st["day"][1] for st in m["file_stats"].values()
    )
    got = read_version(spark, t)
    assert [f.name for f in got.schema.fields] == ["id", "day", "x"]
    assert got.schema["day"].dataType.typeName() == "string"
    assert sorted((r["id"], r["day"], r["x"]) for r in got.collect()) == rows
    # pruned read on the partition column opens only day=02 files
    pruned = read_version_pruned(spark, t, "day", lo="02", hi="02")
    assert sorted(r["id"] for r in pruned.collect()) == [3, 4]
    assert all("day=02" in f for f in pruned.inputFiles())
    # append inherits the table's partition spec without restating it
    versioned_write(
        spark.createDataFrame([(6, "02", 60.0)], "id int, day string, x double"),
        t,
    )
    m2 = _read_manifest(t, 2)
    assert m2["partition_by"] == ["day"] and any(
        "day=02" in f for f in m2["files"][len(m["files"]):]
    )
    # conflicting explicit spec on append is refused
    with pytest.raises(ValueError, match="partition spec"):
        versioned_write(
            spark.createDataFrame(
                [(9, "09", 0.0)], "id int, day string, x double"
            ),
            t,
            partition_by=["id"],
        )
    # upsert pruned on the partition column: day=01/day=10 files carried
    m_before = _read_manifest(t, 2)
    chg = spark.createDataFrame(
        [(3, "02", 99.0), (7, "02", 70.0)], "id int, day string, x double"
    )
    versioned_upsert(chg, t, ["id"], prune_col="day")
    m_after = _read_manifest(t, 3)
    carried = [f for f in m_before["files"] if "day=02" not in f]
    assert set(carried) <= set(m_after["files"])
    assert not any(
        "day=02" in f
        for f in set(m_before["files"]) & set(m_after["files"])
    )
    final = {r["id"]: (r["day"], r["x"]) for r in read_version(spark, t).collect()}
    assert final[3] == ("02", 99.0) and final[7] == ("02", 70.0)
    assert final[1] == ("01", 10.0) and len(final) == 7


def test_partitioned_int_and_null_partition_values(spark, tmp_path):
    """Typed partition recovery: an int partition column round-trips as
    int; a NULL partition value lands in the Hive default dir, reads
    back as NULL, and its file is conservatively kept by pruning."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_pruned

    t = str(tmp_path / "ptbl")
    versioned_write(
        spark.createDataFrame(
            [(1, 7, "a"), (2, 8, "b"), (3, None, "c")],
            "id int, bucket int, v string",
        ),
        t,
        partition_by=["bucket"],
    )
    got = {r["id"]: r["bucket"] for r in read_version(spark, t).collect()}
    assert got == {1: 7, 2: 8, 3: None}
    assert read_version(spark, t).schema["bucket"].dataType.typeName() == "integer"
    # the manifest-level prune keeps bucket=7 AND the null-partition
    # file (no committed range -> conservative); bucket=8 is proven
    # disjoint.  (Catalyst then folds the row filter over the null
    # partition's literal to false and elides that scan branch — an
    # extra optimization on top, not a manifest prune.)
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _candidate_split

    keep, skipped = _candidate_split(_read_manifest(t, 1), "bucket", 7, 7)
    assert any("__HIVE_DEFAULT_PARTITION__" in f for f in keep)
    assert all("bucket=8" in f for f in skipped) and len(skipped) == 1
    pruned = read_version_pruned(spark, t, "bucket", lo=7, hi=7)
    assert sorted(r["id"] for r in pruned.collect()) == [1]
    assert not any("bucket=8" in f for f in pruned.inputFiles())


def test_compact_default_is_size_binned_not_single_task(spark, tmp_path):
    """The r7-verdict compact() fix: with no explicit target_files the
    bin count derives from total bytes — a table bigger than
    target_file_bytes compacts to MULTIPLE files (no coalesce(1)
    funnel), rows identical."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import compact

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200, 300):
        _write_ranged(spark, t, lo)
    m = _read_manifest(t, 4)
    total = sum(fm["bytes"] for fm in m["file_meta"].values())
    assert total > 0 and len(m["files"]) == 4
    before = _rows(read_version(spark, t))
    # pick target_file_bytes so the math demands exactly 2 bins
    v = compact(spark, t, target_file_bytes=(total // 2) + 1)
    assert v == 5
    m2 = _read_manifest(t, 5)
    assert len(m2["files"]) == 2  # size-binned, not a single funnel file
    assert _rows(read_version(spark, t)) == before
    assert m2["row_count"] == 40
    # explicit file-count control still exists for small tables
    compact(spark, t, target_files=1)
    assert len(_read_manifest(t, 6)["files"]) == 1
    assert _rows(read_version(spark, t)) == before


def test_compact_partitioned_table_keeps_layout(spark, tmp_path):
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import compact

    t = str(tmp_path / "ptbl")
    for i in range(3):
        versioned_write(
            spark.createDataFrame(
                [(10 * i + j, f"d{j % 2}", float(j)) for j in range(4)],
                "id int, day string, x double",
            ),
            t,
            partition_by=["day"] if i == 0 else None,
        )
    before = sorted(
        (r["id"], r["day"], r["x"]) for r in read_version(spark, t).collect()
    )
    v = compact(spark, t, target_files=1)
    m = _read_manifest(t, v)
    assert m["partition_by"] == ["day"]
    assert all("day=" in f for f in m["files"])
    assert len(m["files"]) == 2  # one bin × two partition dirs
    after = sorted(
        (r["id"], r["day"], r["x"]) for r in read_version(spark, t).collect()
    )
    assert after == before


def test_read_changes_roundtrip_and_evolution(spark, tmp_path):
    """CDF reader: read_changes(M, N) composed with apply_cdc_batch
    reconstructs version N from version M (the r7-verdict item 5
    contract), including across an upsert+delete history and a schema
    evolution boundary."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.cdc import apply_cdc_batch
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_changes,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id int, v string"
        ),
        t,
    )
    versioned_upsert(
        spark.createDataFrame([(2, "B2"), (4, "d")], "id int, v string"),
        t,
        ["id"],
    )
    versioned_delete(spark, t, "id = 1", prune_col="id", lo=1, hi=1)
    chg = read_changes(spark, t, 1, 3, ["id"])
    ops = {r["id"]: (r["op"], r["v"]) for r in chg.collect()}
    assert ops == {1: ("D", "a"), 2: ("U", "B2"), 4: ("I", "d")}
    # round-trip: apply the feed to version 1 -> exactly version 3
    rebuilt = apply_cdc_batch(
        read_version(spark, t, 1), chg, ["id"]
    )
    assert sorted((r["id"], r["v"]) for r in rebuilt.collect()) == _rows(
        read_version(spark, t, 3)
    )
    # evolution boundary: an appended column shows NULL-side diffs only
    versioned_write(
        spark.createDataFrame([(9, "z", 1.5)], "id int, v string, score double"),
        t,
    )
    chg2 = read_changes(spark, t, 3, 4, ["id"])
    assert {(r["id"], r["op"], r["score"]) for r in chg2.collect()} == {
        (9, "I", 1.5)
    }


def test_versioned_apply_changes_full_merge_and_replication(spark, tmp_path):
    """versioned_apply_changes is the full MERGE-with-delete verb: an
    I/U/D batch applies as one copy-on-write commit, files outside the
    batch's key range carry verbatim, and read_changes ∘ apply
    replicates table A onto table B exactly."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_changes,
        versioned_apply_changes,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 100):
        _write_ranged(spark, t, lo, n=4)
    m1 = _read_manifest(t, 2)
    changes = spark.createDataFrame(
        [(1, "B", "U"), (4, "d", "I"), (2, None, "D")],
        "id int, v string, op string",
    )
    v = versioned_apply_changes(changes, t, ["id"])
    assert v == 3
    got = dict(_rows(read_version(spark, t)))
    assert got == {0: "v0", 1: "B", 3: "v3", 4: "d",
                   100: "v100", 101: "v101", 102: "v102", 103: "v103"}
    m3 = _read_manifest(t, 3)
    # the [100, 103] file is outside the batch's [1, 4] range: carried
    hundred_file = [
        f for f in m1["files"] if m1["file_stats"][f]["id"][0] == 100
    ]
    assert set(hundred_file) <= set(m3["files"])
    assert m3["row_count"] == 8
    # seq_col: latest change per key wins
    seq = spark.createDataFrame(
        [(3, "first", "U", 1), (3, "last", "U", 2)],
        "id int, v string, op string, seq bigint",
    )
    versioned_apply_changes(seq, t, ["id"], seq_col="seq")
    assert dict(_rows(read_version(spark, t)))[3] == "last"
    # replication: apply A's change feed onto a replica of A@v2
    replica = str(tmp_path / "replica")
    versioned_write(read_version(spark, t, 2), replica)
    feed = read_changes(spark, t, 2, 4, ["id"])
    versioned_apply_changes(feed, replica, ["id"])
    assert _rows(read_version(spark, replica)) == _rows(read_version(spark, t, 4))


def test_table_history_metadata_only(spark, tmp_path):
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        table_history,
        versioned_delete,
        versioned_upsert,
        versioned_write_txn,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), t
    )
    versioned_write_txn(
        spark.createDataFrame([(3, "c")], "id int, v string"), t, txn_id="tx9"
    )
    versioned_upsert(
        spark.createDataFrame([(2, "B")], "id int, v string"), t, ["id"]
    )
    versioned_delete(spark, t, "id = 1", prune_col="id", lo=1, hi=1)
    h = {r["version"]: r for r in table_history(spark, t).collect()}
    assert [h[v]["mode"] for v in (1, 2, 3, 4)] == [
        "append", "append", "upsert", "delete"
    ]
    assert [h[v]["row_count"] for v in (1, 2, 3, 4)] == [2, 3, 3, 2]
    assert h[2]["txn_id"] == "tx9" and h[1]["txn_id"] is None
    assert all(h[v]["total_bytes"] > 0 for v in (1, 2, 3, 4))
    assert all(h[v]["committed_at"] is not None for v in (1, 2, 3, 4))
    assert h[1]["n_files"] >= 1


def test_stream_versioned_sink_partitioned_landing(spark, tmp_path):
    """partition_by on the streaming sink: the first batch lays the
    landing table out Hive-style; later batches inherit the spec from
    the manifest; reads recover typed partition columns."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _read_manifest as rm,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version, versions
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_versioned_sink

    src = tmp_path / "psrc"
    spark.createDataFrame(
        [(1, "d1", 1.0), (2, "d2", 2.0)], "id int, day string, x double"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(3, "d1", 3.0)], "id int, day string, x double"
    ).coalesce(1).write.parquet(str(src / "f2"))
    t = str(tmp_path / "ptbl")
    stream = (
        spark.readStream.schema("id int, day string, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = stream_versioned_sink(
        stream, t, str(tmp_path / "pckpt"), partition_by=["day"]
    )
    q.awaitTermination()
    assert versions(t) == [1, 2]
    m = rm(t, 2)
    assert m["partition_by"] == ["day"]
    assert all("day=" in f for f in m["files"])
    got = sorted(
        (r["id"], r["day"], r["x"]) for r in read_version(spark, t).collect()
    )
    assert got == [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d1", 3.0)]


def test_compact_zorder_tightens_zone_maps_on_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER: a table written in key-shuffled order has every
    file spanning the whole (x, y) range — zone maps prune nothing.
    Compacting with zorder_cols re-clusters on the Morton curve, after
    which a range read on EITHER column opens a strict subset of files,
    with identical rows."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        read_version_pruned,
    )

    t = str(tmp_path / "ztbl")
    rows = [(x, y, x * 32 + y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    # hash-shuffle so each of the 4 initial files spans the full range
    versioned_write(df.repartition(4, "payload"), t)
    before_x = read_version_pruned(spark, t, "x", lo=0, hi=7)
    assert len(before_x.inputFiles()) == 4  # nothing prunes
    v = compact(spark, t, target_files=4, zorder_cols=["x", "y"])
    m = _read_manifest(t, v)
    assert len(m["files"]) == 4 and m["row_count"] == 1024
    after_x = read_version_pruned(spark, t, "x", lo=0, hi=7)
    after_y = read_version_pruned(spark, t, "y", lo=0, hi=7)
    assert len(after_x.inputFiles()) < 4
    assert len(after_y.inputFiles()) < 4
    assert sorted(r["payload"] for r in after_x.collect()) == sorted(
        p for x, y, p in rows if x <= 7
    )
    assert sorted(r["payload"] for r in after_y.collect()) == sorted(
        p for x, y, p in rows if y <= 7
    )


def test_check_constraints_gate_every_commit(spark, tmp_path):
    """Delta-style CHECK constraints: adding one validates existing
    data; every subsequent write path (append, upsert) re-validates its
    rows and refuses the commit on the first offender; NULL evaluates
    as satisfied (SQL CHECK); drop lifts the gate; the constraint set
    rides the manifest like the partition spec."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        CheckConstraintViolation,
        add_check_constraint,
        drop_check_constraint,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, 5.0), (2, None)], "id int, amount double"
        ),
        t,
    )
    v2 = add_check_constraint(spark, t, "amount_nonneg", "amount >= 0")
    assert v2 == 2 and _read_manifest(t, 2)["mode"] == "add-constraint:amount_nonneg"
    # adding a constraint existing data violates is refused
    with pytest.raises(CheckConstraintViolation, match="existing data"):
        add_check_constraint(spark, t, "impossible", "amount > 100")
    # a clean append passes (NULL amount satisfies CHECK)
    versioned_write(
        spark.createDataFrame([(3, 7.0), (4, None)], "id int, amount double"), t
    )
    # an offending append is refused BEFORE any commit
    with pytest.raises(CheckConstraintViolation, match="amount_nonneg"):
        versioned_write(
            spark.createDataFrame([(5, -1.0)], "id int, amount double"), t
        )
    assert versions(t) == [1, 2, 3]
    # the copy-on-write paths are gated too
    with pytest.raises(CheckConstraintViolation, match="amount_nonneg"):
        versioned_upsert(
            spark.createDataFrame([(1, -9.0)], "id int, amount double"),
            t,
            ["id"],
        )
    assert versions(t) == [1, 2, 3]
    # drop lifts the gate
    v4 = drop_check_constraint(t, "amount_nonneg")
    assert v4 == 4
    versioned_write(
        spark.createDataFrame([(5, -1.0)], "id int, amount double"), t
    )
    assert {r["id"] for r in read_version(spark, t).collect()} == {1, 2, 3, 4, 5}


def test_dv_delete_writes_no_data_files_and_matches_cow(spark, tmp_path):
    """Merge-on-read DELETE: the commit carries EVERY data file verbatim
    and records only a (file, pos) vector; the visible row set equals
    the copy-on-write result exactly."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_delete

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        _write_ranged(spark, t, lo)
    m_before = _read_manifest(t, 3)
    v = versioned_delete(
        spark, t, "id BETWEEN 103 AND 106", prune_col="id", lo=103, hi=106,
        strategy="dv",
    )
    assert v == 4
    m_after = _read_manifest(t, 4)
    # zero rewrite amplification: identical data-file list, stats/meta verbatim
    assert m_after["files"] == m_before["files"]
    assert m_after["file_stats"] == m_before["file_stats"]
    assert m_after["dv_files"] and sum(m_after["dv_counts"].values()) == 4
    assert m_after["row_count"] == 26
    ids = [i for i, _ in _rows(read_version(spark, t))]
    assert len(ids) == 26 and not any(103 <= i <= 106 for i in ids)
    # time travel: pre-delete snapshot still sees the rows
    assert len(_rows(read_version(spark, t, 3))) == 30
    # NULL-predicate rows are kept, same SQL semantics as cow
    v2 = versioned_delete(spark, t, "CAST(NULL AS BOOLEAN)", strategy="dv")
    assert _read_manifest(t, v2)["row_count"] == 26


def test_dv_deletes_stack_and_never_double_count(spark, tmp_path):
    """A second DV delete scans with the first vector already applied,
    so re-matching predicates cannot double-record a position."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_delete

    t = str(tmp_path / "tbl")
    _write_ranged(spark, t, 0)
    versioned_delete(spark, t, "id < 3", strategy="dv")
    v = versioned_delete(spark, t, "id < 5", strategy="dv")
    m = _read_manifest(t, v)
    assert m["row_count"] == 5
    assert sum(m["dv_counts"].values()) == 5
    assert sorted(i for i, _ in _rows(read_version(spark, t))) == [5, 6, 7, 8, 9]


def test_dv_carries_through_append_upsert_and_materializes_on_compact(
    spark, tmp_path
):
    """Vectors ride the manifest across appends; a copy-on-write upsert
    rewrite applies them to the files it touches and keeps them for
    carried files; compact() materializes and clears the whole set."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 100):
        _write_ranged(spark, t, lo)
    versioned_delete(spark, t, "id IN (2, 102)", strategy="dv")
    # append: dv survives, new rows land
    _write_ranged(spark, t, 200, mode="append")
    assert _read_manifest(t, 4)["row_count"] == 28
    got = sorted(i for i, _ in _rows(read_version(spark, t)))
    assert 2 not in got and 102 not in got and len(got) == 28
    # upsert confined to the low file: rewrites it (dv for id=2 goes dead),
    # carries the 100-file verbatim WITH its dv entry for id=102
    up = spark.createDataFrame([(3, "NEW")], "id int, v string")
    versioned_upsert(up, t, ["id"])
    m = _read_manifest(t, 5)
    assert sum(m["dv_counts"].values()) == 1  # only the carried file's entry
    assert m["row_count"] == 28
    rows = dict(_rows(read_version(spark, t)))
    assert rows[3] == "NEW" and 2 not in rows and 102 not in rows
    # compact: materializes outstanding vectors, dv fields cleared
    compact(spark, t, target_files=2)
    m6 = _read_manifest(t, 6)
    assert "dv_files" not in m6 and "dv_counts" not in m6
    assert m6["row_count"] == 28
    assert sorted(i for i, _ in _rows(read_version(spark, t))) == got


def test_dv_covers_prunes_dead_vectors_on_carry(spark, tmp_path):
    """DV commits record which data files each vector parquet covers
    (``dv_covers``); a later rewrite that drops every file a vector
    covered must stop carrying that vector — manifests and DV-applying
    reads would otherwise haul dead (file, pos) parquet forever (r12
    ADVICE).  Vectors still covering a carried file survive, coverage
    pruned to the survivors."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 100):
        _write_ranged(spark, t, lo)
    # two separate DV commits -> two vector sets with disjoint coverage
    versioned_delete(spark, t, "id = 2", strategy="dv")  # covers low file
    versioned_delete(spark, t, "id = 102", strategy="dv")  # covers high
    m = _read_manifest(t, 4)
    covers = m["dv_covers"]
    assert set(covers) == set(m["dv_files"])
    covered = sorted(f for fs in covers.values() for f in fs)
    assert covered == sorted(m["dv_counts"]), (
        "coverage lists must enumerate exactly the DV'd data files"
    )
    low = [f for f in m["files"] if f in m["dv_counts"]]
    dv_low = {d for d, fs in covers.items() if set(fs) & {low[0]}}
    # rewrite the LOW file (upsert confined by zone maps): its vector's
    # coverage goes entirely dead -> that vector must drop; the HIGH
    # file's vector carries with coverage intact
    up = spark.createDataFrame([(3, "NEW")], "id int, v string")
    versioned_upsert(up, t, ["id"])
    m5 = _read_manifest(t, 5)
    assert not (set(m5["dv_files"]) & dv_low), (
        "a vector covering only rewritten files must not carry"
    )
    assert set(m5["dv_covers"]) == set(m5["dv_files"])
    assert sum(m5["dv_counts"].values()) == 1
    rows = dict(_rows(read_version(spark, t)))
    assert rows[3] == "NEW" and 2 not in rows and 102 not in rows
    # rewrite the HIGH file too: the last vector drops; no dv keys left
    up2 = spark.createDataFrame([(103, "NEW2")], "id int, v string")
    versioned_upsert(up2, t, ["id"])
    m6 = _read_manifest(t, 6)
    assert "dv_files" not in m6 and "dv_covers" not in m6
    got = dict(_rows(read_version(spark, t)))
    assert got[103] == "NEW2" and 2 not in got and 102 not in got


def test_dv_partitioned_and_cdf_see_vector_deletes(spark, tmp_path):
    """DV delete on a partitioned table confines the scan by partition
    zone maps; read_changes reports the DV-deleted rows as D rows."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_changes,
        versioned_delete,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d2")],
        "id int, v string, day string",
    )
    versioned_write(df, t, partition_by=["day"])
    v = versioned_delete(
        spark, t, "id = 3", prune_col="day", lo="d2", hi="d2", strategy="dv"
    )
    m = _read_manifest(t, v)
    assert sum(m["dv_counts"].values()) == 1 and m["row_count"] == 3
    assert sorted(r["id"] for r in read_version(spark, t).collect()) == [1, 2, 4]
    ch = read_changes(spark, t, 1, v, ["id"]).collect()
    assert [(r["op"], r["id"]) for r in ch] == [("D", 3)]


def test_dv_vacuum_keeps_live_vectors_drops_dead_ones(spark, tmp_path):
    """vacuum treats _deletes/ like data/: vectors referenced by a
    retained manifest survive, unreferenced ones go."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        versioned_delete,
    )
    from pathlib import Path

    t = str(tmp_path / "tbl")
    _write_ranged(spark, t, 0)
    versioned_delete(spark, t, "id < 2", strategy="dv")
    live_dv = _read_manifest(t, 2)["dv_files"]
    vacuum(t, keep_last=1)
    for f in live_dv:
        assert (Path(t) / f).exists()
    assert sorted(i for i, _ in _rows(read_version(spark, t))) == list(range(2, 10))
    # materialize, then vacuum: the vector files are unreferenced → gone
    compact(spark, t, target_files=1)
    deleted = vacuum(t, keep_last=1)
    assert any(f.startswith("_deletes/") for f in deleted)
    for f in live_dv:
        assert not (Path(t) / f).exists()
    assert sorted(i for i, _ in _rows(read_version(spark, t))) == list(range(2, 10))


def test_bucket_layout_write_read_and_hidden_column(spark, tmp_path):
    """bucket_by lays files out under __bucket=k Hive dirs, commits the
    spec plus exact per-file [b, b] zone entries, inherits on append,
    and never leaks the internal column to readers."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id int, v string"
    )
    versioned_write(df, t, bucket_by=("id", 4))
    m = _read_manifest(t, 1)
    assert m["bucket_by"] == ["id", 4]
    assert m["partition_by"] == ["__bucket"]
    zones = [m["file_stats"][f]["__bucket"] for f in m["files"]]
    assert all(lo == hi and 0 <= lo < 4 for lo, hi in zones)
    assert len({lo for lo, _ in zones}) >= 2  # keys actually spread
    out = read_version(spark, t)
    assert out.columns == ["id", "v"]
    assert _rows(out) == [(i, f"v{i}") for i in range(40)]
    # append with NO spec inherits bucketing; a different spec is refused
    versioned_write(
        spark.createDataFrame([(100, "x")], "id int, v string"), t
    )
    m2 = _read_manifest(t, 2)
    assert m2["bucket_by"] == ["id", 4]
    assert len(_rows(read_version(spark, t))) == 41
    with pytest.raises(ValueError, match="bucket spec"):
        versioned_write(
            spark.createDataFrame([(7, "y")], "id int, v string"),
            t,
            bucket_by=("id", 8),
        )


def test_bucket_confines_upsert_when_ranges_cannot(spark, tmp_path):
    """The workload bucket layouts exist for: hash-spread keys make every
    file's [min, max] id range overlap a point change, so zone maps
    alone prune nothing — bucket confinement still carries every
    other-bucket file verbatim."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _bucket_expr,
        _candidate_split,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(80)], "id int, v string"
    )
    versioned_write(df.coalesce(1), t, bucket_by=("id", 8))
    m1 = _read_manifest(t, 1)
    # range pruning alone keeps several files for the point [7, 7]
    # (hash-spread keys give wide per-file id ranges); bucket
    # confinement must cut that to id=7's single bucket
    range_only, _ = _candidate_split(m1, "id", 7, 7)
    assert len(range_only) > 1
    b7 = (
        spark.createDataFrame([(7,)], "id int")
        .select(_bucket_expr("id", 8).alias("b"))
        .first()["b"]
    )
    versioned_upsert(
        spark.createDataFrame([(7, "NEW")], "id int, v string"), t, ["id"]
    )
    m2 = _read_manifest(t, 2)
    for f in m1["files"]:
        fb = m1["file_stats"][f]["__bucket"][0]
        if fb != b7:
            assert f in m2["files"], "other-bucket file must carry verbatim"
        else:
            assert f not in m2["files"], "touched-bucket file must rewrite"
    rows = dict(_rows(read_version(spark, t)))
    assert rows[7] == "NEW" and len(rows) == 80 and rows[8] == "v8"


def test_bucket_confines_apply_changes_when_ranges_cannot(spark, tmp_path):
    """versioned_apply_changes (keyed, no by-source clause) routes
    through the same bucket confinement as versioned_upsert: a keyed
    I/U/D batch on a bucketed table rewrites ONLY the touched buckets'
    files — the other-bucket candidates never enter the merge join's
    shuffle, they carry verbatim (guide §2.4/§3: the prune that works
    when hash-spread keys defeat min/max ranges)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _bucket_expr,
        _candidate_split,
        versioned_apply_changes,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(80)], "id int, v string"
    )
    versioned_write(df.coalesce(1), t, bucket_by=("id", 8))
    m1 = _read_manifest(t, 1)
    range_only, _ = _candidate_split(m1, "id", 7, 7)
    assert len(range_only) > 1  # zone maps alone cannot confine this
    b7 = (
        spark.createDataFrame([(7,)], "id int")
        .select(_bucket_expr("id", 8).alias("b"))
        .first()["b"]
    )
    versioned_apply_changes(
        spark.createDataFrame([(7, "NEW", "U")], "id int, v string, op string"),
        t,
        ["id"],
    )
    m2 = _read_manifest(t, 2)
    for f in m1["files"]:
        fb = m1["file_stats"][f]["__bucket"][0]
        if fb != b7:
            assert f in m2["files"], "other-bucket file must carry verbatim"
        else:
            assert f not in m2["files"], "touched-bucket file must rewrite"
    rows = dict(_rows(read_version(spark, t)))
    assert rows[7] == "NEW" and len(rows) == 80 and rows[8] == "v8"


def test_bucket_keyed_read_opens_only_touched_buckets(spark, tmp_path):
    """read_version_keyed returns exactly filter(col IN values) while
    opening only files whose bucket matches a requested value's."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _bucket_expr,
        read_version_keyed,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(80)], "id int, v string"
    )
    versioned_write(df.coalesce(1), t, bucket_by=("id", 8))
    m = _read_manifest(t, 1)
    got = read_version_keyed(spark, t, [3, 11])
    assert _rows(got) == [(3, "v3"), (11, "v11")]
    touched = {
        r["b"]
        for r in spark.createDataFrame([(3,), (11,)], "id int")
        .select(_bucket_expr("id", 8).alias("b"))
        .collect()
    }
    bucket_of = {f: m["file_stats"][f]["__bucket"][0] for f in m["files"]}
    opened = {
        f for f in m["files"]
        if any(u.endswith(f) for u in got.inputFiles())
    }
    assert opened and all(bucket_of[f] in touched for f in opened)
    # contract errors + degenerate input
    assert read_version_keyed(spark, t, []).count() == 0
    t2 = str(tmp_path / "plain")
    versioned_write(df, t2)
    with pytest.raises(ValueError, match="bucket_by"):
        read_version_keyed(spark, t2, [3])


def test_bucket_survives_delete_compact_and_apply_changes(spark, tmp_path):
    """Every copy-on-write verb re-attaches the layout: cow delete,
    CDC apply and compact all keep bucket_by + the __bucket dirs, and
    keyed reads stay exact afterwards."""
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        read_version_keyed,
        versioned_apply_changes,
        versioned_delete,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id int, v string"
    )
    versioned_write(df, t, bucket_by=("id", 4))
    versioned_delete(spark, t, "id >= 38", prune_col="id", lo=38)
    ch = spark.createDataFrame(
        [(0, "Z", "U"), (100, "NEW", "I"), (1, None, "D")],
        "id int, v string, op string",
    )
    versioned_apply_changes(ch, t, ["id"])
    compact(spark, t, target_files=2)
    m = _read_manifest(t, 4)
    assert m["bucket_by"] == ["id", 4]
    assert all("__bucket=" in f for f in m["files"])
    rows = dict(_rows(read_version(spark, t)))
    assert rows[0] == "Z" and rows[100] == "NEW"
    assert 1 not in rows and 38 not in rows and len(rows) == 38
    assert _rows(read_version_keyed(spark, t, [100, 2])) == [
        (2, "v2"),
        (100, "NEW"),
    ]
    # physical layout on disk is Hive bucket dirs
    assert any("__bucket=" in str(p) for p in Path(t).rglob("*.parquet"))


def test_bucket_composes_with_partition_by(spark, tmp_path):
    """User partition columns and the hash-bucket transform stack: the
    layout is day=*/__bucket=*, both join the zone maps, readers see
    the day column but never __bucket."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_pruned

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 2}") for i in range(20)],
        "id int, v string, day string",
    )
    versioned_write(df, t, partition_by=["day"], bucket_by=("id", 4))
    m = _read_manifest(t, 1)
    assert m["partition_by"] == ["day", "__bucket"]
    assert all("day=" in f and "__bucket=" in f for f in m["files"])
    out = read_version(spark, t)
    assert sorted(out.columns) == ["day", "id", "v"]
    assert len(_rows(out)) == 20
    pruned = read_version_pruned(spark, t, "day", lo="d1", hi="d1")
    assert all(r["day"] == "d1" for r in pruned.collect())
    assert len(pruned.collect()) == 10


def test_bloom_index_commit_and_point_lookup(spark, tmp_path):
    """bloom_by commits one hex bitmask per (file, column); point
    lookups open only bloom-passing files and equal the full filter
    read; the spec inherits on append; partition/bucket columns are
    refused (zone maps already prune those exactly)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_bloom

    t = str(tmp_path / "tbl")
    mk = lambda lo, tag: spark.createDataFrame(
        [(lo + i, f"{tag}{i}") for i in range(10)], "id int, v string"
    ).coalesce(1)
    versioned_write(mk(0, "a"), t, bloom_by=["v"])
    versioned_write(mk(10, "b"), t)  # spec inherited
    versioned_write(mk(20, "c"), t)
    m = _read_manifest(t, 3)
    assert m["bloom_by"]["cols"] == ["v"] and len(m["files"]) == 3
    # the manifest carries O(40 B) sidecar REFS, never inline masks;
    # the lazy loader resolves each file's {col: mask} dict
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _bloom_masks_for

    assert all(isinstance(m["bloom"][f], str) for f in m["files"])
    assert all("v" in _bloom_masks_for(t, m, f) for f in m["files"])
    got = read_version_bloom(spark, t, "v", ["b3", "b7"])
    assert _rows(got) == [(13, "b3"), (17, "b7")]
    # only the b-file opened: every opened file's mask contains b3's bits
    opened = {
        f for f in m["files"] if any(u.endswith(f) for u in got.inputFiles())
    }
    assert len(opened) == 1
    # negative probe: no rows, (almost surely) no files
    miss = read_version_bloom(spark, t, "v", ["zzz"])
    assert miss.count() == 0 and len(miss.inputFiles()) <= 1
    # exactness on a cross-file probe
    both = read_version_bloom(spark, t, "v", ["a1", "c9", "nope"])
    assert _rows(both) == _rows(
        read_version(spark, t).filter("v IN ('a1', 'c9', 'nope')")
    )
    with pytest.raises(ValueError, match="no bloom index"):
        read_version_bloom(spark, t, "id", [1])
    t2 = str(tmp_path / "part")
    with pytest.raises(ValueError, match="partition/bucket"):
        versioned_write(
            spark.createDataFrame([(1, "a", "d1")], "id int, v string, day string"),
            t2,
            partition_by=["day"],
            bloom_by=["day"],
        )


def test_bloom_masks_carry_and_refresh_through_upsert(spark, tmp_path):
    """Copy-on-write rewrite: carried files keep committed masks
    verbatim, rewritten files get freshly built ones — lookups stay
    exact across the mutation; files lacking the column (pre-evolution
    appends) are conservatively kept."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version_bloom,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, tag: spark.createDataFrame(
        [(lo + i, f"{tag}{i}") for i in range(10)], "id int, v string"
    ).coalesce(1)
    versioned_write(mk(0, "a"), t, bloom_by=["v"])
    versioned_write(mk(100, "b"), t)
    m1 = _read_manifest(t, 2)
    versioned_upsert(
        spark.createDataFrame([(3, "XX")], "id int, v string"), t, ["id"]
    )
    m2 = _read_manifest(t, 3)
    carried = [f for f in m2["files"] if f in m1["files"]]
    fresh = [f for f in m2["files"] if f not in m1["files"]]
    assert carried and fresh
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _bloom_masks_for

    for f in carried:
        assert m2["bloom"][f] == m1["bloom"][f]  # ref carried verbatim
        assert _bloom_masks_for(t, m2, f) == _bloom_masks_for(t, m1, f)
    assert all("v" in _bloom_masks_for(t, m2, f) for f in fresh)
    assert _rows(read_version_bloom(spark, t, "v", ["XX"])) == [(3, "XX")]
    assert _rows(read_version_bloom(spark, t, "v", ["a3"])) == []
    assert _rows(read_version_bloom(spark, t, "v", ["b5"])) == [(105, "b5")]


def test_shallow_clone_zero_copy_and_independent_mutation(spark, tmp_path):
    """clone_table commits metadata only (no data files under the
    clone), reads the source's files in place, and diverges
    independently: upserts rewrite locally while untouched files keep
    their source base; the source never changes."""
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import clone_table, versioned_upsert

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    for lo in (0, 100):
        _write_ranged(spark, src, lo)
    assert clone_table(src, dst) == 1
    # zero copy: not a single parquet under the clone's root
    assert not list(Path(dst).rglob("*.parquet"))
    assert _rows(read_version(spark, dst)) == _rows(read_version(spark, src))
    m1 = _read_manifest(dst, 1)
    assert set(m1["file_base"]) == set(m1["files"])
    # mutate the clone: the touched file materializes locally,
    # the carried file keeps its source base
    versioned_upsert(
        spark.createDataFrame([(5, "NEW")], "id int, v string"), dst, ["id"]
    )
    m2 = _read_manifest(dst, 2)
    local = [f for f in m2["files"] if f not in (m2.get("file_base") or {})]
    assert local and (Path(dst) / local[0]).exists()
    assert any(f in (m2.get("file_base") or {}) for f in m2["files"])
    rows = dict(_rows(read_version(spark, dst)))
    assert rows[5] == "NEW" and rows[105] == "v105" and len(rows) == 20
    # the source saw nothing
    assert dict(_rows(read_version(spark, src)))[5] == "v5"
    # source appends after the clone don't leak into the clone
    _write_ranged(spark, src, 200)
    assert len(_rows(read_version(spark, dst))) == 20
    # clone into a non-empty table is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already has commits"):
        clone_table(src, dst)


def test_clone_preserves_layout_dv_and_materializes_on_compact(
    spark, tmp_path
):
    """A clone of a bucketed+bloomed table keeps every pruning tier and
    the source's delete vectors; its own DV deletes stay local; compact
    divorces it from the source entirely."""
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        clone_table,
        compact,
        read_version_bloom,
        read_version_keyed,
        versioned_delete,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(40)], "id int, v string"
    )
    versioned_write(df, src, bucket_by=("id", 4), bloom_by=["v"])
    versioned_delete(spark, src, "id = 7", strategy="dv")
    clone_table(src, dst)
    got = sorted(i for i, _ in _rows(read_version(spark, dst)))
    assert 7 not in got and len(got) == 39  # source DV applies on clone
    assert _rows(read_version_keyed(spark, dst, [3, 11])) == [
        (3, "v3"),
        (11, "v11"),
    ]
    assert _rows(read_version_bloom(spark, dst, "v", ["v9"])) == [(9, "v9")]
    # clone-local DV delete: source unaffected
    versioned_delete(spark, dst, "id = 8", strategy="dv")
    assert sorted(i for i, _ in _rows(read_version(spark, dst))) == [
        i for i in range(40) if i not in (7, 8)
    ]
    assert 8 in {i for i, _ in _rows(read_version(spark, src))}
    # compact: full materialization — no file_base, no dv, rows identical
    compact(spark, dst, target_files=2)
    m = _read_manifest(dst, 3)
    assert "file_base" not in m and "dv_files" not in m
    assert all((Path(dst) / f).exists() for f in m["files"])
    assert sorted(i for i, _ in _rows(read_version(spark, dst))) == [
        i for i in range(40) if i not in (7, 8)
    ]


def test_tags_protect_snapshots_from_vacuum(spark, tmp_path):
    """create_tag pins a version against vacuum (manifest AND files);
    delete_tag releases it; tags are write-once."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_tag,
        delete_tag,
        list_tags,
        read_tag,
    )

    t = str(tmp_path / "tbl")
    _write_ranged(spark, t, 0)
    versioned_write(
        spark.createDataFrame([(50, "x")], "id int, v string"),
        t,
        mode="overwrite",
    )
    versioned_write(
        spark.createDataFrame([(60, "y")], "id int, v string"),
        t,
        mode="overwrite",
    )
    assert create_tag(t, "release-1", 1) == 1
    assert list_tags(t) == {"release-1": 1}
    vacuum(t, keep_last=1)
    # v1 survives via the tag; v2 is reclaimed
    assert versions(t) == [1, 3]
    assert _rows(read_tag(spark, t, "release-1")) == [
        (i, f"v{i}") for i in range(10)
    ]
    with pytest.raises(ValueError, match="already exists"):
        create_tag(t, "release-1")
    with pytest.raises(ValueError, match="invalid tag name"):
        create_tag(t, "a/b")
    delete_tag(t, "release-1")
    vacuum(t, keep_last=1)
    assert versions(t) == [3]
    with pytest.raises(ValueError, match="no tag"):
        read_tag(spark, t, "release-1")


def test_vacuum_retain_hours_keeps_recent_versions(spark, tmp_path):
    """Delta's RETAIN N HOURS: versions committed inside the horizon
    survive an aggressive keep_last; backdating a commit clock puts it
    back in vacuum's reach."""
    import json

    t = str(tmp_path / "tbl")
    _write_ranged(spark, t, 0)
    versioned_write(
        spark.createDataFrame([(50, "x")], "id int, v string"),
        t,
        mode="overwrite",
    )
    versioned_write(
        spark.createDataFrame([(60, "y")], "id int, v string"),
        t,
        mode="overwrite",
    )
    # all three commits are seconds old: a 1-hour horizon keeps them all
    assert vacuum(t, keep_last=1, retain_hours=1.0) == []
    assert versions(t) == [1, 2, 3]
    # backdate v1 and v2 beyond the horizon: only the keep_last floor
    # and the recent window remain
    for v in (1, 2):
        m = _read_manifest(t, v)
        m["committed_at"] = m["committed_at"] - 7200.0
        (tmp_path / "tbl" / "_manifests" / f"v{v}.json").write_text(
            json.dumps(m, default=dict)  # plane values are frozen views
        )
    deleted = vacuum(t, keep_last=1, retain_hours=1.0)
    assert deleted and versions(t) == [3]
    assert _rows(read_version(spark, t)) == [(60, "y")]


def test_branches_are_writable_and_vacuum_safe(spark, tmp_path):
    """create_branch = zero-copy writable fork under _branches/; parent
    vacuum keeps every parent file a live branch still references
    (unlike an external clone), and dropping to branch-unreferenced
    state frees them."""
    import shutil
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_branch,
        list_branches,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 100):
        _write_ranged(spark, t, lo)
    b = create_branch(t, "dev")
    assert list_branches(t) == {"dev": b}
    assert _rows(read_version(spark, b)) == _rows(read_version(spark, t))
    # diverge the branch; parent unaffected
    versioned_upsert(
        spark.createDataFrame([(5, "DEV")], "id int, v string"), b, ["id"]
    )
    assert dict(_rows(read_version(spark, b)))[5] == "DEV"
    assert dict(_rows(read_version(spark, t)))[5] == "v5"
    # parent overwrite would normally free v1/v2 files at vacuum time —
    # but the branch still references the 100-file (its 0-file was
    # rewritten by the upsert), so vacuum must keep it
    versioned_write(
        spark.createDataFrame([(999, "z")], "id int, v string"),
        t,
        mode="overwrite",
    )
    vacuum(t, keep_last=1)
    assert sorted(i for i, _ in _rows(read_version(spark, b))) == sorted(
        list(range(10)) + list(range(100, 110))
    )
    # delete the branch: its references die; the next vacuum frees them
    shutil.rmtree(b)
    assert list_branches(t) == {}
    deleted = vacuum(t, keep_last=1)
    assert deleted  # the formerly branch-pinned parent files are gone
    assert _rows(read_version(spark, t)) == [(999, "z")]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="invalid branch name"):
        create_branch(t, "a/b")


# --- log-structured metadata plane: delta commits + checkpoints -------


def _raw_manifest(t, v):
    import json
    from pathlib import Path

    return json.loads((Path(t) / "_manifests" / f"v{v}.json").read_text())


def test_append_commit_bytes_independent_of_table_file_count(spark, tmp_path):
    """THE scale property of the metadata plane: committing an append
    writes O(changed files) of JSON, never O(table files) — a 1-file
    append to a 64-file table and to a 2-file table must cost about the
    same bytes.  The big table's FULL checkpoint is parquet-plane
    encoded (r13), so its v1.json is O(columns) too; the per-file bytes
    live in the content-addressed plane sidecar."""
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _plane_dir

    big, small = str(tmp_path / "big"), str(tmp_path / "small")
    wide = spark.range(0, 6400).selectExpr("CAST(id AS int) AS id", "CAST(id AS string) AS v")
    versioned_write(wide.repartition(64), big)
    versioned_write(wide.limit(200).repartition(2), small)
    one = spark.createDataFrame([(99999, "x")], "id int, v string").coalesce(1)
    versioned_write(one, big)
    versioned_write(one, small)
    b2 = (Path(big) / "_manifests" / "v2.json").stat().st_size
    s2 = (Path(small) / "_manifests" / "v2.json").stat().st_size
    b1 = (Path(big) / "_manifests" / "v1.json").stat().st_size
    raw1 = _raw_manifest(big, 1)
    assert _raw_manifest(big, 2).get("kind") == "delta"
    assert _raw_manifest(small, 2).get("kind") == "delta"
    # delta size tracks the CHANGE (1 file), not the table (64 vs 2
    # files): the two deltas are within noise of each other
    assert b2 < 1.5 * s2 + 512
    # the 64-file table's full checkpoint JSON is bounded too — its
    # per-file plane moved to the parquet sidecar
    assert raw1.get("kind") == "checkpoint" and raw1["n_files"] == 64
    assert b1 < 4096
    assert (_plane_dir(big) / raw1["plane_file"]).is_file()
    # and the resolved snapshots still read exactly
    assert read_version(spark, big).count() == 6401
    assert read_version(spark, small).count() == 201


@pytest.mark.slow
def test_checkpoint_cadence_full_at_interval(spark, tmp_path):
    """v1 and every _CHECKPOINT_INTERVAL-th version are FULL manifests
    (legacy format, no 'kind'); everything between is a delta whose
    base is the previous version — so a resolution chain is bounded by
    the interval."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _CHECKPOINT_INTERVAL

    t = str(tmp_path / "tbl")
    n = 2 * _CHECKPOINT_INTERVAL + 1
    for lo in range(0, n * 10, 10):
        _write_ranged(spark, t, lo, n=2)
    for v in versions(t):
        raw = _raw_manifest(t, v)
        if v == 1 or v % _CHECKPOINT_INTERVAL == 0:
            assert "kind" not in raw, f"v{v} should be a full checkpoint"
        else:
            assert raw.get("kind") == "delta" and raw["base"] == v - 1
    # every version still resolves and reads exactly
    assert read_version(spark, t, 1).count() == 2
    assert read_version(spark, t, n).count() == 2 * n


def test_delta_resolution_equals_all_full_manifests(spark, tmp_path):
    """Ground truth: rewrite every manifest of a cloned table dir as
    its RESOLVED full form (the pre-delta legacy format), then compare
    _read_manifest version by version — byte-identical logical state
    proves delta encode/resolve loses nothing.  Covers appends, a
    copy-on-write upsert, a DV delete and a metadata-only constraint
    commit."""
    import json
    import shutil
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _RESOLVE_CACHE,
        add_check_constraint,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        _write_ranged(spark, t, lo)
    versioned_upsert(
        spark.createDataFrame([(5, "UP"), (100, "NEW")], "id int, v string"),
        t,
        ["id"],
    )
    versioned_delete(spark, t, "id BETWEEN 20 AND 22", strategy="dv")
    add_check_constraint(spark, t, "id_nonneg", "id >= 0")
    legacy = str(tmp_path / "legacy")
    shutil.copytree(t, legacy)
    for v in versions(legacy):
        full = _read_manifest(t, v)  # resolved through the delta chain
        (Path(legacy) / "_manifests" / f"v{v}.json").write_text(
            json.dumps(full, default=dict)
        )
    _RESOLVE_CACHE.clear()
    for v in versions(t):
        a, b = _read_manifest(t, v), _read_manifest(legacy, v)
        assert a == b, f"v{v} resolution differs from all-full form"
    # the legacy (all-full) table is a first-class table: reads match
    # and a NEW commit on top of a full manifest delta-encodes cleanly
    assert _rows(read_version(spark, legacy)) == _rows(read_version(spark, t))
    _write_ranged(spark, legacy, 500)
    assert _raw_manifest(legacy, versions(legacy)[-1]).get("kind") == "delta"
    assert dict(_rows(read_version(spark, legacy)))[500] == "v500"


def test_dv_delete_commits_as_delta_with_plane_entries(spark, tmp_path):
    """A merge-on-read DV delete changes NO data files — its commit
    must be a tiny delta whose 'entries' carry the per-file dv_counts,
    and the resolved snapshot must apply the vectors exactly."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_delete

    t = str(tmp_path / "tbl")
    _write_ranged(spark, t, 0, n=10)
    versioned_delete(spark, t, "id < 3", strategy="dv")
    raw = _raw_manifest(t, 2)
    assert raw.get("kind") == "delta"
    assert raw["remove"] == [] and raw["append"] == []
    assert any("dv_counts" in e for e in raw["entries"].values())
    m = _read_manifest(t, 2)
    assert sum((m.get("dv_counts") or {}).values()) == 3
    assert _rows(read_version(spark, t)) == [(i, f"v{i}") for i in range(3, 10)]


@pytest.mark.slow
def test_vacuum_reanchors_kept_delta_and_invalidates_cache(spark, tmp_path):
    """Vacuum dropping a delta's base rewrites the kept delta as its
    resolved FULL form (re-anchoring) BEFORE deleting anything, drops
    the version's resolve-cache entries, and later kept deltas keep
    chaining; reads and time travel stay exact."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _RESOLVE_CACHE

    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20, 30, 40):
        _write_ranged(spark, t, lo)
    assert _raw_manifest(t, 4).get("kind") == "delta"
    _read_manifest(t, 4)  # populate the resolve cache
    root = str(__import__("pathlib").Path(t).resolve())
    old_keys = [k for k in _RESOLVE_CACHE if k[0] == root and k[1] == 4]
    assert old_keys
    vacuum(t, keep_last=2)
    assert versions(t) == [4, 5]
    # v4 re-anchored to full; v5 still a delta on v4
    assert "kind" not in _raw_manifest(t, 4)
    assert _raw_manifest(t, 5).get("kind") == "delta"
    # the rewrite explicitly dropped the stale cached resolutions —
    # even a same-size rewrite inside mtime granularity can't serve
    # stale state in-process
    assert all(k not in _RESOLVE_CACHE for k in old_keys)
    assert read_version(spark, t, 4).count() == 40
    assert read_version(spark, t, 5).count() == 50
    # post-vacuum commits keep delta-encoding against the re-anchor
    _write_ranged(spark, t, 50)
    assert _raw_manifest(t, 6).get("kind") == "delta"
    assert read_version(spark, t).count() == 60


@pytest.mark.slow
def test_vacuum_reanchor_preserves_branch_reads(spark, tmp_path):
    """Re-anchoring interacts safely with branches: a branch cloned at
    an early parent version keeps reading after the parent vacuums past
    that version (branch file-pinning + parent re-anchoring are
    independent planes)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import create_branch

    t = str(tmp_path / "tbl")
    for lo in (0, 10, 20):
        _write_ranged(spark, t, lo)
    b = create_branch(t, "dev")
    for lo in (30, 40):
        _write_ranged(spark, t, lo)
    vacuum(t, keep_last=2)
    assert versions(t) == [4, 5]
    assert "kind" not in _raw_manifest(t, 4)  # re-anchored
    assert read_version(spark, b).count() == 30  # branch pinned at v3
    assert read_version(spark, t).count() == 50


def test_read_version_keyed_ignores_null_probe_values(spark, tmp_path):
    """NULL in the probe list: IN never matches NULL, so NULLs are
    filtered before hashing/min-max (previously min/max over a
    NULL-containing list raised TypeError)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_keyed

    t = str(tmp_path / "tbl")
    _write_ranged(spark, t, 0, bucket_by=("id", 4))
    got = read_version_keyed(spark, t, [None, 3, None, 7])
    assert sorted(r["id"] for r in got.collect()) == [3, 7]
    assert read_version_keyed(spark, t, [None]).count() == 0


def test_versioned_apply_changes_conditional_clauses(spark, tmp_path):
    """Conditional MERGE against a versioned table: clause predicates
    gate updates/deletes/inserts through the same confined commit path;
    the empty-table first commit routes inserts through
    not_matched_condition too."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_apply_changes

    t = str(tmp_path / "tbl")
    # first commit on an empty table: only rows passing the insert gate
    seed = spark.createDataFrame(
        [(1, "a", 10, "I"), (2, "b", 200, "I"), (3, "c", 30, "I")],
        "id int, v string, n int, op string",
    )
    versioned_apply_changes(
        seed, t, ["id"], not_matched_condition="s_n < 100"
    )
    assert sorted(r.id for r in read_version(spark, t).collect()) == [1, 3]
    # conditional clauses on an existing table (one op per key — no seq)
    batch = spark.createDataFrame(
        [
            (1, "A", 99, "U"),
            (3, "C", 5, "U"),
            (4, "d", 40, "I"),
            (5, "e", 500, "I"),
        ],
        "id int, v string, n int, op string",
    )
    versioned_apply_changes(
        batch,
        t,
        ["id"],
        matched_condition="s_n > t_n",
        not_matched_condition="s_n < 100",
    )
    got = {r.id: (r.v, r.n) for r in read_version(spark, t).collect()}
    assert got == {1: ("A", 99), 3: ("c", 30), 4: ("d", 40)}


def test_deep_clone_exports_self_contained_snapshot(spark, tmp_path):
    """clone_table(deep=True) = snapshot EXPORT: the live file set
    (including DV parquet and files a shallow clone was still reading
    from its source) is materialized under dst at the same relative
    paths, file_base is gone, and vacuuming the source afterwards
    cannot break the export — the documented shallow-clone caveat,
    closed."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        clone_table,
        versioned_delete,
        versioned_upsert,
    )

    src = str(tmp_path / "lakeA" / "tbl")
    for lo in (0, 10):
        _write_ranged(spark, src, lo)
    versioned_delete(spark, src, "id IN (3, 4)", strategy="dv")  # DV files
    # an intermediate SHALLOW clone that still reads src in place
    mid = str(tmp_path / "lakeA" / "mid")
    clone_table(src, mid)
    versioned_upsert(
        spark.createDataFrame([(100, "MID")], "id int, v string"), mid, ["id"]
    )
    expect = _rows(read_version(spark, mid))
    # export the shallow clone into a DIFFERENT lake root
    dst = str(tmp_path / "lakeB" / "tbl")
    clone_table(mid, dst, deep=True)
    m = _read_manifest(dst, 1)
    assert "file_base" not in m and m["mode"].startswith("export:")
    assert _rows(read_version(spark, dst)) == expect
    # destroy the source lake entirely: the export still reads
    import shutil

    shutil.rmtree(str(tmp_path / "lakeA"))
    assert _rows(read_version(spark, dst)) == expect
    # and the export is a first-class table: it takes new commits
    versioned_upsert(
        spark.createDataFrame([(200, "B")], "id int, v string"), dst, ["id"]
    )
    assert dict(_rows(read_version(spark, dst)))[200] == "B"


def test_bloom_multi_column_and_composition(spark, tmp_path):
    """read_version_bloom_multi: AND-composed probes open only files
    passing EVERY column's mask — a cross-file conjunction (v in file
    A, w in file C only) opens (almost surely) nothing, and the result
    always equals the full AND filter; probe positions for all columns
    come from ONE unioned job."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version_bloom,
        read_version_bloom_multi,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, tag: spark.createDataFrame(
        [(lo + i, f"{tag}{i}", f"w{tag}{i}") for i in range(10)],
        "id int, v string, w string",
    ).coalesce(1)
    versioned_write(mk(0, "a"), t, bloom_by=["v", "w"])
    versioned_write(mk(10, "b"), t)
    versioned_write(mk(20, "c"), t)
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _bloom_masks_for

    m = _read_manifest(t, 3)
    assert all(
        set(_bloom_masks_for(t, m, f)) == {"v", "w"} for f in m["files"]
    )
    # conjunction satisfiable in exactly one file
    got = read_version_bloom_multi(spark, t, {"v": ["b3"], "w": ["wb3"]})
    assert [(r.id, r.v, r.w) for r in got.collect()] == [(13, "b3", "wb3")]
    opened = {
        f for f in m["files"] if any(u.endswith(f) for u in got.inputFiles())
    }
    assert len(opened) == 1
    # cross-file conjunction: v lives in the a-file, w in the c-file —
    # AND-composition prunes everything a single column could not
    cross = read_version_bloom_multi(spark, t, {"v": ["a1"], "w": ["wc5"]})
    assert cross.count() == 0 and len(cross.inputFiles()) == 0
    single = read_version_bloom(spark, t, "v", ["a1"])
    assert len(single.inputFiles()) == 1  # one column alone keeps a file
    # exactness vs the unpruned AND filter on a multi-value batch
    batch = read_version_bloom_multi(
        spark, t, {"v": ["a1", "c9", "nope"], "w": ["wa1", "wc9"]}
    )
    want = read_version(spark, t).filter(
        "v IN ('a1', 'c9', 'nope') AND w IN ('wa1', 'wc9')"
    )
    assert sorted(map(tuple, batch.collect())) == sorted(
        map(tuple, want.collect())
    )
    # empty-after-NULL-filter list: conjunction is empty by definition
    assert (
        read_version_bloom_multi(spark, t, {"v": ["a1"], "w": [None]}).count()
        == 0
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no bloom index"):
        read_version_bloom_multi(spark, t, {"id": [1]})


# ---------------------------------------------------------------- r10 —
# row-level UPDATE (Delta/Iceberg UPDATE t SET ... WHERE ...)


def test_update_simultaneous_assignment_and_null_predicate(spark, tmp_path):
    """SET a = b, b = a must SWAP (assignments read the pre-update row),
    NULL-predicate rows are kept unchanged, and assignments cast to the
    column's existing type so the schema never drifts."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_update

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, 10.0, 100.0), (2, 20.0, None), (3, 30.0, 300.0)],
            "id int, a double, b double",
        ),
        t,
    )
    v = versioned_update(
        spark, t, {"a": "b", "b": "a"}, "b > 50"
    )
    assert v == 2
    got = {
        r["id"]: (r["a"], r["b"])
        for r in read_version(spark, t).collect()
    }
    assert got[1] == (100.0, 10.0)  # swapped, not a=b=100
    assert got[2] == (20.0, None)  # NULL predicate -> untouched
    assert got[3] == (300.0, 30.0)
    # integer-typed column: the SET expression result casts back
    t2 = str(tmp_path / "tbl2")
    versioned_write(
        spark.createDataFrame([(1, 5), (2, 6)], "id int, n int"), t2
    )
    versioned_update(spark, t2, {"n": "n + 1"}, "id = 2")
    m = _read_manifest(t2, 2)
    assert [f["name"] for f in m["schema"]["fields"]] == ["id", "n"]
    assert {"integer"} == {
        f["type"] for f in m["schema"]["fields"] if f["name"] == "n"
    }
    assert dict(
        (r["id"], r["n"]) for r in read_version(spark, t2).collect()
    ) == {1: 5, 2: 7}


def test_update_confines_rewrite_to_pruned_files(spark, tmp_path):
    """With a prune range, proven-disjoint files are carried VERBATIM
    (same physical paths) and only may-intersect candidates rewrite —
    the versioned_delete contract applied to UPDATE."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_update

    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        _write_ranged(spark, t, lo)
    m_before = _read_manifest(t, 3)
    v = versioned_update(
        spark,
        t,
        {"v": "upper(v)"},
        "id BETWEEN 103 AND 106",
        prune_col="id",
        lo=103,
        hi=106,
    )
    assert v == 4
    got = dict(_rows(read_version(spark, t)))
    assert len(got) == 30
    assert all(got[i] == f"V{i}" for i in range(103, 107))
    assert got[102] == "v102" and got[0] == "v0" and got[209] == "v209"
    m_after = _read_manifest(t, 4)
    # exactly the middle file was rewritten; the other two carried
    assert len(set(m_before["files"]) & set(m_after["files"])) == 2
    assert len(set(m_before["files"]) - set(m_after["files"])) == 1
    # no-candidate fast path: a range outside every file is a no-op
    assert (
        versioned_update(
            spark, t, {"v": "'x'"}, "id = 999", prune_col="id", lo=999, hi=999
        )
        == 4
    )


def test_update_applies_delete_vectors_and_checks_constraints(
    spark, tmp_path
):
    """An update over a DV'd file materializes the vectors (deleted rows
    must NOT resurrect), CHECK constraints re-validate rewritten rows,
    and unknown SET columns are refused."""
    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        CheckConstraintViolation,
        add_check_constraint,
        versioned_delete,
        versioned_update,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id int, x double"
        ),
        t,
    )
    versioned_delete(spark, t, "id = 2", strategy="dv")
    versioned_update(spark, t, {"x": "x + 1"}, "id >= 1")
    got = dict(
        (r["id"], r["x"]) for r in read_version(spark, t).collect()
    )
    assert got == {1: 11.0, 3: 31.0}  # id=2 did not resurrect
    assert not _read_manifest(t, 3).get("dv_counts")  # materialized
    add_check_constraint(spark, t, "x_pos", "x > 0")
    with pytest.raises(CheckConstraintViolation):
        versioned_update(spark, t, {"x": "-x"}, "id = 1")
    with pytest.raises(ValueError, match="nope"):
        versioned_update(spark, t, {"nope": "1"}, "id = 1")
    with pytest.raises(ValueError, match="non-empty"):
        versioned_update(spark, t, {}, "id = 1")


# ---------------------------------------------------------------- r10 —
# partition-spec evolution (Iceberg: new spec for new files only)


def test_partition_evolution_mixed_layout_reads_exactly(spark, tmp_path):
    """Evolving the spec must not rewrite old files, and every reader
    reconstructs each file by its OWN layout: a column that moved
    between parquet data and the Hive path is read from wherever that
    file put it."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_update

    t = str(tmp_path / "tbl")
    rows1 = [(1, "a", "x", 1.0), (2, "b", "y", 2.0)]
    rows2 = [(3, "a", "x", 3.0), (4, "c", "z", 4.0)]
    # v1 unpartitioned, v2 partitioned by day (evolution #1)
    versioned_write(
        spark.createDataFrame(rows1, "id int, day string, cat string, x double"),
        t,
    )
    with pytest.raises(ValueError, match="evolve_partitioning"):
        versioned_write(
            spark.createDataFrame(
                rows2, "id int, day string, cat string, x double"
            ),
            t,
            partition_by=["day"],
        )
    versioned_write(
        spark.createDataFrame(rows2, "id int, day string, cat string, x double"),
        t,
        partition_by=["day"],
        evolve_partitioning=True,
    )
    m2 = _read_manifest(t, 2)
    assert m2["partition_by"] == ["day"]
    # v1's files are carried verbatim (no rewrite), v2's are Hive-laid
    m1 = _read_manifest(t, 1)
    assert set(m1["files"]) < set(m2["files"])
    assert any("day=" in f for f in m2["files"])
    got = sorted(map(tuple, read_version(spark, t).collect()))
    assert got == sorted(rows1 + rows2)
    # evolution #2: day -> cat; day moves back into the data files
    rows3 = [(5, "b", "y", 5.0)]
    versioned_write(
        spark.createDataFrame(rows3, "id int, day string, cat string, x double"),
        t,
        partition_by=["cat"],
        evolve_partitioning=True,
    )
    got = sorted(map(tuple, read_version(spark, t).collect()))
    assert got == sorted(rows1 + rows2 + rows3)
    # all three layouts still exact after a row-level op commits on top
    versioned_update(spark, t, {"x": "x + 10"}, "day = 'a'")
    got = {r["id"]: r["x"] for r in read_version(spark, t).collect()}
    assert got == {1: 11.0, 2: 2.0, 3: 13.0, 4: 4.0, 5: 5.0}


def test_partition_evolution_pruning_spans_both_layouts(spark, tmp_path):
    """Zone-map pruning on an evolved-away or evolved-in partition
    column keeps confining file opens: old files recorded [v, v] from
    their paths, new files carry footer min/max for the same column."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        read_version_pruned,
    )

    t = str(tmp_path / "tbl")
    old = [(i, "d1" if i < 5 else "d2", float(i)) for i in range(10)]
    versioned_write(
        spark.createDataFrame(old, "id int, day string, x double"),
        t,
        partition_by=["day"],
    )
    new = [(100 + i, "d3", float(i)) for i in range(4)]
    versioned_write(
        spark.createDataFrame(new, "id int, day string, x double").coalesce(1),
        t,
        partition_by=[],
        evolve_partitioning=True,
    )
    # prune on day: d1 must open only the d1 partition's files (the new
    # unpartitioned file is d3-only, footer stats exclude it)
    d1 = read_version_pruned(spark, t, "day", lo="d1", hi="d1")
    assert sorted(r["id"] for r in d1.collect()) == list(range(5))
    assert all("day=d1" in f for f in d1.inputFiles())
    d3 = read_version_pruned(spark, t, "day", lo="d3", hi="d3")
    assert sorted(r["id"] for r in d3.collect()) == [100, 101, 102, 103]
    assert len(d3.inputFiles()) == 1
    # compact materializes the CURRENT spec: one layout again, same rows
    compact(spark, t)
    m = _read_manifest(t, 3)
    assert not any("=" in f.rsplit("/", 2)[-2] for f in m["files"])
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == sorted([r[0] for r in old] + [r[0] for r in new])


# ---------------------------------------------------------------- r10 —
# type widening (Delta 4.x: byte→short→int→long, float→double)


def test_type_widening_append_reads_exactly(spark, tmp_path):
    """Widening an int column to long (and float to double) via an
    allow_type_widening append: old files keep their narrow physical
    type, the committed schema widens, and reads upcast exactly —
    including values only representable at the wide type."""
    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "a int, x float"), t
    )
    big = 10_000_000_000  # needs long
    with pytest.raises(ValueError, match="allow_type_widening"):
        versioned_write(
            spark.createDataFrame([(big, 3.5)], "a long, x double"), t
        )
    versioned_write(
        spark.createDataFrame([(big, 3.5)], "a long, x double"),
        t,
        allow_type_widening=True,
    )
    m = _read_manifest(t, 2)
    types = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    assert types == {"a": "long", "x": "double"}
    # v1's files carried verbatim, narrow physical
    assert set(_read_manifest(t, 1)["files"]) < set(m["files"])
    got = sorted(map(tuple, read_version(spark, t).collect()))
    assert got == [(1, 1.5), (2, 2.5), (big, 3.5)]
    # time travel to the pre-widening snapshot keeps its narrow schema
    assert dict(read_version(spark, t, 1).dtypes) == {
        "a": "int", "x": "float"
    }
    # NARROWER new data after widening: committed type stays wide
    versioned_write(
        spark.createDataFrame([(7, 7.5)], "a int, x float"),
        t,
        allow_type_widening=True,
    )
    m3 = _read_manifest(t, 3)
    assert {f["name"]: f["type"] for f in m3["schema"]["fields"]} == {
        "a": "long", "x": "double"
    }
    got = sorted(map(tuple, read_version(spark, t).collect()))
    assert got == [(1, 1.5), (2, 2.5), (7, 7.5), (big, 3.5)]


def test_type_widening_refusals_and_hash_layout_guard(spark, tmp_path):
    """Incompatible pairs refuse even with the flag; widening a column
    that backs a bloom index or hash buckets refuses (committed masks
    hash the narrow type — a widened probe would silently miss files)."""
    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, "a")], "a int, v string"), t
    )
    with pytest.raises(ValueError, match="not widening-compatible"):
        versioned_write(
            spark.createDataFrame([("x", "b")], "a string, v string"),
            t,
            allow_type_widening=True,
        )
    tb = str(tmp_path / "tbl_bloom")
    versioned_write(
        spark.createDataFrame([(1, 10)], "a int, k int"),
        tb,
        bloom_by=["k"],
    )
    with pytest.raises(ValueError, match="hash-indexed"):
        versioned_write(
            spark.createDataFrame([(2, 20_000_000_000)], "a int, k long"),
            tb,
            allow_type_widening=True,
        )
    tk = str(tmp_path / "tbl_bucket")
    versioned_write(
        spark.createDataFrame([(1, 10)], "a int, k int"),
        tk,
        bucket_by=("k", 4),
    )
    with pytest.raises(ValueError, match="hash-indexed"):
        versioned_write(
            spark.createDataFrame([(2, 20_000_000_000)], "a int, k long"),
            tk,
            allow_type_widening=True,
        )
    # a NON-hashed column of the same tables still widens fine
    versioned_write(
        spark.createDataFrame([(30_000_000_000, 30)], "a long, k int"),
        tb,
        allow_type_widening=True,
    )
    got = sorted(map(tuple, read_version(spark, tb).collect()))
    assert got == [(1, 10), (30_000_000_000, 30)]


def test_narrow_arrival_on_hashed_columns_upcasts_before_hashing(
    spark, tmp_path
):
    """The dual of the hash-layout widening guard: INT data appended to
    a committed-LONG bloom/bucket column (legal under type widening —
    the committed type does not change) must be UPCAST before masks /
    bucket ids are computed, because Spark's murmur3 hashes int and
    long of the same value differently — unfixed, readers probing with
    the committed wide type silently DROP the new files' rows (false
    negatives, not errors)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version_bloom,
        read_version_keyed,
    )

    tb = str(tmp_path / "tbl_bloom")
    versioned_write(
        spark.createDataFrame([(1, 10)], "a int, k long"),
        tb,
        bloom_by=["k"],
    )
    versioned_write(
        spark.createDataFrame([(2, 20), (3, 30)], "a int, k int"),
        tb,
        allow_type_widening=True,
    )
    # committed type stays long; the narrow-arrival rows must be FOUND
    got = sorted(map(tuple, read_version_bloom(spark, tb, "k", [20, 30]).collect()))
    assert got == [(2, 20), (3, 30)]
    assert dict(read_version(spark, tb).dtypes)["k"] == "bigint"

    tk = str(tmp_path / "tbl_bucket")
    versioned_write(
        spark.createDataFrame([(1, 10)], "a int, k long"),
        tk,
        bucket_by=("k", 8),
    )
    versioned_write(
        spark.createDataFrame([(2, 20), (3, 30)], "a int, k int"),
        tk,
        allow_type_widening=True,
    )
    got = sorted(map(tuple, read_version_keyed(spark, tk, [20, 30]).collect()))
    assert got == [(2, 20), (3, 30)]
    # a WIDER-than-committed arrival is NOT downcast to the committed
    # narrow type (truncation would be silent corruption): the widening
    # guard still sees the type change and refuses it
    ti = str(tmp_path / "tbl_bloom_int")
    versioned_write(
        spark.createDataFrame([(1, 10)], "a long, k int"),
        ti,
        bloom_by=["k"],
    )
    with pytest.raises(ValueError, match="hash-indexed"):
        versioned_write(
            spark.createDataFrame(
                [(4, 40_000_000_000)], "a long, k long"
            ),
            ti,
            allow_type_widening=True,
        )


def test_partition_by_date_column_reads(spark, tmp_path):
    """Partition columns of date/timestamp/decimal types: the writer
    path-encodes them as ISO strings, and the broadcast re-attach plan
    must carry them as strings and CAST in the coalesce (createDataFrame
    rejects str for DateType) — a regression in the O(1)-width read
    plan rewrite."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl_date")
    df = spark.createDataFrame(
        [
            (1, datetime.date(2024, 1, 1), 10.0),
            (2, datetime.date(2024, 1, 1), 20.0),
            (3, datetime.date(2024, 2, 1), 30.0),
        ],
        "id int, d date, v double",
    )
    versioned_write(df, t, partition_by=["d"])
    got = read_version(spark, t)
    assert dict(got.dtypes)["d"] == "date"
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, df.collect())
    )
    # pruning on the date partition still works through the string
    # zone-map ranges (ISO order == value order)
    sub = got.filter(F.col("d") == F.lit("2024-02-01").cast("date"))
    assert sorted(r["id"] for r in sub.collect()) == [3]

    tt = str(tmp_path / "tbl_ts")
    dft = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 12, 0, 0)),
            (2, datetime.datetime(2024, 3, 1, 6, 30, 0)),
        ],
        "id int, ts timestamp",
    )
    versioned_write(dft, tt, partition_by=["ts"])
    gt = read_version(spark, tt)
    assert dict(gt.dtypes)["ts"] == "timestamp"
    assert sorted(map(tuple, gt.collect())) == sorted(
        map(tuple, dft.collect())
    )

    td = str(tmp_path / "tbl_dec")
    dfd = spark.createDataFrame(
        [(1, Decimal("1.50")), (2, Decimal("2.25"))],
        "id int, amt decimal(10,2)",
    )
    versioned_write(dfd, td, partition_by=["amt"])
    gd = read_version(spark, td)
    assert dict(gd.dtypes)["amt"] == "decimal(10,2)"
    assert sorted(map(tuple, gd.collect())) == sorted(
        map(tuple, dfd.collect())
    )


def test_type_widening_partitioned_and_row_level_ops(spark, tmp_path):
    """Widening composes with Hive partitioning (grouped explicit-schema
    scan) and with a row-level UPDATE on the mixed-width table."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_update

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, "d1", 1.5), (2, "d2", 2.5)], "a int, day string, x float"
        ),
        t,
        partition_by=["day"],
    )
    versioned_write(
        spark.createDataFrame(
            [(40_000_000_000, "d1", 4.5)], "a long, day string, x double"
        ),
        t,
        allow_type_widening=True,
    )
    got = sorted(map(tuple, read_version(spark, t).collect()))
    assert got == [
        (1, "d1", 1.5), (2, "d2", 2.5), (40_000_000_000, "d1", 4.5),
    ]
    versioned_update(spark, t, {"x": "x + 10"}, "day = 'd1'")
    got = {r["a"]: r["x"] for r in read_version(spark, t).collect()}
    assert got == {1: 11.5, 2: 2.5, 40_000_000_000: 14.5}


# ---------------------------------------------------------------- r10 —
# generated columns (Delta generated columns + generated-col partitioning)


def test_generated_columns_computed_authoritative_and_carried(
    spark, tmp_path
):
    """The engine computes generated columns on every write; a
    caller-supplied value is overwritten (generation is authoritative);
    the spec is carried across commits and cleared with {}."""
    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, 12.0), (2, 27.0)], "id int, x double"),
        t,
        generated_columns={"band": "CAST(floor(x / 10) AS INT)"},
    )
    got = {r["id"]: r["band"] for r in read_version(spark, t).collect()}
    assert got == {1: 1, 2: 2}
    # append WITHOUT the column: computed from the carried spec
    versioned_write(spark.createDataFrame([(3, 35.0)], "id int, x double"), t)
    # append WITH a wrong value: overwritten, invariant holds
    versioned_write(
        spark.createDataFrame([(4, 41.0, 999)], "id int, x double, band int"),
        t,
    )
    got = {r["id"]: r["band"] for r in read_version(spark, t).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}
    assert _read_manifest(t, 3)["generated_columns"] == {
        "band": "CAST(floor(x / 10) AS INT)"
    }
    # clearing the spec: later appends stop generating
    versioned_write(
        spark.createDataFrame([(5, 55.0, 777)], "id int, x double, band int"),
        t,
        generated_columns={},
    )
    got = {r["id"]: r["band"] for r in read_version(spark, t).collect()}
    assert got[5] == 777
    assert "generated_columns" not in _read_manifest(t, 4)


def test_generated_column_partitioning_prunes_and_update_regenerates(
    spark, tmp_path
):
    """Delta's generated-column partitioning: partition_by a generated
    column lays files out by the expression value and pruned reads
    confine file opens; a row-level UPDATE of the SOURCE column
    regenerates the partition value (never stale)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version_pruned,
        versioned_update,
    )

    t = str(tmp_path / "tbl")
    rows = [(i, float(i)) for i in range(30)]
    versioned_write(
        spark.createDataFrame(rows, "id int, x double"),
        t,
        partition_by=["band"],
        generated_columns={"band": "CAST(floor(x / 10) AS INT)"},
    )
    m = _read_manifest(t, 1)
    assert any("band=" in f for f in m["files"])
    b1 = read_version_pruned(spark, t, "band", lo=1, hi=1)
    assert sorted(r["id"] for r in b1.collect()) == list(range(10, 20))
    assert all("band=1" in f for f in b1.inputFiles())
    # UPDATE moves x across the band boundary: band regenerates and the
    # rewritten row lands in the new partition directory
    versioned_update(spark, t, {"x": "x + 10"}, "id = 5")
    got = {
        r["id"]: (r["x"], r["band"])
        for r in read_version(spark, t).collect()
    }
    assert got[5] == (15.0, 1)
    moved = read_version_pruned(spark, t, "band", lo=1, hi=1)
    assert 5 in {r["id"] for r in moved.collect()}


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    """dry_run=True returns exactly the list a real vacuum then
    deletes, and touches nothing: every manifest, data file, and
    time-travel read survives the dry run."""
    t = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        _write_ranged(spark, t, lo, **{"mode": "overwrite"} if lo else {})
    assert versions(t) == [1, 2, 3]
    would = vacuum(t, keep_last=1, dry_run=True)
    assert would  # v1/v2 overwritten files are reclaimable
    # nothing happened: all manifests and files intact, old reads exact
    assert versions(t) == [1, 2, 3]
    for rel in would:
        assert (tmp_path / "tbl" / rel).exists()
    assert len(_rows(read_version(spark, t, 1))) == 10
    # the real run deletes exactly the reported set
    deleted = vacuum(t, keep_last=1)
    assert sorted(deleted) == sorted(would)
    assert versions(t) == [3]


def test_deep_clone_of_widened_evolved_dv_table(spark, tmp_path):
    """Deep clone copies the resolved live set of a table that has been
    type-widened, partition-evolved, and DV-deleted — relative paths
    preserved, so the export reconstructs path-encoded values and
    applies the copied delete vectors identically; source vacuum+mutation
    cannot touch it."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        clone_table,
        versioned_delete,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "exported")
    versioned_write(
        spark.createDataFrame(
            [(1, 1.5, "d1"), (2, 2.5, "d1")], "id int, x float, day string"
        ),
        src,
    )
    versioned_write(
        spark.createDataFrame(
            [(10_000_000_000, 3.5, "d2"), (4, 4.5, "d2")],
            "id long, x double, day string",
        ),
        src,
        partition_by=["day"],
        evolve_partitioning=True,
        allow_type_widening=True,
    )
    versioned_delete(spark, src, "id = 4", strategy="dv")
    clone_table(src, dst, deep=True)
    want = [(1, 1.5, "d1"), (2, 2.5, "d1"), (10_000_000_000, 3.5, "d2")]
    assert sorted(map(tuple, read_version(spark, dst).collect())) == want
    # destroy the source: the export is self-contained
    versioned_delete(spark, src, "id = 1")
    vacuum(src, keep_last=1)
    assert sorted(map(tuple, read_version(spark, dst).collect())) == want


def test_concurrent_append_rebases_and_both_land(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency retry: when an append loses the version
    race, it re-reads the new head, re-validates, and re-links at
    head+1 — two writers appending disjoint file sets BOTH land, in
    commit order, with the head manifest carrying both writers' files,
    stats and row counts (the Delta append-vs-append rule)."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    versioned_write(mk(0), t)  # v1

    real_cs = V._commit_state
    fired = {"done": False}

    def racy_cs(path, state, prev):
        # writer B sneaks in and wins version 2 the moment writer A
        # tries to commit it
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            versioned_write(mk(100), path)  # B lands v2 via the real path
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_cs)
    v = versioned_write(mk(10), t)  # A: loses v2, rebases, lands v3
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v == 3
    assert versions(t) == [1, 2, 3]
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == [0, 1, 2, 10, 11, 12, 100, 101, 102]
    m = _read_manifest(t, 3)
    assert m["row_count"] == 9
    # every file (both writers') has carried/harvested stats + meta
    assert set(m["file_stats"]) == set(m["files"])
    assert set(m["file_meta"]) == set(m["files"])


def test_concurrent_rewrite_vs_append_rebases_both_land(
    spark, tmp_path, monkeypatch
):
    """A row-level rewrite (upsert here) losing the race to a PURE
    APPEND rebases: the append is a blind write, so the serial order
    "rewrite first, append second" reproduces the rebased result
    exactly (Delta WriteSerializable).  Both commits land."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_upsert

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    versioned_write(mk(0), t)

    real_cs = V._commit_state
    fired = {"done": False}

    def racy_cs(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            versioned_write(mk(100), path)
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_cs)
    v = versioned_upsert(
        spark.createDataFrame([(1, "X")], "id int, v string"),
        t,
        ["id"],
    )
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v == 3 and versions(t) == [1, 2, 3]
    got = sorted(
        (r["id"], r["v"]) for r in read_version(spark, t).collect()
    )
    assert got == [
        (0, "v0"), (1, "X"), (2, "v2"),
        (100, "v100"), (101, "v101"), (102, "v102"),
    ]
    m = _read_manifest(t, 3)
    assert m["row_count"] == 6
    assert set(m["file_stats"]) == set(m["files"])


def test_concurrent_overlapping_rewrites_refuse(spark, tmp_path, monkeypatch):
    """Two rewrites touching the SAME files cannot both win: the loser
    read rows the winner has since rewritten, so it must raise
    ConcurrentCommitError (re-run), never auto-rebase — the
    Delta/Iceberg overlapping-rewrite rule."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        ConcurrentCommitError,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(3)], "id int, v string"
    )
    versioned_write(mk(0), t)  # one file holding ids 0..2

    real_cs = V._commit_state
    fired = {"done": False}

    def racy_cs(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            # winner rewrites the very file the loser's upsert read
            versioned_delete(spark, path, "id = 2")
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_cs)
    with pytest.raises(ConcurrentCommitError, match="overlapping|re-run"):
        versioned_upsert(
            spark.createDataFrame([(1, "X")], "id int, v string"),
            t,
            ["id"],
        )
    monkeypatch.setattr(V, "_commit_state", real_cs)
    # the winner's commit is intact; the loser changed nothing
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == [0, 1]
    # a concurrent DV delete on a file the loser READ refuses the same
    # way (the winner's vector deleted a row the loser decided over —
    # the v2 delete split survivors per partition, so target id=1's
    # own file to guarantee the overlap)
    fired2 = {"done": False}

    def racy_dv(path, state, prev):
        if not fired2["done"] and state["version"] == 3:
            fired2["done"] = True
            versioned_delete(spark, path, "id = 1", strategy="dv")
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_dv)
    with pytest.raises(ConcurrentCommitError, match="overlapping|re-run"):
        versioned_upsert(
            spark.createDataFrame([(1, "Y")], "id int, v string"),
            t,
            ["id"],
        )
    monkeypatch.setattr(V, "_commit_state", real_cs)
    # winner's DV delete intact, loser changed nothing
    assert sorted(r["id"] for r in read_version(spark, t).collect()) == [0]


def test_concurrent_append_rebase_validations(spark, tmp_path, monkeypatch):
    """Rebase re-validates what the winner changed underfoot: a
    concurrent layout-spec change refuses; a concurrently added CHECK
    constraint re-validates the loser's new rows (violations abort with
    nothing committed; clean rows land and carry the constraint)."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        CheckConstraintViolation,
        ConcurrentCommitError,
        add_check_constraint,
    )

    mk = lambda lo, n=3: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    real_cs = V._commit_state

    # (a) winner re-partitioned the table (overwrite with new spec)
    t1 = str(tmp_path / "t1")
    versioned_write(mk(0), t1)
    fired = {"done": False}

    def spec_change_cs(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            versioned_write(mk(100), path, mode="overwrite", partition_by=["v"])
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", spec_change_cs)
    with pytest.raises(ConcurrentCommitError, match="partition_by"):
        versioned_write(mk(10), t1)
    monkeypatch.setattr(V, "_commit_state", real_cs)

    # (b) winner added a CHECK constraint the loser's rows violate
    t2 = str(tmp_path / "t2")
    versioned_write(mk(0), t2)
    fired = {"done": False}

    def constraint_cs(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            add_check_constraint(spark, path, "id_small", "id < 50")
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", constraint_cs)
    with pytest.raises(CheckConstraintViolation):
        versioned_write(mk(100), t2)  # 100 >= 50 violates
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert versions(t2) == [1, 2]  # loser committed nothing

    # (c) clean rows rebase fine and CARRY the new constraint
    t3 = str(tmp_path / "t3")
    versioned_write(mk(0), t3)
    fired = {"done": False}

    def constraint_cs3(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            add_check_constraint(spark, path, "id_small", "id < 50")
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", constraint_cs3)
    v = versioned_write(mk(10), t3)
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v == 3
    assert _read_manifest(t3, 3)["constraints"] == {"id_small": "id < 50"}
    got = sorted(r["id"] for r in read_version(spark, t3).collect())
    assert got == [0, 1, 2, 10, 11, 12]


def test_rename_column_zero_rewrite_and_reads(spark, tmp_path):
    """rename_column is a metadata-only commit: the file list is
    byte-identical, reads surface the new logical name with the same
    values, time travel before the rename shows the old name, and a
    rename back to the physical name drops the mapping entry."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import rename_column

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id int, v string, amt double"
        ),
        t,
    )
    files_v1 = _read_manifest(t, 1)["files"]
    v = rename_column(t, "amt", "price")
    assert v == 2
    m = _read_manifest(t, 2)
    assert m["files"] == files_v1
    assert m["column_mapping"] == {"price": "amt"}
    got = read_version(spark, t)
    assert got.columns == ["id", "v", "price"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "a", 10.0), (2, "b", 20.0)
    ]
    # time travel: the pre-rename snapshot still speaks the old name
    old = read_version(spark, t, 1)
    assert old.columns == ["id", "v", "amt"]
    # chained rename keeps pointing at the ORIGINAL physical name
    rename_column(t, "price", "cost")
    assert _read_manifest(t, 3)["column_mapping"] == {"cost": "amt"}
    assert read_version(spark, t).columns == ["id", "v", "cost"]
    # renaming back to the physical name drops the entry
    rename_column(t, "cost", "amt")
    assert "column_mapping" not in _read_manifest(t, 4)
    assert read_version(spark, t).columns == ["id", "v", "amt"]


def test_rename_column_pruning_append_and_upsert(spark, tmp_path):
    """Zone maps stay keyed by PHYSICAL name: pruning on the renamed
    column still skips files (pre- AND post-rename ones), appends after
    the rename write the original physical name, and a copy-on-write
    upsert keyed on the renamed column confines correctly."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _candidate_split,
        read_version_pruned,
        rename_column,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo: spark.createDataFrame(
        [(lo + i, float(lo + i)) for i in range(5)], "k int, x double"
    )
    versioned_write(mk(0).coalesce(1), t)  # file A: k in 0..4
    rename_column(t, "k", "key")
    versioned_write(
        mk(100).coalesce(1).withColumnRenamed("k", "key"), t
    )  # file B: key in 100..104, written under PHYSICAL name k
    m = _read_manifest(t, 3)
    # new file's stats keyed physical, covering both files
    for f in m["files"]:
        assert "k" in m["file_stats"][f], m["file_stats"][f]
    keep, skipped = _candidate_split(m, "key", 100, 200)
    assert len(keep) == 1 and len(skipped) == 1
    got = read_version_pruned(spark, t, "key", lo=100, hi=200)
    assert sorted(r["key"] for r in got.collect()) == [100, 101, 102, 103, 104]
    # upsert keyed on the renamed column
    versioned_upsert(
        spark.createDataFrame([(2, 99.0)], "key int, x double"),
        t,
        ["key"],
    )
    got = {r["key"]: r["x"] for r in read_version(spark, t).collect()}
    assert got[2] == 99.0 and got[100] == 100.0 and len(got) == 10


def test_rename_column_bloom_bucket_partition_layouts(spark, tmp_path):
    """Layout specs follow the rename: bloom probes and bucket lookups
    on the NEW name consult the committed physical masks/stats exactly
    (pre- and post-rename files), and a renamed partition column
    re-attaches under the new name while new files keep physical
    directories."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version_bloom,
        read_version_keyed,
        rename_column,
    )

    # bloom
    tb = str(tmp_path / "tb")
    versioned_write(
        spark.createDataFrame([(i, i * 10) for i in range(50)], "a int, k int")
        .repartitionByRange(4, "a"),
        tb,
        bloom_by=["k"],
    )
    rename_column(tb, "k", "kk")
    versioned_write(
        spark.createDataFrame([(100, 9999)], "a int, kk int").coalesce(1),
        tb,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _bloom_masks_for

    m = _read_manifest(tb, 3)
    assert m["bloom_by"]["cols"] == ["kk"]
    # masks keyed physical for every file, including the post-rename one
    assert all("k" in _bloom_masks_for(tb, m, f) for f in m["files"])
    got = read_version_bloom(spark, tb, "kk", [120, 9999])
    assert sorted(r["kk"] for r in got.collect()) == [120, 9999]

    # bucket
    tk = str(tmp_path / "tk")
    versioned_write(
        spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k int, v string"),
        tk,
        bucket_by=("k", 8),
    )
    rename_column(tk, "k", "key")
    assert _read_manifest(tk, 2)["bucket_by"] == ["key", 8]
    got = read_version_keyed(spark, tk, [3, 11])
    assert sorted(r["key"] for r in got.collect()) == [3, 11]
    # append after rename keeps the bucket layout on the physical name
    versioned_write(
        spark.createDataFrame([(100, "x")], "key int, v string"), tk
    )
    got = read_version_keyed(spark, tk, [100])
    assert [r["key"] for r in got.collect()] == [100]

    # partition
    tp = str(tmp_path / "tp")
    versioned_write(
        spark.createDataFrame(
            [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0)],
            "id int, grp string, v double",
        ),
        tp,
        partition_by=["grp"],
    )
    rename_column(tp, "grp", "bucket_name")
    got = read_version(spark, tp)
    assert set(got.columns) == {"id", "bucket_name", "v"}
    assert sorted(map(tuple, got.collect())) == [
        (1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0)
    ]
    versioned_write(
        spark.createDataFrame(
            [(4, "z", 4.0)], "id int, bucket_name string, v double"
        ),
        tp,
    )
    got = read_version(spark, tp)
    assert sorted(r["bucket_name"] for r in got.collect()) == [
        "x", "x", "y", "z"
    ]
    # the post-rename file path-encodes the PHYSICAL name
    m = _read_manifest(tp, 3)
    newf = [f for f in m["files"] if f not in _read_manifest(tp, 1)["files"]]
    assert all("grp=" in f for f in newf)


def test_rename_column_refusals(spark, tmp_path):
    """Rename refuses: target name exists, source missing, and columns
    referenced inside CHECK constraints or generated-column
    expressions (the stored SQL would silently break)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        add_check_constraint,
        rename_column,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, 2, 3)], "a int, b int, c int"),
        t,
        generated_columns={"d": "a + b"},
    )
    with pytest.raises(ValueError, match="already exists"):
        rename_column(t, "a", "b")
    with pytest.raises(ValueError, match="no column"):
        rename_column(t, "zzz", "w")
    with pytest.raises(ValueError, match="generated column"):
        rename_column(t, "a", "a2")  # referenced by d's expression
    add_check_constraint(spark, t, "c_pos", "c > 0")
    with pytest.raises(ValueError, match="constraint"):
        rename_column(t, "c", "c2")
    # renaming the GENERATED column itself is fine (its key moves)
    rename_column(t, "d", "total")
    m = _read_manifest(t, versions(t)[-1])
    assert m["generated_columns"] == {"total": "a + b"}
    versioned_write(
        spark.createDataFrame([(10, 20, 30)], "a int, b int, c int"), t
    )
    got = {r["a"]: r["total"] for r in read_version(spark, t).collect()}
    assert got == {1: 3, 10: 30}


def test_drop_column_and_tombstoned_readd(spark, tmp_path):
    """drop_column removes the column metadata-only (files untouched);
    re-adding the same logical name assigns a FRESH physical name so
    old files read NULL instead of resurrecting dropped values."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import drop_column

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id int, v string, amt double"
        ),
        t,
    )
    files_v1 = _read_manifest(t, 1)["files"]
    drop_column(t, "amt")
    m = _read_manifest(t, 2)
    assert m["files"] == files_v1
    assert m["dropped_physical"] == ["amt"]
    got = read_version(spark, t)
    assert got.columns == ["id", "v"]
    # re-add the same logical name: fresh physical, old files read NULL
    versioned_write(
        spark.createDataFrame([(3, "c", 99.0)], "id int, v string, amt double"),
        t,
    )
    m = _read_manifest(t, 3)
    assert m["column_mapping"]["amt"].startswith("amt_r")
    got = {r["id"]: r["amt"] for r in read_version(spark, t).collect()}
    assert got == {1: None, 2: None, 3: 99.0}
    # time travel still shows the ORIGINAL values pre-drop
    old = {r["id"]: r["amt"] for r in read_version(spark, t, 1).collect()}
    assert old == {1: 10.0, 2: 20.0}


def test_drop_column_refusals_and_rename_drop_interplay(spark, tmp_path):
    """Drop refuses while the column backs layout or stored SQL; a new
    column whose name collides with a renamed-away physical name gets a
    fresh physical name (old files hold unrelated bytes under it)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        add_check_constraint,
        drop_column,
        rename_column,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, "x", 5)], "k int, p string, n int"),
        t,
        partition_by=["p"],
        bloom_by=["n"],
    )
    with pytest.raises(ValueError, match="partition"):
        drop_column(t, "p")
    with pytest.raises(ValueError, match="bloom"):
        drop_column(t, "n")
    add_check_constraint(spark, t, "k_pos", "k > 0")
    with pytest.raises(ValueError, match="constraint"):
        drop_column(t, "k")

    # rename a→b, then append a NEW column named a: physical collision
    t2 = str(tmp_path / "t2")
    versioned_write(
        spark.createDataFrame([(1, 10)], "a int, other int"), t2
    )
    rename_column(t2, "a", "b")
    versioned_write(
        spark.createDataFrame([(2, 20, 7)], "b int, other int, a int"),
        t2,
        # 'a' is a brand-new logical column; identity physical 'a' is
        # taken by b's files
    )
    m = _read_manifest(t2, 3)
    assert m["column_mapping"]["b"] == "a"
    assert m["column_mapping"]["a"].startswith("a_r")
    rows = {r["b"]: (r["other"], r["a"]) for r in read_version(spark, t2).collect()}
    assert rows == {1: (10, None), 2: (20, 7)}


def test_rename_column_streams_and_row_level_ops(spark, tmp_path):
    """The versioned_changes stream reads renamed tables through the
    mapping (physical file columns surface under logical names), and
    DV deletes / UPDATE on renamed tables stay exact."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        rename_column,
        versioned_delete,
        versioned_update,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "id int, x double"
        ),
        t,
    )
    rename_column(t, "x", "score")
    versioned_write(
        spark.createDataFrame([(10, 10.0)], "id int, score double"), t
    )
    rd = VersionedChangesStreamReader({"path": t})
    parts = rd.partitions({"version": 0}, {"version": 3})
    rows = [r for p in parts for b in rd.read(p) for r in b.to_pylist()]
    assert all(set(r) == {"id", "score"} for r in rows)
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4, 5, 10]
    # DV delete + UPDATE through the mapping
    versioned_delete(spark, t, "score >= 4.0 AND score < 10.0", strategy="dv")
    versioned_update(spark, t, {"score": "score + 0.5"}, "id = 1")
    got = {r["id"]: r["score"] for r in read_version(spark, t).collect()}
    assert got == {0: 0.0, 1: 1.5, 2: 2.0, 3: 3.0, 10: 10.0}


def test_identity_columns_assign_and_preserve(spark, tmp_path):
    """GENERATED BY DEFAULT AS IDENTITY: NULL-arriving rows get fresh
    deterministic ids continuing the manifest high-water mark (ranked
    by the spec's order_by, parallel prefix-sum numbering); rows with
    values keep them — upsert survivors, UPDATE pre-images and carried
    rewrites preserve ids for free, inserts consume new ones."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_update,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(30, "c"), (10, "a"), (20, "b")], "k int, v string"),
        t,
        identity_columns={"rid": {"order_by": ["k"]}},
    )
    assert sorted(map(tuple, read_version(spark, t).collect())) == [
        (10, "a", 1), (20, "b", 2), (30, "c", 3)
    ]
    assert _read_manifest(t, 1)["identity_columns"]["rid"]["assigned"] == 3
    # append continues the watermark; spec inherited
    versioned_write(
        spark.createDataFrame([(50, "e"), (40, "d")], "k int, v string"), t
    )
    got = {r["k"]: r["rid"] for r in read_version(spark, t).collect()}
    assert got == {10: 1, 20: 2, 30: 3, 40: 4, 50: 5}
    # upsert: matched row keeps its id, NULL-id insert gets the next
    versioned_upsert(
        spark.createDataFrame(
            [(10, "A", 1), (60, "f", None)], "k int, v string, rid long"
        ),
        t,
        ["k"],
    )
    got = {r["k"]: (r["v"], r["rid"]) for r in read_version(spark, t).collect()}
    assert got[10] == ("A", 1) and got[60] == ("f", 6) and len(got) == 6
    # UPDATE rewrite preserves ids
    versioned_update(spark, t, {"v": "upper(v)"}, "k = 20")
    got = {r["k"]: r["rid"] for r in read_version(spark, t).collect()}
    assert got == {10: 1, 20: 2, 30: 3, 40: 4, 50: 5, 60: 6}
    assert _read_manifest(
        t, versions(t)[-1]
    )["identity_columns"]["rid"]["assigned"] == 6
    # start/step respected
    t2 = str(tmp_path / "t2")
    versioned_write(
        spark.createDataFrame([(1,), (2,)], "k int"),
        t2,
        identity_columns={"rid": {"start": 100, "step": 10, "order_by": ["k"]}},
    )
    assert sorted(r["rid"] for r in read_version(spark, t2).collect()) == [
        100, 110
    ]


def test_identity_columns_refusals_and_concurrency(spark, tmp_path, monkeypatch):
    """Spec validation (order_by required, no identity∩generated) and
    the rebase guard: an append that assigned ids against a stale
    watermark must NOT rebase past a winner that consumed ids (the id
    ranges would collide)."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import ConcurrentCommitError

    t = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="order_by"):
        versioned_write(
            spark.createDataFrame([(1,)], "k int"),
            t,
            identity_columns={"rid": {}},
        )
    with pytest.raises(ValueError, match="generated"):
        versioned_write(
            spark.createDataFrame([(1,)], "k int"),
            t,
            identity_columns={"rid": {"order_by": ["k"]}},
            generated_columns={"rid": "k + 1"},
        )
    versioned_write(
        spark.createDataFrame([(1,)], "k int"),
        t,
        identity_columns={"rid": {"order_by": ["k"]}},
    )
    real_cs = V._commit_state
    fired = {"done": False}

    def racy_cs(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            versioned_write(
                spark.createDataFrame([(100,)], "k int"), path
            )  # winner consumes id 2
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_cs)
    with pytest.raises(ConcurrentCommitError, match="identity"):
        versioned_write(spark.createDataFrame([(50,)], "k int"), t)
    monkeypatch.setattr(V, "_commit_state", real_cs)
    # the winner's ids are intact and the table is consistent
    got = {r["k"]: r["rid"] for r in read_version(spark, t).collect()}
    assert got == {1: 1, 100: 2}


def test_read_changes_across_rename_and_drop(spark, tmp_path):
    """CDF bridges column mapping through PHYSICAL identity: a pure
    rename emits an EMPTY feed (no rows changed), a post-rename data
    change emits under the NEW name, a dropped column leaves the feed,
    and a tombstoned re-add compares as a brand-new column (pre-drop
    values never leak)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        drop_column,
        read_changes,
        rename_column,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id int, v string, amt double"
        ),
        t,
    )
    rename_column(t, "amt", "price")  # v2
    # pure rename: nothing changed
    assert read_changes(spark, t, 1, 2, ["id"]).count() == 0
    versioned_upsert(
        spark.createDataFrame([(2, "B", 99.0)], "id int, v string, price double"),
        t,
        ["id"],
    )  # v3
    feed = read_changes(spark, t, 1, 3, ["id"]).collect()
    assert len(feed) == 1
    r = feed[0]
    assert (r["id"], r["op"], r["price"]) == (2, "U", 99.0)
    # drop then re-add: the dropped column leaves the feed; the re-add
    # is a fresh column, so old values never resurface as changes
    drop_column(t, "price")  # v4
    assert read_changes(spark, t, 3, 4, ["id"]).count() == 0
    versioned_write(
        spark.createDataFrame(
            [(3, "c", 7.0)], "id int, v string, price double"
        ),
        t,
    )  # v5: re-added price under a fresh physical name
    feed = {r["id"]: (r["op"], r["price"]) for r in read_changes(spark, t, 4, 5, ["id"]).collect()}
    assert feed == {3: ("I", 7.0)}
    # across the whole span: v1 price values never leak into the feed
    feed = {r["id"]: r["op"] for r in read_changes(spark, t, 1, 5, ["id"]).collect()}
    assert feed == {2: "U", 3: "I"}


def test_timestamp_zone_maps_prune_time_ranges(spark, tmp_path, sf_dir):
    """Date/timestamp columns get zone maps (Hive-normal-form ISO
    strings; footer stats were previously skipped, so time-range
    pruning never happened): typed datetime probes coerce to the same
    form, files outside the range are proven skippable, and the pruned
    read equals the unpruned filter exactly — the dominant prune on
    time-series tables."""
    import datetime

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _candidate_split, read_version_pruned
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table

    t = str(tmp_path / "tbl")
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    versioned_write(od.repartitionByRange(6, "o_orderdate"), t)
    m = _read_manifest(t, 1)
    # every file carries a string range for the timestamp column
    rngs = [m["file_stats"][f].get("o_orderdate") for f in m["files"]]
    assert all(r is not None and isinstance(r[0], str) for r in rngs)
    lo = datetime.datetime(1997, 1, 1)
    hi = datetime.datetime(1997, 12, 31, 23, 59, 59)
    keep, skipped = _candidate_split(m, "o_orderdate", lo, hi)
    assert skipped, "range-clustered files outside 1997 must prune"
    got = read_version_pruned(spark, t, "o_orderdate", lo=lo, hi=hi)
    from pyspark.sql import functions as F

    expect = (
        read_version(spark, t)
        .filter(
            (F.col("o_orderdate") >= F.lit(lo))
            & (F.col("o_orderdate") <= F.lit(hi))
        )
        .collect()
    )
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in expect
    )
    # exactness at the boundary: a file whose max IS the probe lo stays
    sub_lo = datetime.datetime(1995, 1, 1)
    keep2, _ = _candidate_split(m, "o_orderdate", sub_lo, sub_lo)
    assert keep2  # conservative keep on boundary files
    # fractional-second normal form: .5 stored and probed identically
    t2 = str(tmp_path / "t2")
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 0, 500000)),
        (2, datetime.datetime(2024, 1, 2, 0, 0, 0)),
    ]
    versioned_write(
        spark.createDataFrame(rows, "id int, ts timestamp").repartitionByRange(2, "ts"),
        t2,
    )
    m2 = _read_manifest(t2, 1)
    vals = sorted(
        v
        for f in m2["files"]
        for v in m2["file_stats"][f].get("ts", [])
    )
    assert vals[0] == "2024-01-01 00:00:00.5"
    got = read_version_pruned(
        spark,
        t2,
        "ts",
        lo=datetime.datetime(2024, 1, 1, 0, 0, 0, 500000),
        hi=datetime.datetime(2024, 1, 1, 23, 0, 0),
    )
    assert [r["id"] for r in got.collect()] == [1]


def test_read_version_pruned_multi_confines_and_exact(spark, sf_dir, tmp_path):
    """Multi-dim zone-map pruning: over a z-ordered table a
    conjunctive box provably opens fewer files than either single-dim
    split alone, and the result equals the unpruned AND filter
    exactly."""
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _candidate_split,
        compact,
        read_version_pruned_multi,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table

    t = str(tmp_path / "tbl")
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    versioned_write(od, t)
    compact(spark, t, target_files=8, zorder_cols=["o_custkey", "o_totalprice"])
    m = _read_manifest(t, 2)
    k1, _ = _candidate_split(m, "o_custkey", 200, 400)
    k2, _ = _candidate_split(m, "o_totalprice", 50000.0, 150000.0)
    both = set(k1) & set(k2)
    assert len(both) < len(m["files"]), "the box must prune something"
    assert len(both) <= min(len(k1), len(k2))
    got = read_version_pruned_multi(
        spark, t, {"o_custkey": (200, 400), "o_totalprice": (50000.0, 150000.0)}
    )
    expect = (
        read_version(spark, t)
        .filter(
            F.col("o_custkey").between(200, 400)
            & F.col("o_totalprice").between(50000.0, 150000.0)
        )
        .collect()
    )
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in expect
    )
    # open-ended bounds + empty ranges refuse
    import pytest

    got2 = read_version_pruned_multi(spark, t, {"o_custkey": (None, 100)})
    assert got2.count() == read_version(spark, t).filter(
        F.col("o_custkey") <= 100
    ).count()
    with pytest.raises(ValueError, match="non-empty"):
        read_version_pruned_multi(spark, t, {})


def test_identity_rename_drop_interplay(spark, tmp_path):
    """Identity specs follow renames (both the column and order_by
    references); dropping an order_by key refuses; dropping the
    identity column retires its spec and watermark."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import drop_column, rename_column

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(20, "b"), (10, "a")], "k int, v string"),
        t,
        identity_columns={"rid": {"order_by": ["k"]}},
    )
    rename_column(t, "rid", "row_id")
    rename_column(t, "k", "key")
    m = _read_manifest(t, versions(t)[-1])
    assert m["identity_columns"] == {
        "row_id": {"start": 1, "step": 1, "order_by": ["key"], "assigned": 2}
    }
    # assignment continues under the new names
    versioned_write(
        spark.createDataFrame([(30, "c")], "key int, v string"), t
    )
    got = {r["key"]: r["row_id"] for r in read_version(spark, t).collect()}
    assert got == {10: 1, 20: 2, 30: 3}
    with pytest.raises(ValueError, match="order_by"):
        drop_column(t, "key")
    drop_column(t, "row_id")
    m = _read_manifest(t, versions(t)[-1])
    assert "identity_columns" not in m
    assert sorted(read_version(spark, t).columns) == ["key", "v"]


def test_null_count_stats_prune(spark, tmp_path):
    """NULL-count data skipping: IS NULL opens only files with nonzero
    null counts, IS NOT NULL skips ALL-null files (which min/max ranges
    can never prune — an all-null column has no range); results equal
    the unpruned filters exactly; legacy manifests without counts are
    conservatively kept."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_null_pruned

    t = str(tmp_path / "tbl")
    # file A: no nulls; file B: mixed; file C: all null
    versioned_write(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double").coalesce(1), t
    )
    versioned_write(
        spark.createDataFrame([(3, 30.0), (4, None)], "k int, x double").coalesce(1), t
    )
    versioned_write(
        spark.createDataFrame(
            [(5, None), (6, None)], "k int, x double"
        ).coalesce(1),
        t,
    )
    m = _read_manifest(t, 3)
    counts = {
        f: (m["file_meta"][f].get("nulls") or {}).get("x")
        for f in m["files"]
    }
    assert sorted(counts.values()) == [0, 1, 2]
    got = read_version_null_pruned(spark, t, "x", is_null=True)
    assert sorted(r["k"] for r in got.collect()) == [4, 5, 6]
    got = read_version_null_pruned(spark, t, "x", is_null=False)
    assert sorted(r["k"] for r in got.collect()) == [1, 2, 3]
    # confinement: IS NULL must not open file A, IS NOT NULL not file C
    all_null_file = next(f for f, n in counts.items() if n == 2)
    no_null_file = next(f for f, n in counts.items() if n == 0)
    kept_is_null = [
        f
        for f in m["files"]
        if (m["file_meta"][f]["nulls"]["x"]) > 0
    ]
    assert no_null_file not in kept_is_null
    assert all_null_file in kept_is_null
    # legacy manifest without counts: strip them (rewrite v3 as a full
    # manifest minus the nulls sub-dicts) — pruning must degrade to
    # conservative keeps, never wrong rows
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _manifest_dir

    full = _read_manifest(t, 3)
    full["file_meta"] = {
        f: {k: v for k, v in dict(e).items() if k != "nulls"}
        for f, e in full["file_meta"].items()
    }
    (_manifest_dir(t) / "v3.json").write_text(
        _json.dumps(full, default=dict)
    )
    got = read_version_null_pruned(spark, t, "x", is_null=True)
    assert sorted(r["k"] for r in got.collect()) == [4, 5, 6]


def test_r11_feature_composition_clone_vacuum(spark, tmp_path):
    """Composition: a table carrying column mapping (rename), identity
    watermarks, timestamp zone maps and null counts survives deep
    clone (self-contained on the new root) and vacuum (re-anchored
    manifests keep every plane), and all pruning readers keep working
    on both tables."""
    import datetime

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        clone_table,
        read_version_null_pruned,
        read_version_pruned,
        rename_column,
        vacuum,
        versioned_write,
    )

    t = str(tmp_path / "src")
    rows = [
        (datetime.datetime(2024, 1, 1 + i), float(i) if i % 2 else None)
        for i in range(6)
    ]
    versioned_write(
        spark.createDataFrame(rows, "ts timestamp, x double")
        .repartitionByRange(3, "ts"),
        t,
        identity_columns={"rid": {"order_by": ["ts"]}},
    )
    rename_column(t, "x", "score")
    versioned_write(
        spark.createDataFrame(
            [(datetime.datetime(2024, 2, 1), 99.0)], "ts timestamp, score double"
        ),
        t,
    )
    c = str(tmp_path / "clone")
    clone_table(t, c, deep=True)
    vacuum(t, keep_last=1)
    for tbl in (t, c):
        got = read_version(spark, tbl)
        assert set(got.columns) == {"ts", "score", "rid"}
        assert sorted(r["rid"] for r in got.collect()) == [1, 2, 3, 4, 5, 6, 7]
        pruned = read_version_pruned(
            spark,
            tbl,
            "ts",
            lo=datetime.datetime(2024, 2, 1),
        )
        assert [r["rid"] for r in pruned.collect()] == [7]
        nn = read_version_null_pruned(spark, tbl, "score", is_null=False)
        assert sorted(r["rid"] for r in nn.collect()) == [2, 4, 6, 7]
    # identity continues on BOTH tables independently post-clone/vacuum
    versioned_write(
        spark.createDataFrame(
            [(datetime.datetime(2024, 3, 1), 1.0)], "ts timestamp, score double"
        ),
        c,
    )
    got = {r["rid"] for r in read_version(spark, c).collect()}
    assert got == {1, 2, 3, 4, 5, 6, 7, 8}


@pytest.mark.slow
def test_incremental_compact_scoped_and_small_file(spark, tmp_path):
    """Incremental OPTIMIZE: a key-range-scoped compact rewrites only
    the may-intersect files (the rest carry byte-identical, their
    deletion vectors intact), small-file-only compaction folds the
    micro-batch backlog without touching big files, rewritten files
    materialize their DVs, and selecting nothing is a clean no-op."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import compact, versioned_delete

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "k int, v string"
    ).coalesce(1)
    versioned_write(mk(0, 50), t)      # file A: 0..49
    versioned_write(mk(1000, 50), t)   # file B: 1000..1049
    versioned_write(mk(2000, 3), t)    # file C (small): 2000..2002
    versioned_write(mk(2100, 3), t)    # file D (small): 2100..2102
    m1 = _read_manifest(t, 4)
    assert len(m1["files"]) == 4
    # DV on a file OUTSIDE the compact scope must carry verbatim
    versioned_delete(spark, t, "k = 1000", strategy="dv")  # v5, DV on B
    m_dv = _read_manifest(t, 5)
    dv_file_b = next(f for f, n in m_dv["dv_counts"].items() if n == 1)

    # 1) key-range-scoped compact: only C and D rewrite
    v = compact(spark, t, target_files=1, prune_col="k", lo=1990, hi=2200)
    m2 = _read_manifest(t, v)
    kept = set(m_dv["files"]) & set(m2["files"])
    assert len(kept) == 2  # A and B carried byte-identical
    assert dv_file_b in m2["files"] and m2["dv_counts"] == {dv_file_b: 1}
    got = sorted(r["k"] for r in read_version(spark, t).collect())
    assert got == sorted(
        list(range(0, 50))
        + list(range(1001, 1050))
        + list(range(2000, 2003))
        + list(range(2100, 2103))
    )

    # 2) DV inside the scope materializes on rewrite
    versioned_delete(spark, t, "k = 0", strategy="dv")
    v = compact(spark, t, target_files=1, prune_col="k", lo=0, hi=100)
    m3 = _read_manifest(t, v)
    assert dv_file_b in m3["files"] and m3["dv_counts"] == {dv_file_b: 1}
    assert 0 not in {r["k"] for r in read_version(spark, t).collect()}

    # 3) small-file-only compaction: the two big files stay
    t2 = str(tmp_path / "t2")
    versioned_write(mk(0, 5000), t2)
    versioned_write(mk(10000, 5000), t2)
    for lo in (20000, 20100, 20200):
        versioned_write(mk(lo, 2), t2)
    m = _read_manifest(t2, 5)
    big = sorted(m["files"], key=lambda f: -m["file_meta"][f]["bytes"])[:2]
    v = compact(spark, t2, target_files=1, max_file_bytes=4096)
    m2 = _read_manifest(t2, v)
    assert set(big) <= set(m2["files"])
    assert len(m2["files"]) == 3  # 2 big carried + 1 folded
    assert read_version(spark, t2).count() == 10006

    # 4) nothing selected → no-op, no empty commit
    before = versions(t2)[-1]
    assert compact(spark, t2, prune_col="k", lo=10**9, hi=2 * 10**9) == before
    assert versions(t2)[-1] == before


def test_candidate_split_date_probe_on_timestamp_column(spark, tmp_path):
    """A plain-date probe against a TIMESTAMP column must coerce to the
    midnight normal form ('YYYY-MM-DD 00:00:00'): the bare day string
    sorts BEFORE it, so hi=date(d) would falsely prune a file whose min
    is exactly midnight of d while the row filter (date cast to
    midnight timestamp) includes that row."""
    import datetime

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _candidate_split,
        read_version_pruned,
    )

    t = str(tmp_path / "tbl")
    rows = [
        (1, datetime.datetime(2024, 1, 4, 12, 0, 0)),
        (2, datetime.datetime(2024, 1, 5, 0, 0, 0)),  # exactly midnight
        (3, datetime.datetime(2024, 1, 5, 18, 0, 0)),
    ]
    versioned_write(
        spark.createDataFrame(rows, "id int, ts timestamp")
        .repartitionByRange(3, "ts"),
        t,
    )
    m = _read_manifest(t, 1)
    # the midnight file must stay a candidate for hi = that day
    keep, _ = _candidate_split(
        m, "ts", None, datetime.date(2024, 1, 5)
    )
    kept_mins = {m["file_stats"][f]["ts"][0] for f in keep}
    assert "2024-01-05 00:00:00" in kept_mins
    # end-to-end: the pruned read returns the midnight row
    got = read_version_pruned(
        spark, t, "ts",
        lo=datetime.date(2024, 1, 4), hi=datetime.date(2024, 1, 5),
    )
    assert sorted(r["id"] for r in got.collect()) == [1, 2]
    # lo as a date still prunes the strictly-earlier file exactly
    keep2, skipped2 = _candidate_split(
        m, "ts", datetime.date(2024, 1, 5), None
    )
    assert skipped2, "the Jan-4 file must prune for lo=Jan-5"
    got2 = read_version_pruned(spark, t, "ts", lo=datetime.date(2024, 1, 5))
    assert sorted(r["id"] for r in got2.collect()) == [2, 3]


def test_concurrent_disjoint_rewrites_rebase(spark, tmp_path, monkeypatch):
    """Two row-level rewrites confined to DISJOINT file sets both land:
    the loser's read set is untouched by the winner, and the winner's
    rewritten output is provably outside the loser's read range by the
    head zone maps — the serial order "winner first, loser second"
    reproduces the rebased result exactly."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_delete

    t = str(tmp_path / "tbl")
    rows = [(i, f"v{i}") for i in range(10)] + [
        (i, f"v{i}") for i in range(100, 110)
    ]
    df = spark.createDataFrame(rows, "id int, v string")
    versioned_write(df.repartitionByRange(2, "id"), t)  # 2 key-disjoint files
    m1 = _read_manifest(t, 1)
    assert len(m1["files"]) == 2

    real_cs = V._commit_state
    fired = {"done": False}

    def racy_cs(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            # winner rewrites the HIGH file only (disjoint from loser)
            versioned_delete(
                spark, path, "id = 105", prune_col="id", lo=105, hi=105
            )
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_cs)
    # loser deletes from the LOW file only
    v = versioned_delete(spark, t, "id < 5", prune_col="id", lo=0, hi=9)
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v == 3 and versions(t) == [1, 2, 3]
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == [5, 6, 7, 8, 9, 100, 101, 102, 103, 104, 106, 107, 108, 109]
    m = _read_manifest(t, 3)
    assert m["row_count"] == 14
    assert set(m["file_stats"]) == set(m["files"])

    # compact is content-independent: it rebases over a disjoint
    # rewrite even though compaction has no read predicate at all
    fired2 = {"done": False}

    def racy_cs2(path, state, prev):
        if not fired2["done"] and state["version"] == 4:
            fired2["done"] = True
            versioned_delete(
                spark, path, "id = 9", prune_col="id", lo=9, hi=9
            )
        return real_cs(path, state, prev)

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import compact

    m3 = _read_manifest(t, 3)
    hi_files, _ = V._candidate_split(m3, "id", 100, 200)
    monkeypatch.setattr(V, "_commit_state", racy_cs2)
    # loser compacts the high range; winner deletes id=9 (low file)
    v2 = compact(spark, t, target_files=1, prune_col="id", lo=100, hi=200)
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v2 == 5
    got2 = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got2 == [5, 6, 7, 8, 100, 101, 102, 103, 104, 106, 107, 108, 109]


def test_versioned_count_is_metadata_only_and_exact(
    spark, tmp_path, monkeypatch
):
    """COUNT(*) from the manifest: exact across append, copy-on-write
    rewrite, DV delete and time travel — with the scan path DISABLED,
    proving zero data files are opened."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_count,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 10).repartitionByRange(2, "id"), t)  # v1: 10
    versioned_write(mk(100, 5), t)  # v2: 15
    versioned_delete(spark, t, "id >= 103", strategy="dv")  # v3: 13
    versioned_upsert(mk(0, 3), t, ["id"])  # v4: still 13 (3 updates)
    expect = {1: 10, 2: 15, 3: 13, 4: 13}
    real_scan = read_version(spark, t).count()
    assert real_scan == 13

    def no_scan(*a, **k):
        raise AssertionError("versioned_count must not open data files")

    monkeypatch.setattr(V, "_read_files", no_scan)
    for v, n in expect.items():
        got = versioned_count(spark, t, version=v).collect()
        assert [tuple(r) for r in got] == [(n,)]
    monkeypatch.setattr(
        V, "_read_files", V._read_files
    )  # restored by fixture anyway


def test_versioned_min_max_metadata_and_hybrid(spark, tmp_path, monkeypatch):
    """MIN/MAX from zone maps: pure metadata on a DV-free table (scan
    path disabled to prove it); with deletion vectors on the extreme
    files, only the files that could beat the proven bounds are
    scanned and the result equals the full-scan truth; statless
    (pre-evolution) files fall back to scan without changing the
    answer."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_delete,
        versioned_min_max,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    rows = [(i, float(i) * 1.5, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id int, price double, v string")
    versioned_write(df.repartitionByRange(4, "id"), t)

    real_rf = V._read_files

    def no_scan(*a, **k):
        raise AssertionError("dv-free min/max must not open data files")

    monkeypatch.setattr(V, "_read_files", no_scan)
    got = versioned_min_max(spark, t, "id").collect()
    assert [tuple(r) for r in got] == [(0, 99)]
    got = versioned_min_max(spark, t, "price").collect()
    assert [tuple(r) for r in got] == [(0.0, 148.5)]
    monkeypatch.setattr(V, "_read_files", real_rf)

    # DV-delete the global min and max rows: the files holding them
    # must be scanned (their stats bounds are stale), the middle files
    # must NOT be
    versioned_delete(spark, t, "id IN (0, 99)", strategy="dv")
    scanned = []

    def counting_rf(spark_, path_, files_, m_, **k):
        scanned.extend(files_)
        return real_rf(spark_, path_, files_, m_, **k)

    monkeypatch.setattr(V, "_read_files", counting_rf)
    got = versioned_min_max(spark, t, "id").collect()
    assert [tuple(r) for r in got] == [(1, 98)]
    m = V._read_manifest(t, 2)
    assert 0 < len(set(scanned)) < len(m["files"]), (
        "hybrid path must scan only the boundary files"
    )
    monkeypatch.setattr(V, "_read_files", real_rf)

    # a DV confined to a MIDDLE file can't beat dv-free boundary
    # stats: pure metadata, no scan (fresh table — the one above keeps
    # its boundary files DV'd, so those legitimately re-scan until a
    # compact materializes the vectors)
    t2 = str(tmp_path / "tbl2")
    versioned_write(df.repartitionByRange(4, "id"), t2)
    versioned_delete(spark, t2, "id = 50", strategy="dv")
    monkeypatch.setattr(V, "_read_files", no_scan)
    got = versioned_min_max(spark, t2, "id").collect()
    assert [tuple(r) for r in got] == [(0, 99)]
    monkeypatch.setattr(V, "_read_files", real_rf)

    # schema evolution: the added column has no stats in old files →
    # falls back to scanning them, NULLs ignored, exact result
    extra = spark.createDataFrame(
        [(200 + i, 1.0, "x", 7 + i) for i in range(3)],
        "id int, price double, v string, rank int",
    )
    versioned_write(extra, t)
    got = versioned_min_max(spark, t, "rank").collect()
    assert [tuple(r) for r in got] == [(7, 9)]
    # and the evolved table's min/max over the old column still exact
    got = versioned_min_max(spark, t, "id").collect()
    assert [tuple(r) for r in got] == [(1, 202)]
    # equals the scan truth on every column
    truth = read_version(spark, t).agg(
        F.min("price"), F.max("price")
    ).first()
    got = versioned_min_max(spark, t, "price").collect()
    assert [tuple(r) for r in got] == [tuple(truth)]


def test_versioned_min_max_multi_column_shared_scan(
    spark, tmp_path, monkeypatch
):
    """The list form of versioned_min_max (r16 scan sharing): all
    requested columns resolve in ONE call — metadata where exact, a
    SINGLE shared scan over the union of boundary files otherwise —
    and every per-column answer equals the single-column call's and
    the full-scan truth.  Scanning a file only one column needed must
    not disturb the others' extremes."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_delete,
        versioned_min_max,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    rows = [(i, float(100 - i) * 1.5, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id int, price double, v string")
    versioned_write(df.repartitionByRange(4, "id"), t)
    # DV the id extremes: id needs a boundary scan, price's extremes
    # live in the SAME files (reversed order) so it scans too, and the
    # middle files stay closed
    versioned_delete(spark, t, "id IN (0, 99)", strategy="dv")

    real_rf = V._read_files
    calls = []

    def counting_rf(spark_, path_, files_, m_, **k):
        calls.append(sorted(files_))
        return real_rf(spark_, path_, files_, m_, **k)

    monkeypatch.setattr(V, "_read_files", counting_rf)
    got = versioned_min_max(spark, t, ["id", "price", "v"]).collect()
    monkeypatch.setattr(V, "_read_files", real_rf)
    assert len(calls) == 1, (
        f"multi-column min/max must share one scan, got {len(calls)}"
    )
    m = V._read_manifest(t, 2)
    assert 0 < len(calls[0]) < len(m["files"]), (
        "the shared scan must cover only the union of boundary files"
    )
    truth = read_version(spark, t).agg(
        F.min("id"), F.max("id"),
        F.min("price"), F.max("price"),
        F.min("v"), F.max("v"),
    ).first()
    assert [tuple(r) for r in got] == [tuple(truth)]
    # column order follows the list; names are min_<col>/max_<col>
    assert got[0].__fields__ == [
        "min_id", "max_id", "min_price", "max_price", "min_v", "max_v",
    ]
    # the single-column form is unchanged and agrees
    one = versioned_min_max(spark, t, "price").collect()
    assert [tuple(r) for r in one] == [(truth[2], truth[3])]


def test_versioned_min_max_time_columns_and_empty(spark, tmp_path):
    """Time-typed columns keep their stats as ISO strings: the result
    casts back to the committed type exactly; an all-NULL column and
    an unknown column behave honestly."""
    import datetime

    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_min_max

    t = str(tmp_path / "tbl")
    rows = [
        (1, datetime.datetime(2024, 1, 1, 12, 30, 0)),
        (2, datetime.datetime(2024, 3, 5, 0, 0, 0)),
        (3, None),
    ]
    versioned_write(
        spark.createDataFrame(rows, "id int, ts timestamp")
        .repartitionByRange(2, "id"),
        t,
    )
    got = versioned_min_max(spark, t, "ts").collect()
    assert [tuple(r) for r in got] == [
        (
            datetime.datetime(2024, 1, 1, 12, 30, 0),
            datetime.datetime(2024, 3, 5, 0, 0, 0),
        )
    ]
    with pytest.raises(ValueError, match="not in the committed"):
        versioned_min_max(spark, t, "nope")


def test_merge_branch_fast_forward_and_refusals(spark, tmp_path):
    """merge_branch: fast-forward commits the branch head as the
    parent's next version — branch-written files are copied into the
    parent root (the merged parent survives branch deletion), carried
    parent files stay zero-copy; a parent that advanced past the fork
    point refuses, and branch_diff provides the reconciliation set."""
    import shutil

    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        branch_diff,
        create_branch,
        merge_branch,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 10).repartitionByRange(2, "id"), t)  # v1
    b = create_branch(t, "dev")
    # branch-side work: append, DV delete, keyed upsert
    versioned_write(mk(100, 3), b)
    versioned_delete(spark, b, "id = 7", strategy="dv")
    versioned_upsert(mk(3, 1), b, ["id"])  # rewrites id=3's file
    want = sorted(
        (r["id"], r["v"]) for r in read_version(spark, b).collect()
    )
    v = merge_branch(t, "dev")
    assert v == 2 and versions(t) == [1, 2]
    got = sorted((r["id"], r["v"]) for r in read_version(spark, t).collect())
    assert got == want
    m = _read_manifest(t, 2)
    assert "file_base" not in m, "merged parent must be self-contained"
    assert m["mode"].startswith("merge_branch:dev@v")
    # the merged parent survives deleting the branch outright
    shutil.rmtree(b)
    got2 = sorted(
        (r["id"], r["v"]) for r in read_version(spark, t).collect()
    )
    assert got2 == want

    # divergence refuses: new branch, then the parent advances
    b2 = create_branch(t, "dev2")
    versioned_write(mk(300, 2), b2)
    versioned_write(mk(200, 2), t)  # parent moves past the fork point
    with pytest.raises(ValueError, match="fast-forward|advanced"):
        merge_branch(t, "dev2")
    # branch_diff hands back the keyed reconciliation set
    d = branch_diff(spark, t, "dev2", ["id"])
    ops = {(r["id"], r["op"]) for r in d.collect()}
    assert (300, "I") in ops and (301, "I") in ops
    assert (200, "D") in ops and (201, "D") in ops  # parent-only keys
    # unknown branch is an honest error
    with pytest.raises(ValueError, match="no branch"):
        merge_branch(t, "nope")


def test_merge_branch_lost_race_cleans_up_copied_files(
    spark, tmp_path, monkeypatch
):
    """A parent writer racing merge_branch between its divergence check
    and its commit makes the merge the LOSER — it must delete the
    branch files it already copied into the parent root (they would
    otherwise sit as orphans until vacuum) and raise the same
    cannot-fast-forward refusal as the up-front check (r12 ADVICE).
    The parent's racing commit itself must survive untouched."""
    from pathlib import Path

    import pytest

    from _spark_multi_format_data_lake_pipeline_spark.sinks import versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import create_branch, merge_branch

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    )
    versioned_write(mk(0, 6).repartitionByRange(2, "id"), t)  # v1
    b = create_branch(t, "dev")
    versioned_write(mk(100, 3), b)  # branch-written files to copy
    real = V._commit_state
    raced = {"done": False}

    def _race(path, state, prev):
        if (
            not raced["done"]
            and str(state.get("mode", "")).startswith("merge_branch:")
        ):
            raced["done"] = True
            versioned_write(mk(200, 2), t)  # parent wins the race
        return real(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", _race)
    before = {
        str(p.relative_to(t)) for p in Path(t).rglob("*.parquet")
    }
    with pytest.raises(ValueError, match="fast-forward"):
        merge_branch(t, "dev")
    monkeypatch.setattr(V, "_commit_state", real)
    assert versions(t) == [1, 2], "the winner's commit must stand"
    after = {str(p.relative_to(t)) for p in Path(t).rglob("*.parquet")}
    m2 = _read_manifest(t, 2)
    live = set(m2["files"]) | set(m2.get("dv_files") or [])
    assert after - before <= live, (
        f"lost merge left orphan files: {sorted(after - before - live)}"
    )
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == sorted(list(range(6)) + [200, 201])


def test_generated_column_predicate_rewriting(spark, tmp_path):
    """Generated-column partition pruning (Delta's predicate
    rewriting): a filter range on the BASE column derives bounds for a
    monotone generated partition column and prunes through ITS always-
    present [v, v] zone maps — decisive when the base column has no
    stats at all (DECIMAL is outside the stats plane)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _candidate_split,
        _derived_prune_bounds,
        read_version_pruned,
        versioned_delete,
    )

    t = str(tmp_path / "tbl")
    rows = [(i, Decimal(i * 100).scaleb(-2) * 10000) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, amount decimal(12,2)")
    band = F.floor(F.col("amount") / 100000).cast("int")
    versioned_write(
        df.repartition(4, band),
        t,
        partition_by=["band"],
        generated_columns={"band": "CAST(floor(amount / 100000) AS INT)"},
    )
    m = _read_manifest(t, 1)
    # decimal column: no stats anywhere -> base split keeps everything
    base_keep, base_skip = _candidate_split(
        m, "amount", Decimal("0"), Decimal("99999.99")
    )
    assert not base_skip and len(base_keep) == len(m["files"])
    # the derived bound maps [0, 99999.99] -> band [0, 0]
    derived = _derived_prune_bounds(
        spark, m, "amount", Decimal("0"), Decimal("99999.99")
    )
    assert ("band", 0, 0) in derived
    got = read_version_pruned(
        spark, t, "amount", lo=Decimal("0"), hi=Decimal("99999.99")
    )
    assert sorted(r["id"] for r in got.collect()) == list(range(10))
    # ...and the plan opened only band-0 files (derived split)
    allowed = set(_candidate_split(m, "band", 0, 0)[0])
    assert 0 < len(allowed) < len(m["files"])

    # copy-on-write delete confines through the derived bound too:
    # untouched bands carry byte-identical
    before = set(m["files"])
    versioned_delete(
        spark,
        t,
        "amount < 50000.00",
        prune_col="amount",
        lo=Decimal("0"),
        hi=Decimal("49999.99"),
    )
    m2 = _read_manifest(t, 2)
    assert before - allowed <= set(m2["files"]), (
        "files outside the derived band must carry verbatim"
    )
    got2 = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got2 == list(range(5, 40))

    # date_trunc shape: day partitions derived from a timestamp filter
    t2 = str(tmp_path / "t2")
    ts_rows = [
        (i, datetime.datetime(2024, 1, 1 + i // 4, 6 + (i % 4), 0, 0))
        for i in range(16)
    ]
    tdf = spark.createDataFrame(ts_rows, "id int, ts timestamp")
    versioned_write(
        tdf.repartition(2, F.date_trunc("DAY", "ts")),
        t2,
        partition_by=["day"],
        generated_columns={"day": "date_trunc('DAY', ts)"},
    )
    m3 = _read_manifest(t2, 1)
    d = _derived_prune_bounds(
        spark,
        m3,
        "ts",
        datetime.datetime(2024, 1, 2, 0, 0, 0),
        datetime.datetime(2024, 1, 2, 23, 0, 0),
    )
    assert [(g, str(a), str(b)) for g, a, b in d] == [
        ("day", "2024-01-02 00:00:00", "2024-01-02 00:00:00")
    ]
    got3 = read_version_pruned(
        spark,
        t2,
        "ts",
        lo=datetime.datetime(2024, 1, 2, 0, 0, 0),
        hi=datetime.datetime(2024, 1, 2, 23, 0, 0),
    )
    assert sorted(r["id"] for r in got3.collect()) == [4, 5, 6, 7]

    # NON-monotone / multi-column expressions derive nothing
    t3 = str(tmp_path / "t3")
    versioned_write(
        spark.createDataFrame([(1, 2)], "a int, b int"),
        t3,
        generated_columns={"m": "a % 7", "s": "a + b"},
    )
    m4 = _read_manifest(t3, 1)
    assert _derived_prune_bounds(spark, m4, "a", 0, 100) == []


def test_concurrent_dv_delete_rebases_and_refuses(spark, tmp_path, monkeypatch):
    """Merge-on-read DELETE under a commit race: a pure-append winner
    rebases (vectors address immutable rows — serial order
    delete-then-append), an overlapping rewrite of a scanned file
    refuses, and a disjoint rewrite rebases when the winner's output
    is provably outside the delete's read range."""
    import _spark_multi_format_data_lake_pipeline_spark.sinks.versioned as V
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        ConcurrentCommitError,
        versioned_delete,
    )

    t = str(tmp_path / "tbl")
    mk = lambda lo, n=3: spark.createDataFrame(
        [(lo + i, f"v{lo + i}") for i in range(n)], "id int, v string"
    ).repartition(1)
    versioned_write(mk(0, 6), t)  # v1

    real_cs = V._commit_state
    fired = {"done": False}

    def racy_append(path, state, prev):
        if not fired["done"] and state["version"] == 2:
            fired["done"] = True
            versioned_write(mk(100), path)
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_append)
    v = versioned_delete(spark, t, "id IN (1, 4)", strategy="dv")
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v == 3 and versions(t) == [1, 2, 3]
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == [0, 2, 3, 5, 100, 101, 102]
    m = _read_manifest(t, 3)
    assert m["row_count"] == 7 and sum(m["dv_counts"].values()) == 2

    # overlapping: winner CoW-rewrites the very file the DV delete
    # scanned -> refuse, winner intact
    fired2 = {"done": False}

    def racy_rewrite(path, state, prev):
        if not fired2["done"] and state["version"] == 4:
            fired2["done"] = True
            versioned_delete(spark, path, "id = 0")  # cow, all candidates
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_rewrite)
    with pytest.raises(ConcurrentCommitError, match="overlapping|re-run"):
        versioned_delete(spark, t, "id = 2", strategy="dv")
    monkeypatch.setattr(V, "_commit_state", real_cs)
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == [2, 3, 5, 100, 101, 102]

    # disjoint: loser DV-deletes in the low range with a prune hint,
    # winner rewrites the high file -> both land
    t2 = str(tmp_path / "t2")
    rows = [(i, f"v{i}") for i in range(6)] + [
        (i, f"v{i}") for i in range(100, 106)
    ]
    versioned_write(
        spark.createDataFrame(rows, "id int, v string")
        .repartitionByRange(2, "id"),
        t2,
    )
    fired3 = {"done": False}

    def racy_hi(path, state, prev):
        if not fired3["done"] and state["version"] == 2:
            fired3["done"] = True
            versioned_delete(
                spark, path, "id = 105", prune_col="id", lo=105, hi=105
            )
        return real_cs(path, state, prev)

    monkeypatch.setattr(V, "_commit_state", racy_hi)
    v = versioned_delete(
        spark, t2, "id IN (1, 3)", strategy="dv",
        prune_col="id", lo=0, hi=6,
    )
    monkeypatch.setattr(V, "_commit_state", real_cs)
    assert v == 3
    got = sorted(r["id"] for r in read_version(spark, t2).collect())
    assert got == [0, 2, 4, 5, 100, 101, 102, 103, 104]


def test_cluster_by_auto_layout(spark, tmp_path):
    """Liquid-clustering-style auto-layout: cluster_by is a table
    property — every write z-orders its NEW files along the Morton
    curve of the spec (no explicit OPTIMIZE needed), multi-dim pruned
    reads confine on BOTH columns, compact re-clusters by the spec by
    default, and the spec refuses to combine with partitioning or a
    conflicting explicit zorder."""
    import pytest
    from pyspark.sql import functions as F

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _candidate_split,
        compact,
        read_version_pruned_multi,
        versioned_write,
    )

    t = str(tmp_path / "tbl")
    rows = [(i, (i * 37) % 1000, float((i * 91) % 1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id int, x int, y double").repartition(8)
    versioned_write(df, t, cluster_by=["x", "y"])
    m = _read_manifest(t, 1)
    assert m.get("cluster_by") == ["x", "y"]
    # write-path clustering bounds BOTH columns' per-file spans: a box
    # probe on either dimension prunes files without any OPTIMIZE
    kx, _ = _candidate_split(m, "x", 0, 99)
    ky, _ = _candidate_split(m, "y", 0.0, 99.0)
    assert len(kx) < len(m["files"]) and len(ky) < len(m["files"])
    # appends inherit the spec and stay clustered
    extra = spark.createDataFrame(
        [(10000 + i, (i * 13) % 1000, float((i * 7) % 1000)) for i in range(2000)],
        "id int, x int, y double",
    ).repartition(4)
    versioned_write(extra, t)
    m2 = _read_manifest(t, 2)
    new_files = [f for f in m2["files"] if f not in set(m["files"])]
    spans = [
        m2["file_stats"][f]["x"][1] - m2["file_stats"][f]["x"][0]
        for f in new_files
        if "x" in m2["file_stats"].get(f, {})
    ]
    assert spans and min(spans) < 999, "appended files must be clustered"
    # exactness of the boxed read over the clustered layout
    got = read_version_pruned_multi(
        spark, t, {"x": (100, 200), "y": (100.0, 300.0)}
    )
    expect = (
        read_version(spark, t)
        .filter(F.col("x").between(100, 200) & F.col("y").between(100.0, 300.0))
        .collect()
    )
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in expect
    )
    # compact() re-clusters by the spec by default; conflicting
    # explicit zorder refuses; partitioning combos refuse
    v = compact(spark, t, target_files=4)
    m3 = _read_manifest(t, v)
    assert m3.get("cluster_by") == ["x", "y"]
    k3, _ = _candidate_split(m3, "y", 0.0, 99.0)
    assert len(k3) < len(m3["files"])
    with pytest.raises(ValueError, match="clustered by"):
        compact(spark, t, zorder_cols=["id"])
    with pytest.raises(ValueError, match="partition_by or bucket_by"):
        versioned_write(df, str(tmp_path / "t2"), cluster_by=["x"], partition_by=["x"])
    with pytest.raises(ValueError, match="partition_by or bucket_by"):
        versioned_write(df, str(tmp_path / "t3"), cluster_by=["x"], bucket_by=("id", 4))


def test_parquet_checkpoint_resolution_equivalence():
    """The parquet-plane checkpoint is a pure re-ENCODING: for any full
    snapshot state, _load_checkpoint(_encode_checkpoint(state)) must
    reproduce the state exactly — files and dv_files in committed
    order, every per-file plane entry byte-identical, every table-level
    key untouched.  Driven with a synthetic 5,000-file state so the
    equivalence is checked at a scale where inline JSON would already
    hurt, without writing 5,000 parquet files."""
    import json

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _encode_checkpoint,
        _load_checkpoint,
        _plane_dir,
    )

    n = 5000
    files = [f"data/u{i // 100:03d}/part-{i:05d}.parquet" for i in range(n)]
    state = {
        "version": 10,
        "mode": "append",
        "committed_at": 1700000000.0,
        "row_count": n * 1000,
        "schema": {"type": "struct", "fields": [
            {"name": "id", "type": "integer", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ]},
        "files": files,
        "file_stats": {
            f: {"id": [i * 10, i * 10 + 9], "v": [f"a{i}", f"z{i}"]}
            for i, f in enumerate(files)
        },
        "file_meta": {
            f: {"bytes": 128 * 1024 * 1024, "rows": 1000,
                "nulls": {"id": 0, "v": i % 3}}
            for i, f in enumerate(files)
        },
        "bloom": {f: f"b-{i % 7:032d}.json" for i, f in enumerate(files)},
        "bloom_by": {"cols": ["v"], "m": 8192, "k": 3},
        "file_base": {files[0]: "/elsewhere/src"},
        "dv_files": ["_deletes/x/part-0.parquet"],
        "dv_counts": {files[1]: 17},
        "dv_covers": {"_deletes/x/part-0.parquet": [files[1]]},
        "constraints": {"id_pos": "id >= 0"},
        "partition_by": [],
    }
    t = "/tmp/cp_equiv_test"
    import shutil

    shutil.rmtree(t, ignore_errors=True)
    raw = _encode_checkpoint(t, dict(state))
    # the committed JSON is O(columns): no file lists, no plane dicts
    assert raw["kind"] == "checkpoint" and raw["n_files"] == n
    assert "files" not in raw and "file_stats" not in raw
    assert "bloom" not in raw and "dv_counts" not in raw
    blob = json.dumps(raw, indent=1, default=dict)
    assert len(blob) < 4096, (
        f"checkpoint JSON must stay O(columns), got {len(blob)} bytes "
        f"for {n} files"
    )
    plane = _plane_dir(t) / raw["plane_file"]
    assert plane.is_file()
    back = _load_checkpoint(t, json.loads(blob))
    assert back == state, "decode(encode(state)) must be the identity"
    # idempotent re-encode: same content -> same content-addressed file
    raw2 = _encode_checkpoint(t, dict(state))
    assert raw2["plane_file"] == raw["plane_file"]
    assert len(list(_plane_dir(t).iterdir())) == 1
    shutil.rmtree(t, ignore_errors=True)


def test_checkpoint_goes_parquet_above_threshold(spark, tmp_path):
    """End-to-end: a commit whose snapshot holds >=64 files writes the
    parquet-plane checkpoint (v1 and every 10th version are full
    checkpoints), later delta commits chain on it, reads and pruned
    reads resolve identically, and vacuum's re-anchor keeps the bounded
    form.  Small tables keep the legacy inline JSON (no sidecar)."""
    import json
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _plane_dir

    t = str(tmp_path / "big")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(700)], "id int, v string"
    )
    versioned_write(df.repartitionByRange(70, "id"), t)  # v1: 70 files
    raw1 = json.loads((Path(t) / "_manifests" / "v1.json").read_text())
    assert raw1.get("kind") == "checkpoint" and raw1["n_files"] == 70
    assert "files" not in raw1
    m1 = _read_manifest(t, 1)
    assert len(m1["files"]) == 70 and m1["row_count"] == 700
    assert len(m1["file_stats"]) == 70
    # deltas chain on the parquet checkpoint
    versioned_write(
        spark.createDataFrame([(1000, "x")], "id int, v string").coalesce(1),
        t,
    )
    raw2 = json.loads((Path(t) / "_manifests" / "v2.json").read_text())
    assert raw2.get("kind") == "delta" and raw2["base"] == 1
    m2 = _read_manifest(t, 2)
    assert len(m2["files"]) == 71 and m2["row_count"] == 701
    got = sorted(r["id"] for r in read_version(spark, t).collect())
    assert got == sorted(list(range(700)) + [1000])
    # vacuum dropping the checkpoint re-anchors the delta in bounded form
    vacuum(t, keep_last=1)
    raw2b = json.loads((Path(t) / "_manifests" / "v2.json").read_text())
    assert raw2b.get("kind") == "checkpoint", (
        "re-anchored wide manifest must keep the parquet-plane form"
    )
    assert sorted(r["id"] for r in read_version(spark, t).collect()) == got
    # the dropped v1 checkpoint's plane file is swept; v2's stays
    planes = {p.name for p in _plane_dir(t).iterdir()}
    assert raw2b["plane_file"] in planes and raw1["plane_file"] not in planes
    # small tables never grow a plane sidecar
    s = str(tmp_path / "small")
    versioned_write(df.limit(5).coalesce(1), s)
    raws = json.loads((Path(s) / "_manifests" / "v1.json").read_text())
    assert "kind" not in raws and "files" in raws
    assert not _plane_dir(s).is_dir()


@pytest.mark.slow
def test_bloom_sidecars_survive_clone_merge_and_vacuum(spark, tmp_path):
    """Bloom masks live in content-addressed sidecars resolved through
    each file's root: a SHALLOW clone probes via the source's sidecars
    (zero-copy), a DEEP clone copies them and probes standalone,
    merge_branch lands branch-built sidecars in the parent (probing
    survives branch deletion), and vacuum sweeps sidecars no retained
    manifest references while keeping live ones."""
    import shutil
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _bloom_dir,
        clone_table,
        create_branch,
        merge_branch,
        read_version_bloom,
    )

    t = str(tmp_path / "src")
    mk = lambda lo, tag: spark.createDataFrame(
        [(lo + i, f"{tag}{i}") for i in range(10)], "id int, v string"
    ).coalesce(1)
    versioned_write(mk(0, "a"), t, bloom_by=["v"])
    versioned_write(mk(10, "b"), t)
    # shallow clone: no sidecar copied, probe reads the source's
    c1 = str(tmp_path / "shallow")
    clone_table(t, c1)
    assert not _bloom_dir(c1).is_dir()
    assert _rows(read_version_bloom(spark, c1, "v", ["b3"])) == [(13, "b3")]
    # deep clone: sidecars copied, probe survives source deletion
    c2 = str(tmp_path / "deep")
    clone_table(t, c2, deep=True)
    assert {p.name for p in _bloom_dir(c2).iterdir()} == {
        p.name for p in _bloom_dir(t).iterdir()
    }
    # branch work builds NEW masks under the branch root; merge copies
    # the sidecar into the parent alongside the branch-written file
    b = create_branch(t, "dev")
    versioned_write(mk(20, "c"), b)
    merge_branch(t, "dev")
    shutil.rmtree(str(Path(t) / "_branches"))
    assert _rows(read_version_bloom(spark, t, "v", ["c7"])) == [(27, "c7")]
    # source deletion: the deep clone still probes, standalone
    shutil.rmtree(t)
    assert _rows(read_version_bloom(spark, c2, "v", ["a5"])) == [(5, "a5")]
    # vacuum sweep: overwrite drops the old files' masks; their
    # sidecars go, the new commit's sidecar stays, probes stay exact
    t2 = str(tmp_path / "sweep")
    versioned_write(mk(0, "a"), t2, bloom_by=["v"])
    versioned_write(mk(10, "b"), t2)
    before = {p.name for p in _bloom_dir(t2).iterdir()}
    assert len(before) == 2
    versioned_write(mk(30, "d"), t2, mode="overwrite")
    vacuum(t2, keep_last=1)
    after = {p.name for p in _bloom_dir(t2).iterdir()}
    assert len(after) == 1 and not (after & before)
    assert _rows(read_version_bloom(spark, t2, "v", ["d4"])) == [(34, "d4")]


def test_add_column_default_fills_exactly_pre_evolution_rows(
    spark, tmp_path
):
    """add_column ... DEFAULT (Delta default values / Iceberg
    initial-default): rows written BEFORE the column existed read the
    default (per-file commit-version stamps, never a blanket coalesce);
    a later write OMITTING the column materializes it; a write CARRYING
    the column keeps explicit NULLs.  Time travel before the add shows
    no column; a rewrite materializes the default for rewritten rows
    while untouched pre-files keep filling."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        add_column,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id int, v string"
        ).repartitionByRange(2, "id"),
        t,
    )  # v1: 2 files, no 'status'
    add_column(t, "status", "string", default="active")  # v2: metadata-only
    m2 = _read_manifest(t, 2)
    assert m2["column_defaults"]["status"] == {
        "value": "active",
        "since": 2,
    }
    got = {r["id"]: r["status"] for r in read_version(spark, t).collect()}
    assert got == {i: "active" for i in range(6)}, (
        "pre-evolution rows must read the default"
    )
    # v3: append WITHOUT the column -> default materialized at write
    versioned_write(
        spark.createDataFrame([(10, "x")], "id int, v string").coalesce(1),
        t,
    )
    # v4: append WITH the column, one explicit NULL -> NULL survives
    versioned_write(
        spark.createDataFrame(
            [(20, "y", "archived"), (21, "z", None)],
            "id int, v string, status string",
        ).coalesce(1),
        t,
    )
    got = {r["id"]: r["status"] for r in read_version(spark, t).collect()}
    assert got[10] == "active", "an omitting write materializes the default"
    assert got[20] == "archived" and got[21] is None, (
        "an explicit NULL after the add must STAY NULL"
    )
    assert all(got[i] == "active" for i in range(6))
    # rewrite one pre-evolution file: its rows materialize; the other
    # pre-file keeps filling through the per-file stamp
    versioned_upsert(
        spark.createDataFrame([(0, "NEW")], "id int, v string"), t, ["id"]
    )
    got = {r["id"]: r["status"] for r in read_version(spark, t).collect()}
    assert got[0] == "active" and got[5] == "active" and got[21] is None
    # time travel before the add: no column at all
    old = read_version(spark, t, 1)
    assert "status" not in old.columns
    # CDF across the add keeps vintages honest: v1 rows have no status
    # plain add (no default): NULLs, no defaults entry
    add_column(t, "note", "string")
    m = _read_manifest(t, versions(t)[-1])
    assert "note" not in (m.get("column_defaults") or {})
    assert all(
        r["note"] is None for r in read_version(spark, t).collect()
    )
    # duplicate add refuses
    with pytest.raises(ValueError, match="already exists"):
        add_column(t, "status", "string")


def test_add_column_default_follows_rename_drop_and_compact(
    spark, tmp_path
):
    """Lifecycle: a default follows its column through rename_column,
    dies with drop_column, and compact() materializes it table-wide
    (after which the fill machinery is moot — rows physically carry
    their values)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        add_column,
        compact,
        drop_column,
        rename_column,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(4)], "id int, v string"
        ).coalesce(1),
        t,
    )
    add_column(t, "tier", "int", default=3)
    rename_column(t, "tier", "level")
    m = _read_manifest(t, versions(t)[-1])
    assert set(m["column_defaults"]) == {"level"}
    assert {r["level"] for r in read_version(spark, t).collect()} == {3}
    compact(spark, t, target_files=1)
    mc = _read_manifest(t, versions(t)[-1])
    got = read_version(spark, t)
    assert {r["level"] for r in got.collect()} == {3}
    # post-compact the rows physically carry the value: no pre-file
    # remains (every file's stamp >= since)
    fmeta = mc.get("file_meta") or {}
    since = mc["column_defaults"]["level"]["since"]
    assert all(
        (fmeta.get(f) or {}).get("v", 0) >= since for f in mc["files"]
    )
    drop_column(t, "level")
    md = _read_manifest(t, versions(t)[-1])
    assert "column_defaults" not in md
    assert "level" not in read_version(spark, t).columns


def test_not_null_constraint_lifecycle(spark, tmp_path):
    """set_not_null (Delta ALTER COLUMN SET NOT NULL): refuses over
    existing NULLs, gates every write path once set, composes with
    column defaults (an omitting write materializes the default and
    passes), refuses rename/drop while set, and drop_not_null restores
    nullability."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        CheckConstraintViolation,
        add_column,
        drop_not_null,
        rename_column,
        set_not_null,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame(
            [(1, "a"), (2, None)], "id int, v string"
        ).coalesce(1),
        t,
    )
    # existing NULLs refuse the declaration (Delta's rule)
    with pytest.raises(CheckConstraintViolation, match="not_null_v"):
        set_not_null(spark, t, "v")
    versioned_write(
        spark.createDataFrame([(2, "fixed")], "id int, v string"), t,
        mode="overwrite",
    )
    versioned_write(
        spark.createDataFrame([(1, "a")], "id int, v string"), t
    )
    v = set_not_null(spark, t, "v")
    m = _read_manifest(t, v)
    assert m["constraints"]["not_null_v"] == "`v` IS NOT NULL"
    # every write path gates: append, upsert
    with pytest.raises(CheckConstraintViolation, match="not_null_v"):
        versioned_write(
            spark.createDataFrame([(9, None)], "id int, v string"), t
        )
    with pytest.raises(CheckConstraintViolation, match="not_null_v"):
        versioned_upsert(
            spark.createDataFrame([(1, None)], "id int, v string"), t, ["id"]
        )
    # composes with defaults: an OMITTING write materializes and passes
    add_column(t, "status", "string", default="ok")
    set_not_null(spark, t, "status")
    versioned_write(
        spark.createDataFrame([(7, "g")], "id int, v string"), t
    )
    got = {r["id"]: r["status"] for r in read_version(spark, t).collect()}
    assert got[7] == "ok" and all(s == "ok" for s in got.values())
    # an explicit NULL in the carried column still refuses
    with pytest.raises(CheckConstraintViolation, match="not_null_status"):
        versioned_write(
            spark.createDataFrame(
                [(8, "h", None)], "id int, v string, status string"
            ),
            t,
        )
    # rename/double-set refuse honestly while set
    with pytest.raises(ValueError, match="referenced by"):
        rename_column(t, "v", "w")
    with pytest.raises(ValueError, match="already NOT NULL"):
        set_not_null(spark, t, "v")
    # drop restores nullability
    drop_not_null(t, "v")
    versioned_write(
        spark.createDataFrame([(9, None)], "id int, v string"), t
    )
    assert read_version(spark, t).filter("v IS NULL").count() == 1
    with pytest.raises(ValueError, match="no constraint"):
        drop_not_null(t, "nope")


def test_merge_branch_diverged_three_way_policies(spark, tmp_path):
    """Diverged-branch one-call merge: spark+keys turns the refusal
    into a 3-way keyed merge — one-sided changes from BOTH lineages
    survive, identical both-side changes dedupe, and keys changed
    differently on both sides follow the conflict policy: 'fail'
    raises with samples (nothing committed), 'theirs' takes the
    branch, 'ours' keeps the parent."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_branch,
        merge_branch,
        versioned_upsert,
    )

    def build(root):
        t = str(tmp_path / root)
        versioned_write(
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(10)], "id int, v string"
            ).repartitionByRange(2, "id"),
            t,
        )
        b = create_branch(t, "dev")
        mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
        # branch: update 3 (conflict), update 5 (identical), insert 100
        versioned_upsert(mk([(3, "B3"), (5, "SAME"), (100, "B100")]), b, ["id"])
        # parent diverges: update 3 differently, update 5 identically,
        # update 7 (one-sided), insert 200
        versioned_upsert(mk([(3, "P3"), (5, "SAME"), (7, "P7"), (200, "P200")]), t, ["id"])
        return t

    t = build("fail")
    with pytest.raises(ValueError, match="changed key"):
        merge_branch(t, "dev", spark=spark, keys=["id"])
    assert versions(t) == [1, 2], "a failed merge must commit nothing"

    t = build("theirs")
    v = merge_branch(t, "dev", spark=spark, keys=["id"], conflict="theirs")
    got = {r["id"]: r["v"] for r in read_version(spark, t, v).collect()}
    assert got[3] == "B3", "theirs: the branch wins the conflict"
    assert got[5] == "SAME" and got[7] == "P7"
    assert got[100] == "B100" and got[200] == "P200", (
        "one-sided changes from both lineages must survive"
    )
    assert len(got) == 12

    t = build("ours")
    v = merge_branch(t, "dev", spark=spark, keys=["id"], conflict="ours")
    got = {r["id"]: r["v"] for r in read_version(spark, t, v).collect()}
    assert got[3] == "P3", "ours: the parent wins the conflict"
    assert got[5] == "SAME" and got[7] == "P7"
    assert got[100] == "B100" and got[200] == "P200"

    # no conflicts at all: 'fail' merges cleanly (identical changes
    # dedupe, nothing double-applied)
    t = str(tmp_path / "clean")
    versioned_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id int, v string"
        ).coalesce(1),
        t,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import create_branch as _cb

    b = _cb(t, "dev")
    versioned_upsert(
        spark.createDataFrame([(1, "B1")], "id int, v string"), b, ["id"]
    )
    versioned_upsert(
        spark.createDataFrame([(4, "P4")], "id int, v string"), t, ["id"]
    )
    v = merge_branch(t, "dev", spark=spark, keys=["id"])
    got = {r["id"]: r["v"] for r in read_version(spark, t, v).collect()}
    assert got[1] == "B1" and got[4] == "P4" and len(got) == 6

    # unknown policy refuses before any work
    with pytest.raises(ValueError, match="conflict policy"):
        merge_branch(t, "dev", spark=spark, keys=["id"], conflict="both")


def test_change_data_feed_materializes_and_reads_cheaply(spark, tmp_path):
    """enable_change_data_feed: upsert/delete(cow+dv)/update commits
    materialize insert / update_preimage / update_postimage / delete
    rows under _change_data/ and read_change_feed serves any enabled
    range at O(changed rows); appends serve their data files as
    inserts with no feed files; compaction emits nothing; a commit
    from BEFORE enablement raises honestly."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        enable_change_data_feed,
        read_change_feed,
        versioned_delete,
        versioned_update,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(6)]).repartitionByRange(2, "id"), t
    )  # v1 (pre-enable)
    enable_change_data_feed(t)  # v2
    m2 = _read_manifest(t, 2)
    assert m2.get("change_data_feed") is True and "cdf_files" not in m2
    # v3 upsert: update id=1, insert id=100
    versioned_upsert(mk([(1, "U1"), (100, "I100")]), t, ["id"])
    m3 = _read_manifest(t, 3)
    assert m3.get("cdf_files"), "a feed-enabled upsert must write files"
    feed = read_change_feed(spark, t, 2, 3)
    got = sorted(
        (r["id"], r["_change_type"], r["v"]) for r in feed.collect()
    )
    assert got == [
        (1, "update_postimage", "U1"),
        (1, "update_preimage", "v1"),
        (100, "insert", "I100"),
    ]
    assert all(
        r["_commit_version"] == 3 for r in feed.collect()
    )
    # v4 cow delete + v5 append + v6 dv delete + v7 update
    versioned_delete(spark, t, "id = 2")
    versioned_write(mk([(200, "A200")]).coalesce(1), t)
    versioned_delete(spark, t, "id = 4", strategy="dv")
    versioned_update(spark, t, {"v": "'X5'"}, "id = 5")
    rows = sorted(
        (r["_commit_version"], r["id"], r["_change_type"])
        for r in read_change_feed(spark, t, 3, 7).collect()
    )
    assert rows == [
        (4, 2, "delete"),
        (5, 200, "insert"),
        (6, 4, "delete"),
        (7, 5, "update_postimage"),
        (7, 5, "update_preimage"),
    ]
    # the feed carries the postimage VALUES
    post = {
        (r["_commit_version"], r["id"]): r["v"]
        for r in read_change_feed(spark, t, 3, 7)
        .filter("_change_type = 'update_postimage'")
        .collect()
    }
    assert post == {(7, 5): "X5"}
    # compaction is row-preserving: empty feed slice
    compact(spark, t, target_files=1)
    assert read_change_feed(spark, t, 7, 8).count() == 0
    # the feed round-trips: applying it to the FROM snapshot yields TO
    # (postimage/insert upserted, delete removed)
    base = {r["id"]: r["v"] for r in read_version(spark, t, 3).collect()}
    for r in sorted(
        read_change_feed(spark, t, 3, 7).collect(),
        key=lambda r: r["_commit_version"],
    ):
        if r["_change_type"] == "delete":
            base.pop(r["id"], None)
        elif r["_change_type"] in ("insert", "update_postimage"):
            base[r["id"]] = r["v"]
    now = {r["id"]: r["v"] for r in read_version(spark, t, 7).collect()}
    assert base == now
    # a range crossing the pre-enable row-level history raises if that
    # commit was row-level... v1 is the initial commit (insert-served);
    # a pre-enable UPSERT must raise:
    t2 = str(tmp_path / "pre")
    versioned_write(mk([(1, "a")]).coalesce(1), t2)
    versioned_upsert(mk([(1, "b")]), t2, ["id"])  # v2, no feed files
    enable_change_data_feed(t2)
    with pytest.raises(ValueError, match="no materialized change"):
        read_change_feed(spark, t2, 1, 2).collect()
    # vacuum: feed files of dropped versions are swept, retained stay
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import vacuum as _vac

    cdf_v3 = set(m3["cdf_files"])
    _vac(t, keep_last=2)  # drops v3's manifest
    live = {
        str(p.relative_to(t))
        for p in (Path(t) / "_change_data").rglob("*.parquet")
    }
    assert not (cdf_v3 & live), "dropped versions' feed files must sweep"


def test_change_data_feed_streams_with_read_change_feed(spark, tmp_path):
    """readChangeFeed (Delta streaming CDF): a versioned_changes stream
    no longer refuses row-level commits — it emits their materialized
    change rows with _change_type/_commit_version, appends stream as
    inserts, and the batch feed equals the streamed rows exactly.
    skipChangeCommits+readChangeFeed refuses (contradictory)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_change_feed,
        versioned_delete,
        versioned_upsert,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(4)]).coalesce(1), t
    )  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(mk([(1, "U1"), (50, "I50")]), t, ["id"])  # v3
    versioned_delete(spark, t, "id = 2", strategy="dv")  # v4
    versioned_write(mk([(60, "A60")]).coalesce(1), t)  # v5
    with pytest.raises(ValueError, match="contradictory"):
        VersionedChangesStreamReader(
            {
                "path": t,
                "readChangeFeed": "true",
                "skipChangeCommits": "true",
            }
        )
    versioned_stream.register(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    got = spark.read.schema(
        "id int, v string, _change_type string, _commit_version long"
    ).parquet(out)
    rows = sorted(
        (r["_commit_version"], r["id"], r["_change_type"], r["v"])
        for r in got.collect()
    )
    # v1 bootstrap snapshot -> inserts; v3 merge rows; v4 dv delete;
    # v5 append insert
    assert rows == [
        (1, 0, "insert", "v0"),
        (1, 1, "insert", "v1"),
        (1, 2, "insert", "v2"),
        (1, 3, "insert", "v3"),
        (3, 1, "update_postimage", "U1"),
        (3, 1, "update_preimage", "v1"),
        (3, 50, "insert", "I50"),
        (4, 2, "delete", "v2"),
        (5, 60, "insert", "A60"),
    ]
    # stream == batch: the feed over (1, 5] matches the streamed rows
    # past the bootstrap
    batch = sorted(
        (r["_commit_version"], r["id"], r["_change_type"], r["v"])
        for r in read_change_feed(spark, t, 1, 5).collect()
    )
    assert batch == [r for r in rows if r[0] > 1]


def test_ndv_registers_commit_merge_and_estimate(spark, tmp_path):
    """ndv_by commits per-file NDV registers to content-addressed
    sidecars (Iceberg puffin-sketch shape); versioned_ndv_registers
    max-merges the live files' registers metadata-only and equals the
    registers computed over the whole table directly (the HLL
    mergeability law); the estimate lands within HLL error of the
    exact distinct count; carries ride rewrites; partial coverage
    raises unless allowed; vacuum sweeps dead sidecars."""
    from _spark_multi_format_data_lake_pipeline_spark.functions.sketches import (
        hll_merge_registers,
        hll_register_partials,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _sidecar_dir,
        versioned_ndv,
        versioned_ndv_registers,
        versioned_upsert,
    )
    from pyspark.sql import functions as F

    t = str(tmp_path / "tbl")
    mk = lambda lo, n: spark.createDataFrame(
        [(lo + i, f"u{(lo + i) % 700}") for i in range(n)],
        "id int, user string",
    )
    versioned_write(
        mk(0, 1000).repartitionByRange(3, "id"), t, ndv_by=["user"]
    )
    versioned_write(mk(1000, 500).repartitionByRange(2, "id"), t)
    m = _read_manifest(t, 2)
    assert m["ndv_by"] == {"cols": ["user"], "p": 12}
    assert set(m["ndv"]) == set(m["files"])
    # merged registers == registers of the whole table computed directly
    got = sorted(
        (r["bucket"], r["rho"])
        for r in versioned_ndv_registers(spark, t, "user").collect()
    )
    want = sorted(
        (r["bucket"], r["rho"])
        for r in hll_merge_registers(
            hll_register_partials(
                read_version(spark, t).filter(F.col("user").isNotNull()),
                "user",
                F.lit(1),
                p=12,
            )
        ).collect()
    )
    assert got == want, "per-file max-merge must equal the global table"
    est = versioned_ndv(spark, t, "user")
    assert abs(est - 700) / 700 < 0.1, f"estimate {est} too far from 700"
    # registers carry through a rewrite; the rewritten file gets fresh
    versioned_upsert(mk(3, 1), t, ["id"])
    est2 = versioned_ndv(spark, t, "user")
    assert abs(est2 - 700) / 700 < 0.1
    # partial coverage raises: a table whose early files predate the spec
    t2 = str(tmp_path / "partial")
    versioned_write(mk(0, 100).coalesce(1), t2)  # no spec
    versioned_write(mk(100, 100).coalesce(1), t2, ndv_by=["user"], mode="overwrite")
    versioned_write(mk(200, 100).coalesce(1), t2)
    import pytest as _pt

    # overwrite rebuilt everything under the spec -> fully covered
    assert versioned_ndv_registers(spark, t2, "user").count() > 0
    # unknown column refuses
    with _pt.raises(ValueError, match="no NDV registers"):
        versioned_ndv_registers(spark, t2, "id")
    # vacuum: overwritten v1 sidecars (none) / dropped refs sweep
    versioned_write(mk(0, 50).coalesce(1), t, mode="overwrite")
    before = {p.name for p in _sidecar_dir(t, "ndv").iterdir()}
    vacuum(t, keep_last=1)
    after = {p.name for p in _sidecar_dir(t, "ndv").iterdir()}
    assert len(after) < len(before), "dead register sidecars must sweep"
    assert versioned_ndv(spark, t, "user") > 0


def test_row_tracking_ids_stable_across_rewrites(spark, tmp_path):
    """Row tracking (Delta 4.x stable row ids): enable backfills
    per-file base ids metadata-only; appends get implicit ids (zero
    storage); UPDATE/compact/delete rewrites materialize and PRESERVE
    each surviving row's id; an upserted key inherits the replaced
    row's id while inserts draw fresh ones past the watermark; ids are
    unique always and never reused (rollback keeps the max
    watermark)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        enable_row_tracking,
        read_version_row_ids,
        rollback,
        versioned_delete,
        versioned_update,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(8)]).repartitionByRange(2, "id"),
        t,
    )  # v1: 2 files, pre-tracking
    enable_row_tracking(t)  # v2: metadata-only backfill
    m2 = _read_manifest(t, 2)
    assert m2["row_tracking"] is True and m2["row_id_high_water"] == 8
    assert all(
        "brid" in m2["file_meta"][f] for f in m2["files"]
    ), "every existing file gets a base id at enablement"
    ids0 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert sorted(ids0.values()) == list(range(8)), (
        "backfilled ids must be 0..n-1, one per row"
    )
    # append: implicit fresh ids continue past the watermark
    versioned_write(mk([(100, "a"), (101, "b")]).coalesce(1), t)  # v3
    ids1 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert all(ids1[k] == v for k, v in ids0.items())
    assert sorted(ids1[k] for k in (100, 101)) == [8, 9]
    # UPDATE preserves ids (rewrite materializes them)
    versioned_update(spark, t, {"v": "'X'"}, "id = 3")  # v4
    ids2 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert ids2 == ids1, "UPDATE must not re-deal any id"
    # upsert: updated key inherits, inserted key draws fresh
    versioned_upsert(mk([(3, "U3"), (500, "I500")]), t, ["id"])  # v5
    ids3 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert ids3[3] == ids1[3], "an updated key inherits the old row's id"
    assert ids3[500] == 10, "inserts draw fresh ids past the watermark"
    assert _read_manifest(t, 5)["row_id_high_water"] == 11
    # delete: survivors keep ids; compact: re-clustering keeps ids
    versioned_delete(spark, t, "id = 5")  # v6
    compact(spark, t, target_files=1)  # v7
    ids4 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert 5 not in ids4
    assert ids4 == {k: v for k, v in ids3.items() if k != 5}, (
        "delete+compact must preserve every survivor's id"
    )
    # uniqueness across the whole history of operations
    assert len(set(ids4.values())) == len(ids4)
    # rollback keeps the max watermark: post-rollback inserts never
    # reuse ids handed out after the target snapshot
    rollback(t, 5)  # v8: state of v5, watermark stays >= 11
    assert _read_manifest(t, 8)["row_id_high_water"] == 11
    versioned_write(mk([(600, "z")]).coalesce(1), t)  # v9
    ids5 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert ids5[600] == 11, "rollback must not let ids be re-dealt"
    # time travel: ids as of an old version resolve through that manifest
    old = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t, 3).collect()
    }
    assert old == ids1
    # reserved name refuses on an untracked table
    t2 = str(tmp_path / "plain")
    with pytest.raises(ValueError, match="reserved"):
        versioned_write(
            spark.createDataFrame([(1, 2)], "id int, __row_id long"), t2
        )
    # untracked read refuses honestly
    versioned_write(mk([(1, "a")]).coalesce(1), t2)
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import read_version_row_ids as rvi

    with pytest.raises(ValueError, match="no row tracking"):
        rvi(spark, t2)


def test_row_tracking_with_partitions_dv_and_rename(spark, tmp_path):
    """Row tracking composes with the rest of the table surface: a
    partitioned table's ids resolve through the grouped scan path, a
    DV delete retires ids without touching files, a rename leaves ids
    alone, and a bucket-layout table keeps both hidden columns
    (__bucket committed, __row_id not)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_row_tracking,
        read_version_row_ids,
        rename_column,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, f"v{i}", f"d{i % 3}") for i in range(9)],
        "id int, v string, day string",
    )
    versioned_write(df.repartition(2), t, partition_by=["day"])
    enable_row_tracking(t)
    ids0 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert sorted(ids0.values()) == list(range(9))
    # DV delete: no file rewritten, survivors keep their implicit ids
    versioned_delete(spark, t, "id = 4", strategy="dv")
    ids1 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert ids1 == {k: v for k, v in ids0.items() if k != 4}
    # rename: metadata-only, ids untouched; upsert after the rename
    # inherits/draws correctly
    rename_column(t, "v", "val")
    versioned_upsert(
        spark.createDataFrame(
            [(1, "U1", "d1"), (300, "I", "d0")],
            "id int, val string, day string",
        ),
        t,
        ["id"],
    )
    ids2 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert ids2[1] == ids0[1], "rename must not disturb id inheritance"
    assert ids2[300] == 9 and len(set(ids2.values())) == len(ids2)
    m = _read_manifest(t, versions(t)[-1])
    assert not any(
        f["name"] == "__row_id" for f in m["schema"]["fields"]
    ), "the materialized id column must stay out of the committed schema"
    # bucket layout + tracking coexist
    tb = str(tmp_path / "buck")
    versioned_write(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "id int, v string"
        ),
        tb,
        bucket_by=("id", 4),
    )
    enable_row_tracking(tb)
    versioned_upsert(
        spark.createDataFrame([(2, "U2")], "id int, v string"), tb, ["id"]
    )
    got = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, tb).collect()
    }
    assert len(set(got.values())) == 8 and "__bucket" not in (
        read_version_row_ids(spark, tb).columns
    )


def test_change_feed_bridges_renames(spark, tmp_path):
    """CDF files carry PHYSICAL column names (like data files), so a
    rename between feed commits costs nothing: read_change_feed serves
    every commit's rows under the TO version's logical names, pre- and
    post-rename alike."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_change_feed,
        rename_column,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows, sch: spark.createDataFrame(rows, sch)
    versioned_write(
        mk([(i, f"v{i}") for i in range(4)], "id int, v string").coalesce(1),
        t,
    )  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(
        mk([(1, "U1")], "id int, v string"), t, ["id"]
    )  # v3: feed rows under the OLD name
    rename_column(t, "v", "w")  # v4: metadata-only
    versioned_upsert(
        mk([(2, "U2")], "id int, w string"), t, ["id"]
    )  # v5: feed rows under the NEW name
    feed = read_change_feed(spark, t, 2, 5)
    assert "w" in feed.columns and "v" not in feed.columns, (
        "the feed speaks the TO version's logical names"
    )
    got = sorted(
        (r["_commit_version"], r["id"], r["_change_type"], r["w"])
        for r in feed.collect()
    )
    assert got == [
        (3, 1, "update_postimage", "U1"),
        (3, 1, "update_preimage", "v1"),
        (5, 2, "update_postimage", "U2"),
        (5, 2, "update_preimage", "v2"),
    ]


def test_row_commit_version_tracks_last_modification(spark, tmp_path):
    """_row_commit_version (Delta defaultRowCommitVersion design): a
    row's last-modified version is its file's commit stamp unless a
    rewrite CARRIED it unmodified — survivors and compacted rows keep
    their old version (materialized), rows the rewrite modified or
    inserted fall to the rewritten file's stamp."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        enable_row_tracking,
        read_version_row_ids,
        versioned_delete,
        versioned_update,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(6)]).coalesce(1), t
    )  # v1
    enable_row_tracking(t)  # v2
    cv = lambda: {
        r["id"]: r["_row_commit_version"]
        for r in read_version_row_ids(spark, t).collect()
    }
    assert cv() == {i: 1 for i in range(6)}, (
        "untouched rows carry their file's commit stamp"
    )
    versioned_write(mk([(10, "a")]).coalesce(1), t)  # v3 append
    assert cv()[10] == 3 and cv()[0] == 1
    versioned_update(spark, t, {"v": "'X'"}, "id = 2")  # v4 rewrite
    got = cv()
    assert got[2] == 4, "the modified row moves to the rewrite version"
    assert got[0] == 1 and got[3] == 1, (
        "survivors keep their OLD version through the rewrite"
    )
    versioned_upsert(mk([(3, "U"), (50, "I")]), t, ["id"])  # v5
    got = cv()
    assert got[3] == 5 and got[50] == 5
    assert got[0] == 1 and got[2] == 4, "carried rows keep their history"
    versioned_delete(spark, t, "id = 1")  # v6: survivors unmodified
    compact(spark, t, target_files=1)  # v7: row-preserving
    got = cv()
    assert 1 not in got
    assert got[0] == 1 and got[2] == 4 and got[3] == 5 and got[10] == 3, (
        "delete+compact must not disturb any survivor's version"
    )


def test_change_feed_refuses_vacuumed_interior_versions(spark, tmp_path):
    """A tag+vacuum combination leaves GAPS mid-history (e.g. vs=[2,5,6]).
    A change feed spanning a gap cannot reconstruct the vacuumed
    versions' changes, so both the batch read and the streaming walk
    must raise the vacuumed-version error instead of silently omitting
    them — the feature's own 'a silent gap would be worse than refusal'
    contract.  Gap-free sub-ranges on either side still serve."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        create_tag,
        enable_change_data_feed,
        read_change_feed,
        versioned_upsert,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(4)]).coalesce(1), t)  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(mk([(1, "U3")]), t, ["id"])  # v3
    versioned_upsert(mk([(2, "U4")]), t, ["id"])  # v4
    versioned_upsert(mk([(3, "U5")]), t, ["id"])  # v5
    versioned_upsert(mk([(0, "U6")]), t, ["id"])  # v6
    create_tag(t, "base", 2)
    vacuum(t, keep_last=2)  # keeps v2 (tag), v5, v6 -> gap at v3/v4
    assert versions(t) == [2, 5, 6]
    # batch: any range covering the gap refuses
    with pytest.raises(ValueError, match="vacuumed"):
        read_change_feed(spark, t, 2, 6)
    with pytest.raises(ValueError, match="vacuumed"):
        read_change_feed(spark, t, 2, 5)
    # gap-free slices still serve
    assert read_change_feed(spark, t, 5, 6).count() == 2
    got = sorted(
        (r["id"], r["_change_type"]) for r in
        read_change_feed(spark, t, 5, 6).collect()
    )
    assert got == [(0, "update_postimage"), (0, "update_preimage")]
    # streaming: a checkpoint resuming across the gap refuses too
    r = VersionedChangesStreamReader({"path": t, "readChangeFeed": "true"})
    with pytest.raises(ValueError, match="vacuumed"):
        r.partitions({"version": 2}, {"version": 6})
    # ... including through the capped latestOffset walk
    r2 = VersionedChangesStreamReader(
        {"path": t, "readChangeFeed": "true", "maxFilesPerTrigger": "1"}
    )
    r2._cursor = {"version": 2}
    with pytest.raises(ValueError, match="vacuumed"):
        r2.latestOffset()
    # a gap-free resume (from v5) still plans
    r3 = VersionedChangesStreamReader({"path": t, "readChangeFeed": "true"})
    parts = r3.partitions({"version": 5}, {"version": 6})
    assert parts, "gap-free resume must still plan the v6 feed files"


def test_versioned_ndv_warns_upper_bound_under_delete_vectors(
    spark, tmp_path
):
    """Per-file NDV registers do not see DV deletes (the file is not
    rewritten), so a snapshot with outstanding delete vectors serves an
    UPPER-BOUND estimate — loudly (UserWarning), never silently; after
    compact() materializes the deletes the estimate is exact again and
    the warning stops."""
    import warnings as _w

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        compact,
        versioned_delete,
        versioned_ndv,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"u{i % 50}") for i in range(500)], "id int, user string"
    )
    versioned_write(df.repartitionByRange(2, "id"), t, ndv_by=["user"])
    with _w.catch_warnings():
        _w.simplefilter("error")  # clean snapshot: no warning
        before = versioned_ndv(spark, t, "user")
    assert 40 <= before <= 60
    # DV-delete every user except u0 (lexicographic >=): files unchanged
    versioned_delete(spark, t, "user >= 'u1'", strategy="dv")
    with pytest.warns(UserWarning, match="UPPER BOUND"):
        stale = versioned_ndv(spark, t, "user")
    assert stale >= before * 0.9, "DV delete cannot shrink the registers"
    compact(spark, t, target_files=1)
    with _w.catch_warnings():
        _w.simplefilter("error")  # deletes materialized: exact again
        after = versioned_ndv(spark, t, "user")
    assert after < 2, f"post-compact NDV must track the 1 live user, got {after}"


def test_cdf_stream_byte_caps_pace_change_feed_batches(spark, tmp_path):
    """maxBytesPerTrigger must bound readChangeFeed batches too: change
    files live in their own manifest size plane (``cdf_file_meta``) —
    before it, the capped walk looked change files up in ``file_meta``
    (data files only), read 0 bytes, and byte pacing silently never
    applied to CDF batches."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        versioned_upsert,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(4)]).coalesce(1), t)  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(mk([(1, "U3")]), t, ["id"])  # v3
    versioned_upsert(mk([(2, "U4")]), t, ["id"])  # v4
    m3 = _read_manifest(t, 3)
    cfm = m3.get("cdf_file_meta")
    assert cfm and all(
        cfm[f].get("bytes", 0) > 0 for f in m3["cdf_files"]
    ), "commit must record change-file sizes"
    # the merge-on-read path records them too (it builds its manifest
    # directly, not via _write_snapshot)
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_delete

    versioned_delete(spark, t, "id = 3", strategy="dv")  # v5
    m5 = _read_manifest(t, 5)
    assert m5.get("cdf_files") and all(
        m5["cdf_file_meta"][f].get("bytes", 0) > 0
        for f in m5["cdf_files"]
    ), "dv-delete commits must record change-file sizes"
    r = VersionedChangesStreamReader(
        {"path": t, "readChangeFeed": "true", "maxBytesPerTrigger": "1"}
    )
    r._cursor = {"version": 2}
    off = r.latestOffset()
    assert off["version"] < 4 or off.get("file_index") is not None, (
        f"a 1-byte cap must split v3/v4's change files into multiple "
        f"batches, got {off}"
    )


def test_apply_changes_cdf_and_row_tracking(spark, tmp_path):
    """versioned_apply_changes on a change_data_feed + row_tracking
    table: the merge commit materializes its own Delta-CDF rows
    (clause-fired = fed, including by-source deletes) and row ids
    persist — carried rows keep id+version, updated rows keep id with
    a re-stamped version, inserts draw fresh ids past the watermark.
    The feed round-trips: applying it to the FROM snapshot yields TO
    (the table_diff algebra)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        enable_row_tracking,
        read_change_feed,
        read_version_row_ids,
        versioned_apply_changes,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(6)]).coalesce(1), t
    )  # v1: ids 0..5
    enable_change_data_feed(t)  # v2
    enable_row_tracking(t)  # v3
    ids0 = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_version_row_ids(spark, t).collect()
    }
    hw = _read_manifest(t, 3)["row_id_high_water"]
    # 3-way merge: U id=1 (fires), U id=2 (condition blocks), D id=3,
    # I id=100; by-source delete sweeps id=5 (condition), id 0/4 carry
    # (0 matches no clause, 4 survives the by-source condition)
    ch = spark.createDataFrame(
        [(1, "U1", "U"), (2, "SKIP", "U"), (3, None, "D"), (100, "I100", "I")],
        "id int, v string, op string",
    )
    v4 = versioned_apply_changes(
        ch,
        t,
        ["id"],
        matched_condition="s_v != 'SKIP'",
        not_matched_by_source_delete="id = 5",
    )
    assert v4 == 4
    # feed: exactly the fired clauses
    feed = sorted(
        (r["id"], r["_change_type"], r["v"])
        for r in read_change_feed(spark, t, 3, 4).collect()
    )
    assert feed == [
        (1, "update_postimage", "U1"),
        (1, "update_preimage", "v1"),
        (3, "delete", "v3"),
        (5, "delete", "v5"),
        (100, "insert", "I100"),
    ]
    # feed round-trip (the table_diff algebra): FROM + feed == TO
    base = {r["id"]: r["v"] for r in read_version(spark, t, 3).collect()}
    for r in read_change_feed(spark, t, 3, 4).collect():
        if r["_change_type"] == "delete":
            base.pop(r["id"])
        elif r["_change_type"] in ("insert", "update_postimage"):
            base[r["id"]] = r["v"]
    assert base == {
        r["id"]: r["v"] for r in read_version(spark, t, 4).collect()
    }
    # row tracking: survivors keep ids; updated id=1 keeps id, new cv;
    # carried 0/2/4 keep id AND cv; insert 100 draws past the watermark
    ids1 = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_version_row_ids(spark, t).collect()
    }
    assert set(ids1) == {0, 1, 2, 4, 100}
    for k in (0, 2, 4):
        assert ids1[k] == ids0[k], f"carried row {k} must keep id+version"
    assert ids1[1][0] == ids0[1][0], "updated row keeps its id"
    assert ids1[1][1] == 4, "updated row re-stamps its version"
    assert ids1[100][0] >= hw, "insert draws a fresh id past the watermark"
    assert ids1[100][1] == 4
    m4 = _read_manifest(t, 4)
    assert m4["row_id_high_water"] == hw + 1, "one insert = one id"
    # a second merge touching nothing feeds nothing and moves no id
    noop = spark.createDataFrame(
        [(100, "I100", "U")], "id int, v string, op string"
    )
    versioned_apply_changes(
        noop, t, ["id"], matched_condition="s_v != t_v"
    )  # v5: condition false -> no clause fires
    assert read_change_feed(spark, t, 4, 5).count() == 0
    ids2 = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_version_row_ids(spark, t).collect()
    }
    assert ids2 == ids1, "a no-op merge must not disturb ids or versions"


@pytest.mark.slow
def test_change_feed_timestamp_bounds_and_bounded_stream(spark, tmp_path):
    """startingTimestamp / endingTimestamp / endingVersion (Delta CDF
    parity): batch bounds resolve against each commit's committed_at
    clock — starting includes every commit at-or-after, ending is the
    version current at that time, past-the-head and behind-retention
    raise — and the STREAM accepts the same options, with endingVersion
    bounding an availableNow drain."""
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _manifest_dir,
        enable_change_data_feed,
        read_change_feed,
        version_at_or_after,
        version_at_or_before,
        versioned_upsert,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(4)]).coalesce(1), t)  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(mk([(1, "U3")]), t, ["id"])  # v3
    versioned_upsert(mk([(2, "U4")]), t, ["id"])  # v4
    versioned_upsert(mk([(3, "U5")]), t, ["id"])  # v5
    for v in versions(t):  # pin the commit clock: v -> 100*v
        m = _read_manifest(t, v)
        m["committed_at"] = 100.0 * v
        (_manifest_dir(t) / f"v{v}.json").write_text(
            _json.dumps(m, default=dict)
        )
    assert version_at_or_after(t, 250.0) == 3
    assert version_at_or_after(t, 300.0) == 3
    assert version_at_or_before(t, 450.0) == 4
    cv = lambda df: sorted(
        {r["_commit_version"] for r in df.collect()}
    )
    assert cv(read_change_feed(spark, t, starting_timestamp=250.0)) == [3, 4, 5]
    assert cv(
        read_change_feed(
            spark, t, starting_timestamp=250.0, ending_timestamp=450.0
        )
    ) == [3, 4]
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_change_feed(spark, t, 2, starting_timestamp=250.0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_change_feed(spark, t, 2, 5, ending_timestamp=450.0)
    with pytest.raises(ValueError, match="past the head"):
        read_change_feed(spark, t, starting_timestamp=9999.0)
    with pytest.raises(ValueError, match="no snapshot"):
        read_change_feed(spark, t, 2, ending_timestamp=50.0)
    with pytest.raises(ValueError, match="required"):
        read_change_feed(spark, t)
    # behind retention: vacuum to vs=[4,5]; a ts at/before v4's clock
    # cannot prove the vacuumed commits predate it
    vacuum(t, keep_last=2)
    assert versions(t) == [4, 5]
    with pytest.raises(ValueError, match="retention"):
        version_at_or_after(t, 150.0)
    assert cv(read_change_feed(spark, t, starting_timestamp=450.0)) == [5]
    # the stream accepts the same options
    with pytest.raises(ValueError, match="mutually exclusive"):
        VersionedChangesStreamReader(
            {"path": t, "startingVersion": "4", "startingTimestamp": "450"}
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        VersionedChangesStreamReader(
            {"path": t, "endingVersion": "5", "endingTimestamp": "500"}
        )
    with pytest.raises(ValueError, match="nothing to stream"):
        VersionedChangesStreamReader(
            {"path": t, "startingVersion": "5", "endingVersion": "5"}
        )
    r = VersionedChangesStreamReader(
        {"path": t, "readChangeFeed": "true", "startingTimestamp": "450"}
    )
    assert r.start_version == 4  # v5 streams, v4 delivered-through
    # bounded availableNow drain: endingVersion stops mid-history
    u = str(tmp_path / "u")
    for i in range(4):  # v1..v4, one row each
        versioned_write(mk([(i, f"a{i}")]).coalesce(1), u)
    versioned_stream.register(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_changes")
        .option("path", u)
        .option("endingVersion", "3")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    got = sorted(
        r["id"]
        for r in spark.read.schema("id int, v string").parquet(out).collect()
    )
    assert got == [0, 1, 2], "the bound must exclude v4's row"


def _drive_stream(reader_factory, t, events=None, max_iters=300):
    """Emulate the microbatch engine against a VersionedChangesStream
    Reader: latestOffset → partitions(committed, end) → read rows →
    commit(end), exactly the engine's call sequence (including the
    commit callback the offset floor hangs off).  ``events(batch_no,
    committed)`` may return 'restart' (new reader instance, same
    checkpoint) or 'vacuum:<keep_from>' between batches.  Returns the
    delivered rows as tuples in field order."""
    reader = reader_factory()
    fields = [f["name"] for f in reader._fields]
    committed = reader.initialOffset()
    rows: list[tuple] = []
    for it in range(max_iters):
        end = reader.latestOffset()
        if end == committed:
            return rows
        for p in reader.partitions(dict(committed), dict(end)):
            for item in reader.read(p):
                if hasattr(item, "to_pylist"):  # arrow RecordBatch
                    rows.extend(
                        tuple(d[n] for n in fields) for d in item.to_pylist()
                    )
                else:
                    rows.append(tuple(item))
        committed = end
        reader.commit(dict(end))
        for ev in (events(it, committed) if events else ()):
            if ev == "restart":
                reader = reader_factory()
            elif ev.startswith("vacuum:"):
                keep_from = int(ev.split(":")[1])
                vs_now = versions(t)
                n_keep = len([v for v in vs_now if v >= keep_from])
                if 0 < n_keep < len(vs_now):
                    vacuum(t, keep_last=n_keep)
    raise AssertionError("stream did not drain within the iteration cap")


def _cdf_history_table(spark, tmp_path, name="tbl"):
    """v1 write(2 files) → v2 enable CDF → v3 upsert → v4 append(2) →
    v5 DV delete → v6 upsert → v7 append: every commit kind the CDF
    walk handles."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        versioned_delete,
        versioned_upsert,
    )

    t = str(tmp_path / name)
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(20)]).repartitionByRange(2, "id"), t
    )  # v1
    enable_change_data_feed(t)  # v2
    versioned_upsert(
        mk([(i, f"u3_{i}") for i in range(0, 20, 3)] + [(30, "i30")]),
        t,
        ["id"],
    )  # v3
    versioned_write(mk([(40, "a40"), (41, "a41")]).repartition(2), t)  # v4
    versioned_delete(spark, t, "id % 7 = 0", strategy="dv")  # v5
    versioned_upsert(mk([(5, "u6_5"), (50, "i50")]), t, ["id"])  # v6
    versioned_write(mk([(60, "a60")]).coalesce(1), t)  # v7
    return t


@pytest.mark.slow
def test_cdf_stream_exactly_once_across_random_schedules(spark, tmp_path):
    """Exactly-once under rate caps × restarts × vacuums, 50 random
    schedules: a readChangeFeed stream delivers the SAME multiset of
    change rows as an uncapped, uninterrupted drain — whatever the
    maxFiles/maxBytes caps, wherever the restarts land, and however
    vacuum trims the delivered prefix (keeping each offset's diff base;
    partial CDF offsets only need their own commit — the slice
    exemption).  Every schedule runs with NO offsetTrackingLocation:
    since r15 the persisted floor is ON BY DEFAULT (a per-query-shape
    dir under <table>/_stream_offsets/), so a bare reader gets the
    restart-safe boundary a restarted reader seeds at.  Before the
    default, a restart landing exactly on a regressed-offset commit
    could not know the true boundary (the in-memory regression mapping
    dies with the instance — the hole found by this very test)."""
    import random

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import _read_manifest
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = _cdf_history_table(spark, tmp_path)
    opts0 = {"path": t, "readChangeFeed": "true"}
    reference = sorted(
        map(repr, _drive_stream(lambda: VersionedChangesStreamReader(opts0), t))
    )
    assert reference, "reference drain must deliver rows"
    head = versions(t)[-1]

    # tag v1 on a template table, then copy it per schedule (vacuum
    # mutates, and 50 Spark rebuilds would dominate the runtime).  The
    # tag makes vacuum leave an OLDER survivor, so a partial CDF
    # offset's commit can become the earliest contiguous survivor
    # while the slice exemption still applies (ov != vs[0]) — the
    # exact shape the exemption exists for.
    import shutil

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import create_tag

    create_tag(t, "base", 1)
    for seed in range(50):
        rng = random.Random(seed)
        tdir = tmp_path / f"s{seed}"
        tdir.mkdir()
        ts = str(tdir / "tbl")
        shutil.copytree(t, ts)
        opts = {"path": ts, "readChangeFeed": "true"}
        mf = rng.choice([None, 1, 2, 3])
        mb = rng.choice([None, 1, 4096])
        if mf is not None:
            opts["maxFilesPerTrigger"] = str(mf)
        if mb is not None:
            opts["maxBytesPerTrigger"] = str(mb)

        def events(it, committed, _rng=rng, _ts=ts):
            out = []
            if _rng.random() < 0.35:
                out.append("restart")
            if _rng.random() < 0.30:
                cv = committed["version"]
                vs_now = versions(_ts)
                if committed.get("file_index") is not None and cv in vs_now:
                    m = _read_manifest(_ts, cv)
                    # a partial CDF offset only needs its own commit
                    # (slice exemption applies when older survivors
                    # remain); a partial DATA offset needs cv-1
                    keep_from = cv if m.get("cdf_files") else cv - 1
                else:
                    keep_from = cv  # full offset: cv is the diff base
                out.append(f"vacuum:{keep_from}")
            return out

        got = sorted(
            map(
                repr,
                _drive_stream(
                    lambda: VersionedChangesStreamReader(dict(opts)), ts,
                    events=events,
                ),
            )
        )
        assert got == reference, (
            f"schedule {seed} (caps files={mf} bytes={mb}) broke "
            "exactly-once delivery"
        )
        assert versions(ts)[-1] == head


def test_apply_changes_source_version_validation(spark, tmp_path):
    """Point-in-time MERGE source (Iceberg validateFromSnapshot /
    validateNoConflictingDataFiles): declaring the snapshot a change
    batch was computed against makes the apply refuse when an
    intervening commit may have touched the batch's key range — and
    apply cleanly when every intervening commit is zone-map-provably
    disjoint.  Metadata-only commits pass; by-source merges refuse on
    ANY intervening row change; a vacuumed intervening version
    refuses."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        add_check_constraint,
        versioned_apply_changes,
        versioned_delete,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(10)]).coalesce(1), t)
    versioned_write(
        mk([(i, f"v{i}") for i in range(100, 110)]).coalesce(1), t
    )  # v2 = the snapshot the batches read
    ch = lambda rows: spark.createDataFrame(rows, "id int, v string, op string")
    # v3: intervening rewrite of the HIGH file
    versioned_delete(spark, t, "id = 105", prune_col="id", lo=105, hi=105)
    # clean: batch read v2, touches only the LOW range — v3 provably
    # disjoint by the head zone maps
    v4 = versioned_apply_changes(
        ch([(1, "U1", "U")]), t, ["id"], source_version=2
    )
    assert v4 == 4
    # v4 rewrote the low file: a second v2-based batch into the low
    # range is STALE
    with pytest.raises(ConcurrentCommitError, match="STALE"):
        versioned_apply_changes(
            ch([(3, "U3", "U")]), t, ["id"], source_version=2
        )
    # recomputed against the head it applies
    v5 = versioned_apply_changes(
        ch([(3, "U3", "U")]), t, ["id"], source_version=4
    )
    assert v5 == 5
    # metadata-only intervening commit passes
    add_check_constraint(spark, t, "vlen", "length(v) >= 1")  # v6
    v7 = versioned_apply_changes(
        ch([(4, "U4", "U")]), t, ["id"], source_version=5
    )
    assert v7 == 7
    # by-source merges read the whole table: any intervening row
    # change refuses
    with pytest.raises(ConcurrentCommitError, match="whole table"):
        versioned_apply_changes(
            ch([(5, "U5", "U")]),
            t,
            ["id"],
            source_version=5,
            not_matched_by_source_delete="id >= 1000",
        )
    # unknown / vacuumed source or intervening versions refuse
    with pytest.raises(ValueError, match="not in"):
        versioned_apply_changes(
            ch([(5, "U5", "U")]), t, ["id"], source_version=99
        )
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import create_tag

    create_tag(t, "old", 2)
    vacuum(t, keep_last=2)  # vs = [2, 6, 7]: gap at 3-5
    with pytest.raises(ValueError, match="vacuumed"):
        versioned_apply_changes(
            ch([(6, "U6", "U")]), t, ["id"], source_version=2
        )


def test_row_verbs_source_version_validation(spark, tmp_path):
    """source_version parity across the row-level verb family: upsert,
    DELETE and UPDATE accept the snapshot their inputs were computed
    against and refuse when an intervening commit may overlap — the
    same validator as versioned_apply_changes."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        versioned_delete,
        versioned_update,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(10)]).coalesce(1), t)
    versioned_write(
        mk([(i, f"v{i}") for i in range(100, 110)]).coalesce(1), t
    )  # v2
    versioned_delete(spark, t, "id = 105", prune_col="id", lo=105, hi=105)
    # clean applies over the provably-disjoint high-half rewrite
    assert versioned_upsert(mk([(1, "U1")]), t, ["id"], source_version=2) == 4
    assert (
        versioned_update(
            spark,
            t,
            {"v": "'X'"},
            "id = 2",
            prune_col="id",
            lo=2,
            hi=2,
            source_version=4,
        )
        == 5
    )
    # v4/v5 rewrote the low file: stale low-range inputs refuse on
    # every verb
    with pytest.raises(ConcurrentCommitError, match="STALE"):
        versioned_upsert(mk([(3, "U3")]), t, ["id"], source_version=2)
    with pytest.raises(ConcurrentCommitError, match="STALE"):
        versioned_delete(
            spark, t, "id = 3", prune_col="id", lo=3, hi=3, source_version=2
        )
    with pytest.raises(ConcurrentCommitError, match="STALE"):
        versioned_update(
            spark,
            t,
            {"v": "'Y'"},
            "id = 3",
            prune_col="id",
            lo=3,
            hi=3,
            source_version=2,
        )
    # no prune range = whole-table read: any intervening change refuses
    with pytest.raises(ConcurrentCommitError, match="whole table"):
        versioned_delete(spark, t, "id = 3", source_version=2)
    # a dv delete validates too (the check runs before strategy split)
    with pytest.raises(ConcurrentCommitError, match="STALE"):
        versioned_delete(
            spark,
            t,
            "id = 3",
            prune_col="id",
            lo=3,
            hi=3,
            strategy="dv",
            source_version=2,
        )


def test_apply_changes_single_feature_combos(spark, tmp_path):
    """apply_changes with ONLY change_data_feed (no row tracking) and
    ONLY row tracking (no feed) — the q280 driver row covers both-on;
    these pin that each feature works without the other."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        enable_row_tracking,
        read_change_feed,
        read_version_row_ids,
        versioned_apply_changes,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    ch = lambda rows: spark.createDataFrame(rows, "id int, v string, op string")
    # CDF only
    t1 = str(tmp_path / "cdf_only")
    versioned_write(mk([(i, f"v{i}") for i in range(5)]).coalesce(1), t1)
    enable_change_data_feed(t1)  # v2
    versioned_apply_changes(
        ch([(1, "U1", "U"), (2, None, "D"), (50, "I50", "I")]), t1, ["id"]
    )  # v3
    got = sorted(
        (r["id"], r["_change_type"])
        for r in read_change_feed(spark, t1, 2, 3).collect()
    )
    assert got == [
        (1, "update_postimage"),
        (1, "update_preimage"),
        (2, "delete"),
        (50, "insert"),
    ]
    # row tracking only
    t2 = str(tmp_path / "track_only")
    versioned_write(mk([(i, f"v{i}") for i in range(5)]).coalesce(1), t2)
    enable_row_tracking(t2)  # v2
    ids0 = {
        r["id"]: r["_row_id"]
        for r in read_version_row_ids(spark, t2).collect()
    }
    versioned_apply_changes(
        ch([(1, "U1", "U"), (2, None, "D"), (50, "I50", "I")]), t2, ["id"]
    )  # v3
    post = {
        r["id"]: (r["_row_id"], r["_row_commit_version"])
        for r in read_version_row_ids(spark, t2).collect()
    }
    assert set(post) == {0, 1, 3, 4, 50}
    assert post[1][0] == ids0[1] and post[1][1] == 3
    assert post[0][0] == ids0[0] and post[0][1] == 1, "carried keeps version"
    hw = _read_manifest(t2, 2)["row_id_high_water"]
    assert post[50][0] >= hw
    m3 = _read_manifest(t2, 3)
    assert "cdf_files" not in m3, "no feed without change_data_feed"


def test_timestamp_resolution_gap_and_restart_semantics(spark, tmp_path):
    """Two review findings, pinned: (1) version_at_or_after must refuse
    when the version DIRECTLY below its resolution was vacuumed — with
    monotone commit clocks that vacuumed version may also postdate the
    timestamp, so serving from the survivor would silently omit its
    changes (mid-history tag+vacuum gaps, not just the pre-vs[0] case);
    (2) a timestamp option that no longer resolves must not kill a
    RESTARTED stream at construction — the checkpoint governs restarts
    (Delta ignores starting options once one exists); only a FRESH
    stream (initialOffset) sees the deferred error."""
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _manifest_dir,
        create_tag,
        enable_change_data_feed,
        version_at_or_after,
        versioned_upsert,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(4)]).coalesce(1), t)  # v1
    enable_change_data_feed(t)  # v2
    for i, tag in ((1, "U3"), (2, "U4"), (3, "U5"), (0, "U6")):
        versioned_upsert(mk([(i, tag)]), t, ["id"])  # v3..v6
    for v in versions(t):  # pin clocks: 100*v
        m = _read_manifest(t, v)
        m["committed_at"] = 100.0 * v
        (_manifest_dir(t) / f"v{v}.json").write_text(
            _json.dumps(m, default=dict)
        )
    create_tag(t, "base", 2)
    vacuum(t, keep_last=2)
    assert versions(t) == [2, 5, 6]
    # (1) ts=250 resolves to v5 but v4 (vacuumed, clock in (200, 500))
    # may also postdate 250 — refuse; ts=550 resolves to v6 with v5
    # surviving — fine
    with pytest.raises(ValueError, match="vacuumed"):
        version_at_or_after(t, 250.0)
    assert version_at_or_after(t, 550.0) == 6
    # (2) construction survives the unresolvable option (restart path)
    r = VersionedChangesStreamReader(
        {"path": t, "readChangeFeed": "true", "startingTimestamp": "250"}
    )
    parts = r.partitions({"version": 5}, {"version": 6})
    assert parts, "a checkpointed restart must keep streaming"
    with pytest.raises(ValueError, match="vacuumed"):
        r.initialOffset()  # a FRESH stream sees the deferred error
    # endingTimestamp before every survivor: restart parks, fresh raises
    r2 = VersionedChangesStreamReader(
        {"path": t, "readChangeFeed": "true", "endingTimestamp": "50"}
    )
    off = r2.latestOffset()
    assert off["version"] <= 1, f"a drained bounded restart must park, got {off}"
    with pytest.raises(ValueError, match="no snapshot"):
        r2.initialOffset()


def test_read_changes_timestamp_twins(spark, tmp_path):
    """read_changes (snapshot diff) takes timestamp twins with
    TIMESTAMP AS OF semantics on BOTH ends: the diff runs between the
    snapshots CURRENT at each clock — unlike the feed's at-or-after
    starting rule, because a diff wants states, not commit membership."""
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _manifest_dir,
        read_changes,
        versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(4)]).coalesce(1), t)  # v1
    versioned_upsert(mk([(1, "U2")]), t, ["id"])  # v2
    versioned_upsert(mk([(2, "U3"), (9, "I9")]), t, ["id"])  # v3
    for v in versions(t):  # clocks 100*v
        m = _read_manifest(t, v)
        m["committed_at"] = 100.0 * v
        (_manifest_dir(t) / f"v{v}.json").write_text(
            _json.dumps(m, default=dict)
        )
    # state at 250 (v2) vs state at 350 (v3): exactly v3's changes
    got = sorted(
        (r["id"], r["op"], r["v"])
        for r in read_changes(
            spark, t, key_cols=["id"],
            starting_timestamp=250.0, ending_timestamp=350.0,
        ).collect()
    )
    assert got == [(2, "U", "U3"), (9, "I", "I9")]
    # mixed version + timestamp works; twins are exclusive; both ends
    # need one; key_cols required
    assert read_changes(
        spark, t, 1, key_cols=["id"], ending_timestamp=350.0
    ).count() == 3
    with pytest.raises(ValueError, match="mutually exclusive"):
        read_changes(spark, t, 1, key_cols=["id"], starting_timestamp=150.0)
    with pytest.raises(ValueError, match="both ends"):
        read_changes(spark, t, 1, key_cols=["id"])
    with pytest.raises(ValueError, match="key_cols"):
        read_changes(spark, t, 1, 3)


def test_commit_clock_monotone_under_regression(spark, tmp_path, monkeypatch):
    """In-commit timestamps (Delta's rule, r15): a wall clock that steps
    BACK between commits must not record a regressed committed_at —
    _commit_state clamps every stamp to max(prev + eps, now), so
    TIMESTAMP AS OF, the stream's startingTimestamp, and the vacuum-gap
    proof (all of which assume monotone table clocks) stay exact under
    NTP step-backs.  The clock is frozen 500 s in the PAST across
    metadata-only commits AND a real data commit; every committed_at
    must still strictly increase and timestamp travel must resolve by
    the clamped clock."""
    import time as _time

    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        _COMMIT_CLOCK_EPS,
        enable_change_data_feed,
        table_history,
        version_at_or_after,
        version_at_or_before,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(1, "a"), (2, "b")]).coalesce(1), t)  # v1, real clock
    at1 = _read_manifest(t, 1)["committed_at"]
    # NTP step-back: every subsequent stamp reads 500 s BEFORE v1
    frozen = at1 - 500.0
    monkeypatch.setattr(_time, "time", lambda: frozen)
    enable_change_data_feed(t)  # v2, metadata-only commit
    rollback(t, 1)  # v3, metadata-only commit
    versioned_write(mk([(3, "c")]).coalesce(1), t)  # v4, data commit
    monkeypatch.undo()
    ats = [_read_manifest(t, v)["committed_at"] for v in versions(t)]
    assert all(b > a for a, b in zip(ats, ats[1:])), (
        f"committed_at must be strictly monotone, got {ats}"
    )
    for i, at in enumerate(ats[1:], start=1):
        assert at == pytest.approx(ats[i - 1] + _COMMIT_CLOCK_EPS), (
            "a regressed stamp clamps to exactly prev + eps"
        )
    # the table clock the consumers read (table_history) is the clamped one
    hist = {
        r["version"]: r["committed_at"]
        for r in table_history(spark, t).collect()
    }
    assert [hist[v] for v in versions(t)] == ats
    # timestamp travel resolves by the clamped clock, never the raw one
    assert version_at_or_before(t, at1) == 1
    assert version_at_or_before(t, ats[1]) == 2
    assert version_at_or_before(t, ats[3] + 1.0) == 4
    assert version_at_or_after(t, ats[1]) == 2
    assert version_at_or_after(t, ats[3]) == 4
    with pytest.raises(ValueError, match="no snapshot"):
        # the frozen RAW clock (at1 - 500) predates every commit: with
        # clamping there is genuinely nothing committed at/before it
        version_at_or_before(t, frozen)
    # monotone increments stay tiny: a clamped burst drifts the table
    # clock by eps per commit, not by the regression magnitude
    assert ats[-1] < at1 + 1.0


def test_default_offset_floor_mechanics(spark, tmp_path):
    """The r15 default-on offset floor: (a) a bare reader derives a
    per-query-shape floor dir under <table>/_stream_offsets/ and a
    fresh instance with the same options seeds AT the persisted
    boundary; (b) different option shapes get different dirs; (c)
    offsetTrackingLocation=none opts out; (d) the persisted file is
    monotone — a commit below it never lowers it; (e) a floor BEYOND
    the table head (stale incarnation) is ignored at construction."""
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(1, "a"), (2, "b")]).coalesce(1), t)  # v1
    versioned_write(mk([(3, "c")]).coalesce(1), t)  # v2

    r1 = VersionedChangesStreamReader({"path": t})
    d1 = r1._track_offsets
    assert d1 is not None and d1.parent.name == "_stream_offsets"
    assert str(d1).startswith(t), "default floor lives under the table"
    # different option shape -> different dir; same shape -> same dir
    r_capped = VersionedChangesStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}
    )
    assert r_capped._track_offsets != d1
    assert VersionedChangesStreamReader({"path": t})._track_offsets == d1
    # (a) commit persists; a FRESH same-shape instance seeds at the floor
    r_lag = VersionedChangesStreamReader({"path": t})  # born before the
    r1.commit({"version": 2})                          # file advanced
    assert _json.loads((d1 / "cursor.json").read_text()) == {"version": 2}
    r2 = VersionedChangesStreamReader({"path": t})
    assert r2._floor == {"version": 2} and r2._cursor == {"version": 2}
    assert r2.latestOffset() == {"version": 2}, "no regressed offsets"
    # (d) a lagging sharer's lower commit must not lower the file
    r_lag.commit({"version": 1})
    assert _json.loads((d1 / "cursor.json").read_text()) == {"version": 2}
    # (c) explicit opt-out: no persistence, in-memory floor only
    r3 = VersionedChangesStreamReader(
        {"path": t, "offsetTrackingLocation": "none"}
    )
    assert r3._track_offsets is None
    r3.commit({"version": 2})
    assert VersionedChangesStreamReader(
        {"path": t, "offsetTrackingLocation": "none"}
    )._floor is None
    # (e) a floor past the head is a stale incarnation: ignored, and the
    # reader plans from its real start instead of checkpointing
    # versions that don't exist yet
    (d1 / "cursor.json").write_text(_json.dumps({"version": 99}))
    r4 = VersionedChangesStreamReader({"path": t})
    assert r4._floor is None
    assert r4.latestOffset()["version"] == 2
    # the stale file heals forward on the next commit
    r4.commit({"version": 2})
    assert _json.loads((d1 / "cursor.json").read_text()) == {"version": 2}


def test_branch_change_feed_fork_semantics(spark, tmp_path):
    """Branch-aware change feeds (r15): a branch is a full table under
    _branches/<name> whose v1 is the fork clone, so the feed's fork
    semantics fall out of the version algebra — pinned here so they
    stay deliberate:

    - from_version=1 (the fork snapshot) serves CHANGES SINCE FORK:
      exactly the branch's own commits, none of the parent's history;
    - from_version=0 serves the FULL REBUILD: the fork snapshot
      bootstraps as insert-all (v1 == vs[0], the same rule as any
      table's earliest version) followed by the branch commits —
      matching branch_diff's algebra, which also diffs against the
      fork snapshot;
    - the parent's feed never sees branch commits (isolation);
    - CDF enablement is INHERITED through the fork clone (the branch
      streams row-level commits without re-enabling), and the
      streaming readChangeFeed works against the branch root like any
      table."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        branch_diff,
        create_branch,
        enable_change_data_feed,
        read_change_feed,
        read_version,
        versioned_delete,
        versioned_upsert,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources import versioned_stream

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(
        mk([(i, f"v{i}") for i in range(8)]).coalesce(1), t
    )  # parent v1
    enable_change_data_feed(t)  # parent v2
    versioned_upsert(mk([(1, "p3")]), t, ["id"])  # parent v3
    b = create_branch(t, "dev")  # branch v1 = fork clone of parent v3
    versioned_upsert(mk([(2, "b2"), (20, "i20")]), b, ["id"])  # branch v2
    versioned_delete(spark, b, "id = 3", strategy="dv")  # branch v3

    fe = lambda df: sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    )
    # since-fork: the branch's own commits only
    since_fork = fe(read_change_feed(spark, b, 1))
    assert since_fork == [
        (2, "update_postimage", 2),
        (2, "update_preimage", 2),
        (3, "delete", 3),
        (20, "insert", 2),
    ], f"since-fork feed must be the branch's own changes, got {since_fork}"
    # full rebuild: fork snapshot bootstraps as insert-all @ v1
    full = fe(read_change_feed(spark, b, 0))
    assert [x for x in full if x[2] == 1] == [
        (i, "insert", 1) for i in range(8)
    ], "v0 must bootstrap the fork snapshot as insert-all"
    assert [x for x in full if x[2] > 1] == since_fork
    # parent isolation: its feed never sees branch commits
    assert fe(read_change_feed(spark, t, 2)) == [
        (1, "update_postimage", 3),
        (1, "update_preimage", 3),
    ]
    # the feed replays to the branch head (branch_diff's algebra): fork
    # state + collapsed feed == branch head state
    got = {r["id"]: r["v"] for r in read_version(spark, b).collect()}
    exp = {i: f"v{i}" for i in range(8)}
    exp[1] = "p3"
    exp[2] = "b2"
    exp[20] = "i20"
    del exp[3]
    assert got == exp
    d = {
        (r["id"], r["op"]) for r in branch_diff(spark, t, "dev", ["id"]).collect()
    }
    assert d == {(2, "U"), (20, "I"), (3, "D")}, (
        "branch_diff and the since-fork feed must agree on the change set"
    )
    # streaming readChangeFeed against the branch root
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    versioned_stream.register(spark)
    (
        spark.readStream.format("versioned_changes")
        .option("path", b)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = sorted(
        (r["id"], r["_change_type"], r["_commit_version"])
        for r in spark.read.schema(
            "id int, v string, _change_type string, _commit_version long"
        ).parquet(out).collect()
    )
    assert streamed == full, "stream feed == batch feed on a branch"


def test_default_offset_floor_corrupt_file_heals(spark, tmp_path):
    """A corrupt or foreign cursor.json (truncated write, non-dict
    JSON) must never crash the reader or commit(): construction ignores
    it, and the next commit overwrites it with a valid floor."""
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, "a")], "id int, v string").coalesce(1), t
    )
    d = VersionedChangesStreamReader({"path": t})._track_offsets
    d.mkdir(parents=True, exist_ok=True)
    for junk in ('5', '"half-written', '[1, 2]', "{}"):
        (d / "cursor.json").write_text(junk)
        r = VersionedChangesStreamReader({"path": t})
        assert r._floor is None, f"junk floor {junk!r} must be ignored"
        r.commit({"version": 1})
        assert _json.loads((d / "cursor.json").read_text()) == {
            "version": 1
        }, f"commit must heal over junk floor {junk!r}"


def test_offset_floor_degrades_on_readonly_table(spark, tmp_path):
    """Floor persistence is an optimization: on a table root the reader
    cannot create its floor dir (read-only mount; simulated here by a
    FILE squatting on _stream_offsets, since the suite runs as root and
    chmod cannot block it), the default-on location must warn and fall
    back to in-memory tracking — never kill the stream at its first
    committed batch."""
    import warnings
    from pathlib import Path as _P

    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    versioned_write(
        spark.createDataFrame([(1, "a")], "id int, v string").coalesce(1), t
    )
    (_P(t) / "_stream_offsets").write_text("not a directory")
    r = VersionedChangesStreamReader({"path": t})
    assert r.latestOffset() == {"version": 1}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        r.commit({"version": 1})
    assert any("offset floor" in str(x.message) for x in w), (
        "the degradation must be loud"
    )
    assert r._track_offsets is None, "no per-batch retry storm"
    assert r._floor == {"version": 1}, "in-memory floor still tracks"
    r.commit({"version": 1})  # second commit: silent no-op, no crash


def test_offset_floor_capped_at_ending_version(spark, tmp_path):
    """A floor persisted by an UNBOUNDED query sharing an explicit
    location must not push a BOUNDED query past its endingVersion: the
    loaded floor caps at the bound, so latestOffset still parks there."""
    import json as _json

    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    for i in range(5):  # v1..v5
        versioned_write(mk([(i, f"a{i}")]).coalesce(1), t)
    loc = tmp_path / "shared_cursor"
    loc.mkdir()
    (loc / "cursor.json").write_text(_json.dumps({"version": 5}))
    r = VersionedChangesStreamReader(
        {"path": t, "offsetTrackingLocation": str(loc), "endingVersion": "3"}
    )
    assert r._floor == {"version": 3}, "the floor must cap at the bound"
    assert r.latestOffset() == {"version": 3}, (
        "a bounded stream must park at its bound, floor or no floor"
    )
    # and the planned range stops at the bound: v4/v5 files never appear
    parts = r.partitions({"version": 0}, r.latestOffset())
    assert len(parts) == 3, "exactly the v1..v3 files plan"


def test_floor_jump_policy_and_initial_offset_from_floor(spark, tmp_path):
    """r16 floor-jump guard: a fresh-checkpoint query inheriting a
    same-shape persisted floor gets the whole gap as ONE batch — the
    caps can't bound it, so the default policy WARNS loudly (with
    remediation), policy=error refuses, policy=silent accepts, and in
    every case the delivered rows stay correct.  Policy options don't
    change the floor-dir shape hash (same floor governs all variants).
    initialOffsetFromFloor makes a fresh query START at the floor —
    the replication helpers' own-delivery-record case."""
    import json as _json
    import warnings as _w

    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(1, "a"), (2, "b")]).repartition(2), t)  # v1: 2 files
    versioned_write(mk([(3, "c")]).coalesce(1), t)  # v2
    versioned_write(mk([(4, "d")]).coalesce(1), t)  # v3
    opts = {"path": t, "maxFilesPerTrigger": "1"}
    # leader drains under the cap; its commits persist the floor at head
    rows = _drive_stream(lambda: VersionedChangesStreamReader(opts), t)
    assert sorted(r[0] for r in rows) == [1, 2, 3, 4]
    d = VersionedChangesStreamReader(opts)._track_offsets
    assert _json.loads((d / "cursor.json").read_text()) == {"version": 3}
    # policy options share the leader's floor dir (shape-hash excluded)
    assert (
        VersionedChangesStreamReader(
            {**opts, "floorJumpPolicy": "silent"}
        )._track_offsets
        == d
    )
    # follower: fresh checkpoint, same shape -> inherits the floor; the
    # catch-up batch exceeds the cap -> WARN (default), rows correct
    with pytest.warns(UserWarning, match="BEHIND the persisted offset"):
        rows2 = _drive_stream(lambda: VersionedChangesStreamReader(opts), t)
    assert sorted(r[0] for r in rows2) == [1, 2, 3, 4]
    # policy=error refuses the jump batch, naming the remediation
    with pytest.raises(ValueError, match="offsetTrackingLocation"):
        _drive_stream(
            lambda: VersionedChangesStreamReader(
                {**opts, "floorJumpPolicy": "error"}
            ),
            t,
        )
    # policy=silent plans it without a murmur
    with _w.catch_warnings():
        _w.simplefilter("error", UserWarning)
        rows3 = _drive_stream(
            lambda: VersionedChangesStreamReader(
                {**opts, "floorJumpPolicy": "silent"}
            ),
            t,
        )
    assert sorted(r[0] for r in rows3) == [1, 2, 3, 4]
    # initialOffsetFromFloor: fresh query starts AT the floor — nothing
    # replayed, no jump, no warning
    with _w.catch_warnings():
        _w.simplefilter("error", UserWarning)
        r = VersionedChangesStreamReader(
            {**opts, "initialOffsetFromFloor": "true"}
        )
        assert r.initialOffset() == {"version": 3}
        rows4 = _drive_stream(
            lambda: VersionedChangesStreamReader(
                {**opts, "initialOffsetFromFloor": "true"}
            ),
            t,
        )
    assert rows4 == []
    # new rows past the floor stream normally for the floor-started query
    versioned_write(mk([(5, "e")]).coalesce(1), t)  # v4
    rows5 = _drive_stream(
        lambda: VersionedChangesStreamReader(
            {**opts, "initialOffsetFromFloor": "true"}
        ),
        t,
    )
    assert sorted(r[0] for r in rows5) == [5]
    # bad policy value validates at construction
    with pytest.raises(ValueError, match="floorJumpPolicy"):
        VersionedChangesStreamReader({**opts, "floorJumpPolicy": "nope"})


def test_stream_versioned_sink_by_name(spark, tmp_path):
    """r16 name-addressed streaming sink — the sink-side twin of the
    source's option('table'): a registered db.table resolves through
    the VersionedCatalog, an UNREGISTERED name lands at the default
    path and registers on the FIRST committed batch (an empty stream
    registers nothing), and a restart appends to the now-registered
    table by name."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versions,
    )
    from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import (
        stream_versioned_sink,
    )

    vc = VersionedCatalog(tmp_path / "wh")
    src = tmp_path / "src"
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    mk([(1, "a"), (2, "b")]).coalesce(1).write.parquet(str(src / "f1"))

    def stream():
        return spark.readStream.schema("id int, v string").parquet(
            str(src / "*")
        )

    # an empty stream first: nothing committed -> nothing registered
    empty_src = tmp_path / "empty"
    empty_src.mkdir()
    q0 = stream_versioned_sink(
        spark.readStream.schema("id int, v string").parquet(
            str(empty_src / "*")
        ),
        "lake.landing_empty",
        str(tmp_path / "ck0"),
        catalog=vc,
    )
    q0.awaitTermination()
    assert not vc.exists("lake.landing_empty")
    # create-by-name: first committed batch registers the table
    q1 = stream_versioned_sink(
        stream(), "lake.landing", str(tmp_path / "ck1"), catalog=vc
    )
    q1.awaitTermination()
    assert vc.exists("lake.landing")
    p = vc.resolve("lake.landing")
    assert p == vc.default_path("lake.landing")
    assert versions(p) == [1]
    # restart with new data: resolves the REGISTERED name, appends
    mk([(3, "c")]).coalesce(1).write.parquet(str(src / "f2"))
    q2 = stream_versioned_sink(
        stream(), "lake.landing", str(tmp_path / "ck1"), catalog=vc
    )
    q2.awaitTermination()
    assert versions(p) == [1, 2]
    got = sorted((r["id"], r["v"]) for r in read_version(spark, p).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # a non-name string stays a plain path even with a catalog attached
    q3 = stream_versioned_sink(
        stream(),
        str(tmp_path / "plain.dir"),
        str(tmp_path / "ck2"),
        catalog=vc,
    )
    q3.awaitTermination()
    assert versions(str(tmp_path / "plain.dir")) == [1]
    assert vc.list_tables("lake") == ["landing"]


@pytest.mark.slow
def test_stream_offset_in_vacuum_interior_gap_refuses(spark, tmp_path):
    """r16 hardening: a plain (data-mode) offset whose manifest sits in
    a tag+vacuum INTERIOR gap refuses like behind-retention — the
    append walk would diff the next survivor against a survivor below
    the offset and re-deliver already-delivered files.  A cursor ON a
    surviving version (the tag itself) keeps streaming."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import create_tag
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    for i in range(6):
        versioned_write(mk([(i, f"v{i}")]).coalesce(1), t)  # v1..v6
    create_tag(t, "keep", 2)
    vacuum(t, keep_last=2)  # tagged v2 survives -> vs=[2,5,6]
    assert versions(t) == [2, 5, 6]
    r = VersionedChangesStreamReader({"path": t})
    with pytest.raises(ValueError, match="vacuumed manifest"):
        r.partitions({"version": 3}, {"version": 6})
    # a cursor ON the surviving tag streams the accumulated diff once
    rows = []
    for p in r.partitions({"version": 2}, {"version": 6}):
        for item in r.read(p):
            rows.extend(item.to_pylist() if hasattr(item, "to_pylist") else [item])
    got = sorted(d["id"] for d in rows)
    assert got == [2, 3, 4, 5], "diff vs the surviving base delivers v3..v6 files once"


def test_side_job_pool_lazy_init_is_race_free(monkeypatch):
    """Two threads committing at once must share ONE side-job pool:
    an unguarded check-then-create would build two executors and leak
    one pool's worker threads.  The executor's construction is slowed
    so both threads reach the check before either finishes it."""
    import concurrent.futures as cf
    import threading
    import time

    from _spark_multi_format_data_lake_pipeline_spark.sinks import versioned as V

    monkeypatch.setattr(V, "_SIDE_JOB_POOL", None)
    real = cf.ThreadPoolExecutor
    made = []

    def slow_pool(*a, **k):
        time.sleep(0.1)
        made.append(real(*a, **k))
        return made[-1]

    monkeypatch.setattr(cf, "ThreadPoolExecutor", slow_pool)
    gate = threading.Barrier(2)
    got = [None, None]

    def grab(i):
        gate.wait(timeout=10)
        got[i] = V._side_job_pool()

    threads = [threading.Thread(target=grab, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
    for p in made:
        p.shutdown(wait=False)
    assert not any(th.is_alive() for th in threads)
    assert got[0] is not None and got[0] is got[1]
    assert len(made) == 1, f"{len(made)} pools built"


def test_cdf_side_job_settled_when_snapshot_write_raises(
    spark, tmp_path, monkeypatch
):
    """A commit that fails AFTER submitting its change-feed side job
    (here the snapshot's footer harvest raises) must settle that job
    before re-raising: no new manifest, no orphan ``_change_data/``
    directory, and no side job still running against inputs the
    caller unpersists.  The feed job is held until the snapshot path
    has failed, so it is in flight when the error propagates."""
    import threading
    from pathlib import Path

    from _spark_multi_format_data_lake_pipeline_spark.sinks import versioned as V

    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id int, v string")
    versioned_write(mk([(i, f"v{i}") for i in range(6)]).coalesce(1), t)
    V.enable_change_data_feed(t)
    feed_dirs = lambda: sorted(
        p.name for p in (Path(t) / "_change_data").glob("*")
    )
    before_vs, before_cd = V.versions(t), feed_dirs()

    failed = threading.Event()
    real_pool = V._side_job_pool()
    submitted = []

    class HeldPool:
        def submit(self, fn, *a, **k):
            def held():
                failed.wait(timeout=30)
                return fn(*a, **k)

            submitted.append(real_pool.submit(held))
            return submitted[-1]

    def boom(*a, **k):
        failed.set()
        raise RuntimeError("simulated snapshot write failure")

    monkeypatch.setattr(V, "_side_job_pool", lambda: HeldPool())
    monkeypatch.setattr(V, "_harvest", boom)
    with pytest.raises(RuntimeError, match="simulated snapshot write"):
        V.versioned_upsert(mk([(1, "u1"), (9, "i9")]), t, ["id"])
    assert submitted, "the upsert must submit its feed as a side job"
    assert all(f.done() for f in submitted), "a side job is still running"
    assert V.versions(t) == before_vs, "a failed commit adds no manifest"
    assert feed_dirs() == before_cd, "the feed write left an orphan dir"
