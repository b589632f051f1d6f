"""LakeTable.upsert as one transaction: two snapshots (equality delete
at seq N, data at seq N+1) published by one metadata CAS, one shared
timestamp, nothing committed when either Spark write fails, and both
writes attributed to the caller's job group."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import pyspark.sql.functions as F
import pytest

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake import writer as wr
from bergloom_spark.lake.compaction import remove_orphan_files
from bergloom_spark.lake.validator import fingerprint
from bergloom_spark.sources.lakestream import LakeStreamDataSource


def _table(spark, root) -> LakeTable:
    base = spark.range(40).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base)
    return t


def _batch(spark):
    # keys 30..49: 10 replace existing rows, 10 are new
    return spark.range(30, 50).select(F.col("id"), (F.col("id") * 100).alias("v"))


def _parquet_files(root) -> set[str]:
    return {
        os.path.abspath(p)
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    }


def test_upsert_is_one_commit_of_two_snapshots(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    t = _table(spark, root)
    before = t.meta
    writes = []
    real = md.write_version

    def write_version(meta, *args):
        writes.append(meta.version)
        return real(meta, *args)

    monkeypatch.setattr(md, "write_version", write_version)

    snap = t.upsert(_batch(spark), ["id"])

    assert writes == [before.version + 1]
    meta = md.read_current(root)
    assert meta.version == before.version + 1
    delete, append = meta.snapshots[-2:]
    assert len(meta.snapshots) == len(before.snapshots) + 2
    n = before.last_sequence_number + 1
    assert (delete.operation, delete.sequence_number) == ("delete", n)
    assert (append.operation, append.sequence_number) == ("append", n + 1)
    assert append.parent_snapshot_id == delete.snapshot_id
    assert delete.parent_snapshot_id == before.current_snapshot_id
    assert meta.current_snapshot_id == append.snapshot_id == snap.snapshot_id
    new_deletes = delete.files(md.EQ_DELETE)  # the table had none before
    assert new_deletes and all(
        e.sequence_number == n and e.equality_ids == ["id"] for e in new_deletes
    )
    old = {e.file_path for e in before.current_snapshot().entries}
    new_data = [e for e in append.files(md.DATA) if e.file_path not in old]
    assert new_data and all(e.sequence_number == n + 1 for e in new_data)

    rows = {r.id: r.v for r in t.read().collect()}
    assert rows == {i: (i * 100 if i >= 30 else i * 2) for i in range(50)}

    # append-only readers still see the upserted rows as an append
    spark.dataSource.register(LakeStreamDataSource)
    streamed: list = []
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            spark.readStream.format("lakestream")
            .option("path", root)
            .option("skipNonAppends", "true")
            .load()
            .writeStream.foreachBatch(lambda df, _: streamed.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert sorted(r.id for r in streamed) == sorted([*range(40), *range(30, 50)])

    changes = t.read_changes(before.current_snapshot_id).collect()
    inserted = {
        r.id: r.v for r in changes
        if r._change_type == "insert" and r._commit_snapshot_id == append.snapshot_id
    }
    assert inserted == {i: i * 100 for i in range(30, 50)}
    deleted = {
        r.id for r in changes
        if r._change_type == "delete" and r._commit_snapshot_id == delete.snapshot_id
    }
    assert deleted == set(range(30, 40))


def test_upsert_snapshots_share_one_timestamp(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    snap = t.upsert(_batch(spark), ["id"])
    delete, append = t.meta.snapshots[-2:]
    assert delete.timestamp_ms == append.timestamp_ms
    # time travel to that instant can only resolve to the post-state
    assert t.snapshot_as_of(append.timestamp_ms).snapshot_id == snap.snapshot_id
    assert fingerprint(t.read(as_of_ms=append.timestamp_ms)) == fingerprint(t.read())


def test_failed_data_write_commits_nothing(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    t = _table(spark, root)
    version = t.meta.version
    pre = fingerprint(t.read())
    live = _parquet_files(root)

    def boom(*args, **kwargs):
        raise RuntimeError("data write failed")

    monkeypatch.setattr(wr, "write_data_files", boom)
    with pytest.raises(RuntimeError, match="data write failed"):
        t.upsert(_batch(spark), ["id"])

    fresh = LakeTable.load(spark, root)
    assert fresh.meta.version == t.meta.version == version
    assert fingerprint(fresh.read()) == pre
    stranded = _parquet_files(root) - live
    assert stranded  # the equality-delete file was written, never committed
    time.sleep(0.05)  # the cutoff is strict: let file mtimes fall behind it
    assert remove_orphan_files(fresh, older_than_s=0) == len(stranded)
    assert _parquet_files(root) == live
    assert fingerprint(fresh.read()) == pre


def test_failed_delete_write_commits_nothing(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    t = _table(spark, root)
    version = t.meta.version
    pre = fingerprint(t.read())

    def boom(*args, **kwargs):
        raise RuntimeError("delete write failed")

    monkeypatch.setattr(wr, "write_equality_delete_files", boom)
    with pytest.raises(RuntimeError, match="delete write failed"):
        t.upsert(_batch(spark), ["id"])

    fresh = LakeTable.load(spark, root)
    assert fresh.meta.version == version
    assert fingerprint(fresh.read()) == pre


def test_both_writes_run_in_the_callers_job_group(spark, tmp_path, monkeypatch):
    t = _table(spark, str(tmp_path / "t"))
    sc = spark.sparkContext
    groups = {}

    def recording(name):
        real = getattr(wr, name)

        def write(*args, **kwargs):
            groups[name] = sc.getLocalProperty("spark.jobGroup.id")
            return real(*args, **kwargs)

        monkeypatch.setattr(wr, name, write)

    recording("write_data_files")
    recording("write_equality_delete_files")
    tracker = sc.statusTracker()
    # job events reach the status store through the listener bus
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "upsert under a job group")
    try:
        t.upsert(_batch(spark), ["id"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)

    assert groups == {"write_data_files": "g", "write_equality_delete_files": "g"}
    drain()
    assert len(tracker.getJobIdsForGroup("g")) >= 2
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
