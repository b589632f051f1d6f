"""Streaming changelog read (sources/lakestream.py changelog mode).

Replaying the +/- feed in snapshot order must reconstruct the table's
latest state (the Iceberg changelog-scan contract), MERGE history must
surface as delete+insert pairs, and rewrites must emit nothing.
"""

from __future__ import annotations

import datetime
import os

import pyspark.sql.functions as F
import pytest

from bergloom_spark.lake import LakeTable
from bergloom_spark.sources.lakestream import LakeStreamDataSource
from tests.test_driver_writes import timestamp_type  # noqa: F401 (fixture)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(LakeStreamDataSource)


def _drain(spark, root, ckpt):
    rows: list = []

    def sink(df, _bid):
        rows.extend(df.collect())

    q = (
        spark.readStream.format("lakestream")
        .option("path", root)
        .option("changelog", "true")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def _replay(changes):
    """Fold +/- rows in snapshot order into the final multiset."""
    state: dict[tuple, int] = {}
    for r in sorted(changes, key=lambda r: r["_commit_snapshot_id"]):
        key = tuple(
            v for k, v in r.asDict().items()
            if k not in ("_change_type", "_commit_snapshot_id")
        )
        if r["_change_type"] == "insert":
            state[key] = state.get(key, 0) + 1
        else:
            state[key] = state.get(key, 0) - 1
            if state[key] == 0:
                del state[key]
    return state


def test_changelog_replays_merge_and_delete_history(spark, tmp_path):
    root = str(tmp_path / "t")
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    t = LakeTable.create(spark, root, base.schema)
    t.append(base.filter(F.col("id") < 60))
    # MERGE: keys 10..19 get v=99 (eq-delete + re-insert), 100..109 new
    upserts = spark.range(10, 20).select(
        "id", F.lit(99).cast("long").alias("v")
    ).union(
        spark.range(100, 110).select("id", F.lit(99).cast("long").alias("v"))
    )
    t.upsert(upserts, ["id"])
    t.delete_where(F.col("id") % 10 == 3)
    t.append(base.filter(F.col("id") >= 60))

    changes = _drain(spark, root, str(tmp_path / "ck"))
    kinds = {r["_change_type"] for r in changes}
    assert kinds == {"insert", "delete"}
    # replayed state == batch read
    replayed = _replay(changes)
    assert all(c == 1 for c in replayed.values())
    batch = {tuple(r) for r in t.read().collect()}
    assert set(replayed) == batch
    # the MERGE produced a delete for each overwritten key 10..19
    merged_deletes = {
        r["id"]
        for r in changes
        if r["_change_type"] == "delete" and r["v"] != 99
        and 10 <= r["id"] < 20
    }
    assert merged_deletes == set(range(10, 20))


def test_changelog_rewrite_emits_nothing_and_resumes(spark, tmp_path):
    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import Compaction

    root = str(tmp_path / "t")
    base = spark.range(50).select("id", (F.col("id") * 2).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base.filter(F.col("id") < 25))
    t.append(base.filter(F.col("id") >= 25))
    ckpt = str(tmp_path / "ck")
    first = _drain(spark, root, ckpt)
    assert len(first) == 50
    assert {r["_change_type"] for r in first} == {"insert"}
    # compaction rewrites every row into new files — no logical change
    Compaction(t, CompactionConfig()).compact()
    t.delete_where(F.col("id") < 5)
    second = _drain(spark, root, ckpt)  # resume from checkpoint
    assert {r["_change_type"] for r in second} == {"delete"}
    assert sorted(r["id"] for r in second) == [0, 1, 2, 3, 4]
    # deleted rows carry their pre-delete column values
    assert all(r["v"] == r["id"] * 2 for r in second)


def test_changelog_second_delete_not_reemitted(spark, tmp_path):
    """A row killed by an earlier snapshot must not be re-emitted when
    a later delete targets overlapping predicates (prior deletes are
    applied before computing the kill set)."""
    root = str(tmp_path / "t")
    base = spark.range(30).select("id", (F.col("id") % 3).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base)
    t.delete_where(F.col("id") < 10)
    t.delete_where(F.col("id") < 20)  # overlaps rows already dead
    changes = _drain(spark, root, str(tmp_path / "ck"))
    deletes = [r for r in changes if r["_change_type"] == "delete"]
    # every live row deleted exactly once
    assert sorted(r["id"] for r in deletes) == list(range(20))
    replayed = _replay(changes)
    assert set(replayed) == {tuple(r) for r in t.read().collect()}


def test_replicate_changelog_roundtrip(spark, tmp_path):
    """Changelog replication: source history (append + merge + delete +
    compaction) applied to an empty replica equals the source; a second
    incremental run replicates only the new commits."""
    from bergloom_spark.streaming.ingest import replicate_changelog

    src_root = str(tmp_path / "src")
    base = spark.range(80).select("id", (F.col("id") % 9).alias("v"))
    src = LakeTable.create(spark, src_root, base.schema)
    src.append(base.filter(F.col("id") < 50))
    src.upsert(
        spark.range(20, 30).select("id", F.lit(77).cast("long").alias("v")),
        ["id"],
    )
    src.delete_where(F.col("id") % 5 == 4)

    dst = LakeTable.create(spark, str(tmp_path / "dst"), base.schema)
    ckpt = str(tmp_path / "ck")
    dst = replicate_changelog(spark, src_root, dst, ckpt, ["id"])
    assert {tuple(r) for r in dst.read().collect()} == {
        tuple(r) for r in src.read().collect()
    }
    # incremental: more source commits, resume from the checkpoint
    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import Compaction

    Compaction(src, CompactionConfig()).compact()
    src.append(base.filter(F.col("id") >= 50))
    src.upsert(
        spark.range(0, 5).select("id", F.lit(88).cast("long").alias("v")),
        ["id"],
    )
    dst = replicate_changelog(spark, src_root, dst, ckpt, ["id"])
    assert {tuple(r) for r in dst.read().collect()} == {
        tuple(r) for r in src.read().collect()
    }


def test_staged_snapshot_invisible_until_publish(spark, tmp_path):
    """Write-audit-publish (advice r4): a staged snapshot is not table
    state — neither stream mode may emit its rows before publish();
    after publish they arrive as ordinary inserts."""
    root = str(tmp_path / "t")
    base = spark.range(40).select("id", (F.col("id") % 4).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base.filter(F.col("id") < 30))
    staged = t.stage_append(base.filter(F.col("id") >= 30))

    ckpt = str(tmp_path / "ck")
    first = _drain(spark, root, ckpt)
    assert sorted(r["id"] for r in first) == list(range(30))
    assert all(r["_change_type"] == "insert" for r in first)

    t.publish(staged.snapshot_id)
    second = _drain(spark, root, ckpt)  # resume: only the published rows
    assert sorted(r["id"] for r in second) == list(range(30, 40))
    assert {r["_commit_snapshot_id"] for r in second} == {staged.snapshot_id}


def test_abandoned_stage_never_leaks(spark, tmp_path):
    """A stage the table moved past (publish would now refuse) must
    never appear in the feed, even as later commits land around its
    snapshot id."""
    from bergloom_spark.lake.commit import CommitFailed

    root = str(tmp_path / "t")
    base = spark.range(60).select("id", (F.col("id") % 4).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base.filter(F.col("id") < 20))          # snapshot on chain
    orphan = t.stage_append(base.filter(F.col("id") >= 40))  # abandoned
    t.append(base.filter((F.col("id") >= 20) & (F.col("id") < 40)))
    with pytest.raises(CommitFailed):
        t.publish(orphan.snapshot_id)  # table advanced: refused forever

    changes = _drain(spark, root, str(tmp_path / "ck"))
    assert sorted(r["id"] for r in changes) == list(range(40))
    assert orphan.snapshot_id not in {
        r["_commit_snapshot_id"] for r in changes
    }
    # and the plain append feed agrees
    rows: list = []
    q = (
        spark.readStream.format("lakestream")
        .option("path", root)
        .load()
        .writeStream.foreachBatch(lambda df, _b: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["id"] for r in rows) == list(range(40))


def test_unknown_operation_raises(spark, tmp_path):
    """Allow-list (advice r4): an operation the changelog has never
    seen must raise, not be silently interpreted as an append."""
    from bergloom_spark.lake import metadata as md

    root = str(tmp_path / "t")
    base = spark.range(10).select("id", (F.col("id") % 2).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base)
    meta = md.read_current(root)
    meta.snapshots[-1].operation = "frobnicate"
    meta.version += 1
    md.write_version(meta)
    with pytest.raises(Exception, match="unknown operation"):
        _drain(spark, root, str(tmp_path / "ck"))


def test_delete_partitions_pruned_to_referenced_files(spark, tmp_path):
    """Advice r4: a delete touching one data file must not fan out
    into a delete partition per live data file — pos-delete partitions
    are pruned to the files the new delete files reference, eq-delete
    partitions to files whose manifest stats admit a key."""
    from bergloom_spark.sources.lakestream import _LakeChangelogReader
    from pyspark.sql import types as T

    root = str(tmp_path / "t")
    base = spark.range(200).select("id", (F.col("id") % 4).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    t.append(base.filter(F.col("id") < 100))           # file A: ids 0..99
    t.append(base.filter(F.col("id") >= 100))          # file B: ids 100..199
    snap_pos = t.delete_where(F.col("id") == 5)        # pos-delete: file A only
    snap_eq = t.upsert(                                 # eq-delete keys ≥150
        spark.range(150, 155).select(
            "id", F.lit(9).cast("long").alias("v")
        ),
        ["id"],
    )

    schema = T.StructType(
        t.read().schema.fields
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_snapshot_id", T.LongType(), False),
        ]
    )
    reader = _LakeChangelogReader({"path": root}, schema)

    def _deletes(lo, hi):
        return [
            p
            for p in reader.partitions(
                {"last_snapshot_id": lo}, {"last_snapshot_id": hi}
            )
            if p.kind == "delete"
        ]

    pos_parts = _deletes(2, snap_pos.snapshot_id)
    assert len(pos_parts) == 1  # file B pruned: not referenced
    eq_parts = _deletes(snap_pos.snapshot_id, snap_eq.snapshot_id)
    # file A (ids 0..99) pruned by min/max stats vs keys 150..154
    assert len(eq_parts) == 1
    assert pos_parts[0].file_path != eq_parts[0].file_path

    # and pruning changed cost only: the feed still replays exactly
    changes = _drain(spark, root, str(tmp_path / "ck"))
    assert set(_replay(changes)) == {tuple(r) for r in t.read().collect()}


def test_replicate_converges_through_overwrite(spark, tmp_path):
    """Verdict r4 #7 (replica leg): a history mixing appends, a full
    INSERT OVERWRITE (drop events for every prior live row), a MERGE,
    and a delete must replicate to a converged replica — the drop
    events and the replacement inserts arrive in one batch and the
    replica's final state equals the source's."""
    from bergloom_spark.streaming.ingest import replicate_changelog

    src_root = str(tmp_path / "src")
    base = spark.range(60).select("id", (F.col("id") % 5).alias("v"))
    src = LakeTable.create(spark, src_root, base.schema)
    src.append(base.filter(F.col("id") < 40))
    src.upsert(
        spark.range(10, 15).select("id", F.lit(42).cast("long").alias("v")),
        ["id"],
    )
    # full replace (unpartitioned → INSERT OVERWRITE semantics)
    src.overwrite_partitions(
        spark.range(100, 160).select("id", (F.col("id") % 7).alias("v"))
    )
    src.delete_where(F.col("id") % 6 == 1)
    src.append(spark.range(200, 220).select("id", (F.col("id") % 3).alias("v")))

    dst = LakeTable.create(spark, str(tmp_path / "dst"), base.schema)
    dst = replicate_changelog(
        spark, src_root, dst, str(tmp_path / "ck"), ["id"]
    )
    assert {tuple(r) for r in dst.read().collect()} == {
        tuple(r) for r in src.read().collect()
    }


def test_null_eq_keys_disable_pruning(spark, tmp_path):
    """Review r5: stats/bloom evidence says nothing about NULL key
    rows (the read path matches null==null), so an eq-delete file
    containing any NULL key must disable pruning for that file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bergloom_spark.lake.metadata import ManifestEntry
    from bergloom_spark.sources.lakestream import (
        _DeleteFileCache,
        _eq_may_hit,
    )

    path = str(tmp_path / "eq.parquet")
    pq.write_table(
        pa.table({"id": pa.array([150, 151, None], pa.int64())}), path
    )
    entry = ManifestEntry(
        content="eq_delete", file_path=path, record_count=3,
        file_size_bytes=1, sequence_number=2, equality_ids=["id"],
    )
    probes = [_DeleteFileCache().eq_keys(entry)[1]]
    assert probes == [({}, {})]
    # a data file whose stats exclude 150..154 must still be kept
    data = ManifestEntry(
        content="data", file_path="x", record_count=10,
        file_size_bytes=1, sequence_number=1,
        column_stats={"id": [0, 99]},
    )
    assert _eq_may_hit(data, ("id",), probes[0])
    # and WITHOUT the null, the same file prunes
    path2 = str(tmp_path / "eq2.parquet")
    pq.write_table(
        pa.table({"id": pa.array([150, 151], pa.int64())}), path2
    )
    entry2 = ManifestEntry(
        content="eq_delete", file_path=path2, record_count=2,
        file_size_bytes=1, sequence_number=2, equality_ids=["id"],
    )
    probes2 = [_DeleteFileCache().eq_keys(entry2)[1]]
    assert not _eq_may_hit(data, ("id",), probes2[0])


def test_batch_read_changes_matches_streaming_feed(spark, tmp_path):
    """Round 5: LakeTable.read_changes (batch CDF) must emit exactly
    the rows the streaming changelog emits for the same range, and a
    sub-range query returns only that window's changes."""
    root = str(tmp_path / "t")
    base = spark.range(50).select("id", (F.col("id") % 5).alias("v"))
    t = LakeTable.create(spark, root, base.schema)
    s1 = t.append(base.filter(F.col("id") < 30))
    t.upsert(
        spark.range(5, 10).select("id", F.lit(77).cast("long").alias("v")),
        ["id"],
    )
    s_del = t.delete_where(F.col("id") % 8 == 2)
    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import Compaction

    Compaction(t, CompactionConfig()).compact()
    t.append(base.filter(F.col("id") >= 30))

    # full history: batch == streaming drain
    streamed = _drain(spark, root, str(tmp_path / "ck"))
    batch = t.refresh().read_changes().collect()
    key = lambda r: (
        r["_commit_snapshot_id"], r["_change_type"], r["id"], r["v"]
    )
    assert sorted(map(key, batch)) == sorted(map(key, streamed))
    # sub-range: only the upsert + delete window
    mid = t.read_changes(s1.snapshot_id, s_del.snapshot_id).collect()
    assert {r["_commit_snapshot_id"] for r in mid} <= set(
        range(s1.snapshot_id + 1, s_del.snapshot_id + 1)
    )
    assert {r["_change_type"] for r in mid} == {"insert", "delete"}
    full_mid = [
        r for r in batch
        if s1.snapshot_id < r["_commit_snapshot_id"] <= s_del.snapshot_id
    ]
    assert sorted(map(key, mid)) == sorted(map(key, full_mid))


def test_changelog_over_deletion_vector_commits(spark, tmp_path):
    """r14: a delete committed as DELETION VECTORS must stream the
    same delete events as its parquet twin — the changelog's
    pos-delete evidence decodes Puffin blobs instead of crashing on
    a parquet read of a .puffin path."""
    from pyspark.sql import functions as F

    from bergloom_spark.lake import LakeTable

    df = spark.range(200).select(F.col("id"))
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    t.delete_where_as_vectors(F.col("id") % 5 == 0)
    rows = _drain(spark, root, str(tmp_path / "ckpt"))
    deleted = sorted(
        r["id"] for r in rows if r["_change_type"] == "delete"
    )
    assert deleted == [i for i in range(200) if i % 5 == 0]
    state = _replay(rows)
    assert sorted(k[0] for k in state) == [
        i for i in range(200) if i % 5 != 0
    ]


@pytest.mark.parametrize("timestamp_type", ["INT96"], indirect=True)
def test_changelog_reads_int96_timestamps_past_2262(spark, tmp_path, timestamp_type):
    """Nanosecond INT96 reads wrap after 2262: inserted rows, deleted
    rows and equality-delete keys must all keep their year."""
    from pyspark.sql import types as T

    utc = datetime.timezone.utc
    times = [
        datetime.datetime(9999, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
        datetime.datetime(2300, 1, 1, tzinfo=utc),
        datetime.datetime(1900, 1, 1, 12, tzinfo=utc),
    ]
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    # a one-partition RDD frame: written by Spark's parquet writer, as INT96
    t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(list(enumerate(times)), 1), schema
    ))
    t.append_equality_deletes(
        spark.createDataFrame([(times[1],)], T.StructType([schema["ts"]])), ["ts"]
    )
    t.delete_where(F.col("k") == 2)
    naive = [x.astimezone(utc).replace(tzinfo=None) for x in times]
    changes = t.read_changes().collect()
    # collect() returns session-zone (UTC) naive datetimes
    assert sorted(
        (r.k, r.ts) for r in changes if r._change_type == "insert"
    ) == list(enumerate(naive))
    assert sorted(
        (r.k, r.ts) for r in changes if r._change_type == "delete"
    ) == [(1, naive[1]), (2, naive[2])]
    assert [r.ts for r in t.read().collect()] == naive[:1]


def test_changelog_eq_deletes_match_null_safely(spark, tmp_path):
    """Equality deletes match as the batch read's ``eqNullSafe`` anti
    join does, on one key column or several: null equals null, -0.0
    equals 0.0 and NaN equals NaN."""
    rows = [(1, None, 0.0), (2, None, 1.0), (3, 1, -0.0), (4, 1, float("nan")),
            (5, 2, 0.0), (6, 2, float("nan"))]
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(rows, "id long, g long, x double").schema,
    )
    t.append(spark.createDataFrame(rows, "id long, g long, x double"))
    t.append_equality_deletes(
        spark.createDataFrame([(None, 1.0), (1, 0.0), (2, float("nan"))],
                              "g long, x double"),
        ["g", "x"],
    )
    t.append_equality_deletes(spark.createDataFrame([(None,)], "g long"), ["g"])
    deleted = sorted(
        r.id for r in t.read_changes().collect() if r._change_type == "delete"
    )
    assert deleted == [1, 2, 3, 6]
    assert sorted(r.id for r in t.read().collect()) == [4, 5]
