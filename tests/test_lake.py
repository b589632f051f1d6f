"""Lake layer end-to-end tests — mirror the reference's e2e round trip
(``compaction/mod.rs:807-886``) and FIXTURES.md scenarios F1a-F3a."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import Compaction, LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.commit import CommitFailed, RewriteFilesCommitManager
from bergloom_spark.lake.compaction import expire_snapshots
from bergloom_spark.lake.validator import ValidationError, validate_compaction
from bergloom_spark.operators import mor

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)

SEED = [(1, "Alice"), (2, "Bob"), (3, "Charlie")]  # compaction/mod.rs:693-711


def make_users(spark, tmp_path, name="users"):
    return LakeTable.create(spark, str(tmp_path / name), USERS_SCHEMA)


def seed_df(spark):
    return spark.createDataFrame(SEED, USERS_SCHEMA)


def rows(df):
    return sorted((r.id, r.name) for r in df.collect())


def test_f1a_append_and_compact(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))
    t.append(seed_df(spark))
    assert rows(t.read()) == sorted(SEED + SEED)
    n_inputs = len(t.meta.current_snapshot().entries)
    result = Compaction(
        t, CompactionConfig(enable_validate_compaction=True)
    ).compact()
    assert result.stat.rewritten_files_count == n_inputs
    assert result.validated
    assert rows(t.read()) == sorted(SEED + SEED)
    # All live files now carry the pinned starting sequence number.
    snap = t.meta.current_snapshot()
    assert {e.sequence_number for e in snap.entries} == {2}


def test_f1b_positional_deletes_roundtrip(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))
    # Positional-delete rows 0-2 of the first append's files, derived
    # from the REAL scanned (file, pos) values.
    hidden = t.scan_data(with_hidden=True)
    pos = hidden.select(
        F.col(mor.SYS_HIDDEN_FILE_PATH).alias("file_path"),
        F.col(mor.SYS_HIDDEN_POS).alias("pos"),
    )
    t.append_position_deletes(pos)
    t.append(seed_df(spark))
    assert rows(t.read()) == sorted(SEED)  # insert→delete→insert ⇒ 3 rows
    result = Compaction(
        t, CompactionConfig(enable_validate_compaction=True)
    ).compact()
    assert rows(t.read()) == sorted(SEED)
    # Post-compaction snapshot holds data files only.
    snap = t.meta.current_snapshot()
    assert {e.content for e in snap.entries} == {md.DATA}
    assert result.validated


@pytest.mark.parametrize("cap", ["default", 0])
def test_f1c_equality_deletes_seq_gating(spark, tmp_path, monkeypatch, cap):
    """Two delete files in one equality-id set are read by one scan
    whose rows take each file's own sequence number — through the
    literal map and (cap 0) the broadcast join alike. A missed probe
    would be a NULL seq, and a silently unapplied delete."""
    from bergloom_spark.lake import table as table_mod

    if cap != "default":
        monkeypatch.setattr(table_mod, "_MAP_LITERAL_CAP", cap)
    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))  # seq 1
    t.append_equality_deletes(
        spark.createDataFrame([(2,)], "id int"), ["id"]
    )  # seq 2
    t.append(seed_df(spark))  # seq 3: id=2 re-inserted AFTER the delete
    got = rows(t.read())
    assert got == sorted([(1, "Alice"), (3, "Charlie")] + SEED)
    t.append_equality_deletes(
        spark.createDataFrame([(3,)], "id int"), ["id"]
    )  # seq 4: both copies of id=3 are older
    got = rows(t.read())
    assert got == [(1, "Alice"), (1, "Alice"), (2, "Bob")]
    (group,) = t._eq_delete_groups(t.meta.current_snapshot())
    assert sorted(map(tuple, group.frame.collect())) == [(2, 2), (3, 4)]
    Compaction(t, CompactionConfig(enable_validate_compaction=True)).compact()
    assert rows(t.read()) == got


def test_f1d_both_delete_kinds(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))
    hidden = t.scan_data(with_hidden=True)
    pos = hidden.filter(F.col("id") == 1).select(
        F.col(mor.SYS_HIDDEN_FILE_PATH).alias("file_path"),
        F.col(mor.SYS_HIDDEN_POS).alias("pos"),
    )
    t.append_position_deletes(pos)
    t.append_equality_deletes(spark.createDataFrame([(3,)], "id int"), ["id"])
    assert rows(t.read()) == [(2, "Bob")]
    Compaction(t, CompactionConfig(enable_validate_compaction=True)).compact()
    assert rows(t.read()) == [(2, "Bob")]


def test_f2a_empty_table_noop(spark, tmp_path):
    t = LakeTable.create(
        spark,
        str(tmp_path / "sales"),
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("customer_name", T.StringType(), False),
                T.StructField("amount", T.DoubleType(), False),
            ]
        ),
    )
    result = Compaction(t).compact()
    assert result.stat.rewritten_files_count == 0
    assert result.snapshot_id is None


def test_f3a_partitioned_fanout(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("bucket", T.IntegerType(), False),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "users_part"), schema, ["bucket"])
    df = spark.range(1000).select(
        F.col("id").cast("int"),
        F.concat(F.lit("u"), F.col("id")).alias("name"),
        (F.col("id") % 4).cast("int").alias("bucket"),
    )
    for _ in range(3):
        t.append(df)
    assert t.read().count() == 3000
    Compaction(t, CompactionConfig(enable_validate_compaction=True)).compact()
    snap = t.meta.current_snapshot()
    assert t.read().count() == 3000
    # Partition values preserved through fanout write + manifest recovery.
    got = t.read().groupBy("bucket").count().collect()
    assert sorted((r.bucket, r["count"]) for r in got) == [
        (0, 750), (1, 750), (2, 750), (3, 750)
    ]
    assert all(e.partition.get("bucket") is not None for e in snap.entries)


def test_eq_delete_after_compaction_still_applies(spark, tmp_path):
    # The reason for sequence-number pinning: a compaction must not
    # resurrect rows against deletes committed at higher seq numbers.
    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))  # seq 1
    Compaction(t).compact()  # output pinned to seq 1
    t.append_equality_deletes(spark.createDataFrame([(1,)], "id int"), ["id"])
    assert rows(t.read()) == [(2, "Bob"), (3, "Charlie")]


def test_commit_conflict_retry_and_guards(spark, tmp_path):
    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))
    snap = t.meta.current_snapshot()
    entry = snap.entries[0]
    # Guard 1: schema changed mid-compaction → CommitFailed.
    mgr = RewriteFilesCommitManager(
        t.meta.table_root, starting_schema_id=99, starting_sequence_number=1
    )
    with pytest.raises(CommitFailed):
        mgr.rewrite_files([], set())
    # Guard 2: removing files that are no longer live → CommitFailed.
    mgr = RewriteFilesCommitManager(
        t.meta.table_root, starting_schema_id=0, starting_sequence_number=1
    )
    with pytest.raises(CommitFailed):
        mgr.rewrite_files([], {"/nonexistent.parquet"})
    # Conflict retry: a concurrent append between read and commit is
    # retried and succeeds against the new base.
    sleeps = []
    mgr = RewriteFilesCommitManager(
        t.meta.table_root,
        starting_schema_id=0,
        starting_sequence_number=1,
        sleep=sleeps.append,
    )
    real_read = md.read_current
    raced = {"done": False}

    def racing_read(root):
        base = real_read(root)
        if not raced["done"]:
            raced["done"] = True
            # Simulate a concurrent committer taking the next version.
            t.append(seed_df(spark))
        return base

    md.read_current = racing_read
    try:
        meta = mgr.rewrite_files([entry], {entry.file_path})
    finally:
        md.read_current = real_read
    assert len(sleeps) == 1
    assert meta.version == t.meta.version + 1


def test_validator_catches_value_corruption(spark):
    a = spark.createDataFrame(SEED, USERS_SCHEMA)
    b = spark.createDataFrame([(1, "Alice"), (2, "Bob"), (3, "CHARLIE")], USERS_SCHEMA)
    assert validate_compaction(a, a.orderBy(F.desc("id"))).rows == 3
    with pytest.raises(ValidationError):
        validate_compaction(a, b)  # same count, different content


def test_expire_snapshots(spark, tmp_path):
    import os

    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))
    old_files = [e.file_path for e in t.meta.current_snapshot().entries]
    Compaction(t).compact()
    expired = expire_snapshots(t, keep_last=1)
    assert expired == 1  # append snapshot expired; rewrite kept
    assert len(t.meta.snapshots) == 1
    assert all(not os.path.exists(p) for p in old_files)
    assert rows(t.read()) == sorted(SEED)


def test_time_travel_reads(spark, tmp_path):
    t = make_users(spark, tmp_path)
    s1 = t.append(seed_df(spark))
    t.append_equality_deletes(spark.createDataFrame([(1,)], "id int"), ["id"])
    assert rows(t.read(snapshot_id=s1.snapshot_id)) == sorted(SEED)
    assert rows(t.read()) == [(2, "Bob"), (3, "Charlie")]


# ---------------------------------------------------------------------------
# per-file URI dictionary (round 2): the hidden-column scan must not
# pay a per-row url_decode when the driver can prove the file mapping
# ---------------------------------------------------------------------------
def test_hidden_scan_uses_file_dictionary_not_per_row_decode(spark, tmp_path):
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    scan = t.scan_data(with_hidden=True)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "url_decode" not in plan  # dictionary path engaged
    # and the dictionary resolves to the exact manifest paths
    snap = t.meta.current_snapshot()
    got = scan.collect()
    paths = {r["sys_hidden_file_path"] for r in got}
    assert paths == {e.file_path for e in snap.entries}
    # sys_hidden_pos is each file's _metadata.row_index (Iceberg _pos)
    # and sys_hidden_seq_num the file's manifest sequence number
    by_file = {}
    for r in got:
        by_file.setdefault(r["sys_hidden_file_path"], []).append(r)
    seq = {e.file_path: e.sequence_number for e in snap.entries}
    for path, rs in by_file.items():
        pos = sorted(r["sys_hidden_pos"] for r in rs)
        assert pos == list(range(len(rs)))
        assert {r["sys_hidden_seq_num"] for r in rs} == {seq[path]}
    raw = spark.read.parquet(*paths).select(
        "id", F.col("_metadata.row_index").alias("pos")
    )
    assert sorted(map(tuple, raw.collect())) == sorted(
        (r["id"], r["sys_hidden_pos"]) for r in got
    )


def test_uri_path_map_rejects_mismatch(spark, tmp_path):
    from bergloom_spark.lake.table import _uri_path_map

    p = str(tmp_path / "d.parquet")
    spark.range(10).write.parquet(p)
    df = spark.read.parquet(p)
    real = [u.replace("file://", "") for u in df.inputFiles()]
    assert _uri_path_map(df, real) is not None
    assert _uri_path_map(df, ["/nonexistent/file.parquet"]) is None
    assert _uri_path_map(df, real + ["/extra.parquet"]) is None


def test_hidden_scan_special_char_paths_roundtrip(spark, tmp_path):
    """Partition dirs with Hive-escaped chars: whichever path the scan
    picks (dictionary or per-row decode), hidden file paths must match
    the manifest byte-for-byte."""
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable

    df = spark.range(40).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("12:30 p+q"))
        .otherwise(F.lit("a b%c"))
        .alias("part"),
    )
    t = LakeTable.create(
        spark, str(tmp_path / "pt"), df.schema, partition_spec=["part"]
    )
    t.append(df)
    scan = t.scan_data(with_hidden=True)
    snap = t.meta.current_snapshot()
    paths = {r["sys_hidden_file_path"] for r in scan.collect()}
    assert paths == {e.file_path for e in snap.entries}
    # partition values recovered exactly through the escaped dirs
    vals = {r["part"] for r in t.read().collect()}
    assert vals == {"12:30 p+q", "a b%c"}


def test_hidden_scan_join_fallback_above_map_cap(spark, tmp_path, monkeypatch):
    """Above _MAP_LITERAL_CAP files the scan must use the broadcast-join
    path and produce identical results."""
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable
    from bergloom_spark.lake import table as table_mod

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 3).alias("v")
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    t.append_equality_deletes(
        spark.range(10).select(F.col("id")), ["id"]
    )
    expected = sorted(map(tuple, t.read().collect()))
    monkeypatch.setattr(table_mod, "_MAP_LITERAL_CAP", 0)
    scan = t.scan_data(with_hidden=True)
    # join fallback engaged: seq map comes from a broadcast relation
    # (the literal-map path has no ExistingRDD scan)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert sorted(map(tuple, t.read().collect())) == expected


def test_concurrent_appends_thread_safe(spark, tmp_path):
    """Optimization r14 (guide §2.6): independent write jobs may be
    submitted from driver threads; the commit lock serializes only the
    metadata CAS. All rows land, snapshots chain linearly, and the
    final row set equals the sequential result regardless of which
    thread commits first."""
    from concurrent.futures import ThreadPoolExecutor

    t = make_users(spark, tmp_path)
    halves = [
        spark.createDataFrame([(i, f"u{i}") for i in range(0, 50, 2)], USERS_SCHEMA),
        spark.createDataFrame([(i, f"u{i}") for i in range(1, 50, 2)], USERS_SCHEMA),
    ]
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(t.append, h) for h in halves]:
            f.result()
    assert rows(t.read()) == sorted((i, f"u{i}") for i in range(50))
    # linear history: two snapshots, distinct sequence numbers 1 and 2,
    # child's parent is the other snapshot
    snaps = t.meta.snapshots
    assert sorted(s.sequence_number for s in snaps) == [1, 2]
    by_seq = {s.sequence_number: s for s in snaps}
    assert by_seq[2].parent_snapshot_id == by_seq[1].snapshot_id


def test_concurrent_delete_appends_thread_safe(spark, tmp_path):
    """Positional + equality delete writes submitted concurrently land
    as two delete snapshots above the data in either order, with the
    same MoR result as the sequential form."""
    from concurrent.futures import ThreadPoolExecutor

    t = make_users(spark, tmp_path)
    t.append(seed_df(spark))
    hidden = t.scan_data(with_hidden=True)
    pos = hidden.filter(F.col("id") == 1).select(
        F.col(mor.SYS_HIDDEN_FILE_PATH).alias("file_path"),
        F.col(mor.SYS_HIDDEN_POS).alias("pos"),
    )
    eq = spark.createDataFrame([(2,)], "id: int")
    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [
            pool.submit(t.append_position_deletes, pos),
            pool.submit(t.append_equality_deletes, eq, ["id"]),
        ]:
            f.result()
    assert rows(t.read()) == [(3, "Charlie")]
