"""Rollback and metadata-table introspection."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    t.append(spark.createDataFrame([(1, "a")], SCHEMA))
    t.append(spark.createDataFrame([(2, "b")], SCHEMA))
    return t


def test_rollback_restores_old_state(spark, tmp_path):
    t = _table(spark, tmp_path)
    first = t.meta.snapshots[0].snapshot_id
    t.rollback_to(first)
    assert sorted(r.id for r in t.read().collect()) == [1]
    # Abandoned snapshot still readable by id; re-append continues the
    # sequence without colliding.
    second = t.meta.snapshots[1].snapshot_id
    assert sorted(r.id for r in t.read(snapshot_id=second).collect()) == [1, 2]
    t.append(spark.createDataFrame([(3, "c")], SCHEMA))
    assert sorted(r.id for r in t.read().collect()) == [1, 3]
    seqs = [s.sequence_number for s in t.meta.snapshots]
    assert len(set(seqs)) == len(seqs)


def test_rollback_unknown_snapshot(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(KeyError):
        t.rollback_to(999)


def test_metadata_tables(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_where(F.col("id") == 1)
    snaps = t.snapshots_df().collect()
    assert [s.operation for s in snaps] == ["append", "append", "delete"]
    assert sum(1 for s in snaps if s.is_current) == 1
    files = t.files_df().collect()
    assert {f.content for f in files} == {"data", "pos_delete"}
    assert all(f.record_count > 0 for f in files)
    hist = t.history_df().collect()
    assert len(hist) == 3


# ---------------------------------------------------------------------------
# write-audit-publish
# ---------------------------------------------------------------------------
def test_wap_stage_audit_publish(spark, tmp_path):
    from bergloom_spark.lake.commit import CommitFailed  # noqa: F401

    t = _table(spark, tmp_path)
    staged = t.stage_append(spark.createDataFrame([(3, "c")], SCHEMA))
    # Not visible before publish.
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    # Audit: the staged snapshot is readable by id.
    assert sorted(r.id for r in t.read(snapshot_id=staged.snapshot_id).collect()) == [
        1, 2, 3,
    ]
    t.publish(staged.snapshot_id)
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_wap_publish_refused_after_concurrent_commit(spark, tmp_path):
    from bergloom_spark.lake.commit import CommitFailed

    t = _table(spark, tmp_path)
    staged = t.stage_append(spark.createDataFrame([(3, "c")], SCHEMA))
    t.append(spark.createDataFrame([(4, "d")], SCHEMA))  # table advances
    with pytest.raises(CommitFailed, match="re-stage"):
        t.publish(staged.snapshot_id)
    # The concurrent commit is intact; staged rows never leaked.
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 4]


def test_wap_unpublished_stage_is_expirable(spark, tmp_path):
    from bergloom_spark.lake.compaction import expire_snapshots

    t = _table(spark, tmp_path)
    t.stage_append(spark.createDataFrame([(3, "c")], SCHEMA))
    t.append(spark.createDataFrame([(4, "d")], SCHEMA))
    assert expire_snapshots(t, keep_last=1) > 0
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 4]


def test_expire_preserves_current_after_rollback(spark, tmp_path):
    from bergloom_spark.lake.compaction import expire_snapshots

    t = _table(spark, tmp_path)
    first = t.meta.snapshots[0].snapshot_id
    t.rollback_to(first)
    expire_snapshots(t, keep_last=1)
    # Rolled-back-to snapshot (current) must survive expiration.
    assert sorted(r.id for r in t.read().collect()) == [1]


def test_stale_handle_commits_converge(spark, tmp_path):
    """A handle whose cached metadata fell behind another writer's
    commit must rebase each metadata-only commit onto the fresh base
    (or refuse with CommitFailed) — never raise a raw CommitConflict,
    which it would repeat forever on its stale cache."""
    from bergloom_spark.lake import metadata as md
    from bergloom_spark.lake.commit import CommitFailed
    from bergloom_spark.lake.compaction import expire_snapshots
    from bergloom_spark.lake.statistics import compute_table_statistics

    t = _table(spark, tmp_path)
    root = t.meta.table_root
    first = t.meta.snapshots[0].snapshot_id
    t.create_branch("dev")
    t.create_tag("old")

    def other_writer_commits(rid):
        LakeTable.load(spark, root).append(
            spark.createDataFrame([(rid, "b")], SCHEMA)
        )

    staged = {}
    ops = [
        ("create_tag", lambda a: a.create_tag("rel")),
        ("set_branch", lambda a: a.set_branch("dev", first)),
        ("drop_ref", lambda a: a.drop_ref("old")),
        ("stage_append", lambda a: staged.update(
            snap=a.stage_append(spark.createDataFrame([(50, "s")], SCHEMA))
        )),
        ("expire_snapshots", lambda a: expire_snapshots(a, keep_last=2)),
        ("compute_table_statistics",
         lambda a: compute_table_statistics(a, columns=["id"])),
        ("rollback_to", lambda a: a.rollback_to(first)),
        ("set_partition_spec", lambda a: a.set_partition_spec(["v"])),
        ("add_columns", lambda a: a.add_columns(
            [T.StructField("extra", T.StringType(), True)]
        )),
    ]
    for i, (name, op) in enumerate(ops):
        a = LakeTable.load(spark, root)
        other_writer_commits(100 + i)
        op(a)  # a raw CommitConflict here fails the test
        assert a.meta == md.read_current(root), name  # adopted the commit
        if name == "rollback_to":
            assert a.meta.current_snapshot_id == first
        if name == "stage_append":
            # the stage rebased onto the other writer's commit ...
            assert (
                staged["snap"].parent_snapshot_id
                == a.meta.current_snapshot_id
            )
            # ... and publishing it after the table moved again refuses
            other_writer_commits(200)
            with pytest.raises(CommitFailed, match="re-stage"):
                a.publish(staged["snap"].snapshot_id)

    final = md.read_current(root)
    assert set(final.refs) == {"dev", "rel"}
    assert final.refs["dev"]["snapshot_id"] == first
    assert final.partition_spec == ["v"]
    assert [f["name"] for f in final.schema["fields"]] == ["id", "v", "extra"]
    assert final.properties["statistics_file"]
    # the rollback dropped everything after the first append; only the
    # other writer's two later appends landed on top of it
    assert sorted(
        r.id for r in LakeTable.load(spark, root).read().collect()
    ) == [1, 107, 108]


# ---------------------------------------------------------------------------
# partitions metadata table + manifest-answered count (round 2)
# ---------------------------------------------------------------------------
def test_partitions_df_totals_match_data(spark, tmp_path):
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable

    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema, partition_spec=["p"]
    )
    t.append(df)
    rows = {r["p"]: r for r in t.partitions_df().collect()}
    assert set(rows) == {"0", "1", "2"}
    assert all(rows[p]["n_rows"] == 100 for p in rows)
    assert all(rows[p]["n_files"] >= 1 for p in rows)
    assert all(rows[p]["total_bytes"] > 0 for p in rows)


def test_fast_count_metadata_only_and_delete_fallback(spark, tmp_path):
    import pyspark.sql.functions as F

    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import Compaction, LakeTable

    df = spark.range(500).select(F.col("id"), (F.col("id") * 2).alias("v"))
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    assert t.fast_count() == 500
    # live deletes: manifest counts can't answer — must refuse
    t.append_equality_deletes(spark.range(10).select("id"), ["id"])
    assert t.fast_count() is None
    assert t.read().count() == 490
    # compaction clears the delete debt: metadata answers again
    Compaction(t, CompactionConfig()).compact()
    assert t.fast_count() == 490


def test_clone_is_zero_copy_and_isolated(spark, tmp_path):
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable
    from bergloom_spark.lake import metadata as md

    base = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    src = LakeTable.create(spark, str(tmp_path / "src"), base.schema)
    src.append(base)
    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: clone references the SOURCE's files
    src_paths = {e.file_path for e in src.meta.current_snapshot().entries}
    clone_paths = {e.file_path for e in clone.meta.current_snapshot().entries}
    assert clone_paths == src_paths
    assert clone.read().count() == 100
    # divergence: delete in clone, append in source — no cross-talk
    clone.delete_where(F.col("id") < 10)
    src.append(base.limit(5))
    assert clone.read().count() == 90
    assert src.refresh().read().count() == 105
    # clone survives a reload from disk
    reloaded = LakeTable.load(spark, str(tmp_path / "clone"))
    assert reloaded.read().count() == 90
    assert reloaded.meta.current_snapshot().operation != ""
    # clone's own commits land under the clone root
    new_files = {
        e.file_path
        for e in reloaded.meta.current_snapshot().files(md.POS_DELETE)
    }
    assert all(str(tmp_path / "clone") in p for p in new_files)


def test_fast_min_max_metadata_only_and_refusals(spark, tmp_path):
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable

    base = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), base.schema)
    t.append(base, target_file_size=16 * 1024)
    assert t.fast_min_max("id") == (0, 999)
    assert t.fast_min_max("grp") == (0, 6)
    # strings never have safe stats -> refuse
    assert t.fast_min_max("s") is None
    # unknown column -> refuse
    assert t.fast_min_max("nope") is None
    # live deletes -> refuse (the extreme row might be deleted)
    t.delete_where(F.col("id") == 999)
    assert t.fast_min_max("id") is None
    assert t.read().agg(F.max("id")).first()[0] == 998


def test_read_as_of_timestamp(spark, tmp_path):
    import time

    import pyspark.sql.functions as F
    import pytest

    from bergloom_spark.lake import LakeTable

    base = spark.range(10).select(F.col("id"))
    t = LakeTable.create(spark, str(tmp_path / "t"), base.schema)
    t.append(base)
    ts1 = t.meta.current_snapshot().timestamp_ms
    time.sleep(0.01)
    t.append(spark.range(10, 20).select(F.col("id")))
    ts2 = t.meta.current_snapshot().timestamp_ms
    # before any snapshot -> empty
    assert t.read(as_of_ms=ts1 - 1000).count() == 0
    assert t.read(as_of_ms=ts1).count() == 10
    assert t.read(as_of_ms=ts2).count() == 20
    assert t.read(as_of_ms=ts2 + 10_000).count() == 20
    with pytest.raises(ValueError, match="at most one"):
        t.read(snapshot_id=1, as_of_ms=ts1)
