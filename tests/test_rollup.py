from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from bergloom_spark.io import load_table
from bergloom_spark.lake import LakeTable
from bergloom_spark.operators.rollup import IncrementalRollup

LI_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
    "l_linestatus", "l_quantity", "l_extendedprice",
]


def _state(rollup_table):
    return {
        (r.l_returnflag, r.l_linestatus): (
            r.cnt,
            round(r.sum_l_quantity, 2),
            round(r.sum_l_extendedprice, 2),
        )
        for r in rollup_table.read().collect()
    }


def _expected(fact_df):
    rows = (
        fact_df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sq"),
            F.round(F.sum("l_extendedprice"), 2).alias("sp"),
        )
        .collect()
    )
    return {
        (r.l_returnflag, r.l_linestatus): (r.cnt, r.sq, r.sp) for r in rows
    }


@pytest.fixture()
def roots(tmp_path):
    return str(tmp_path / "fact"), str(tmp_path / "rollup")


def test_incremental_equals_recompute_through_lifecycle(spark, sf_dir, roots):
    fact_root, rollup_root = roots
    li = load_table(spark, sf_dir, "lineitem").select(*LI_COLS)
    t = LakeTable.create(spark, fact_root, li.schema)
    r = IncrementalRollup(
        t, rollup_root,
        keys=["l_returnflag", "l_linestatus"],
        sum_cols=["l_quantity", "l_extendedprice"],
    )

    # Phase 1: initial load (full aggregation path).
    t.append(li.filter(F.col("l_orderkey") % 2 == 0))
    rt = r.refresh()
    assert _state(rt) == _expected(t.read())

    # Phase 2: append + delete consumed as one changelog.
    t = t.refresh()
    t.append(li.filter(F.col("l_orderkey") % 2 == 1))
    t.delete_where(F.col("l_suppkey") % 7 == 0)
    rt = r.refresh()
    assert _state(rt) == _expected(t.refresh().read())


def test_refresh_is_idempotent_at_same_snapshot(spark, sf_dir, roots):
    fact_root, rollup_root = roots
    li = load_table(spark, sf_dir, "lineitem").select(*LI_COLS)
    t = LakeTable.create(spark, fact_root, li.schema)
    t.append(li.limit(100))
    r = IncrementalRollup(
        t, rollup_root, keys=["l_returnflag", "l_linestatus"],
        sum_cols=["l_quantity"],
    )
    first = r.refresh()
    snap_before = first.meta.current_snapshot_id
    second = r.refresh()
    assert second.meta.current_snapshot_id == snap_before


def test_vanished_group_is_removed(spark, roots):
    fact_root, rollup_root = roots
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id long, grp string, v double",
    )
    t = LakeTable.create(spark, fact_root, df.schema)
    t.append(df)
    r = IncrementalRollup(t, rollup_root, keys=["grp"], sum_cols=["v"])
    r.refresh()
    t = t.refresh()
    t.delete_where(F.col("grp") == "b")
    rt = r.refresh()
    groups = {row.grp for row in rt.read().collect()}
    assert groups == {"a"}


def test_interrupted_refresh_reruns_to_recompute(spark, tmp_path, monkeypatch):
    """Each commit a refresh performs fails in turn; the re-run refresh
    must equal a from-scratch aggregation — no half-applied delta is
    folded twice. The delta empties one group, so a refresh that
    commits the live and the vanished groups separately double-counts
    when interrupted between the two."""
    src = spark.range(100).select(
        "id",
        (F.col("id") % 5).alias("grp"),
        F.col("id").cast("double").alias("v"),
    )
    real_commit = LakeTable._commit

    def state(t):
        return {r.grp: (r.cnt, r.sum_v) for r in t.read().collect()}

    def expected(t):
        rows = t.read().groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v")
        )
        return {r.grp: (r.cnt, r.sum_v) for r in rows.collect()}

    faulted = 0
    for k in range(1, 5):
        root = tmp_path / f"k{k}"
        t = LakeTable.create(spark, str(root / "fact"), src.schema)
        t.append(src)
        r = IncrementalRollup(
            t, str(root / "rollup"), keys=["grp"], sum_cols=["v"]
        )
        r.refresh()
        t = t.refresh()
        t.append(src.limit(10).withColumn("id", F.col("id") + 100))
        t.delete_where(F.col("grp") == 2)

        calls = []

        def failing_commit(self, update, k=k, calls=calls):
            calls.append(1)
            if len(calls) == k:
                raise OSError(f"injected failure of commit {k}")
            return real_commit(self, update)

        monkeypatch.setattr(LakeTable, "_commit", failing_commit)
        try:
            r.refresh()
        except OSError:
            faulted += 1
        finally:
            monkeypatch.setattr(LakeTable, "_commit", real_commit)
        if len(calls) < k:
            break  # the refresh performs fewer than k commits
        rt = r.refresh()
        assert state(rt) == expected(t.refresh()), f"commit {k} failed"
        assert 2 not in state(rt)
    assert faulted >= 1


def test_watermark_property_wins_over_legacy_side_file(tmp_path):
    """A rollup created before the watermark property still resumes
    from its ``_source_watermark.json``; once the property is committed
    it is the one read."""
    import json
    from types import SimpleNamespace

    from bergloom_spark.operators.rollup import WATERMARK_PROP, _load_watermark

    def table(props):
        return SimpleNamespace(meta=SimpleNamespace(properties=props))

    assert _load_watermark(table({}), str(tmp_path)) is None
    with open(tmp_path / "_source_watermark.json", "w") as fh:
        json.dump({"source_snapshot_id": 7}, fh)
    assert _load_watermark(table({}), str(tmp_path)) == 7
    assert _load_watermark(table({WATERMARK_PROP: "9"}), str(tmp_path)) == 9


def test_source_compaction_leaves_rollup_snapshots_alone(spark, tmp_path):
    """A source compaction moves the source snapshot but no group's
    count or sums: the refresh must advance the watermark without a new
    rollup snapshot, delete file or data file, and the refresh after it
    must return early."""
    from bergloom_spark.lake import metadata as md
    from bergloom_spark.lake.compaction import Compaction
    from bergloom_spark.operators.rollup import WATERMARK_PROP

    src = spark.range(200).select(
        "id",
        (F.col("id") % 5).alias("grp"),
        F.col("id").cast("double").alias("v"),
    )
    t = LakeTable.create(spark, str(tmp_path / "fact"), src.schema)
    t.append(src)
    r = IncrementalRollup(
        t, str(tmp_path / "rollup"), keys=["grp"], sum_cols=["v"]
    )

    def observed(rt):
        snap = rt.meta.current_snapshot()
        return (
            [s.snapshot_id for s in rt.meta.snapshots],
            sorted(e.file_path for e in snap.files(md.DATA)),
            sorted(e.file_path for e in snap.files(md.EQ_DELETE)),
            sorted((g.grp, g.cnt, g.sum_v) for g in rt.read().collect()),
        )

    before = observed(r.refresh())
    src_snap = t.meta.current_snapshot_id
    Compaction(t).compact()
    t = t.refresh()
    assert t.meta.current_snapshot_id != src_snap

    rt = r.refresh()
    assert observed(rt) == before
    assert rt.meta.properties[WATERMARK_PROP] == str(
        t.meta.current_snapshot_id
    )
    version = rt.meta.version
    assert r.refresh().meta.version == version
