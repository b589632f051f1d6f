"""Per-file Bloom-filter equality pruning (lake/skipping.py, round 3)."""

from __future__ import annotations

import dataclasses
import os

import pyspark.sql.functions as F

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake import skipping as sk
from bergloom_spark.lake.table import BLOOM_COLS_PROP


def test_bloom_build_and_probe_basics():
    bloom = sk.build_bloom([1, 2, 3, None])
    assert bloom is not None
    for v in (1, 2, 3):
        assert sk.bloom_may_contain(bloom, v)
    misses = sum(
        0 if sk.bloom_may_contain(bloom, 1000 + i) else 1
        for i in range(200)
    )
    assert misses > 190  # fp rate well under 5% at this load
    # float values disable the bloom entirely (no unsafe pruning)
    assert sk.build_bloom([1.5, 2.5]) is None
    # mixed int/str columns too: Spark's coercing '=' could match
    # across the types, so such a column never builds a bloom (r4)
    assert sk.build_bloom([1, 2, "x"]) is None


def _bloom_table(spark, sf_dir, tmp_path):
    from bergloom_spark.io import load_table

    base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), base.schema)
    t.append(
        base.repartition(8, F.col("l_orderkey")),
        # tiny target so even sf0.001 input (~9 KB estimated) asks for
        # at least 4 files from the byte estimate alone: the write's
        # parallelism floor adds files only up to the core count, so an
        # 8 KB target gave 3 files on 3 cores. Each file coalesces whole
        # hash partitions, so every file's keys span the key range (the
        # shape bloom pruning exists for).
        target_file_size=2 * 1024,
        properties_update={BLOOM_COLS_PROP: "l_orderkey"},
    )
    return t, base


def test_bloom_prunes_point_lookup_where_stats_cannot(spark, sf_dir, tmp_path):
    t, base = _bloom_table(spark, sf_dir, tmp_path)
    # every data file carries a bloom for the key
    entries = t.meta.current_snapshot().files(md.DATA)
    assert len(entries) >= 4
    assert all("l_orderkey" in e.column_blooms for e in entries)
    # hash clustering makes [min, max] span nearly everything: pick a
    # mid-range present key — stats alone keep all files
    half = base.agg(F.max("l_orderkey")).first()[0] // 2
    probe = int(
        base.filter(F.col("l_orderkey") <= half)
        .agg(F.max("l_orderkey"))
        .first()[0]
    )
    point = [("l_orderkey", "=", probe)]
    no_blooms = [dataclasses.replace(e, column_blooms={}) for e in entries]
    assert len(sk.prune_entries(no_blooms, point)) == len(entries)
    kept, total = t.plan_files(filters=point)
    assert total == len(entries)
    assert len(kept) < total, "bloom pruned nothing"
    # results identical to the unpruned scan + filter
    got = sorted(
        map(tuple, t.read(filters=[("l_orderkey", "=", probe)]).collect())
    )
    want = sorted(
        map(tuple, base.filter(F.col("l_orderkey") == probe).collect())
    )
    assert got == want and len(got) > 0


def test_bloom_survives_metadata_reload(spark, sf_dir, tmp_path):
    t, _ = _bloom_table(spark, sf_dir, tmp_path)
    reloaded = md.read_current(t.meta.table_root)
    entries = reloaded.current_snapshot().files(md.DATA)
    assert all(e.column_blooms.get("l_orderkey") for e in entries)


def test_absent_key_prunes_all_files(spark, sf_dir, tmp_path):
    t, base = _bloom_table(spark, sf_dir, tmp_path)
    absent = int(base.agg(F.max("l_orderkey")).first()[0]) + 999_999
    kept, total = t.plan_files(filters=[("l_orderkey", "=", absent)])
    # stats prune this one too (beyond max); bloom agrees — zero files
    assert kept == []
    assert t.read(filters=[("l_orderkey", "=", absent)]).count() == 0
