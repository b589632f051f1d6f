"""Multi-writer conflict soak (VERDICT r3 #6).

N threads hammer one table with appends, CDC merges, and compactions.
Commits use the optimistic version CAS (metadata.write_version) with
the one rebuild-and-retry path (lake/commit.commit, the reference's
compaction retry semantics generalized to every commit —
core/src/compaction/mod.rs:595-611). Invariants: no lost updates, a
contiguous snapshot-id chain, strictly monotonic sequence numbers, and
per-key last-writer-wins state after the dust settles.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.metadata import CommitConflict

N_THREADS = 6
N_ROUNDS = 9  # per thread: one append + one merge per round


def _schema():
    return T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("writer", T.LongType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )


def _retrying(fn, attempts=20):
    """Outer re-run for the bounded-retry escape: commit.commit
    gives up after max_retries CAS losses; a real writer re-runs the
    operation, which is what this does."""
    for _ in range(attempts):
        try:
            return fn()
        except CommitConflict:
            continue
    raise AssertionError("commit starved after outer retries")


def test_concurrent_append_merge_compact(spark, tmp_path):
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, _schema())
    errors: list[BaseException] = []

    def writer(wid: int):
        try:
            t = LakeTable(spark, md.read_current(root))
            for r in range(N_ROUNDS):
                # disjoint append keys: writer wid owns k in
                # [(wid+1)*10_000, ...), 20 rows per round — offset by
                # one so no append key collides with the contended
                # merge keys 0..9 below
                base = (wid + 1) * 10_000 + r * 20
                rows = spark.range(base, base + 20).select(
                    F.col("id").alias("k"),
                    F.lit(wid).cast("long").alias("writer"),
                    F.lit(r).cast("long").alias("v"),
                )
                _retrying(lambda: t.refresh().append(rows))
                # contended merge keys: every writer upserts the SAME
                # 10 keys each round (ordered by (r, wid) via order_col)
                changes = spark.range(10).select(
                    F.col("id").alias("k"),
                    F.lit(wid).cast("long").alias("writer"),
                    F.lit(r).cast("long").alias("v"),
                    F.lit("U").alias("op"),
                    F.lit(r * 100 + wid).cast("long").alias("ord"),
                )
                _retrying(
                    lambda: t.refresh().apply_changes(
                        changes, ["k"], op_col="op", order_col="ord"
                    )
                )
        except BaseException as exc:  # surfaced after join()
            errors.append(exc)

    def maintainer():
        try:
            from bergloom_spark.config import CompactionConfig
            from bergloom_spark.lake import Compaction
            from bergloom_spark.lake.commit import CommitFailed

            t = LakeTable(spark, md.read_current(root))
            for _ in range(3):
                try:
                    Compaction(t.refresh(), CompactionConfig()).compact()
                except (CommitConflict, CommitFailed):
                    pass  # compaction may lose its race; data unaffected
        except BaseException as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(N_THREADS)
    ] + [threading.Thread(target=maintainer)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    t = LakeTable(spark, md.read_current(root))
    meta = t.meta

    # ≥ 100 commits actually happened (2 per round per writer, plus
    # whatever compactions won their race)
    n_commits = len(meta.snapshots)
    assert n_commits >= 2 * N_THREADS * N_ROUNDS

    # snapshot ids are the contiguous chain 1..n (no lost versions)
    ids = [s.snapshot_id for s in meta.snapshots]
    assert ids == list(range(1, n_commits + 1))
    # sequence numbers strictly monotonic in commit order
    seqs = [s.sequence_number for s in meta.snapshots]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)

    df = t.read()
    # no lost appends: every writer's every round is all present
    appended = df.filter(F.col("k") >= 10_000)
    assert appended.count() == N_THREADS * N_ROUNDS * 20
    per_writer = {
        (r["writer"], r["v"]): r["n"]
        for r in appended.groupBy("writer", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(
        per_writer.get((w, r)) == 20
        for w in range(N_THREADS)
        for r in range(N_ROUNDS)
    )

    # contended keys: exactly one live row per key (the eq-delete +
    # insert pairs never tore), and it is a row some writer produced
    merged = df.filter(F.col("k") < 10_000).collect()
    assert sorted(r["k"] for r in merged) == list(range(10))
    assert all(0 <= r["writer"] < N_THREADS for r in merged)
    assert all(0 <= r["v"] < N_ROUNDS for r in merged)


# ---------------------------------------------------------------------------
# round 5 (VERDICT r4 #7): overwrites racing appends
# ---------------------------------------------------------------------------
def test_concurrent_partition_overwrites_and_appends(spark, tmp_path):
    """N writers each own one partition: appends every round, a
    dynamic partition overwrite every third round, a compacting
    maintainer racing everyone. The CAS + conflict-validation must
    serialize it all: final per-partition state is exactly the last
    overwrite's rows plus the appends after it (thread order is
    deterministic per partition because each partition has one
    writer — the contention is all at the shared metadata tip)."""
    import threading

    from bergloom_spark.lake.commit import CommitFailed

    schema = T.StructType(
        [
            T.StructField("p", T.LongType(), False),
            T.StructField("k", T.LongType(), False),
            T.StructField("round", T.LongType(), False),
        ]
    )
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, schema, partition_spec=["p"])
    n_threads, n_rounds = 5, 9
    errors: list[BaseException] = []

    def _df(wid, r, base, n):
        return spark.range(base, base + n).select(
            F.lit(wid).cast("long").alias("p"),
            F.col("id").alias("k"),
            F.lit(r).cast("long").alias("round"),
        )

    def _retry_any(fn, attempts=30):
        for _ in range(attempts):
            try:
                return fn()
            except (CommitConflict, CommitFailed):
                continue
        raise AssertionError("starved")

    def writer(wid: int):
        try:
            t = LakeTable(spark, md.read_current(root))
            for r in range(n_rounds):
                if r % 3 == 2:
                    # replace the whole partition with 10 fresh rows
                    _retry_any(
                        lambda: t.refresh().overwrite_partitions(
                            _df(wid, r, 1000 * r, 10)
                        )
                    )
                else:
                    _retry_any(
                        lambda: t.refresh().append(_df(wid, r, 100 * r, 5))
                    )
        except BaseException as exc:
            errors.append(exc)

    def maintainer():
        try:
            from bergloom_spark.config import CompactionConfig
            from bergloom_spark.lake import Compaction

            t = LakeTable(spark, md.read_current(root))
            for _ in range(3):
                try:
                    Compaction(t.refresh(), CompactionConfig()).compact()
                except (CommitConflict, CommitFailed):
                    pass
        except BaseException as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(w,))
        for w in range(n_threads)
    ] + [threading.Thread(target=maintainer)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    t = LakeTable(spark, md.read_current(root))
    ids = [s.snapshot_id for s in t.meta.snapshots]
    assert ids == list(range(1, len(ids) + 1))  # contiguous chain
    assert len(ids) >= n_threads * n_rounds  # every commit landed

    # last overwrite was round 8 (10 rows, k in [8000, 8010)); no
    # appends after it per thread order
    rows = t.read().collect()
    by_p: dict[int, list] = {}
    for r in rows:
        by_p.setdefault(r["p"], []).append((r["k"], r["round"]))
    assert set(by_p) == set(range(n_threads))
    expected = sorted((k, 8) for k in range(8000, 8010))
    for p, got in by_p.items():
        assert sorted(got) == expected, (p, sorted(got)[:5])


def test_overwrite_conflict_validation_is_precise(spark, tmp_path):
    """The overwrite's conflict validation must reject EXACTLY the
    unsafe interleavings: an append that slipped into a touched
    partition between plan and commit fails the commit; an append
    into an untouched partition does not."""
    from bergloom_spark.lake import metadata as md2
    from bergloom_spark.lake import writer as wr
    from bergloom_spark.lake.commit import (
        CommitFailed,
        RetryConfig,
        RewriteFilesCommitManager,
    )

    schema = T.StructType(
        [
            T.StructField("p", T.LongType(), False),
            T.StructField("k", T.LongType(), False),
        ]
    )

    def _df(p, base, n):
        return spark.range(base, base + n).select(
            F.lit(p).cast("long").alias("p"), F.col("id").alias("k")
        )

    def _plan_overwrite(t, df):
        """The write-files-then-commit split inside
        overwrite_partitions (table.py), exposed so a concurrent
        commit can land in the gap."""
        add_entries = wr.write_data_files(
            df, t.meta.table_root, t.meta.last_sequence_number + 1,
            128 * 1024 * 1024, partition_spec=t.meta.partition_spec,
        )
        touched = {
            tuple(sorted(e.partition.items())) for e in add_entries
        }
        cur = t.meta.current_snapshot()
        remove = {
            e.file_path
            for e in (cur.entries if cur else [])
            if e.content == md2.DATA
            and tuple(sorted(e.partition.items())) in touched
        }
        mgr = RewriteFilesCommitManager(
            table_root=t.meta.table_root,
            starting_schema_id=t.meta.schema_id,
            starting_sequence_number=t.meta.last_sequence_number + 1,
            use_starting_sequence_number=False,
            retry=RetryConfig(max_retries=2),
        )
        return lambda: mgr.rewrite_files(
            add_entries, remove, operation="overwrite",
            overwritten_partitions=touched,
        )

    # unsafe: append into the touched partition during the gap
    root1 = str(tmp_path / "unsafe")
    t1 = LakeTable.create(spark, root1, schema, partition_spec=["p"])
    t1.append(_df(1, 0, 5))
    commit = _plan_overwrite(t1.refresh(), _df(1, 100, 5))
    t1.refresh().append(_df(1, 50, 3))  # races into p=1
    with pytest.raises(CommitFailed, match="concurrently"):
        commit()

    # safe: append into a DIFFERENT partition during the gap
    root2 = str(tmp_path / "safe")
    t2 = LakeTable.create(spark, root2, schema, partition_spec=["p"])
    t2.append(_df(1, 0, 5))
    commit = _plan_overwrite(t2.refresh(), _df(1, 100, 5))
    t2.refresh().append(_df(2, 50, 3))  # untouched partition
    commit()  # must succeed
    rows = {(r["p"], r["k"]) for r in t2.refresh().read().collect()}
    assert rows == {(1, k) for k in range(100, 105)} | {
        (2, k) for k in range(50, 53)
    }


def test_racing_catalog_committers_soak(spark, tmp_path):
    """r13 (verdict r12 #1 done-criterion): two catalog committers
    race compact-and-swap rounds against one FilesystemCatalog ident.
    Each round both resolve the same current pointer; exactly one CAS
    lands per version, losers retry through compact_catalog_table's
    re-resolve loop. Invariants: contiguous v1..vN version files, the
    final tree reads the full expected row set, and every committed
    version parses."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bergloom_spark.lake.catalog import (
        CatalogCommitConflict,
        FilesystemCatalog,
        compact_catalog_table,
    )
    from bergloom_spark.lake.iceberg_export import export_iceberg_metadata
    from bergloom_spark.lake.iceberg_import import load_iceberg_metadata

    root = str(tmp_path / "src")
    t = LakeTable.create(spark, root, _schema())
    t.append(
        spark.range(200).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("writer"),
            (F.col("id") * 7).alias("v"),
        )
    )
    expected = sorted(
        (r.k, r.writer, r.v) for r in t.read().collect()
    )
    warehouse = str(tmp_path / "warehouse")
    FilesystemCatalog(warehouse).register_table(
        "soak.t", export_iceberg_metadata(t.meta)
    )
    barrier = threading.Barrier(2)
    errors: list[BaseException] = []
    wins = [0, 0]

    def committer(i: int):
        try:
            cat = FilesystemCatalog(warehouse)  # own handle, as a process
            for rnd in range(3):
                barrier.wait()
                try:
                    compact_catalog_table(
                        spark,
                        cat,
                        "soak.t",
                        str(tmp_path / f"work-{i}-{rnd}"),
                        max_retries=4,
                    )
                    wins[i] += 1
                except CatalogCommitConflict:
                    pass  # starved through max_retries: legal, rare
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=committer, args=(i,)) for i in (0, 1)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sum(wins) >= 3  # both made progress across 3 rounds
    cat = FilesystemCatalog(warehouse)
    mdir = cat._metadata_dir("soak.t")
    versions = sorted(
        int(os.path.basename(p)[1:].split(".")[0])
        for p in glob.glob(os.path.join(mdir, "v*.metadata.json"))
    )
    # contiguous chain from the register's v1
    assert versions == list(range(1, len(versions) + 1))
    assert len(versions) >= 1 + sum(wins)
    # every committed version parses as a loadable Iceberg tree
    for v in versions:
        load_iceberg_metadata(os.path.join(mdir, f"v{v}.metadata.json"))
    final = cat.load_table(spark, "soak.t")
    got = sorted((r.k, r.writer, r.v) for r in final.read().collect())
    assert got == expected
