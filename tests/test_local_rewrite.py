"""Driver-side compaction rewrites (``lake/compaction._local_rows``).

A round-robin rewrite that Spark would write as one task, and whose
rows fit in ``_LOCAL_REWRITE_MAX_BYTES`` once decoded, merges its
deletes with pyarrow on the driver and writes the result with pyarrow:
no Spark job. Each parity test builds the same table
twice and compacts one copy that way and the other with the cap at 0,
which forces the Spark path; both must keep the same rows and commit
the same manifest entries. The shapes the pyarrow path does not cover
must still run Spark's job. Also: a rewrite that fails after writing
its files leaves the table as it was, and orphan cleanup reclaims the
files."""

from __future__ import annotations

import dataclasses
import datetime
import decimal
import glob
import os
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import compaction
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake import writer as wr
from bergloom_spark.lake.compaction import (
    BinpackCompaction,
    Compaction,
    SortCompaction,
    remove_orphan_files,
)
from bergloom_spark.lake.metrics import MetricsRegistry
from bergloom_spark.lake.table import BLOOM_COLS_PROP
from bergloom_spark.lake.validator import fingerprint
from tests.test_driver_writes import (  # noqa: F401 (timestamp_type: fixture)
    BASE_FIELDS,
    BASE_ROWS,
    PARQUET_MR,
    PYARROW,
    TS_FIELDS,
    _created_by,
    _harvest,
    _hashable,
    timestamp_type,
)

KV = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("g", T.LongType()),
    T.StructField("v", T.StringType()),
])
KEY = T.StructType([KV["k"]])


def _run_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    group = f"local-rewrite-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compaction under test")
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_rows(spark, rows, schema):
    # a one-partition RDD frame: written by Spark's parquet writer
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _pandas(spark, rows, schema):
    # a local relation: written by pyarrow on the driver
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.fieldNames()), schema
    )


def _compact(monkeypatch, spark, t, local, strategy=Compaction, **kw):
    """Compact ``t`` on the chosen path; return (added entries, jobs)."""
    before = fingerprint(_hashable_if_map(t.read()))
    with monkeypatch.context() as m:
        if not local:
            m.setattr(compaction, "_LOCAL_REWRITE_MAX_BYTES", 0)
        result, jobs = _run_jobs(spark, lambda: strategy(t, **kw).compact())
    snap = t.meta.current_snapshot()
    assert result.snapshot_id == snap.snapshot_id
    if strategy is Compaction:
        assert all(e.content == md.DATA for e in snap.entries)
    assert fingerprint(_hashable_if_map(t.read())) == before
    added = sorted(snap.files(md.DATA), key=lambda e: e.file_path)
    return added, jobs


def _hashable_if_map(df):
    return _hashable(df) if "m" in df.columns else df


def _parity(monkeypatch, spark, tmp_path, build, **kw):
    """Build the table twice, compact one copy each way, and check the
    two paths agree; return the local copy's table and entries."""
    out = {}
    for local in (True, False):
        t = build(str(tmp_path / ("local" if local else "spark")))
        out[local] = (t,) + _compact(monkeypatch, spark, t, local, **kw)
    (t, local_added, local_jobs), (s, spark_added, spark_jobs) = (
        out[True], out[False]
    )
    assert local_jobs == 0
    assert spark_jobs > 0
    assert _created_by(local_added) == {PYARROW}
    assert _created_by(spark_added) == {PARQUET_MR}
    assert fingerprint(_hashable_if_map(t.read())) == fingerprint(
        _hashable_if_map(s.read())
    )
    for a, b in zip(local_added, spark_added):
        assert _harvest(a) == _harvest(b)
    assert len(local_added) == len(spark_added)
    return t, local_added


def _rows(t) -> dict:
    return {r.k: (r.g, r.v) for r in t.read().collect()}


# ---------------------------------------------------------------- parity


def test_single_key_deletes_nulls_and_an_older_delete(monkeypatch, spark, tmp_path):
    def build(root):
        t = LakeTable.create(spark, root, KV)
        # a delete committed BEFORE the data it names must not apply
        t.append_equality_deletes(_pandas(spark, [(7,)], KEY), ["k"])
        base = [(k, k % 4, f"b{k}") for k in range(40)] + [(None, 1, "null-k")]
        t.append(_spark_rows(spark, base, KV))
        t.upsert(_pandas(spark, [(k, 9, f"u{k}") for k in (1, 2, 3)], KV), ["k"])
        t.upsert(_pandas(spark, [(2, 8, "w2"), (50, 8, "new")], KV), ["k"])
        # a null delete key hits the null-key row (eqNullSafe)
        t.append_equality_deletes(
            spark.createDataFrame([(None,), (30,)], KEY), ["k"]
        )
        return t

    t, added = _parity(monkeypatch, spark, tmp_path, build)
    rows = _rows(t)
    assert 7 in rows and 30 not in rows and None not in rows
    assert rows[2] == (8, "w2") and rows[1] == (9, "u1") and rows[50] == (8, "new")
    assert len(rows) == 40 - 1 + 1


def test_two_key_deletes(monkeypatch, spark, tmp_path):
    def build(root):
        t = LakeTable.create(spark, root, KV)
        t.append(_spark_rows(spark, [(k, k % 3, f"b{k}") for k in range(30)], KV))
        t.upsert(_pandas(spark, [(4, 1, "u4"), (5, 1, "u5")], KV), ["k", "g"])
        return t

    t, _ = _parity(monkeypatch, spark, tmp_path, build)
    rows = _rows(t)
    # (4, 1) matched the base row; (5, 1) did not, so (5, 2) stays
    assert rows[4] == (1, "u4") and len(rows) == 30
    assert sorted(r.g for r in t.read().collect() if r.k == 5) == [1, 2]


def test_two_key_deletes_with_null_keys(monkeypatch, spark, tmp_path):
    def build(root):
        t = LakeTable.create(spark, root, KV)
        base = [(k, k % 3, f"b{k}") for k in range(12)]
        base += [(None, 1, "n1"), (None, 2, "n2"), (20, None, "gnull")]
        t.append(_spark_rows(spark, base, KV))
        t.append_equality_deletes(
            spark.createDataFrame([(None, 1), (20, None), (4, 1), (5, None)],
                                  "k long, g long"),
            ["k", "g"],
        )
        return t

    t, _ = _parity(monkeypatch, spark, tmp_path, build)
    left = sorted(
        ((r.k, r.g) for r in t.read().collect() if r.k is None or r.k >= 4),
        key=lambda kg: (kg[0] is not None, kg[0] or 0),
    )
    # nulls match nulls on every key column, and only them
    assert left == [(None, 2)] + [(k, k % 3) for k in range(5, 12)]


def test_float_keys_match_as_spark_joins_do(monkeypatch, spark, tmp_path):
    schema = T.StructType([KV["k"], T.StructField("x", T.DoubleType()), KV["g"]])
    values = [0.0, -0.0, float("nan"), 1.5, None, -1.5, float("inf")]

    def build(root):
        t = LakeTable.create(spark, root, schema)
        t.append(_spark_rows(spark, [(k, x, k % 2) for k, x in enumerate(values)],
                             schema))
        t.append(_spark_rows(spark, [(10 + k, x, 1) for k, x in enumerate(values)],
                             schema))
        # -0.0 matches 0.0 and NaN matches NaN, one key or several
        t.append_equality_deletes(
            spark.createDataFrame([(-0.0,), (float("nan"),)], "x double"), ["x"]
        )
        t.append_equality_deletes(
            spark.createDataFrame([(-1.5, 1), (0.0, 1), (float("inf"), 0)],
                                  "x double, g long"),
            ["x", "g"],
        )
        return t

    t, _ = _parity(monkeypatch, spark, tmp_path, build)
    assert sorted(r.k for r in t.read().collect()) == [3, 4, 13, 14, 16]


def test_pos_deletes_and_deletion_vectors(monkeypatch, spark, tmp_path):
    def build(root):
        t = LakeTable.create(spark, root, KV)
        t.append(_spark_rows(spark, [(k, k % 5, f"a{k}") for k in range(50)], KV))
        t.append(_pandas(spark, [(k, k % 5, f"p{k}") for k in range(50, 70)], KV))
        t.delete_where(F.col("k") % 7 == 0)
        t.delete_where_as_vectors(F.col("k") % 5 == 1)
        t.upsert(_pandas(spark, [(3, 0, "u3")], KV), ["k"])
        return t

    t, _ = _parity(monkeypatch, spark, tmp_path, build)
    rows = _rows(t)
    assert sorted(rows) == [k for k in range(70) if k % 7 and k % 5 != 1]
    assert rows[3] == (0, "u3")


def test_renamed_and_added_columns(monkeypatch, spark, tmp_path):
    def build(root):
        t = LakeTable.create(spark, root, KV)
        t.append(_spark_rows(spark, [(k, k, f"a{k}") for k in range(20)], KV))
        t.rename_column("v", "name")
        t.add_columns([T.StructField("extra", T.DoubleType())])
        schema = t.schema
        t.append(_spark_rows(spark, [(k, k, f"b{k}", k / 2) for k in range(20, 30)], schema))
        t.upsert(spark.createDataFrame(
            [(1, 1, "u1", 0.5), (25, 0, "u25", None)], schema
        ), ["k"])
        t.delete_where(F.col("k") == 2)
        return t

    t, _ = _parity(monkeypatch, spark, tmp_path, build)
    rows = {r.k: (r.name, r.extra) for r in t.read().collect()}
    assert rows[0] == ("a0", None) and rows[1] == ("u1", 0.5)
    assert rows[21] == ("b21", 10.5) and rows[25] == ("u25", None)
    assert 2 not in rows and len(rows) == 29


@pytest.mark.parametrize(
    "timestamp_type", ["INT96", "TIMESTAMP_MICROS"], indirect=True
)
def test_every_driver_type(monkeypatch, spark, tmp_path, timestamp_type):
    ts_cols = ["ts"] if timestamp_type == "INT96" else ["ts", "ntz"]
    schema = T.StructType(
        BASE_FIELDS + [T.StructField(c, TS_FIELDS[c][0]) for c in ts_cols]
    )
    hour = datetime.timedelta(hours=1)

    def shifted(base, n, rep):
        # rep shifts the key columns, so each delete below hits one copy
        row = dict(zip(schema.fieldNames(), base + tuple(
            TS_FIELDS[c][1][n] for c in ts_cols
        )))
        row["l"] += 10 * rep
        for c, step in (("dt", datetime.timedelta(days=-1)),
                        ("dec", decimal.Decimal(-1)), ("ts", hour), ("ntz", hour)):
            if c in row and row[c] is not None:
                row[c] += step * rep
        for c, suffix in (("s", str(rep)), ("bin", bytes([rep]))):
            if row[c] is not None:
                row[c] += suffix
        return tuple(row.values())

    rows = [
        shifted(base, n, rep)
        for rep in range(4) for n, base in enumerate(BASE_ROWS)
    ]
    # one equality-delete file per hashable key type
    deletes = {
        "l": [11, 999],
        "i": [None],  # null key: every copy of row 2
        "s": ["zzz2"],
        "b": [None],  # null key: every copy of row 3
        "dt": [datetime.date(2024, 2, 28)],
        "dec": [decimal.Decimal("-0.50")],
        "dec38": [decimal.Decimal("12345")],  # matches nothing
        "bin": [b"\x00\xff\x03"],
        "ts": [None, TS_FIELDS["ts"][1][0] + 3 * hour],
    }
    survivors = {1, 4, 5, 15, 35}
    if "ntz" in ts_cols:
        deletes["ntz"] = [TS_FIELDS["ntz"][1][4]]
        survivors.discard(5)

    def build(root):
        t = LakeTable.create(
            spark, root, schema, properties={BLOOM_COLS_PROP: "l,s,dt"}
        )
        t.append(_spark_rows(spark, rows, schema))
        for col, values in deletes.items():
            t.append_equality_deletes(
                spark.createDataFrame(
                    [(v,) for v in values], T.StructType([schema[col]])
                ),
                [col],
            )
        t.delete_where(F.col("l") == 24)
        return t

    t, added = _parity(monkeypatch, spark, tmp_path, build)
    assert {r.l for r in t.read().collect()} == survivors
    assert "d" not in added[0].column_stats  # NaN: no range, as Spark's file


@pytest.mark.parametrize("timestamp_type", ["INT96"], indirect=True)
def test_int96_timestamps_past_2262(monkeypatch, spark, tmp_path, timestamp_type):
    # nanosecond INT96 reads wrap after 2262; the rewrite must not
    utc = datetime.timezone.utc
    times = [
        datetime.datetime(9999, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
        datetime.datetime(2300, 1, 1, tzinfo=utc),
        datetime.datetime(1900, 1, 1, 12, tzinfo=utc),
    ]
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("ts", T.TimestampType()),
    ])

    def build(root):
        t = LakeTable.create(spark, root, schema)
        t.append(_spark_rows(spark, list(enumerate(times)), schema))
        t.delete_where(F.col("k") == 2)
        return t

    t, _ = _parity(monkeypatch, spark, tmp_path, build)
    # collect() returns session-zone (UTC) naive datetimes
    assert sorted(r.ts for r in t.read().collect()) == sorted(
        x.replace(tzinfo=None) for x in times[:2]
    )


# ---------------------------------------------------------------- paths


def _debt_table(spark, root, **kw):
    t = LakeTable.create(spark, root, KV, **kw)
    t.append(_spark_rows(spark, [(k, k % 3, f"b{k}") for k in range(30)], KV))
    t.upsert(_pandas(spark, [(k, k % 3, f"u{k}") for k in (1, 2, 3)], KV), ["k"])
    return t


def test_cdc_shaped_compaction_runs_no_spark_job(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), KV)
    t.append(spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("g"),
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("v"),
    ), target_file_size=16 * 1024)
    rng = np.random.default_rng(3)
    for i in range(5):
        keys = rng.choice(6000, 200, replace=False)
        t.upsert(spark.createDataFrame(pd.DataFrame(
            {"k": keys, "g": keys % 7, "v": [f"u{i}"] * len(keys)}
        )), ["k"])
    expected = fingerprint(t.read())
    result, jobs = _run_jobs(spark, lambda: Compaction(t).compact())
    assert jobs == 0
    assert result.stat.added_files_count == 1
    assert fingerprint(t.read()) == expected
    # the page index lets a key-range read skip pages of the big file
    import pyarrow.parquet as pq

    (entry,) = t.meta.current_snapshot().entries
    assert pq.ParquetFile(entry.file_path).metadata.row_group(0).column(0).has_column_index


def test_binpack_without_sort_takes_the_local_path(monkeypatch, spark, tmp_path):
    def build(root):
        return _debt_table(spark, root)

    _parity(
        monkeypatch, spark, tmp_path, build, strategy=BinpackCompaction,
        small_file_threshold=1 << 30,
    )


@pytest.mark.parametrize("shape", [
    "sort", "partitioned", "over_cap", "codec", "several_tasks",
])
def test_fallbacks_run_spark_jobs(spark, tmp_path, shape):
    root = str(tmp_path / "t")
    kw = {}
    if shape == "partitioned":
        t = _debt_table(spark, root, partition_spec=["g"])
    else:
        t = _debt_table(spark, root)
    if shape == "sort":
        kw = dict(strategy=SortCompaction, sort_cols=["k"])
    elif shape == "codec":
        kw = dict(config=CompactionConfig(write_compression="lz4"))
    elif shape == "several_tasks":
        # Spark writes an input of two target/8 files as two tasks
        size = sum(e.file_size_bytes for e in t.meta.current_snapshot().files(md.DATA))
        kw = dict(config=CompactionConfig(target_file_size=4 * size))
    strategy = kw.pop("strategy", Compaction)
    cap = 0 if shape == "over_cap" else compaction._LOCAL_REWRITE_MAX_BYTES
    assert shape != "over_cap" or sum(
        e.file_size_bytes for e in t.meta.current_snapshot().entries
    ) > cap
    expected = fingerprint(t.read())
    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(compaction, "_LOCAL_REWRITE_MAX_BYTES", cap)
        _, jobs = _run_jobs(spark, lambda: strategy(t, **kw).compact())
    finally:
        mp.undo()
    assert jobs > 0
    data = t.meta.current_snapshot().files(md.DATA)
    assert _created_by(data) == {PARQUET_MR}
    assert fingerprint(t.read()) == expected


def test_field_id_tables_and_remote_paths_keep_spark(spark, tmp_path):
    t = _debt_table(spark, str(tmp_path / "t"))
    snap = t.meta.current_snapshot()
    inputs = snap.files(md.DATA)
    cfg = CompactionConfig()
    assert compaction._local_rows(t, snap, inputs, cfg) is not None
    t.meta.properties["iceberg.field-id-read"] = "true"
    assert compaction._local_rows(t, snap, inputs, cfg) is None
    del t.meta.properties["iceberg.field-id-read"]
    remote = [dataclasses.replace(inputs[0], file_path="s3a://b/x.parquet")]
    assert compaction._local_rows(t, snap, remote, cfg) is None


def test_one_task_rule_matches_the_spark_writer():
    # the driver path takes exactly the inputs Spark writes as one task
    one = compaction._spark_write_tasks
    target = 1 << 30
    assert one(0, target, 3) == 1
    assert one(2 * (target // 8) - 1, target, 3) == 1
    assert one(2 * (target // 8), target, 3) == 2
    assert one(2 * (target // 8), target, 1) == 1
    assert one(target + 1, target, 1) == 2


@pytest.mark.parametrize("shape", ["constant_string", "constant_long", "nulls"])
def test_compressible_input_over_the_cap_keeps_spark(spark, tmp_path, shape):
    """Parquet stores these columns in a small fraction of their
    decoded size: the cap must bound what the driver would decode, not
    the file size."""
    n = 200_000
    col = {
        "constant_string": F.lit("x" * 100),
        "constant_long": F.lit(7).cast("long"),
        "nulls": F.lit(None).cast("long"),
    }[shape]
    schema = T.StructType([KV["k"], T.StructField(
        "c", T.StringType() if shape == "constant_string" else T.LongType()
    )])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(spark.range(n).select(F.lit(1).cast("long").alias("k"), col.alias("c")))
    t.upsert(spark.createDataFrame(pd.DataFrame({"k": [2]})).withColumn(
        "c", col), ["k"])
    stored = sum(e.file_size_bytes for e in t.meta.current_snapshot().entries)
    decoded = n * (8 + (104 if shape == "constant_string" else 8))
    cap = (decoded + stored) // 2
    assert stored * 4 < cap < decoded
    expected = fingerprint(t.read())
    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(compaction, "_LOCAL_REWRITE_MAX_BYTES", cap)
        _, jobs = _run_jobs(spark, lambda: Compaction(t).compact())
    finally:
        mp.undo()
    assert jobs > 0
    assert _created_by(t.meta.current_snapshot().files(md.DATA)) == {PARQUET_MR}
    assert fingerprint(t.read()) == expected


def test_validation_still_fingerprints_both_sides(monkeypatch, spark, tmp_path):
    t = _debt_table(spark, str(tmp_path / "t"))
    cfg = CompactionConfig(enable_validate_compaction=True)
    assert Compaction(t, cfg).compact().validated
    assert _created_by(t.meta.current_snapshot().files(md.DATA)) == {PYARROW}


# ---------------------------------------------------------------- failure


def test_failed_local_rewrite_leaves_the_table_and_orphans_reclaimable(
    monkeypatch, spark, tmp_path
):
    t = _debt_table(spark, str(tmp_path / "t"))
    before_meta = t.meta
    expected = fingerprint(t.read())
    written = []
    real = wr.write_data_files

    def crash_before_commit(*a, **k):
        written.extend(real(*a, **k))
        raise RuntimeError("driver died before commit")

    monkeypatch.setattr(wr, "write_data_files", crash_before_commit)
    registry = MetricsRegistry()
    with pytest.raises(RuntimeError, match="before commit"):
        Compaction(t, registry=registry).compact()
    assert written and _created_by(written) == {PYARROW}
    assert all(os.path.exists(e.file_path) for e in written)
    m = registry.for_table("lake", t.meta.table_root)
    assert m.compaction_executor_error_counter == 1

    fresh = LakeTable.load(spark, t.meta.table_root)
    assert fresh.meta.version == before_meta.version
    assert fingerprint(fresh.read()) == expected
    data_dir = os.path.join(t.meta.table_root, "data")
    n_files = len(glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True))
    assert remove_orphan_files(fresh, older_than_s=0) == len(written)
    assert not any(os.path.exists(e.file_path) for e in written)
    left = glob.glob(os.path.join(data_dir, "**", "*.parquet"), recursive=True)
    assert len(left) == n_files - len(written)
    assert fingerprint(LakeTable.load(spark, t.meta.table_root).read()) == expected
