"""Driver-resident lake writes (``lake/writer.driver_rows``).

A frame whose optimized plan is a ``LocalRelation`` is written with
pyarrow, its rows served to Python as Arrow by the driver JVM with no
Spark job (the two JVM internals that path calls are pinned by name);
every other frame, and a partitioned table's data, goes through
Spark's parquet writer. Both paths must read back the same
rows and produce the same manifest entries. Also covered: the Spark
equality-delete funnel keeps its upstream stage parallel, and the
footer harvest handles NaN floats and INT64-stored decimals."""

from __future__ import annotations

import datetime
import decimal
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake import skipping as sk
from bergloom_spark.lake import writer as wr
from bergloom_spark.lake.table import BLOOM_COLS_PROP
from bergloom_spark.lake.validator import fingerprint

PYARROW = "parquet-cpp-arrow"
PARQUET_MR = "parquet-mr"
TS_TYPE_CONF = "spark.sql.parquet.outputTimestampType"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

UTC = datetime.timezone.utc
BASE_FIELDS = [
    T.StructField("l", T.LongType()),
    T.StructField("i", T.IntegerType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("f", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("dt", T.DateType()),
    T.StructField("dec", T.DecimalType(10, 2)),
    T.StructField("dec38", T.DecimalType(38, 6)),
    T.StructField("bin", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.LongType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.LongType()), T.StructField("y", T.StringType()),
    ])),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("nul", T.LongType()),
]
BASE_ROWS = [
    (1, 1, float("nan"), 0.5, "héllo wörld", True, datetime.date(2020, 1, 1),
     decimal.Decimal("1.50"), decimal.Decimal("1.5"), b"ab", [1, 2], (1, "a"),
     {"a": 1}, None),
    (2, None, float("inf"), float("inf"), "", False, None, None, None, None,
     None, None, None, None),
    (3, -3, float("-inf"), -2.25, "日本語のテキストはここで十六文字を超えます", None,
     datetime.date(1969, 12, 31), decimal.Decimal("-3.25"),
     decimal.Decimal("-99.000001"), b"", [], (None, "日本"), {}, None),
    (4, 4, 2.5, None, None, True, datetime.date(2024, 2, 29),
     decimal.Decimal("0.01"), decimal.Decimal("0"), b"\x00\xff", [None],
     (4, None), {"b": None, "c": 3}, None),
    (5, 2**31 - 1, -0.0, float("-inf"), "zzz", False, datetime.date(9999, 12, 31),
     decimal.Decimal("99999999.99"), decimal.Decimal("1e20"), b"x" * 40,
     [2**62], (5, ""), {"ü": -1}, None),
]
TIMES = [
    datetime.datetime(2020, 1, 1, 12, 30, 15, 123456, tzinfo=UTC),
    None,
    datetime.datetime(1969, 7, 20, 20, 17, tzinfo=UTC),
    datetime.datetime(2024, 2, 29, tzinfo=UTC),
    datetime.datetime(2038, 1, 19, 3, 14, 8, tzinfo=UTC),
]
TS_FIELDS = {
    "ts": (T.TimestampType(), TIMES),
    "ntz": (T.TimestampNTZType(), [t and t.replace(tzinfo=None) for t in TIMES]),
}
FILTERS = [
    ("l", "=", 3), ("l", ">", 5), ("l", "<=", 0), ("i", "<", -3),
    ("i", ">=", 2**31 - 1), ("d", ">", 5.0), ("d", "=", 2.5), ("f", ">", 1e300),
    ("f", "<", -1.0), ("s", "=", "héllo wörld"), ("s", ">", "zzzz"),
    ("s", "<", ""), ("s", "=", "missing"), ("b", "=", True), ("dt", ">", "9999-12-31"),
    ("dt", "<", "1969-12-31"), ("nul", "=", 1), ("ts", ">", "2040-01-01"),
    ("ts", "<", "1960-01-01"), ("ntz", ">=", "2038-01-19T03:14:08"),
    ("ntz", "<", "1969-07-20T20:17:00"),
]
BLOOMS = "l,i,s,b,dt,bin,nul,ts,ntz"


def _nan_safe(table: pa.Table) -> list[dict]:
    # NaN != NaN, so pa.Table.equals never holds for a NaN column.
    return [
        {k: "NaN" if isinstance(v, float) and v != v else v for k, v in r.items()}
        for r in table.to_pylist()
    ]


def _created_by(entries) -> set[str]:
    return {
        pq.read_metadata(e.file_path).created_by.split(" version")[0]
        for e in entries
    }


def _harvest(e):
    return (
        e.record_count, e.column_stats, e.column_value_counts,
        e.column_null_counts, e.column_blooms,
    )


def _hashable(df):
    # xxhash64 rejects maps; their entry arrays hash in the same order.
    return df.withColumn("m", F.map_entries("m"))


def _frames(spark, ts_cols):
    fields = BASE_FIELDS + [T.StructField(c, TS_FIELDS[c][0]) for c in ts_cols]
    schema = T.StructType(fields)
    rows = [
        base + tuple(TS_FIELDS[c][1][n] for c in ts_cols)
        for n, base in enumerate(BASE_ROWS)
    ]
    on_executors = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
    local = spark.createDataFrame(on_executors.toArrow(), schema)
    assert local.schema == schema
    return schema, local, on_executors


@pytest.fixture
def timestamp_type(spark, request):
    spark.conf.set(TS_TYPE_CONF, request.param)
    try:
        yield request.param
    finally:
        spark.conf.unset(TS_TYPE_CONF)


@pytest.mark.parametrize(
    "ts_cols,timestamp_type",
    [(["ts"], "INT96"), (["ntz"], "INT96"),
     (["ts", "ntz"], "TIMESTAMP_MICROS"), (["ts"], "TIMESTAMP_MILLIS")],
    indirect=["timestamp_type"],
)
def test_driver_and_spark_paths_write_the_same_entries(
    spark, tmp_path, ts_cols, timestamp_type
):
    schema, local, on_executors = _frames(spark, ts_cols)
    tables = {}
    for name, df in (("driver", local), ("spark", on_executors)):
        t = LakeTable.create(
            spark, str(tmp_path / name), schema,
            properties={BLOOM_COLS_PROP: BLOOMS},
        )
        t.append(df)
        tables[name] = t
    (drv,), (spk,) = (
        t.meta.current_snapshot().files(md.DATA) for t in tables.values()
    )
    assert _created_by([drv]) == {PYARROW}
    assert _created_by([spk]) == {PARQUET_MR}

    source = on_executors
    if timestamp_type == "TIMESTAMP_MILLIS":  # both writers truncate
        source = source.withColumn("ts", F.date_trunc("millisecond", "ts"))
    expected = fingerprint(_hashable(source))
    for t in tables.values():
        assert fingerprint(_hashable(t.read())) == expected

    assert _harvest(drv) == _harvest(spk)
    assert "d" not in drv.column_stats  # holds NaN: no range
    assert drv.column_stats["f"] == [float("-inf"), float("inf")]
    assert "dec" not in drv.column_stats and drv.column_null_counts["dec"] == 1
    assert drv.column_blooms["s"] and drv.column_blooms["l"]
    kept = {
        name: [bool(sk.prune_entries([e], [f])) for f in FILTERS]
        for name, e in (("driver", drv), ("spark", spk))
    }
    assert kept["driver"] == kept["spark"]
    assert True in kept["driver"] and False in kept["driver"]

    keys = ["l", "s"]
    eq = {
        name: wr.write_equality_delete_files(
            df, str(tmp_path / name), 9, keys
        )
        for name, df in (("driver", local), ("spark", on_executors))
    }
    assert _created_by(eq["driver"]) == {PYARROW}
    assert _created_by(eq["spark"]) == {PARQUET_MR}
    assert [_harvest(e) for e in eq["driver"]] == [_harvest(e) for e in eq["spark"]]
    assert all(e.equality_ids == keys for e in eq["driver"])


def test_mixed_timestamps_under_int96_keep_the_spark_path(spark, tmp_path):
    _, local, on_executors = _frames(spark, ["ts", "ntz"])
    assert spark.conf.get(TS_TYPE_CONF) == "INT96"
    # pyarrow's INT96 switch would also re-encode timestamp_ntz
    assert wr.driver_rows(local) is None
    entries = wr.write_data_files(local, str(tmp_path), 1, 1 << 27)
    assert _created_by(entries) == {PARQUET_MR}
    back = _hashable(spark.read.schema(local.schema).parquet(entries[0].file_path))
    assert fingerprint(back) == fingerprint(_hashable(on_executors))


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_nan_float_column_never_prunes_a_matching_file(spark, tmp_path, path):
    # Arrow, not pandas: pandas turns NaN into NULL on the way in.
    rows = pa.table({"k": [0, 1, 2], "d": [float("nan"), float("inf"), 2.5]})
    df = spark.createDataFrame(rows)
    if path == "spark":
        df = spark.createDataFrame(df.rdd.coalesce(1), df.schema)
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    (entry,) = t.meta.current_snapshot().files(md.DATA)
    assert _created_by([entry]) == {PYARROW if path == "driver" else PARQUET_MR}
    # Spark's filters order NaN above +inf: both rows match.
    got = t.read(filters=[("d", ">", 5.0)])
    assert sorted(r.k for r in got.collect()) == [0, 1]
    assert t.fast_min_max("d") is None


def test_spark_written_int64_decimal_harvests(spark, tmp_path):
    df = spark.range(10).select(
        "id", (F.col("id") / 4).cast("decimal(10,2)").alias("dec")
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    (entry,) = t.meta.current_snapshot().files(md.DATA)
    assert entry.column_null_counts["dec"] == 0 and "dec" not in entry.column_stats
    assert fingerprint(t.read()) == fingerprint(df)


def test_driver_files_follow_the_file_count_rule_and_codec(spark, tmp_path):
    n = 20_000
    df = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(n), "v": np.arange(n) % 7})
    ).withColumn("s", F.lit("row"))
    rows = wr.driver_rows(df)
    target = rows.table.nbytes // wr._PARQUET_RATIO // 4 + 1
    entries = wr.write_data_files(
        df, str(tmp_path), 3, target, compression="zstd"
    )
    assert len(entries) == 4
    assert _created_by(entries) == {PYARROW}
    assert [e.record_count for e in entries] == [n // 4] * 4
    assert all(
        os.path.dirname(e.file_path).startswith(str(tmp_path / "data" / "seq3-"))
        and pq.read_metadata(e.file_path).row_group(0).column(0).compression
        == "ZSTD"
        for e in entries
    )
    lo_hi = [e.column_stats["k"] for e in entries]
    assert lo_hi == [[i * n // 4, (i + 1) * n // 4 - 1] for i in range(4)]


@pytest.mark.parametrize("timestamp_type", ["TIMESTAMP_MICROS"], indirect=True)
def test_served_rows_match_to_arrow_across_batches(spark, timestamp_type):
    schema, _, on_executors = _frames(spark, ["ts", "ntz"])
    local = spark.createDataFrame(
        pa.concat_tables([on_executors.toArrow()] * 8), schema
    )
    spark.conf.set(BATCH_CONF, "7")
    try:
        got = wr.driver_rows(local).table
        want = local.toArrow()
    finally:
        spark.conf.unset(BATCH_CONF)
    assert got.column(0).num_chunks > 1  # 40 rows in batches of 7
    assert got.schema == want.schema
    assert _nan_safe(got) == _nan_safe(want)


def test_zero_served_rows_keep_the_to_arrow_schema(spark):
    _, local, _ = _frames(spark, [])
    empty = local.filter(F.col("l") < 0)
    got = wr.driver_rows(empty).table
    want = empty.toArrow()
    assert got.num_rows == 0 and want.num_rows == 0
    assert got.schema == want.schema


def test_pinned_jvm_arrow_serving_api(spark):
    # driver_rows calls these JVM internals of the pinned pyspark; a
    # pyspark that drops or reshapes one must fail here, by name.
    pinned = [
        ("org.apache.spark.sql.execution.arrow.ArrowConverters$",
         "toBatchWithSchemaIterator", 7),
        ("org.apache.spark.api.python.PythonRDD", "serveIterator", 2),
    ]
    for cls, method, arity in pinned:
        found = [
            m.getParameterCount()
            for m in spark._jvm.java.lang.Class.forName(cls).getMethods()
            if m.getName() == method
        ]
        assert arity in found, (
            f"pyspark {pyspark.__version__} has no {cls}.{method} taking "
            f"{arity} arguments (found arities {found}); "
            "lake/writer.driver_rows needs it to serve local rows as Arrow"
        )


def test_zero_driver_rows_write_no_file(spark, tmp_path):
    empty = spark.createDataFrame(pd.DataFrame({"k": [1]})).filter("k < 0")
    assert wr.driver_rows(empty) is not None
    assert wr.write_data_files(empty, str(tmp_path), 1, 1 << 27) == []
    assert wr.write_equality_delete_files(empty, str(tmp_path), 1, ["k"]) == []
    assert not list(tmp_path.rglob("*.parquet"))


# --- path pins ------------------------------------------------------------


def _keyed(spark, root, partition_spec=None) -> LakeTable:
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        (F.col("id") % 3).alias("p"),
    )
    t = LakeTable.create(spark, root, base.schema, partition_spec=partition_spec)
    t.append(base)
    return t


def _pandas_batch(spark):
    keys = np.arange(90, 110)
    return spark.createDataFrame(
        pd.DataFrame({"k": keys, "v": keys * 100, "p": keys % 3})
    )


def _new_files(t, before):
    old = {e.file_path for e in before.current_snapshot().entries}
    return [e for e in t.meta.current_snapshot().entries if e.file_path not in old]


def _expected_rows():
    return {k: (k * 100 if k >= 90 else k * 2) for k in range(110)}


def test_pandas_upsert_writes_pyarrow_files_without_write_jobs(spark, tmp_path):
    t = _keyed(spark, str(tmp_path / "t"))
    before = t.meta
    batch = _pandas_batch(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    sc.setJobGroup("driver-upsert", "pandas upsert")
    try:
        t.upsert(batch, ["k"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    jobs = tracker.getJobIdsForGroup("driver-upsert")
    stages = [
        tracker.getStageInfo(s)
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert len(jobs) == 0, [s.name for s in stages if s]

    new = _new_files(t, before)
    assert {e.content for e in new} == {md.DATA, md.EQ_DELETE}
    assert _created_by(new) == {PYARROW}
    assert {r.k: r.v for r in t.read().collect()} == _expected_rows()


def test_spark_resident_upsert_keeps_spark_files(spark, tmp_path):
    t = _keyed(spark, str(tmp_path / "t"))
    before = t.meta
    batch = spark.range(90, 110).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v"),
        (F.col("id") % 3).alias("p"),
    )
    t.upsert(batch, ["k"])
    new = _new_files(t, before)
    assert {e.content for e in new} == {md.DATA, md.EQ_DELETE}
    assert _created_by(new) == {PARQUET_MR}
    assert {r.k: r.v for r in t.read().collect()} == _expected_rows()


def test_partitioned_pandas_upsert_keeps_hive_layout(spark, tmp_path):
    t = _keyed(spark, str(tmp_path / "t"), partition_spec=["p"])
    before = t.meta
    t.upsert(_pandas_batch(spark), ["k"])
    new = _new_files(t, before)
    data = [e for e in new if e.content == md.DATA]
    assert len(data) == 3 and _created_by(data) == {PARQUET_MR}
    for e in data:
        value = e.partition["p"]
        assert os.path.basename(os.path.dirname(e.file_path)) == f"p={value}"
    assert {e.partition["p"] for e in data} == {"0", "1", "2"}
    assert {r.k: r.v for r in t.read().collect()} == _expected_rows()


def test_spark_eq_delete_funnel_keeps_the_upstream_stage_parallel(spark, tmp_path):
    df = spark.range(0, 1000, 1, 4)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    sc.setJobGroup("eq-funnel", "spark eq-delete write")
    try:
        entries = wr.write_equality_delete_files(df, str(tmp_path), 1, ["id"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    tasks = [
        info.numTasks
        for j in tracker.getJobIdsForGroup("eq-funnel")
        for s in tracker.getJobInfo(j).stageIds
        if (info := tracker.getStageInfo(s)) is not None
    ]
    assert max(tasks) > 1, tasks
    assert [e.record_count for e in entries] == [1000]
    assert _created_by(entries) == {PARQUET_MR}
