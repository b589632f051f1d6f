"""MoR anti-join cascade tests.

Mirrors the reference's SQL-string golden scenarios
(``datafusion_processor.rs:726-1196``) as *semantic* goldens: instead of
comparing generated SQL text we assert the result sets the SQL shapes
would produce — no deletes, pos-only, eq-only with sequence gating, both
kinds, multiple equality schemas.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from bergloom_spark.operators.mor import (
    SYS_HIDDEN_FILE_PATH,
    SYS_HIDDEN_POS,
    SYS_HIDDEN_SEQ_NUM,
    EqualityDeleteGroup,
    apply_equality_deletes,
    apply_position_deletes,
    group_equality_deletes,
    merge_on_read,
)


def _data(spark, rows, seq=1):
    df = spark.createDataFrame(rows, "id int, name string, file string, pos long")
    return (
        df.withColumn(SYS_HIDDEN_SEQ_NUM, F.lit(seq).cast("long"))
        .withColumn(SYS_HIDDEN_FILE_PATH, F.col("file"))
        .withColumn(SYS_HIDDEN_POS, F.col("pos"))
        .drop("file", "pos")
    )


SEED = [(1, "Alice"), (2, "Bob"), (3, "Charlie")]  # compaction/mod.rs:693-711


def seed_rows(file, seq):
    return [(i + 1, n, file, i) for i, (_, n) in enumerate(SEED)]


def test_no_deletes_passthrough(spark):
    data = _data(spark, seed_rows("f1", 1))
    out = merge_on_read(data)
    assert sorted((r.id, r.name) for r in out.collect()) == SEED
    assert out.columns == ["id", "name"]


def test_positional_deletes(spark):
    # F1b: two appends; pos-delete removes rows 0-2 of the first file.
    data = _data(spark, seed_rows("f1", 1) + seed_rows("f2", 2))
    pos = spark.createDataFrame(
        [("f1", 0), ("f1", 1), ("f1", 2)], "file_path string, pos long"
    )
    out = merge_on_read(data, pos_deletes=pos)
    assert sorted((r.id, r.name) for r in out.collect()) == SEED


def test_positional_deletes_duplicate_entries(spark):
    data = _data(spark, seed_rows("f1", 1))
    pos = spark.createDataFrame(
        [("f1", 0), ("f1", 0), ("f9", 5)], "file_path string, pos long"
    )
    out = apply_position_deletes(data, pos)
    assert sorted(r.id for r in out.collect()) == [2, 3]


def test_equality_deletes_seq_gating(spark):
    # F1c: delete id=2 at seq 2; rows written at seq 1 die, rows at seq 3 survive.
    old = _data(spark, seed_rows("f1", 1), seq=1)
    new = _data(spark, seed_rows("f2", 3), seq=3)
    data = old.unionByName(new)
    eq = spark.createDataFrame([(2,)], "id int")
    groups = group_equality_deletes([(eq, ["id"], 2)])
    out = merge_on_read(data, eq_delete_groups=groups)
    got = sorted((r.id, r.name, r[SYS_HIDDEN_SEQ_NUM]) for r in
                 apply_equality_deletes(data, groups).collect())
    # id=2@seq1 removed; id=2@seq3 survives.
    assert got == [(1, "Alice", 1), (1, "Alice", 3), (2, "Bob", 3),
                   (3, "Charlie", 1), (3, "Charlie", 3)]
    assert out.count() == 5


def test_equality_delete_max_seq_semantics(spark):
    # Two delete files, same schema, different seq: row dies iff its seq
    # is below SOME delete's seq == below the max.
    data = _data(spark, seed_rows("fa", 2), seq=2)
    d1 = spark.createDataFrame([(1,)], "id int")  # seq 1: too old, no effect
    d2 = spark.createDataFrame([(2,)], "id int")  # seq 5: applies
    groups = group_equality_deletes([(d1, ["id"], 1), (d2, ["id"], 5)])
    assert len(groups) == 1  # same schema → one group, one join
    out = apply_equality_deletes(data, groups)
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_multiple_equality_schemas(spark):
    # F1e: equality_ids=[id] and equality_ids=[name] → two chained joins.
    data = _data(spark, seed_rows("f1", 1), seq=1)
    by_id = spark.createDataFrame([(1,)], "id int")
    by_name = spark.createDataFrame([("Charlie",)], "name string")
    groups = group_equality_deletes([(by_id, ["id"], 2), (by_name, ["name"], 2)])
    assert len(groups) == 2
    out = merge_on_read(data, eq_delete_groups=groups)
    assert [(r.id, r.name) for r in out.collect()] == [(2, "Bob")]


def test_both_delete_kinds(spark):
    # F1d: pos-delete kills (f1,0); eq-delete kills id=3 written before seq 2.
    data = _data(spark, seed_rows("f1", 1), seq=1)
    pos = spark.createDataFrame([("f1", 0)], "file_path string, pos long")
    eq = spark.createDataFrame([(3,)], "id int")
    groups = group_equality_deletes([(eq, ["id"], 2)])
    out = merge_on_read(data, pos_deletes=pos, eq_delete_groups=groups)
    assert [(r.id, r.name) for r in out.collect()] == [(2, "Bob")]


def test_multi_column_equality_ids(spark):
    data = _data(spark, seed_rows("f1", 1), seq=1)
    eq = spark.createDataFrame([(1, "Alice"), (2, "NotBob")], "id int, name string")
    groups = group_equality_deletes([(eq, ["id", "name"], 2)])
    out = apply_equality_deletes(data, groups)
    assert sorted(r.id for r in out.collect()) == [2, 3]


def test_anti_join_plan_is_broadcast_when_hinted(spark):
    data = _data(spark, seed_rows("f1", 1))
    pos = spark.createDataFrame([("f1", 0)], "file_path string, pos long")
    out = apply_position_deletes(data, pos, broadcast_deletes=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_equality_delete_matches_null_keys(spark, tmp_path):
    """Review r5 (Iceberg equality-delete contract): a null delete
    value matches null data values — upserting/deleting the null key
    must shadow the old null-key row, not duplicate it."""
    import pyspark.sql.functions as F

    from bergloom_spark.lake import LakeTable

    df = spark.createDataFrame(
        [(1, 10.0), (None, 20.0), (3, 30.0)], "k long, v double"
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), df.schema)
    t.append(df)
    t.upsert(
        spark.createDataFrame([(None, 99.0)], "k long, v double"), ["k"]
    )
    rows = sorted(
        ((r["k"] if r["k"] is not None else -1), r["v"])
        for r in t.read().collect()
    )
    assert rows == [(-1, 99.0), (1, 10.0), (3, 30.0)]
