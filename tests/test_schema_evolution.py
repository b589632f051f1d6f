"""Schema evolution: add/drop columns as metadata-only commits, with
the schema-id guard protecting in-flight compactions."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import Compaction, LakeTable
from bergloom_spark.lake.commit import CommitFailed, RewriteFilesCommitManager

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _table(spark, tmp_path, partition_spec=None):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_spec)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    return t


def test_add_column_old_rows_null_new_rows_valued(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.add_columns([T.StructField("score", T.DoubleType(), True)])
    assert t.meta.schema_id == 1
    t.append(
        spark.createDataFrame([(3, "c", 0.5)], t.schema)
    )
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: 0.5}
    # Full MoR lifecycle (compact + validate) under the evolved schema.
    Compaction(t, CompactionConfig(enable_validate_compaction=True)).compact()
    got = {r.id: r.score for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: 0.5}


def test_add_column_guards(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="nullable"):
        t.add_columns([T.StructField("x", T.LongType(), False)])
    with pytest.raises(ValueError, match="already exists"):
        t.add_columns([T.StructField("v", T.LongType(), True)])
    t.drop_columns(["v"])
    with pytest.raises(ValueError, match="dropped/renamed earlier"):
        t.add_columns([T.StructField("v", T.StringType(), True)])


def test_drop_column_stops_projection(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.drop_columns(["v"])
    assert t.read().columns == ["id"]
    assert sorted(r.id for r in t.read().collect()) == [1, 2]
    with pytest.raises(ValueError, match="every column"):
        t.drop_columns(["id"])


def test_drop_partition_column_refused(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("bucket", T.IntegerType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "p"), schema, ["bucket"])
    with pytest.raises(ValueError, match="partition"):
        t.drop_columns(["bucket"])


def test_drop_eq_delete_key_refused(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append_equality_deletes(spark.createDataFrame([("a",)], "v string"), ["v"])
    with pytest.raises(ValueError, match="equality-delete"):
        t.drop_columns(["v"])


def test_inflight_compaction_aborts_on_evolution(spark, tmp_path):
    """The reference's schema guard (compaction/mod.rs:532-541): a
    rewrite that started under schema_id 0 must fail cleanly if the
    schema evolved before it commits."""
    t = _table(spark, tmp_path)
    snap = t.meta.current_snapshot()
    manager = RewriteFilesCommitManager(
        table_root=t.meta.table_root,
        starting_schema_id=t.meta.schema_id,
        starting_sequence_number=snap.sequence_number,
    )
    t.add_columns([T.StructField("late", T.LongType(), True)])
    with pytest.raises(CommitFailed, match="schema changed"):
        manager.rewrite_files([], set())
    # Table unharmed: still readable under the new schema.
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_concurrent_evolutions_never_drop_a_change(spark, tmp_path):
    """Two handles evolve the same schema version: the second commit
    must refuse (schema-id guard) rather than rebase its stale schema
    over the first one's change."""
    from bergloom_spark.lake import metadata as md

    t = _table(spark, tmp_path)
    root = t.meta.table_root

    def add(name):
        return lambda h: h.add_columns([T.StructField(name, T.LongType(), True)])

    cases = [
        (add("x1"), add("x2")),
        (lambda h: h.rename_column("v", "v2"), add("x3")),
        (lambda h: h.set_partition_spec(["id"]), add("x4")),
        (add("x5"), lambda h: h.rename_column("v2", "v3")),
        (add("x6"), lambda h: h.set_partition_spec(["x1"])),
    ]
    for first, second in cases:
        a, b = LakeTable.load(spark, root), LakeTable.load(spark, root)
        first(a)
        won = md.read_current(root)
        with pytest.raises(CommitFailed, match="schema changed"):
            second(b)
        assert md.read_current(root) == won  # the first change survives
    final = md.read_current(root)
    names = [f["name"] for f in final.schema["fields"]]
    assert names == ["id", "v2", "x1", "x5", "x6"]
    assert final.partition_spec == ["id"]


def test_evolution_then_delete_where(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.add_columns([T.StructField("flag", T.BooleanType(), True)])
    t.append(spark.createDataFrame([(9, "z", True)], t.schema))
    t.delete_where(F.col("flag") == True)  # noqa: E712
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


# ---------------------------------------------------------------------------
# partition evolution
# ---------------------------------------------------------------------------
PART_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("a", T.IntegerType(), True),
        T.StructField("b", T.IntegerType(), True),
    ]
)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        (F.col("id") % 3).cast("int").alias("a"),
        (F.col("id") % 5).cast("int").alias("b"),
    )


def test_partition_evolution_mixed_specs_scan(spark, tmp_path):
    """Files written under [a], then [b], then unpartitioned must all
    scan back with full, correct column values."""
    t = LakeTable.create(spark, str(tmp_path / "pe"), PART_SCHEMA, ["a"])
    t.append(_rows(spark, 0, 300))
    t.set_partition_spec(["b"])
    t.append(_rows(spark, 300, 600))
    t.set_partition_spec([])
    t.append(_rows(spark, 600, 900))
    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, _rows(spark, 0, 900).collect()))
    assert got == want


def test_partition_evolution_compaction_converges_layout(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "pc"), PART_SCHEMA, ["a"])
    t.append(_rows(spark, 0, 300))
    t.set_partition_spec(["b"])
    t.append(_rows(spark, 300, 600))
    Compaction(t, CompactionConfig(enable_validate_compaction=True)).compact()
    snap = t.meta.current_snapshot()
    # Every live data file now carries the NEW spec's partition dict.
    from bergloom_spark.lake import metadata as md

    assert all(
        set(e.partition.keys()) == {"b"} for e in snap.files(md.DATA)
    )
    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, _rows(spark, 0, 600).collect()))
    assert got == want


def test_partition_evolution_mor_deletes_across_specs(spark, tmp_path):
    """Row-level deletes must keep working across a spec change."""
    t = LakeTable.create(spark, str(tmp_path / "pm"), PART_SCHEMA, ["a"])
    t.append(_rows(spark, 0, 300))
    t.set_partition_spec(["b"])
    t.append(_rows(spark, 300, 600))
    t.delete_where(F.col("id") % 2 == 0)
    got = sorted(r.id for r in t.read().collect())
    assert got == [i for i in range(600) if i % 2 == 1]


def test_partition_evolution_guards(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "pg"), PART_SCHEMA, ["a"])
    t.append(_rows(spark, 0, 100))
    with pytest.raises(ValueError, match="not in schema"):
        t.set_partition_spec(["nope"])
    t.set_partition_spec(["b"])
    # 'a' is still virtualized in live files -> cannot drop yet.
    with pytest.raises(ValueError, match="virtualized"):
        t.drop_columns(["a"])
    Compaction(t).compact()  # rewrites under ["b"]
    t.drop_columns(["a"])  # now legal
    assert t.read().columns == ["id", "b"]


# ---------------------------------------------------------------------------
# rename_column (round 3)
# ---------------------------------------------------------------------------
def test_rename_reads_old_and_new_files(spark, tmp_path):
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from bergloom_spark.lake import LakeTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("amount", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("amount")))
    t.rename_column("amount", "value")
    assert [f.name for f in t.schema.fields] == ["id", "value"]
    # old files resolve under the historical name
    got = {r.id: r.value for r in t.read().collect()}
    assert got == {i: i * 2 for i in range(10)}
    # new files write the NEW name; mixed old+new files both resolve
    t.append(
        spark.range(10, 20).select(F.col("id"), (F.col("id") * 3).alias("value"))
    )
    got = {r.id: r.value for r in t.read().collect()}
    assert got == {**{i: i * 2 for i in range(10)}, **{i: i * 3 for i in range(10, 20)}}
    # chained rename keeps the whole history readable
    t.rename_column("value", "amount_v2")
    got = {r.id: r.amount_v2 for r in t.read().collect()}
    assert len(got) == 20 and got[0] == 0 and got[19] == 57
    # survives a reload
    reloaded = LakeTable.load(spark, str(tmp_path / "t"))
    assert reloaded.read().count() == 20


def test_rename_guards(spark, tmp_path):
    import pyspark.sql.functions as F
    import pytest
    from pyspark.sql import types as T

    from bergloom_spark.lake import LakeTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(spark.range(5).select(F.col("id"), F.col("id").alias("v")))
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("v", "id")
    t.rename_column("v", "w")
    # reusing the historical name is blocked in both directions
    with pytest.raises(ValueError, match="reused"):
        t.rename_column("w", "v")
    with pytest.raises(ValueError, match="reused"):
        t.add_columns([T.StructField("v", T.LongType(), True)])
    # eq-delete-referenced columns refuse to rename
    t.append_equality_deletes(spark.range(2).select(F.col("id")), ["id"])
    with pytest.raises(ValueError, match="equality-delete"):
        t.rename_column("id", "pk")


def test_rename_then_compact_converges_files(spark, tmp_path):
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake import Compaction, LakeTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(spark.range(50).select(F.col("id"), (F.col("id") + 1).alias("v")))
    t.rename_column("v", "w")
    before = sorted(map(tuple, t.read().collect()))
    Compaction(t, CompactionConfig(enable_validate_compaction=True)).compact()
    assert sorted(map(tuple, t.read().collect())) == before
    # compaction rewrote under the NEW name: resolution no longer needed
    # for these files, but history stays harmless
    t.append(spark.range(50, 60).select(F.col("id"), (F.col("id") + 1).alias("w")))
    assert t.read().count() == 60
