"""Regression tests for round-3 ADVICE fixes.

- ADVICE r2 #1 (medium): the literal-map probe of
  ``_metadata.file_path`` needs a runtime fallback — if the runtime
  rendering ever drifts from the driver-validated dictionary keys, the
  hidden columns must degrade to the per-row decode, not to NULLs that
  silently skip MoR delete application. That holds for the
  equality-delete scan too: its rows take their sequence number by
  the same path probe as data rows.
- ADVICE r2 #3 (low): ``apply_changes`` on a key-only table (every
  column a key column) raised ``xxhash64()``-with-zero-args.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake import table as lt


def test_apply_changes_key_only_table(spark, tmp_path):
    """All columns are key columns → no value columns → the xxhash64
    tie-break must be skipped, not crash."""
    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), False),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(
        spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], schema)
    )
    changes = spark.createDataFrame(
        [
            (2, "y", "D", 1),  # delete existing key
            (4, "w", "I", 1),  # insert new key
        ],
        "a: long, b: string, op: string, ord: long",
    )
    t.apply_changes(changes, ["a", "b"], op_col="op", order_col="ord")
    got = sorted(map(tuple, t.read().collect()))
    assert got == [(1, "x"), (3, "z"), (4, "w")]


def test_uri_map_drift_falls_back_to_decode(spark, tmp_path, monkeypatch):
    """Corrupt the URI dictionary's keys (simulating a Spark-version
    drift in how ``_metadata.file_path`` renders): every probe misses,
    and the coalesce fallback must still produce correct hidden
    file-path columns — deletes stay applied instead of silently
    resurrecting rows."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.append(
        spark.range(100).select(
            F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
        )
    )
    t.delete_where(F.col("id") % 10 == 0)
    # an equality delete, then a re-insert of one of its keys: the
    # delete scan's path→seq probe rides on the same dictionary
    t.append_equality_deletes(
        spark.createDataFrame([(5,), (15,)], "id long"), ["id"]
    )
    t.append(spark.createDataFrame([(5, "again")], schema))
    expected = sorted(
        [i for i in range(100) if i % 10 != 0 and i not in (5, 15)] + [5]
    )
    assert sorted(r.id for r in t.read().collect()) == expected

    real = lt._uri_path_map

    scanned = []

    def drifted(df, expected_paths):
        scanned.append(set(expected_paths))
        m = real(df, expected_paths)
        if m is None:
            return None
        # keys as a future Spark might render them: URL-encoded+scheme
        return {"file%3A" + k[len("file:"):]: v for k, v in m.items()}

    monkeypatch.setattr(lt, "_uri_path_map", drifted)
    # every map probe now misses → coalesce falls back to the per-row
    # decode; the read must be IDENTICAL, not delete-free
    assert sorted(r.id for r in t.read().collect()) == expected
    # the delete scan went through the drifted dictionary too, and its
    # rows still found their file's sequence number
    snap = t.meta.current_snapshot()
    eq_files = snap.files(md.EQ_DELETE)
    assert {e.file_path for e in eq_files} in scanned
    (group,) = t._eq_delete_groups(snap)
    seqs = {r[0] for r in group.frame.select("sys_hidden_seq_num").collect()}
    assert seqs == {e.sequence_number for e in eq_files}
