"""TableMetadata.to_json: the shallow C-encoder path writes the same
JSON tree as ``asdict``, round-trips every field, leaves the metadata
untouched, and older indented files still load. Each snapshot's JSON
is encoded once and kept: the output stays byte-identical to one
``json.dumps`` of the whole tree, and no lake operation leaves a kept
encoding stale."""

from __future__ import annotations

import copy
import dataclasses
import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.compaction import Compaction, expire_snapshots


def _entry(i: int) -> md.ManifestEntry:
    return md.ManifestEntry(
        content=md.POS_DELETE,
        file_path=f"/t/deletes/dv-{i}.puffin",
        record_count=10 + i,
        file_size_bytes=1000 + i,
        sequence_number=3 + i,
        equality_ids=["k", "p"],
        partition={"p": str(i)},
        column_stats={"k": [0, 99 + i], "s": ["a", "z"]},
        column_blooms={"k": "00ff10"},
        column_value_counts={"k": 10 + i, "s": 9},
        column_null_counts={"k": 0, "s": 1},
        column_buckets={"k": [16, i % 16]},
        dv_referenced_file=f"/t/data/f-{i}.parquet",
        dv_offset=4 + i,
        dv_size=40 + i,
    )


def _meta() -> md.TableMetadata:
    snaps = [
        md.Snapshot(
            snapshot_id=s,
            sequence_number=s + 1,
            timestamp_ms=1_700_000_000_000 + s,
            operation="append" if s % 2 else "delete",
            entries=[_entry(10 * s + i) for i in range(3)],
            parent_snapshot_id=s - 1,
        )
        for s in range(1, 4)
    ]
    return md.TableMetadata(
        table_root="/t",
        schema={"type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}}]},
        schema_id=2,
        partition_spec=["p"],
        properties={"write.bloom-filter-columns": "k", "x": "ü"},
        current_snapshot_id=3,
        last_sequence_number=4,
        last_snapshot_id=3,
        version=7,
        snapshots=snaps,
        refs={"v1": {"snapshot_id": 2, "type": "tag"}},
    )


def _defaults(cls) -> dict:
    return {
        f.name: f.default_factory() if f.default_factory is not dataclasses.MISSING
        else f.default
        for f in dataclasses.fields(cls)
        if f.default is not dataclasses.MISSING
        or f.default_factory is not dataclasses.MISSING
    }


def test_fixture_sets_every_defaulted_field():
    # a new field must be added to the fixture, or the checks below
    # would not cover how it is encoded
    meta = _meta()
    for obj in (meta, meta.snapshots[0], meta.snapshots[0].entries[0]):
        for name, default in _defaults(type(obj)).items():
            assert getattr(obj, name) != default, (type(obj).__name__, name)


def test_to_json_matches_asdict_tree():
    meta = _meta()
    assert json.loads(meta.to_json()) == json.loads(
        json.dumps(dataclasses.asdict(meta))
    )


def test_round_trip_leaves_metadata_untouched():
    meta = _meta()
    pristine = copy.deepcopy(meta)
    assert md.TableMetadata.from_json(meta.to_json()) == meta
    assert meta == pristine


def test_indented_files_still_load(tmp_path):
    meta = dataclasses.replace(_meta(), table_root=str(tmp_path))
    (tmp_path / "metadata").mkdir()
    with open(md.version_path(str(tmp_path), meta.version), "w") as fh:
        fh.write(json.dumps(dataclasses.asdict(meta), indent=1))
    assert md.read_current(str(tmp_path)) == meta
    # the next version is written compactly and reads back the same
    nxt = dataclasses.replace(meta, version=meta.version + 1)
    md.write_version(nxt)
    assert md.read_current(str(tmp_path)) == nxt


def _fresh_snapshot(s: md.Snapshot) -> dict:
    raw = {k: v for k, v in vars(s).items() if k != "_json"}
    return {**raw, "entries": [vars(e) for e in s.entries]}


def _one_dumps(meta: md.TableMetadata) -> str:
    # the encoder before snapshots were memoised: one json.dumps call
    return json.dumps(
        {**vars(meta), "snapshots": [_fresh_snapshot(s) for s in meta.snapshots]}
    )


def test_memoised_to_json_is_byte_identical():
    meta = _meta()
    first = meta.to_json()
    assert first == _one_dumps(meta)
    assert all("_json" in vars(s) for s in meta.snapshots)
    assert meta.to_json() == first  # now served from the kept fragments
    for m in (
        dataclasses.replace(meta, snapshots=[]),
        dataclasses.replace(meta, snapshots=meta.snapshots[:1], refs={}),
    ):
        assert m.to_json() == _one_dumps(m)


def test_kept_snapshot_json_is_never_stale(spark, tmp_path):
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.StringType()),
    ])
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, schema)

    def batch(keys, tag):
        return spark.createDataFrame(
            pd.DataFrame({"k": keys, "v": [f"{tag}{k}" for k in keys]}), schema
        )

    def check():
        for meta in (t.meta, md.read_current(root)):
            text = meta.to_json()
            assert text == _one_dumps(meta)
            for s in meta.snapshots:
                assert json.loads(vars(s)["_json"]) == json.loads(
                    json.dumps(_fresh_snapshot(s))
                )
        assert md.read_current(root).to_json() == t.meta.to_json()

    ops = [
        lambda: t.append(batch(list(range(20)), "a")),
        lambda: t.upsert(batch([1, 2, 30], "u"), ["k"]),
        lambda: t.upsert(batch([2, 3], "w"), ["k"]),
        lambda: t.delete_where(F.col("k") == 5),
        lambda: t.delete_where_as_vectors(F.col("k") == 6),
        lambda: Compaction(t).compact(),
        lambda: t.create_tag("release", t.meta.current_snapshot_id),
        lambda: t.create_branch("dev"),
        lambda: t.upsert(batch([7], "x"), ["k"]),
        lambda: t.rollback_to(t.ref_snapshot_id("release")),
        lambda: t.drop_ref("dev"),
        lambda: expire_snapshots(t, keep_last=2),
        lambda: t.append(batch([40, 41], "z")),
    ]
    for op in ops:
        op()
        check()
    assert len(t.meta.snapshots) >= 3
