"""FileIO seam tests (round 12, verdict r11 #3).

Reference parity target: iceberg-rs's pluggable FileIO (S3/GCS
feature gates, ``core/Cargo.toml:16-19``) — all metadata/commit
storage access behind one small interface. Three proof obligations:

1. The CAS (``publish_if_absent``) is the ONLY storage primitive
   commit safety needs — proven with a mock FileIO that logs every
   call and races two writers.
2. The JVM Hadoop implementation honours the whole interface under a
   ``file://`` root — the same code path an ``s3a://`` root takes
   when the jars exist.
3. The lake works end-to-end (create → append → MoR deletes →
   compaction) under a ``file://``-scheme table root.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import Compaction, LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.fileio import (
    HadoopFileIO,
    LocalFileIO,
    io_for,
    path_scheme,
    strip_local_scheme,
)

USERS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
    ]
)
SEED = [(1, "Alice"), (2, "Bob"), (3, "Charlie")]


class TestSchemeRouting:
    def test_path_scheme(self):
        assert path_scheme("/tmp/t") == ""
        assert path_scheme("relative/path") == ""
        assert path_scheme("file:///tmp/t") == "file"
        assert path_scheme("s3a://bucket/t") == "s3a"
        assert path_scheme("hdfs://nn:8020/t") == "hdfs"

    def test_strip_local_scheme(self):
        assert strip_local_scheme("file:///tmp/t") == "/tmp/t"
        assert strip_local_scheme("file:/tmp/t") == "/tmp/t"
        assert strip_local_scheme("/tmp/t") == "/tmp/t"
        assert strip_local_scheme("s3a://b/t") == "s3a://b/t"
        # localhost authority is the one legal non-empty spelling
        assert strip_local_scheme("file://localhost/tmp/t") == "/tmp/t"
        # a remote authority must fail loudly, never fold into the
        # path as /host/tmp/t (ADVICE r12)
        with pytest.raises(ValueError, match="authority"):
            strip_local_scheme("file://nas01/tmp/t")

    def test_io_for(self, spark):
        assert isinstance(io_for("/tmp/x"), LocalFileIO)
        assert isinstance(io_for("file:///tmp/x"), HadoopFileIO)


class MockFileIO:
    """In-memory FileIO that records every mutation call — the proof
    that ``publish_if_absent`` is the only claim primitive commits
    rely on."""

    def __init__(self):
        self.files: dict[str, str] = {}
        self.log: list[tuple] = []
        self._n = 0

    def list_names(self, directory):
        prefix = directory.rstrip("/") + "/"
        names = {
            p[len(prefix):].split("/")[0]
            for p in self.files
            if p.startswith(prefix)
        }
        if not names:
            raise FileNotFoundError(directory)
        return sorted(names)

    def read_text(self, path):
        if path not in self.files:
            raise FileNotFoundError(path)
        return self.files[path]

    def write_text(self, path, text):
        self.log.append(("write_text", path))
        self.files[path] = text

    def publish_if_absent(self, src, dst):
        self.log.append(("publish_if_absent", src, dst))
        if dst in self.files:
            raise FileExistsError(dst)
        self.files[dst] = self.files[src]

    def delete(self, path):
        self.log.append(("delete", path))
        self.files.pop(path, None)

    def exists(self, path):
        return path in self.files

    def mkdirs(self, directory):
        self.log.append(("mkdirs", directory))

    def new_tmp_path(self, directory):
        self._n += 1
        return f"{directory}/.tmp-{self._n}.json"


class TestCasContractWithMockIO:
    def _meta(self, version=0):
        return md.TableMetadata(
            table_root="mock://t",
            schema=USERS_SCHEMA.jsonValue(),
            version=version,
        )

    def test_racing_writers_one_wins(self):
        io = MockFileIO()
        md.write_version(self._meta(0), io=io)
        with pytest.raises(md.CommitConflict):
            md.write_version(self._meta(0), io=io)
        # the loser's scratch file must not linger
        assert list(io.files) == ["mock://t/metadata/v0.metadata.json"]
        # and the winner's content round-trips
        m = md.read_current("mock://t", io=io)
        assert m.version == 0 and m.table_root == "mock://t"

    def test_publish_is_the_only_claim_primitive(self):
        io = MockFileIO()
        md.write_version(self._meta(0), io=io)
        md.write_version(self._meta(1), io=io)
        try:
            md.write_version(self._meta(1), io=io)
        except md.CommitConflict:
            pass
        mutations = [op for op in io.log if op[0] not in ("mkdirs",)]
        # every commit = scratch write → one atomic publish → scratch
        # cleanup; NO overwrite, NO rename-over, NO delete of a
        # published version ever happens
        for op in mutations:
            assert op[0] in ("write_text", "publish_if_absent", "delete")
            target = op[-1] if op[0] == "publish_if_absent" else op[1]
            if op[0] in ("write_text", "delete"):
                assert ".tmp-" in op[1], op  # scratch files only
            else:
                assert target.endswith(".metadata.json"), op
        publishes = [op for op in mutations if op[0] == "publish_if_absent"]
        assert len(publishes) == 3  # one per attempt; loser raised


class TestHadoopFileIOUnderFileScheme:
    def test_primitives(self, spark, tmp_path):
        io = HadoopFileIO(spark)
        root = f"file://{tmp_path}/h"
        io.mkdirs(root)
        assert io.exists(root)
        io.write_text(f"{root}/a.json", '{"k": 1}')
        assert io.read_text(f"{root}/a.json") == '{"k": 1}'
        assert io.list_names(root) == ["a.json"]
        # CAS: second publish of the same destination loses
        io.write_text(f"{root}/.tmp-1.json", "one")
        io.write_text(f"{root}/.tmp-2.json", "two")
        io.publish_if_absent(f"{root}/.tmp-1.json", f"{root}/v1.json")
        with pytest.raises(FileExistsError):
            io.publish_if_absent(f"{root}/.tmp-2.json", f"{root}/v1.json")
        assert io.read_text(f"{root}/v1.json") == "one"
        io.delete(f"{root}/a.json")
        assert not io.exists(f"{root}/a.json")
        with pytest.raises(FileNotFoundError):
            io.read_text(f"{root}/a.json")
        with pytest.raises(FileNotFoundError):
            io.list_names(f"{root}/no-such-dir")

    def test_exists_costs_three_round_trips(self, spark, tmp_path, monkeypatch):
        # Path(), getFileSystem() and exists(): the JVM classes are
        # resolved once per instance, not walked package by package
        # on every call.
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        io = HadoopFileIO(spark)
        root = f"file://{tmp_path}/h"
        calls = []
        for cls in (ClientServerConnection, GatewayConnection):
            orig = cls.send_command

            def send_command(self, *a, __orig=orig, **k):
                calls.append(1)
                return __orig(self, *a, **k)

            monkeypatch.setattr(cls, "send_command", send_command)
        for _ in range(5):
            assert not io.exists(root)
        assert len(calls) == 5 * 3

    def test_metadata_roundtrip_through_jvm_fs(self, spark, tmp_path):
        root = f"file://{tmp_path}/t"
        meta = md.TableMetadata(
            table_root=root, schema=USERS_SCHEMA.jsonValue(), version=0
        )
        md.write_version(meta)
        # the JSON physically landed where a local reader expects it
        assert os.path.exists(
            os.path.join(str(tmp_path), "t", "metadata", "v0.metadata.json")
        )
        got = md.read_current(root)
        assert got.table_root == root and got.version == 0
        with pytest.raises(md.CommitConflict):
            md.write_version(meta)


class TestLakeUnderFileSchemeRoot:
    def test_create_append_delete_compact(self, spark, tmp_path):
        root = f"file://{tmp_path}/users"
        t = LakeTable.create(spark, root, USERS_SCHEMA)
        df = spark.createDataFrame(SEED, USERS_SCHEMA)
        t.append(df)
        t.append(df)
        assert sorted((r.id, r.name) for r in t.read().collect()) == sorted(
            SEED + SEED
        )
        # equality delete applies through the same scheme-routed path
        t.append_equality_deletes(
            spark.createDataFrame([(2,)], "id int"), ["id"]
        )
        got = sorted((r.id, r.name) for r in t.read().collect())
        assert got == sorted(
            [(i, n) for i, n in SEED + SEED if i != 2]
        )
        n_inputs = len(
            t.meta.current_snapshot().files(md.DATA)
        )
        result = Compaction(
            t, CompactionConfig(enable_validate_compaction=True)
        ).compact()
        assert result.stat.rewritten_files_count >= n_inputs
        assert result.validated
        assert sorted((r.id, r.name) for r in t.read().collect()) == got
        # a fresh load through the scheme sees the compacted state
        t2 = LakeTable.load(spark, root)
        assert sorted((r.id, r.name) for r in t2.read().collect()) == got
