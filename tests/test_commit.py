"""The one commit primitive (lake/commit.commit): retry on a reloaded
base, the shared backoff budget, entry copies that keep every field,
and structural guards: every other module stays off the raw CAS, and
RewriteFiles commits are built in only two places."""

from __future__ import annotations

import ast
import copy
import dataclasses
from pathlib import Path

import pytest
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake import writer as wr
from bergloom_spark.lake.commit import (
    COMMIT_RETRY,
    CommitFailed,
    RetryConfig,
    RewriteFilesCommitManager,
    commit,
)

PKG = Path(__file__).resolve().parents[1] / "bergloom_spark"


def _v0(tmp_path) -> md.TableMetadata:
    meta = md.TableMetadata(table_root=str(tmp_path / "t"), schema={})
    md.write_version(meta)
    return meta


def _set(key):
    return lambda base: dataclasses.replace(
        base, properties={**base.properties, key: "1"}
    )


def test_lost_race_reapplies_update_to_reloaded_base(tmp_path):
    stale = _v0(tmp_path)
    commit(stale.table_root, _set("other"), retry=COMMIT_RETRY)  # v1
    sleeps, bases = [], []

    def update(base):
        bases.append(base.version)
        return _set("mine")(base)

    meta = commit(
        stale.table_root, update, base=stale, retry=COMMIT_RETRY,
        sleep=sleeps.append,
    )
    assert bases == [0, 1]  # stale first, then the reloaded base
    assert len(sleeps) == 1
    assert meta.version == 2
    assert md.read_current(stale.table_root).properties == {
        "other": "1", "mine": "1",
    }


def test_retry_budget_and_backoff_schedule(tmp_path, monkeypatch):
    base = _v0(tmp_path)

    def always_taken(meta, io=None):
        raise md.CommitConflict("taken")

    monkeypatch.setattr(md, "write_version", always_taken)
    sleeps = []
    with pytest.raises(md.CommitConflict):
        commit(base.table_root, _set("k"), base=base, retry=COMMIT_RETRY,
               sleep=sleeps.append)
    assert len(sleeps) == COMMIT_RETRY.max_retries
    caps = [min(0.05 * 2**a, 0.2) for a in range(len(sleeps))]
    assert all(c / 2 <= s <= c for s, c in zip(sleeps, caps))
    assert sum(caps) == pytest.approx(0.75)


def test_failed_validation_is_not_retried(tmp_path):
    base = _v0(tmp_path)
    sleeps = []

    def refuse(_):
        raise CommitFailed("no")

    with pytest.raises(CommitFailed):
        commit(base.table_root, refuse, base=base,
               retry=RetryConfig(max_retries=3), sleep=sleeps.append)
    assert sleeps == []
    assert md.read_current(base.table_root).version == 0


# ---------------------------------------------------------------------------
# entry copies keep every field and never touch the caller's objects
# ---------------------------------------------------------------------------
def _full_entry(path: str) -> md.ManifestEntry:
    entry = md.ManifestEntry(
        content=md.POS_DELETE,
        file_path=path,
        record_count=7,
        file_size_bytes=123,
        sequence_number=777,
        equality_ids=["k"],
        partition={"p": "1"},
        column_stats={"k": [1, 9]},
        column_blooms={"k": "ff00"},
        column_value_counts={"k": 7},
        column_null_counts={"k": 1},
        column_buckets={"k": [16, 3]},
        dv_referenced_file="/elsewhere/data.parquet",
        dv_offset=4,
        dv_size=40,
    )
    for f in dataclasses.fields(md.ManifestEntry):
        default = (
            f.default_factory()
            if f.default_factory is not dataclasses.MISSING
            else f.default
        )
        assert getattr(entry, f.name) != default, f"fill {f.name}"
    return entry


def _stored(root: str, path: str) -> md.ManifestEntry:
    snap = md.read_current(root).current_snapshot()
    return next(e for e in snap.entries if e.file_path == path)


def test_committed_entries_keep_every_field(spark, tmp_path, monkeypatch):
    schema = T.StructType([T.StructField("k", T.LongType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    root = t.meta.table_root

    appended = _full_entry("/x/appended.puffin")
    before = copy.deepcopy(appended)
    monkeypatch.setattr(wr, "write_data_files", lambda *a, **k: [appended])
    snap = t.append(None)
    assert appended == before  # the caller's entry is not re-stamped
    assert _stored(root, appended.file_path) == dataclasses.replace(
        before, sequence_number=snap.sequence_number
    )

    rewritten = _full_entry("/x/rewritten.puffin")
    before = copy.deepcopy(rewritten)
    RewriteFilesCommitManager(
        root, starting_schema_id=0, starting_sequence_number=1
    ).rewrite_files([rewritten], set())
    assert rewritten == before
    assert _stored(root, rewritten.file_path) == dataclasses.replace(
        before, sequence_number=1
    )
    # the appended entry rode forward unchanged
    assert _stored(root, appended.file_path).dv_size == 40


# ---------------------------------------------------------------------------
# structural guard: one commit path
# ---------------------------------------------------------------------------
WRITE_VERSION_CALLERS = {
    "lake/commit.py:commit",
    "lake/table.py:LakeTable.create",
    "lake/table.py:LakeTable.clone_to",
}
CONFLICT_HANDLERS = {"lake/commit.py"}


def _name(node) -> str:
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else ""


def _walk(source: str):
    """(enclosing qualname parts, node) for every node of a module."""

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            yield scope, child
            if isinstance(
                child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                yield from visit(child, scope + [child.name])
            else:
                yield from visit(child, scope)

    return visit(ast.parse(source), [])


def _call_sites(rel: str, source: str, callee: str) -> set[str]:
    """Calls of ``callee`` in one module, as "file:qualname"."""
    return {
        f"{rel}:{'.'.join(scope)}"
        for scope, node in _walk(source)
        if isinstance(node, ast.Call) and _name(node.func) == callee
    }


def _scan(rel: str, source: str) -> tuple[set[str], set[str]]:
    """(write_version call sites as "file:qualname", files holding an
    ``except ... CommitConflict``) of one module."""
    calls, handlers = _call_sites(rel, source, "write_version"), set()
    for _, node in _walk(source):
        if isinstance(node, ast.ImportFrom) and any(
            a.name == "write_version" for a in node.names
        ):
            calls.add(f"{rel}:import")
        if isinstance(node, ast.ExceptHandler) and node.type is not None:
            types = (
                node.type.elts
                if isinstance(node.type, ast.Tuple)
                else [node.type]
            )
            if any(_name(t) == "CommitConflict" for t in types):
                handlers.add(rel)
    return calls, handlers


def test_guard_trips_on_a_second_commit_path():
    calls, handlers = _scan("lake/x.py", (
        "class T:\n"
        "    def publish(self):\n"
        "        try:\n"
        "            md.write_version(meta)\n"
        "        except (KeyError, md.CommitConflict):\n"
        "            pass\n"
        "        except CatalogCommitConflict:\n"
        "            pass\n"
    ))
    assert calls == {"lake/x.py:T.publish"}
    assert handlers == {"lake/x.py"}


def test_every_commit_goes_through_commit_primitive():
    calls, handlers = set(), set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        c, h = _scan(rel, path.read_text())
        calls |= c
        handlers |= h
    assert calls == WRITE_VERSION_CALLERS
    assert handlers <= CONFLICT_HANDLERS


# ---------------------------------------------------------------------------
# structural guard: one RewriteFiles commit site per caller kind
# ---------------------------------------------------------------------------
REWRITE_MANAGER_SITES = {
    "lake/compaction.py:_commit_rewrite",
    "lake/table.py:LakeTable.overwrite_partitions",
}


def test_rewrite_guard_finds_constructions_in_any_scope():
    sites = _call_sites("lake/x.py", (
        "m = RewriteFilesCommitManager(root)\n"
        "class T:\n"
        "    def fold(self):\n"
        "        def inner():\n"
        "            return commit.RewriteFilesCommitManager(root)\n"
        "        return RewriteFilesCommitManager\n"
    ), "RewriteFilesCommitManager")
    assert sites == {"lake/x.py:", "lake/x.py:T.fold.inner"}


def test_rewrite_files_managers_built_only_by_the_two_rewrite_paths():
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        sites |= _call_sites(rel, path.read_text(), "RewriteFilesCommitManager")
    assert sites == REWRITE_MANAGER_SITES


def test_lake_parquet_read_only_through_the_file_set_reader():
    """Lake data and equality-delete files are read by one
    schema-resolving reader (``_scan_file_group``); the other parquet
    reads in ``lake/table.py`` are the fixed-schema position deletes
    and the partition-statistics file."""
    path = PKG / "lake" / "table.py"
    sites = _call_sites("lake/table.py", path.read_text(), "parquet")
    assert sites == {
        "lake/table.py:LakeTable.partition_stats_df",
        "lake/table.py:LakeTable._scan_file_group",
        "lake/table.py:LakeTable._pos_delete_frame",
    }
