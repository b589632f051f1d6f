"""The one retrying commit primitive every lake mutation goes through.

Reference: ``RewriteDataFilesCommitManager``
(``core/src/compaction/mod.rs:465-614``): a commit is one transaction
— reload the base, validate it, build the new state, CAS it into the
version chain, and retry with exponential backoff on a lost race.
:func:`commit` is that loop; callers supply only a pure
``update(base) -> TableMetadata`` that re-runs its validations against
whatever base it is handed (raising :class:`CommitFailed` when one no
longer holds). :func:`with_snapshot` builds the new state for every
file-level commit (appends, deletes, merges, staged appends and
rewrites), and :class:`RewriteFilesCommitManager` is the RewriteFiles
transaction: guard on schema id, remove old files, add new ones pinned
to the *starting* snapshot's sequence number so younger-than-compaction
deletes still apply.
"""

from __future__ import annotations

import dataclasses
import random
import time
from dataclasses import dataclass

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import metadata as md


class CommitFailed(Exception):
    """Non-retryable commit failure (schema changed, files vanished)."""


@dataclass
class RetryConfig:
    """compaction/mod.rs:448-462 defaults: 3 retries, 1s → 10s exp."""

    max_retries: int = 3
    initial_delay_s: float = 1.0
    max_delay_s: float = 10.0

    @staticmethod
    def from_compaction(config: CompactionConfig) -> "RetryConfig":
        return RetryConfig(
            max_retries=config.commit_retries,
            initial_delay_s=config.retry_initial_delay_s,
            max_delay_s=config.retry_max_delay_s,
        )


# Every commit except compaction's: 5 retries, 50 ms → 200 ms, so at
# most 0.75 s of backoff before a lost race surfaces.
COMMIT_RETRY = RetryConfig(max_retries=5, initial_delay_s=0.05, max_delay_s=0.2)


def commit(
    table_root: str,
    update,
    *,
    base: md.TableMetadata | None = None,
    retry: RetryConfig,
    sleep=time.sleep,
) -> md.TableMetadata:
    """Publish ``update(base)`` as the next metadata version.

    ``base`` (e.g. a handle's cached metadata) is used for the first
    attempt; when None, and after every lost CAS, the base is reloaded
    from storage. ``update`` must be pure: it sees a fresh base on each
    attempt and never mutates it. The version number is set here."""
    attempt = 0
    while True:
        if base is None:
            base = md.read_current(table_root)
        meta = dataclasses.replace(update(base), version=base.version + 1)
        try:
            md.write_version(meta)
            return meta
        except md.CommitConflict:
            if attempt >= retry.max_retries:
                raise
            sleep(
                min(retry.initial_delay_s * 2**attempt, retry.max_delay_s)
                * (0.5 + random.random() / 2)
            )
            attempt += 1
            base = None


def with_snapshot(
    base: md.TableMetadata,
    operation: str,
    entries: list[md.ManifestEntry],
    *,
    remove: set[str] = frozenset(),
    entry_sequence_number: int | None = None,
    properties: dict[str, str] | None = None,
    staged: bool = False,
    timestamp_ms: int | None = None,
) -> md.TableMetadata:
    """``base`` plus one snapshot: the current live files minus
    ``remove``, plus copies of ``entries`` stamped with
    ``entry_sequence_number`` (default: the new snapshot's).
    ``properties`` merge into the table's in the same commit. A
    ``staged`` snapshot (write-audit-publish) is recorded but the
    table keeps pointing at its parent. ``timestamp_ms`` defaults to
    now; snapshots built in one commit pass a shared one."""
    seq = base.last_sequence_number + 1
    snapshot_id = base.last_snapshot_id + 1
    stamp = seq if entry_sequence_number is None else entry_sequence_number
    current = base.current_snapshot()
    snap = md.Snapshot(
        snapshot_id=snapshot_id,
        sequence_number=seq,
        timestamp_ms=(
            int(time.time() * 1000) if timestamp_ms is None else timestamp_ms
        ),
        operation=operation,
        entries=[
            e for e in (current.entries if current else [])
            if e.file_path not in remove
        ]
        + [dataclasses.replace(e, sequence_number=stamp) for e in entries],
        parent_snapshot_id=base.current_snapshot_id,
    )
    return dataclasses.replace(
        base,
        properties={**base.properties, **(properties or {})},
        current_snapshot_id=(
            base.current_snapshot_id if staged else snapshot_id
        ),
        last_sequence_number=seq,
        last_snapshot_id=snapshot_id,
        snapshots=base.snapshots + [snap],
    )


class RewriteFilesCommitManager:
    def __init__(
        self,
        table_root: str,
        starting_schema_id: int,
        starting_sequence_number: int,
        use_starting_sequence_number: bool = True,
        retry: RetryConfig | None = None,
        sleep=time.sleep,
    ):
        self.table_root = table_root
        self.starting_schema_id = starting_schema_id
        self.starting_sequence_number = starting_sequence_number
        self.use_starting_sequence_number = use_starting_sequence_number
        self.retry = retry or RetryConfig()
        self._sleep = sleep

    def rewrite_files(
        self,
        add_entries: list[md.ManifestEntry],
        remove_paths: set[str],
        operation: str = "rewrite",
        overwritten_partitions: set[tuple] | None = None,
        set_properties: dict[str, str] | None = None,
    ) -> md.TableMetadata:
        """Commit: current live files − removed + added, as a new
        snapshot. ``operation`` labels the snapshot: "rewrite" (the
        default) means no logical row changed and incremental readers
        skip it; "overwrite" means the removed/added rows ARE the
        change and the changelog reader emits them.

        ``overwritten_partitions`` (sorted partition-item tuples)
        enables Iceberg-style overwrite conflict validation: if at
        commit time a touched partition holds a live data file the
        plan didn't account for (a concurrent append/merge landed
        since the overwrite was planned), the commit FAILS instead of
        silently keeping rows the caller believes replaced — the
        caller must re-plan against the new state."""

        def update(base: md.TableMetadata) -> md.TableMetadata:
            # Schema-id guard: abort if the table schema changed
            # mid-compaction (compaction/mod.rs:532-541).
            if base.schema_id != self.starting_schema_id:
                raise CommitFailed(
                    f"schema changed during compaction: "
                    f"{self.starting_schema_id} -> {base.schema_id}"
                )
            current = base.current_snapshot()
            live = current.entries if current else []
            missing = remove_paths - {e.file_path for e in live}
            if missing:
                raise CommitFailed(
                    f"{len(missing)} input files no longer live "
                    "(concurrent rewrite?)"
                )
            if overwritten_partitions is not None:
                conflicting = [
                    e
                    for e in live
                    if e.content == md.DATA
                    and tuple(sorted(e.partition.items()))
                    in overwritten_partitions
                    and e.file_path not in remove_paths
                ]
                if conflicting:
                    raise CommitFailed(
                        f"{len(conflicting)} data files were committed "
                        "concurrently into partitions this overwrite "
                        "replaces; re-plan the overwrite against the "
                        "current snapshot"
                    )
            # Pin output data files to the starting sequence number so
            # delete files committed *after* compaction started still
            # apply to the rewritten rows (compaction/mod.rs:546-566).
            # set_properties rides the SAME CAS as the file rewrite (a
            # sorted compaction's sort-order claim must land with the
            # sorted files or not at all, r14).
            return with_snapshot(
                base,
                operation,
                add_entries,
                remove=remove_paths,
                entry_sequence_number=(
                    self.starting_sequence_number
                    if self.use_starting_sequence_number
                    else None
                ),
                properties=set_properties,
            )

        return commit(
            self.table_root, update, retry=self.retry, sleep=self._sleep
        )
