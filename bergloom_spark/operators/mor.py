"""Merge-on-read delete application — the reference's one real query.

The reference generates a SQL string that stacks ``RIGHT ANTI JOIN``s to
subtract positional- and equality-delete rows from data rows
(``core/src/executor/datafusion/datafusion_processor.rs:280-398``).
Here the same semantics are declared with the DataFrame API so Catalyst
picks the physical strategy (broadcast-hash anti join for the common
small-delete-set case, sort-merge with spill for huge ones — both free).

Operator map (SURVEY.md §2.3):

- J1 ``apply_position_deletes`` — anti join on
  ``(file_path, pos)``; reference ``datafusion_processor.rs:315-345``.
- J2 ``apply_equality_deletes`` — one anti join per equality-id
  schema with the ``data.seq < delete.seq`` visibility residual;
  reference ``datafusion_processor.rs:347-386`` (residual ``:366-369``).
- J3 ``group_equality_deletes`` — group per-file delete frames by
  identical ``equality_ids`` so each group gets one join; reference
  ``datafusion_processor.rs:481-504``. Lake tables group at planning
  time instead: ``LakeTable._eq_delete_groups`` reads each
  equality-id set's files with one scan.
- P4/P5 hidden columns — ``sys_hidden_file_path`` / ``sys_hidden_pos``
  come from Spark's ``_metadata`` struct (exact Iceberg ``_file`` /
  ``_pos`` semantics) and ``sys_hidden_seq_num`` from the manifest, all
  attached by ``LakeTable._scan_file_group`` / ``_with_seq_nums`` for
  data and equality-delete files alike (reference
  ``iceberg_file_task_scan.rs:356-406``).

Scale notes (100 TB design):

- The delete side of each anti join is pre-reduced (distinct for
  positional, per-key max-sequence-number for equality) — a map-side
  combinable aggregation that shrinks the build side before the join.
- Delete sets are usually tiny relative to data; ``hint("broadcast")``
  is applied when requested (default: let AQE decide from runtime
  stats, which also handles the rare giant-delete-set case by falling
  back to a shuffled join with spill).
- Everything is built-in JVM expressions — no Python in the row path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hidden MoR bookkeeping columns (datafusion_processor.rs:42-45).
SYS_HIDDEN_SEQ_NUM = "sys_hidden_seq_num"
SYS_HIDDEN_FILE_PATH = "sys_hidden_file_path"
SYS_HIDDEN_POS = "sys_hidden_pos"

HIDDEN_COLS = (SYS_HIDDEN_SEQ_NUM, SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS)


@dataclass
class EqualityDeleteGroup:
    """Equality-delete rows sharing one ``equality_ids`` schema.

    ``frame`` must contain the key columns plus ``sys_hidden_seq_num``
    (the delete file's data sequence number).
    """

    frame: DataFrame
    equality_ids: tuple[str, ...]


def _maybe_broadcast(df: DataFrame, broadcast: bool) -> DataFrame:
    return F.broadcast(df) if broadcast else df


def apply_position_deletes(
    data: DataFrame,
    pos_deletes: DataFrame | None,
    file_col: str = SYS_HIDDEN_FILE_PATH,
    pos_col: str = SYS_HIDDEN_POS,
    delete_file_col: str = "file_path",
    delete_pos_col: str = "pos",
    broadcast_deletes: bool = False,
) -> DataFrame:
    """J1: drop data rows whose ``(file_path, pos)`` is positionally deleted.

    Reference SQL shape (datafusion_processor.rs:315-345)::

        SELECT ... FROM pos_deletes RIGHT ANTI JOIN data d
        ON d.sys_hidden_file_path = p.file_path
           AND d.sys_hidden_pos = p.pos

    expressed as the equivalent Spark ``left_anti`` with data on the left.
    """
    if pos_deletes is None:
        return data
    deletes = (
        pos_deletes.select(
            F.col(delete_file_col).alias("__del_file"),
            F.col(delete_pos_col).cast("long").alias("__del_pos"),
        )
        # One hit is enough to delete a row; distinct shrinks the build
        # side (map-side combinable) before the join.
        .distinct()
    )
    cond = (F.col(file_col) == F.col("__del_file")) & (
        F.col(pos_col) == F.col("__del_pos")
    )
    return data.join(_maybe_broadcast(deletes, broadcast_deletes), cond, "left_anti")


def apply_equality_deletes(
    data: DataFrame,
    groups: Sequence[EqualityDeleteGroup],
    seq_col: str = SYS_HIDDEN_SEQ_NUM,
    broadcast_deletes: bool = False,
) -> DataFrame:
    """J2: chained anti joins, one per equality-id schema.

    A data row is removed iff some delete row matches on every
    ``equality_ids`` column AND the data row's sequence number is
    strictly lower than the delete's (only rows written *before* the
    delete are affected — datafusion_processor.rs:366-369).

    ``EXISTS (eq key match AND data.seq < del.seq)`` is equivalent to
    ``data.seq < max(del.seq) per key``, so the delete side is
    pre-aggregated to one row per key — smaller build side, same
    semantics, and the aggregation gets a map-side partial for free.
    """
    out = data
    for i, group in enumerate(groups):
        keys = list(group.equality_ids)
        agg = (
            group.frame.groupBy(*[F.col(k).alias(f"__eq{i}_{k}") for k in keys])
            .agg(F.max(seq_col).alias(f"__eq{i}_seq"))
        )
        cond = F.lit(True)
        for k in keys:
            # NULL-SAFE equality (Iceberg's equality-delete contract:
            # a null delete value matches null data values). A plain
            # == would silently never delete null-key rows — the
            # changelog read path and the continuous-aggregate
            # maintenance both rely on null groups being shadowable
            # (review r5).
            cond = cond & F.col(k).eqNullSafe(F.col(f"__eq{i}_{k}"))
        cond = cond & (F.col(seq_col) < F.col(f"__eq{i}_seq"))
        out = out.join(_maybe_broadcast(agg, broadcast_deletes), cond, "left_anti")
    return out


def group_equality_deletes(
    entries: Sequence[tuple[DataFrame, Sequence[str], int]],
) -> list[EqualityDeleteGroup]:
    """J3: bucket delete frames by identical ``equality_ids``.

    ``entries`` is ``(frame, equality_ids, sequence_number)`` per delete
    file; frames sharing a key schema are unioned into one group so the
    cascade gets exactly one join per schema (reference groups
    consecutive files at ``datafusion_processor.rs:481-504``; grouping
    all files per schema is a strict improvement with identical
    semantics since the joins are independent).
    """
    by_ids: dict[tuple[str, ...], list[tuple[DataFrame, int]]] = {}
    order: list[tuple[str, ...]] = []
    for frame, equality_ids, seq in entries:
        key = tuple(equality_ids)
        if key not in by_ids:
            by_ids[key] = []
            order.append(key)
        by_ids[key].append((frame, seq))
    groups = []
    for key in order:
        frames = [
            frame.select(*key).withColumn(SYS_HIDDEN_SEQ_NUM, F.lit(seq).cast("long"))
            for frame, seq in by_ids[key]
        ]
        merged = frames[0]
        for extra in frames[1:]:
            merged = merged.unionByName(extra)
        groups.append(EqualityDeleteGroup(frame=merged, equality_ids=key))
    return groups


def merge_on_read(
    data: DataFrame,
    pos_deletes: DataFrame | None = None,
    eq_delete_groups: Sequence[EqualityDeleteGroup] = (),
    user_columns: Sequence[str] | None = None,
    broadcast_deletes: bool = False,
) -> DataFrame:
    """The full MoR SELECT: data minus positional minus equality deletes.

    Mirrors the generated-SQL stack (``datafusion_processor.rs:280-398``):
    inner projections carry the hidden columns, the outermost projection
    strips them back to the user schema.
    """
    out = apply_position_deletes(data, pos_deletes, broadcast_deletes=broadcast_deletes)
    out = apply_equality_deletes(out, eq_delete_groups, broadcast_deletes=broadcast_deletes)
    if user_columns is None:
        user_columns = [c for c in out.columns if c not in HIDDEN_COLS]
    return out.select(*user_columns)
