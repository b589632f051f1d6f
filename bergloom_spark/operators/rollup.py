"""Incremental rollup maintenance: a materialized aggregate kept in
sync with a LakeTable by consuming snapshot diffs, not rescans.

The lakehouse incremental-view-maintenance pattern (the consumption
side of the reference's roadmap "incremental compaction" read path,
/root/reference/README.md:46-56): a rollup table holds
``keys → (cnt, Σ measure...)``; each ``refresh()``:

1. reads the CDC changelog between the last-processed source snapshot
   and the current one (``LakeTable.snapshot_diff`` — file-pruned, two
   anti joins; the FACT table is scanned only for changed files),
2. aggregates the delta with signed weights (+1 insert / −1 delete) —
   one map-side-combinable shuffle over delta rows only,
3. full-outer merges the delta groups against the current rollup state
   and commits ONLY the touched groups — those whose count or some sum
   changed — with the new source watermark in one
   ``LakeTable.apply_changes`` (equality-delete + append); groups whose
   count reaches zero get only the delete. When no group moved (e.g.
   the source was only compacted) the watermark advances in a
   property-only commit, with no snapshot and no delete file.

Cost per refresh ∝ changed data + touched groups — independent of
fact-table size. Sums stay exact under reordering because measures are
counts and 2-decimal currency/quantity sums (integer-scaled doubles
are exact far beyond these magnitudes), so the incremental result is
bit-equal to a from-scratch aggregation — the property the oracle
checks.
"""

from __future__ import annotations

import json
import operator
import os
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bergloom_spark.lake.statistics import _commit_properties
from bergloom_spark.lake.table import LakeTable


# Rollup-table property: the last source snapshot folded into the state.
WATERMARK_PROP = "bergloom.rollup.source-snapshot-id"


def _load_watermark(rollup: LakeTable, rollup_root: str) -> int | None:
    if WATERMARK_PROP in rollup.meta.properties:
        return int(rollup.meta.properties[WATERMARK_PROP])
    # Rollups created before the property kept a side file.
    path = os.path.join(rollup_root, "_source_watermark.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["source_snapshot_id"]


class IncrementalRollup:
    """Maintain ``keys → cnt + Σ sum_cols`` over a source LakeTable."""

    def __init__(
        self,
        source: LakeTable,
        rollup_root: str,
        keys: Sequence[str],
        sum_cols: Sequence[str],
    ):
        self.source = source
        self.rollup_root = rollup_root
        self.keys = list(keys)
        self.sum_cols = list(sum_cols)

    def _state_schema(self):
        from pyspark.sql import types as T

        src = {f.name: f.dataType for f in self.source.schema.fields}
        fields = [T.StructField(k, src[k]) for k in self.keys]
        fields.append(T.StructField("cnt", T.LongType()))
        fields += [
            T.StructField(f"sum_{c}", T.DoubleType()) for c in self.sum_cols
        ]
        return T.StructType(fields)

    def _rollup_table(self) -> LakeTable:
        if os.path.exists(os.path.join(self.rollup_root, "metadata")):
            return LakeTable.load(self.source.spark, self.rollup_root)
        return LakeTable.create(
            self.source.spark, self.rollup_root, self._state_schema()
        )

    def _delta_agg(self, changelog: DataFrame) -> DataFrame:
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        aggs = [F.sum(sign).alias("cnt_d")] + [
            F.sum(sign * F.col(c)).alias(f"sum_{c}_d") for c in self.sum_cols
        ]
        return changelog.groupBy(*self.keys).agg(*aggs)

    def refresh(self) -> LakeTable:
        """Fold all source changes since the last refresh into the
        rollup; returns the rollup table (read() for the state)."""
        src_snap = self.source.refresh().meta.current_snapshot()
        rollup = self._rollup_table()
        last = _load_watermark(rollup, self.rollup_root)
        if src_snap is None or src_snap.snapshot_id == last:
            return rollup

        if last is None:
            changelog = self.source.read().withColumn(
                "_change_type", F.lit("insert")
            )
        else:
            changelog = self.source.snapshot_diff(last, src_snap.snapshot_id)
        delta = self._delta_agg(changelog)

        state = rollup.read()
        merged = state.join(delta, on=self.keys, how="full_outer").select(
            *[F.col(k) for k in self.keys],
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("cnt_d"), F.lit(0))
            ).alias("cnt"),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0.0))
                    + F.coalesce(F.col(f"sum_{c}_d"), F.lit(0.0))
                ).alias(f"sum_{c}")
                for c in self.sum_cols
            ],
            # A group is touched only if its delta moves it: a source
            # compaction deletes and re-inserts rows, so its groups
            # appear in the delta with every sum at 0.
            reduce(
                operator.or_,
                [F.col("cnt_d") != 0]
                + [F.col(f"sum_{c}_d") != 0 for c in self.sum_cols],
            ).alias("__touched"),
        )
        # Materialize the merge ONCE: apply_changes' delete and data
        # writes would each re-execute the changelog-scan + delta-agg +
        # merge DAG. Rows = touched groups, never fact rows.
        touched = merged.filter(F.col("__touched")).localCheckpoint(
            eager=True
        )
        watermark = {WATERMARK_PROP: str(src_snap.snapshot_id)}
        if touched.isEmpty():
            # Nothing moved: advance the watermark without a snapshot.
            _commit_properties(rollup, watermark)
            return rollup
        # One commit, watermark in the same CAS: an interrupted refresh
        # leaves both old. Touched groups are deleted on the keys and
        # live ones ('U') re-inserted; vanished ones ('D') are not.
        op = F.when(F.col("cnt") > 0, "U").otherwise("D")
        rollup.apply_changes(
            touched.withColumn("__op", op).drop("__touched"),
            self.keys,
            op_col="__op",
            properties_update=watermark,
        )
        return rollup.refresh()
