"""The workloads. Each drives the program only through its public
API, in a closed loop with one client: the next op starts when the
previous one (and its off-the-clock check) has finished.

A workload provides ``setup`` (build the tables; timed, repeated),
``step`` (one round of timed ops through ``Ctx.op``), ``final_check``
and ``report`` (its named metrics). ``PRIMARY``/``AUX`` name the
sample kinds behind the ``op_p50_s``/``aux_p50_s`` end-to-end metrics;
``WARM_STEPS`` is how many untimed steps run before the timed loop.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from stats import median, percentile

from bergloom_spark.config import CompactionConfig
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.compaction import Compaction
from bergloom_spark.lake.table import LakeTable
from bergloom_spark.lake.validator import fingerprint
from bergloom_spark.operators import dedup


def noop_count(df: DataFrame) -> int:
    """Write ``df`` to the noop sink; return the rows written (counted
    by an observation riding the same job)."""
    obs = Observation("rows")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return int(obs.get["n"])


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root) for f in files
    )


class Workload:
    PRIMARY = AUX = ""
    WARM_STEPS = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = ctx.seed

    def setup(self, root: str) -> None:
        raise NotImplementedError

    def step(self) -> None:
        raise NotImplementedError

    def final_check(self) -> bool:
        return True

    def report(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
class CdcUpsert(Workload):
    """Small upsert batches on a keyed table; before each full
    compaction (every COMPACT_EVERY batches), READS_PER_CYCLE key-range
    MoR reads through ``read(filters=...)``; every snapshot retained."""

    PRIMARY, AUX = "upsert", "cycle"
    WARM_STEPS = 2  # short steps: the JIT is still warming after one
    N_BASE = 1_000_000
    BATCH_ROWS = 2_000
    COMPACT_EVERY = 5
    READS_PER_CYCLE = 2
    RANGE_SHARE = 100  # each key range spans 1/100 of the base keys
    BASE_FILE_BYTES = 512 * 1024  # many base files: metadata grows with history

    SCHEMA = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("s", T.StringType()),
    ])

    def _base(self) -> DataFrame:
        return self.spark.range(self.N_BASE).select(
            F.col("id").alias("k"),
            F.xxhash64("id", F.lit(self.seed)).alias("v"),
            F.concat(F.lit("b"), (F.col("id") % 1000).cast("string")).alias("s"),
        )

    def setup(self, root: str) -> None:
        self.table = LakeTable.create(self.spark, root, self.SCHEMA)
        self.table.append(self._base(), target_file_size=self.BASE_FILE_BYTES)
        self.stream = gen.CdcStream(self.seed, self.N_BASE, self.BATCH_ROWS)
        self.latest: dict[int, tuple[int, str]] = {}  # key -> (v, s)
        self.rows = 0
        self.ranges = gen.key_ranges(self.seed, self.N_BASE, self.N_BASE // self.RANGE_SHARE, 64)
        self.next_range = 0

    def step(self) -> None:
        cycle_s = 0.0
        for _ in range(self.COMPACT_EVERY):
            keys, values = self.stream.next_batch()
            tag = f"u{self.stream.batches}"
            batch = self.spark.createDataFrame(
                pd.DataFrame({"k": keys, "v": values})
            ).withColumn("s", F.lit(tag))
            dt = self.ctx.op("upsert", lambda: self.table.upsert(batch, ["k"]))
            if dt is None:
                return
            cycle_s += dt
            self.rows += len(keys)
            self.latest.update(zip(keys.tolist(), zip(values.tolist(), [tag] * len(keys))))
        for _ in range(self.READS_PER_CYCLE):
            lo, hi = self.ranges[self.next_range % len(self.ranges)]
            self.next_range += 1
            # Upserts never delete a key, so every base key stays visible.
            dt = self.ctx.op(
                "scan_selective",
                lambda: noop_count(self.table.read(filters=[("k", ">=", lo), ("k", "<", hi)])),
                lambda rows: rows == hi - lo,
            )
            if dt is None:
                return
            cycle_s += dt
        dt = self.ctx.op("compact", lambda: Compaction(self.table).compact())
        if dt is not None:
            self.ctx.record("cycle", (cycle_s + dt) / self.COMPACT_EVERY)

    def final_check(self) -> bool:
        """Visible rows == last-writer-wins state of base + batches."""
        latest = pd.DataFrame(
            [(k, v, s) for k, (v, s) in self.latest.items()], columns=["k", "v", "s"])
        override = self.spark.createDataFrame(latest, self.SCHEMA)
        expected = self._base().join(override.select("k"), "k", "left_anti").unionByName(override)
        return fingerprint(self.table.read()) == fingerprint(expected)

    def report(self) -> dict:
        s = self.ctx.samples
        busy = sum(s["upsert"]) + sum(s["compact"])
        snap = self.table.refresh().meta.current_snapshot()
        live = sum(e.file_size_bytes for e in snap.files(md.DATA))
        return {
            "upsert_p50_s": (median(s["upsert"]), "s"),
            "upsert_p90_s": (percentile(s["upsert"], 90), "s"),
            "upsert_samples": (len(s["upsert"]), "count"),
            "cdc_rows_per_s": (self.rows / busy if busy else None, "1/s"),
            "compact_ticks": (len(s["compact"]), "count"),
            "scan_selective_p50_s": (median(s["scan_selective"]), "s"),
            "scan_selective_samples": (len(s["scan_selective"]), "count"),
            "bytes_per_live_byte": (dir_bytes(self.table.meta.table_root) / live, "ratio"),
            "snapshots": (len(self.table.meta.snapshots), "count"),
        }


# ---------------------------------------------------------------------------
class CompactDebt(Workload):
    """A debt-laden table: N_ROWS rows written as APPENDS small appends
    (each a contiguous key range, so file stats can prune), then two
    positional deletes and equality deletes under two equality-id
    schemas (``k`` and ``g``).

    Per step: SELECTIVE key-range MoR reads of the debt snapshot through
    ``read(filters=...)``, a full ``Compaction.compact()`` with the
    default config, a full scan of the compacted table, then
    ``rollback_to`` the debt snapshot for the next step."""

    PRIMARY, AUX = "compact", "compacted_scan"
    N_ROWS = 500_000
    APPENDS = 6
    FILE_BYTES = 1024 * 1024
    SELECTIVE_PER_STEP = 2
    SCANS_PER_STEP = 3  # a short op: more samples per step
    RANGE_SHARE = 100  # each key range spans 1/100 of the key space

    SCHEMA = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("g", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("s", T.StringType()),
    ])

    def setup(self, root: str) -> None:
        n = self.N_ROWS
        plan = gen.debt_plan(self.seed, n, self.APPENDS)
        table = LakeTable.create(self.spark, root, self.SCHEMA)
        a = plan.appends
        for i in range(a):
            k = F.col("id")
            table.append(self.spark.range(i * n // a, (i + 1) * n // a).select(
                k.alias("k"),
                ((k * gen.GROUP_MUL + self.seed) % gen.GROUPS).alias("g"),
                F.xxhash64(k, F.lit(self.seed)).alias("v"),
                F.concat(F.lit("p"), (k % 100_000).cast("string")).alias("s"),
            ), target_file_size=self.FILE_BYTES)
        for m, r in plan.pos_deletes:
            table.delete_where(F.col("k") % m == r)
        table.append_equality_deletes(
            self.spark.createDataFrame(pd.DataFrame({"k": plan.eq_keys})), ["k"])
        table.append_equality_deletes(
            self.spark.createDataFrame(pd.DataFrame({"g": plan.eq_groups.astype(np.int64)})),
            ["g"])
        self.table = table
        self.debt_snapshot = table.meta.current_snapshot_id
        self.visible = plan.visible_keys()
        self.ranges = gen.key_ranges(self.seed, n, n // self.RANGE_SHARE, 64)
        self.next_range = 0
        self.reference = None  # MoR fingerprint of the debt snapshot

    def step(self) -> None:
        if self.reference is None:  # once, off the clock
            self.reference = fingerprint(self.table.read())
        for _ in range(self.SELECTIVE_PER_STEP):
            lo, hi = self.ranges[self.next_range % len(self.ranges)]
            self.next_range += 1
            self.ctx.op(
                "scan_selective",
                lambda: len(self.table.read(filters=[("k", ">=", lo), ("k", "<", hi)]).collect()),
                lambda rows: rows == gen.count_in_range(self.visible, lo, hi),
            )

        def compacted() -> bool:
            live = self.table.refresh().meta.current_snapshot().entries
            return (self.reference.rows == len(self.visible)
                    and all(e.content == md.DATA for e in live)
                    and fingerprint(self.table.read()) == self.reference)

        cfg = CompactionConfig()
        if self.ctx.op("compact", lambda: Compaction(self.table, cfg).compact(),
                       lambda _: compacted()) is not None:
            for _ in range(self.SCANS_PER_STEP):
                self.ctx.op("compacted_scan", lambda: noop_count(self.table.read()),
                            lambda rows: rows == len(self.visible))
        self.table.rollback_to(self.debt_snapshot)

    def report(self) -> dict:
        s = self.ctx.samples
        return {
            "compact_p50_s": (median(s["compact"]), "s"),
            "compact_input_rows": (len(self.visible), "count"),
            "compact_samples": (len(s["compact"]), "count"),
            "compacted_scan_s": (median(s["compacted_scan"]), "s"),
            "scan_selective_p50_s": (median(s["scan_selective"]), "s"),
            "scan_selective_p90_s": (percentile(s["scan_selective"], 90), "s"),
            "scan_selective_samples": (len(s["scan_selective"]), "count"),
        }


# ---------------------------------------------------------------------------
class DedupCorpus(Workload):
    """Exact dedup, MinHash near-dup pairs and keep-best over a seeded
    corpus decorrelated COPIES times (``tools/make_sf1.py``'s cipher)."""

    PRIMARY, AUX = "dedup", "exact"
    FAMILIES = 500
    COPIES = 4
    EXACT_PER_STEP = 6  # a short op: more samples per step

    def setup(self, root: str) -> None:
        c = gen.corpus(self.seed, self.FAMILIES, self.COPIES)
        path = os.path.join(root, "documents.parquet")
        self.spark.createDataFrame(pd.DataFrame({
            "doc_id": c.doc_ids, "text": c.texts, "n_chars": c.n_chars,
        })).write.parquet(path)
        self.docs = self.spark.read.parquet(path)
        self.corpus = c

    def _pipeline(self):
        groups = dedup.fingerprint_dedup_groups(self.docs, "text", "doc_id")
        exact_kept = self.docs.join(
            groups.select(F.col("keeper_id").alias("doc_id")), "doc_id", "left_semi")
        # 8 bands of 2 rows: an in-family pair (Jaccard >= 0.96) shares
        # no band with odds (1 - 0.96**2)**8 < 2e-9, so the LSH finds
        # every reference pair. With the default 4 bands (odds ~4e-5 a
        # pair) some seeds lose a pair and fail the check.
        pairs = dedup.minhash_verified_pairs(
            exact_kept, "text", "doc_id", threshold=0.5, k=16, bands=8)
        kept = dedup.keep_best_per_cluster(
            exact_kept.select("doc_id", F.col("n_chars").alias("score")), pairs, "score")
        return kept, pairs

    def step(self) -> None:
        c = self.corpus
        for _ in range(self.EXACT_PER_STEP):
            self.ctx.op(
                "exact",
                lambda: dedup.fingerprint_dedup_groups(self.docs, "text", "doc_id").count(),
                lambda groups: groups == c.distinct_texts,
            )
        box = {}

        def run() -> int:
            box["kept"], box["pairs"] = self._pipeline()
            return box["kept"].count()

        self.ctx.op("dedup", run, lambda kept: kept == c.clusters
                    and box["pairs"].count() == c.near_pairs)

    def report(self) -> dict:
        s = self.ctx.samples
        return {
            "dedup_p50_s": (median(s["dedup"]), "s"),
            "dedup_docs": (len(self.corpus.doc_ids), "count"),
            "dedup_samples": (len(s["dedup"]), "count"),
            "exact_p50_s": (median(s["exact"]), "s"),
        }


WORKLOADS = {
    "cdc_upsert": CdcUpsert,
    "compact_debt": CompactDebt,
    "dedup_corpus": DedupCorpus,
}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path
