"""Traced run: spans around each layer's public functions.

The wrappers are installed from the benchmark's own files, as
module/class attribute replacements (the way ``tools/floor_profile.py``
counts py4j round trips); no program file is changed. Every wrapped
call records one :class:`Span` (name, layer, start, end, parent span,
op id). Spans stay in memory and are written out once the run ends.

A layer's self time is its spans' duration minus the part of that
interval covered by child spans; the op's own root span (layer
``driver``) keeps what no layer span covers, reported as
``driver.other_s``. Per op the self times therefore sum to the op's
wall time (``self_times`` is the arithmetic; the tests pin it).
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    return [
        s.end - s.start - covered(
            (max(spans[c].start, s.start), min(spans[c].end, s.end))
            for c in children[i])
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Span recorder plus counters. Spans are recorded while
    ``active``; counters only inside an op (``op`` is not None)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def begin(self, name: str, layer: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def add(self, key: str, value: float) -> None:
        if self.op is not None:
            self.counters[key] += value

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, after=None, on_error=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``after(result, args)`` / ``on_error(exc)`` run once the span
        has closed."""
        orig = getattr(owner, attr)
        name = f"{layer}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            idx = tracer.begin(name, layer)
            try:
                result = orig(*args, **kwargs)
            except Exception as exc:
                tracer.end(idx)
                if on_error is not None:
                    on_error(exc)
                raise
            tracer.end(idx)
            if after is not None:
                after(result, args)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark drives."""
    import py4j.clientserver
    import py4j.java_gateway

    from bergloom_spark.lake import commit, compaction, fileio, skipping
    from bergloom_spark.lake import metadata as md
    from bergloom_spark.lake import table, validator
    from bergloom_spark.lake import writer as wr
    from bergloom_spark.operators import dedup, mor

    add = tracer.add

    # lake.metadata ----------------------------------------------------
    def wrote_version(_, args):
        meta = args[0]
        add("lake.metadata.write_version.bytes", os.path.getsize(
            md.version_path(meta.table_root, meta.version)))
        add("lake.table.commits", 1)
        if tracer.inside("lake.commit.rewrite_files"):
            add("lake.commit.rewrite_files.attempts", 1)

    def conflict(exc):
        if isinstance(exc, md.CommitConflict):
            add("lake.table.commit_conflicts", 1)
            if tracer.inside("lake.commit.rewrite_files"):
                add("lake.commit.rewrite_files.attempts", 1)

    tracer.wrap(md, "write_version", "lake.metadata", wrote_version, conflict)
    tracer.wrap(md, "read_current", "lake.metadata")

    # lake.fileio (the local implementation: table roots are bare paths)
    def read_bytes(result, _):
        add("lake.fileio.read.bytes", len(result))
        if tracer.inside("lake.metadata.read_current"):
            add("lake.metadata.read_current.bytes", len(result))

    for attr in ("read_text", "read_bytes"):
        tracer.wrap(fileio.LocalFileIO, attr, "lake.fileio", read_bytes)
    for attr in ("write_text", "write_bytes"):
        tracer.wrap(fileio.LocalFileIO, attr, "lake.fileio",
                    lambda _, args: add("lake.fileio.write.bytes", len(args[2])))
    for attr in ("list_names", "publish_if_absent", "delete", "exists", "mkdirs"):
        tracer.wrap(fileio.LocalFileIO, attr, "lake.fileio")

    # lake.table -------------------------------------------------------
    for attr in ("upsert", "append", "append_equality_deletes",
                 "append_position_deletes", "delete_where", "read",
                 "scan_data", "rollback_to", "refresh"):
        tracer.wrap(table.LakeTable, attr, "lake.table")

    # lake.writer ------------------------------------------------------
    def wrote_data(entries, _):
        add("lake.writer.write_data_files.files", len(entries))
        add("lake.writer.write_data_files.bytes", sum(e.file_size_bytes for e in entries))

    def wrote_deletes(entries, _):
        add("lake.writer.write_delete_files.files", len(entries))

    tracer.wrap(wr, "write_data_files", "lake.writer", wrote_data)
    for attr in ("write_position_delete_files", "write_equality_delete_files",
                 "write_deletion_vector_files"):
        tracer.wrap(wr, attr, "lake.writer", wrote_deletes)

    # lake.commit / lake.compaction -------------------------------------
    tracer.wrap(commit.RewriteFilesCommitManager, "rewrite_files", "lake.commit")

    def compacted(result, _):
        add("lake.compaction.rewritten_files", result.stat.rewritten_files_count)
        add("lake.compaction.rewritten_bytes", result.stat.rewritten_bytes)
        add("lake.compaction.added_files", result.stat.added_files_count)

    tracer.wrap(compaction.Compaction, "compact", "lake.compaction", compacted)

    # operators.mor / lake.skipping / lake.validator --------------------
    tracer.wrap(mor, "merge_on_read", "operators.mor")

    def pruned(kept, args):
        add("lake.skipping.files_total", len(args[0]))
        add("lake.skipping.files_kept", len(kept))

    tracer.wrap(skipping, "prune_entries", "lake.skipping", pruned)
    tracer.wrap(validator, "fingerprint", "lake.validator")

    # operators.dedup --------------------------------------------------
    for attr in ("fingerprint_dedup_groups", "minhash_verified_pairs",
                 "keep_best_per_cluster"):
        tracer.wrap(dedup, attr, "operators.dedup")

    # py4j round trips (counters, not spans: Spark jobs run inside them)
    for cls in (py4j.clientserver.ClientServerConnection,
                py4j.java_gateway.GatewayConnection):
        if not hasattr(cls, "send_command"):
            continue
        orig = cls.send_command

        def send_command(self, *a, __orig=orig, **k):
            if tracer.op is None:
                return __orig(self, *a, **k)
            t0 = time.perf_counter()
            try:
                return __orig(self, *a, **k)
            finally:
                add("py4j.round_trips", 1)
                add("py4j.s", time.perf_counter() - t0)

        cls.send_command = send_command
        tracer._undo.append((cls, "send_command", orig))


class SparkCapture:
    """Stage and job deltas from Spark's status store around one op
    (``plans.runtime_metrics.StageMetricsCapture`` plus job wall)."""

    def __init__(self, spark) -> None:
        from bergloom_spark.plans.runtime_metrics import StageMetricsCapture

        self._spark = spark
        self._stages = StageMetricsCapture(spark)
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark.sparkContext._jvm

    def _jobs(self):
        it = self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            yield it.next()

    def __enter__(self) -> "SparkCapture":
        self._job_ids = {j.jobId() for j in self._jobs()}
        self._stages.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self._stages.__exit__(*exc)
        spans = []
        for j in self._jobs():
            if j.jobId() in self._job_ids:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        m = self._stages.metrics
        self.metrics = {
            "spark.stages": m["n_stages"],
            "spark.executor_run_s": m["executor_run_time_ms"] / 1000.0,
            "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
            "spark.spill_bytes": m["memory_spill_bytes"] + m["disk_spill_bytes"],
            "spark.input_bytes": m["input_bytes"],
            "spark.output_bytes": m["output_bytes"],
            # jobs can overlap: count the wall time any job was running
            "spark.jobs_wall_s": covered(spans),
        }


# Per-layer metrics (BENCHMARK.json ``per_layer``), name -> unit.
# Every value is a total over the traced ops divided by their count.
SPAN_LAYERS = (
    "lake.metadata", "lake.fileio", "lake.table", "lake.writer",
    "lake.commit", "lake.compaction", "operators.mor", "lake.skipping",
    "operators.dedup",
)
PER_LAYER = {
    "lake.metadata.write_version.calls": "count",
    "lake.metadata.write_version.s": "s",
    "lake.metadata.write_version.bytes": "B",
    "lake.metadata.read_current.calls": "count",
    "lake.metadata.read_current.s": "s",
    "lake.metadata.read_current.bytes": "B",
    "lake.fileio.list_names.calls": "count",
    "lake.fileio.list_names.s": "s",
    "lake.fileio.read.bytes": "B",
    "lake.fileio.write.bytes": "B",
    "lake.table.commits": "count",
    "lake.table.commit_conflicts": "count",
    "lake.table.upsert.s": "s",
    "lake.writer.write_data_files.calls": "count",
    "lake.writer.write_data_files.s": "s",
    "lake.writer.write_data_files.files": "count",
    "lake.writer.write_data_files.bytes": "B",
    "lake.writer.write_delete_files.calls": "count",
    "lake.writer.write_delete_files.s": "s",
    "lake.writer.write_delete_files.files": "count",
    "lake.writer.mean_file_bytes": "B",
    "lake.commit.rewrite_files.s": "s",
    "lake.commit.rewrite_files.attempts": "count",
    "lake.compaction.compact.s": "s",
    "lake.compaction.rewritten_files": "count",
    "lake.compaction.rewritten_bytes": "B",
    "lake.compaction.added_files": "count",
    "operators.mor.merge_on_read.calls": "count",
    "operators.mor.merge_on_read.construct_s": "s",
    "lake.skipping.files_kept": "count",
    "lake.skipping.files_total": "count",
    "lake.skipping.kept_ratio": "ratio",
    "lake.validator.fingerprint.s": "s",
    "operators.dedup.fingerprint_dedup_groups.construct_s": "s",
    "operators.dedup.minhash_verified_pairs.construct_s": "s",
    "operators.dedup.keep_best_per_cluster.construct_s": "s",
    "spark.stages": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.jobs_wall_s": "s",
    "py4j.round_trips": "count",
    "py4j.s": "s",
    "driver.gap_s": "s",
    "driver.other_s": "s",
    **{f"{layer}.self_s": "s" for layer in SPAN_LAYERS},
    "op.wall_s": "s",
    "trace.spans": "count",
    "trace.overhead_pct": "%",
    # not per op: peak RSS of the driver JVM plus Python over the run
    "peak_rss_mb": "MB",
}

_DELETE_WRITERS = {
    "lake.writer.write_position_delete_files",
    "lake.writer.write_equality_delete_files",
    "lake.writer.write_deletion_vector_files",
}


def per_layer(tracer: Tracer, spark_totals: dict[str, float], ops: int,
              overhead_pct: float) -> dict[str, float]:
    """Fold spans and counters into the PER_LAYER metrics (per op)."""
    selfs = self_times(tracer.spans)
    calls: dict[str, int] = defaultdict(int)
    wall: dict[str, float] = defaultdict(float)
    layer_self: dict[str, float] = defaultdict(float)
    for span, own in zip(tracer.spans, selfs):
        # The correctness checks run off the clock, between ops; only
        # the validator's spans count there.
        if span.op is None and span.layer != "lake.validator":
            continue
        name = span.name
        if name in _DELETE_WRITERS:
            name = "lake.writer.write_delete_files"
        calls[name] += 1
        wall[name] += span.end - span.start
        if span.op is not None:
            layer_self[span.layer] += own
    c = tracer.counters
    total = {
        "lake.metadata.write_version.calls": calls["lake.metadata.write_version"],
        "lake.metadata.write_version.s": wall["lake.metadata.write_version"],
        "lake.metadata.write_version.bytes": c["lake.metadata.write_version.bytes"],
        "lake.metadata.read_current.calls": calls["lake.metadata.read_current"],
        "lake.metadata.read_current.s": wall["lake.metadata.read_current"],
        "lake.metadata.read_current.bytes": c["lake.metadata.read_current.bytes"],
        "lake.fileio.list_names.calls": calls["lake.fileio.list_names"],
        "lake.fileio.list_names.s": wall["lake.fileio.list_names"],
        "lake.fileio.read.bytes": c["lake.fileio.read.bytes"],
        "lake.fileio.write.bytes": c["lake.fileio.write.bytes"],
        "lake.table.commits": c["lake.table.commits"],
        "lake.table.commit_conflicts": c["lake.table.commit_conflicts"],
        "lake.table.upsert.s": wall["lake.table.upsert"],
        "lake.writer.write_data_files.calls": calls["lake.writer.write_data_files"],
        "lake.writer.write_data_files.s": wall["lake.writer.write_data_files"],
        "lake.writer.write_data_files.files": c["lake.writer.write_data_files.files"],
        "lake.writer.write_data_files.bytes": c["lake.writer.write_data_files.bytes"],
        "lake.writer.write_delete_files.calls": calls["lake.writer.write_delete_files"],
        "lake.writer.write_delete_files.s": wall["lake.writer.write_delete_files"],
        "lake.writer.write_delete_files.files": c["lake.writer.write_delete_files.files"],
        "lake.commit.rewrite_files.s": wall["lake.commit.rewrite_files"],
        "lake.commit.rewrite_files.attempts": c["lake.commit.rewrite_files.attempts"],
        "lake.compaction.compact.s": wall["lake.compaction.compact"],
        "lake.compaction.rewritten_files": c["lake.compaction.rewritten_files"],
        "lake.compaction.rewritten_bytes": c["lake.compaction.rewritten_bytes"],
        "lake.compaction.added_files": c["lake.compaction.added_files"],
        "operators.mor.merge_on_read.calls": calls["operators.mor.merge_on_read"],
        "operators.mor.merge_on_read.construct_s": wall["operators.mor.merge_on_read"],
        "lake.skipping.files_kept": c["lake.skipping.files_kept"],
        "lake.skipping.files_total": c["lake.skipping.files_total"],
        "lake.validator.fingerprint.s": wall["lake.validator.fingerprint"],
        "py4j.round_trips": c["py4j.round_trips"],
        "py4j.s": c["py4j.s"],
        "driver.other_s": layer_self["driver"],
        "op.wall_s": wall["driver.op"],
        "trace.spans": len(tracer.spans),
        **{f"{layer}.self_s": layer_self[layer] for layer in SPAN_LAYERS},
        **{
            f"operators.dedup.{f}.construct_s": wall[f"operators.dedup.{f}"]
            for f in ("fingerprint_dedup_groups", "minhash_verified_pairs",
                      "keep_best_per_cluster")
        },
        **{k: spark_totals.get(k, 0.0) for k in PER_LAYER if k.startswith("spark.")},
    }
    out = {k: v / max(ops, 1) for k, v in total.items()}
    out["driver.gap_s"] = out["op.wall_s"] - out["spark.jobs_wall_s"]
    files = total["lake.writer.write_data_files.files"]
    out["lake.writer.mean_file_bytes"] = (
        total["lake.writer.write_data_files.bytes"] / files if files else 0.0)
    kept_total = total["lake.skipping.files_total"]
    out["lake.skipping.kept_ratio"] = (
        total["lake.skipping.files_kept"] / kept_total if kept_total else 1.0)
    out["trace.overhead_pct"] = overhead_pct
    return {k: out[k] for k in PER_LAYER if k in out}
