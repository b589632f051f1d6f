"""Size-rolled, partition-fanned-out Parquet writing.

Reference: ``RollingIcebergWriter`` (byte-threshold rolling,
``rolling_iceberg_writer.rs:26-132``) and ``FanoutPartitionWriter``
selection for partitioned tables (``executor/datafusion/mod.rs:157-169``).

Spark's writer is distributed, so rolling is expressed as *planning*:
pick the output file count from the input byte size and target file
size, repartition to that count (hash on partition columns when
fanning out so each task writes few files), and let executors write in
parallel. ``spark.sql.files.maxRecordsPerFile`` is the hard guard.
The reference's exact threshold function is kept (and unit-tested) as
:func:`need_build_new_file` for parity, and used by
:func:`plan_output_files` to simulate packing.

Driver-resident rows skip Spark's writer. When a write's optimized
plan is a ``LocalRelation`` (a ``createDataFrame`` of pandas or Arrow
data: a CDC or micro-batch sink's typical input) its rows already live
on the driver, and shipping them to executors only to write them back
to local disk costs a parquet job per file set. :func:`driver_rows`
turns such a frame's rows into Arrow once, in the driver JVM with no
Spark job, and :func:`write_data_files` (on unpartitioned tables; Hive
directory escaping stays Spark's) and
:func:`write_equality_delete_files` write it with ``pyarrow.parquet``
into the same directories, through the same footer harvest, with the
same file-count rule applied as row slices. For a frame the rule is a
property of the input, not a size knob: a local relation is in driver
memory whatever its size, and anything else (scans, joins,
``spark.range``) is in no driver memory at all. The one caller that
builds driver rows itself is compaction: a rewrite Spark would write
as one task, and whose rows fit under a byte cap once decoded, merges
its deletes with pyarrow on the driver and hands
:func:`write_data_files` a :class:`DriverRows`
(``lake/compaction._local_rows``).
"""

from __future__ import annotations

import dataclasses
import glob
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bergloom_spark.config import (
    ROLL_HARD_FRACTION,
    ROLL_MIN_FRACTION,
    ROLL_SOFT_FRACTION,
)
from bergloom_spark.lake.fileio import io_for, strip_local_scheme
from bergloom_spark.lake.metadata import POS_DELETE, ManifestEntry
from bergloom_spark.lake.skipping import (
    footer_column_counts,
    footer_column_stats,
)


def need_build_new_file(written: int, incoming: int, target: int) -> bool:
    """The reference's rolling heuristic (rolling_iceberg_writer.rs:75-95).

    Roll only if ≥10% of target already written AND
    (written+incoming > 150% of target, OR written+incoming > target
    AND written > 70% of target).
    """
    if written < target * ROLL_MIN_FRACTION:
        return False
    total = written + incoming
    if total > target * ROLL_HARD_FRACTION:
        return True
    return total > target and written > target * ROLL_SOFT_FRACTION


def plan_output_files(input_sizes: list[int], target: int) -> int:
    """Simulate the rolling writer over a byte stream → output file count."""
    files = 1
    written = 0
    for size in input_sizes:
        if need_build_new_file(written, size, target):
            files += 1
            written = 0
        written += size
    return files


def estimate_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (no job triggered)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def parquet_bytes_estimate(df: DataFrame) -> int | None:
    """Estimated on-disk parquet bytes of ``df``, or None when stats
    are unknown.

    This runs Catalyst's optimizer over the plan (~0.4 s for a complex
    MoR plan) purely for its sizeInBytes — callers that already KNOW
    the input's physical size (compaction: sum of manifest
    ``file_size_bytes``) should pass that instead via
    ``parquet_bytes_hint`` and skip this pass entirely.
    """
    est = max(1, estimate_bytes(df))
    if est >= 1 << 50:
        # Catalyst reports ~Long.MaxValue when stats are unknown (e.g.
        # RDD-backed inputs).
        return None
    return est // _PARQUET_RATIO


# Parquet compresses an in-memory size substantially; 3× is a
# conservative ratio so we don't under-fill target-size files.
_PARQUET_RATIO = 3


def derive_n_files(
    df: DataFrame,
    target_file_size: int,
    parquet_bytes: int | None = None,
) -> int:
    """Output-file count from a byte estimate and the target size.

    Shared by the round-robin and sort-clustered writers so both apply
    the same unknown-stats fallback and the same 2^20 cap (a huge
    estimate with a small target must not request millions of shuffle
    partitions — repartitionByRange's boundary sampling scales with the
    partition count).
    """
    if parquet_bytes is None:
        parquet_bytes = parquet_bytes_estimate(df)
    if parquet_bytes is None:
        # Unknown stats: fall back to the plan's partitioning.
        return max(1, min(df.rdd.getNumPartitions(), 64))
    n_files = max(1, (parquet_bytes + target_file_size - 1) // target_file_size)
    return int(min(n_files, 1 << 20))


def parallelism_floor(
    parquet_bytes: int | None, target_file_size: int, parallelism: int
) -> int:
    """Fewest tasks :func:`write_data_files` writes an unpartitioned
    frame with: one per ``target_file_size / 8`` of input, up to the
    cluster's ``parallelism`` (see the comment at its use)."""
    min_file = max(1, target_file_size // 8)
    by_min_size = max(1, (parquet_bytes or 0) // min_file)
    return min(parallelism, by_min_size)


def _collect_parquet_entries(
    out_dir: str,
    content: str,
    sequence_number: int,
    equality_ids: list[str] | None = None,
    partition_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> list[ManifestEntry]:
    """Enumerate files Spark just wrote; record counts from parquet
    footers. ``bloom_cols`` additionally re-reads those columns (one
    column-chunk read per file, local to the just-written bytes) to
    build per-file equality Bloom filters — opt-in via the
    "write.bloom-filter-columns" table property because it is the one
    harvest that costs more than the already-open footer."""
    import pyarrow.parquet as pq

    # A file://-scheme table root reaches here intact (Spark wrote
    # through it); the glob/pyarrow harvest operates on the mounted
    # local path, and manifest entries record plain absolute paths.
    out_dir = strip_local_scheme(out_dir)
    entries = []
    pattern = os.path.join(out_dir, "**", "*.parquet")
    for path in sorted(glob.glob(pattern, recursive=True)):
        meta = pq.read_metadata(path)
        if meta.num_rows == 0:
            # A repartition wider than the data leaves empty part
            # files; registering them would pollute the manifest (and
            # every scan's file list) forever.
            os.unlink(path)
            continue
        partition: dict[str, str] = {}
        if partition_cols:
            from urllib.parse import unquote

            rel = os.path.relpath(path, out_dir)
            for part in rel.split(os.sep)[:-1]:
                if "=" in part:
                    key, value = part.split("=", 1)
                    # Hive escapes special chars in dir names (':' in
                    # timestamps → %3A); store the real value so the
                    # scan-side cast back to the column type works.
                    value = unquote(value)
                    partition[key] = (
                        None if value == "__HIVE_DEFAULT_PARTITION__" else value
                    )
        column_blooms: dict[str, str] = {}
        if bloom_cols:
            from bergloom_spark.lake.skipping import build_bloom

            present = [
                c
                for c in bloom_cols
                if c in meta.schema.to_arrow_schema().names
            ]
            if present:
                tbl = pq.read_table(path, columns=present)
                for c in present:
                    bloom = build_bloom(tbl.column(c).to_pylist())
                    if bloom is not None:
                        column_blooms[c] = bloom
        # Footer already in hand — min/max + count harvests are free.
        value_counts, null_counts = footer_column_counts(meta)
        entries.append(
            ManifestEntry(
                content=content,
                file_path=os.path.abspath(path),
                record_count=meta.num_rows,
                file_size_bytes=os.path.getsize(path),
                sequence_number=sequence_number,
                equality_ids=list(equality_ids or []),
                partition=partition,
                column_stats=footer_column_stats(meta),
                column_blooms=column_blooms,
                column_value_counts=value_counts,
                column_null_counts=null_counts,
            )
        )
    return entries


@dataclasses.dataclass(frozen=True)
class DriverRows:
    """A write's rows collected on the driver as one Arrow table, with
    the pyarrow options that encode its timestamps as the session's
    Spark writer would."""

    table: "pa.Table"  # noqa: F821 (pyarrow is imported lazily)
    options: dict

    def select(self, *cols: str) -> DriverRows:
        return DriverRows(self.table.select(list(cols)), self.options)


# Leaf types whose pyarrow parquet encoding Spark reads back as the
# same type (nested arrays, maps and structs of them included).
_DRIVER_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _leaf_types(dt: T.DataType):
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            yield from _leaf_types(f.dataType)
    elif isinstance(dt, T.ArrayType):
        yield from _leaf_types(dt.elementType)
    elif isinstance(dt, T.MapType):
        yield from _leaf_types(dt.keyType)
        yield from _leaf_types(dt.valueType)
    else:
        yield dt


def parquet_options(schema: T.StructType, spark) -> dict | None:
    """pyarrow options that encode ``schema``'s columns as ``spark``'s
    parquet writer would, or None when pyarrow cannot. Spark writes
    ``timestamp`` per ``spark.sql.parquet.outputTimestampType`` (INT96
    by default, with no footer stats) but ``timestamp_ntz`` always as
    INT64 micros, while pyarrow's INT96 and millisecond switches cover
    both types at once."""
    kinds = {type(t) for t in _leaf_types(schema)}
    if not all(issubclass(k, _DRIVER_TYPES) for k in kinds):
        return None
    if T.TimestampType not in kinds:
        return {}
    out = spark.conf.get("spark.sql.parquet.outputTimestampType")
    if out == "TIMESTAMP_MICROS":
        return {}
    if T.TimestampNTZType in kinds:
        return None
    if out == "INT96":
        return {"use_deprecated_int96_timestamps": True}
    return {"coerce_timestamps": "ms", "allow_truncated_timestamps": True}


def driver_rows(df: DataFrame | DriverRows) -> DriverRows | None:
    """``df``'s rows as one Arrow table when its optimized plan is a
    ``LocalRelation`` (module docstring), else None. A caller writing
    the same rows twice (an upsert's data and delete keys) converts
    once and passes the result instead of the frame.

    The relation's rows are already in the driver JVM, so they become
    Arrow there, as Spark Connect serves a ``LocalTableScanExec``:
    ``ArrowConverters$.MODULE$.toBatchWithSchemaIterator`` encodes them
    in batches of the session's ``maxRecordsPerBatch`` and
    ``PythonRDD.serveIterator`` streams the batches over one
    authenticated local socket. No Spark job, SQL execution or
    physical planning runs (pyspark's ``toArrow`` runs a collect job
    even over a local scan), and no row is pickled. Both are JVM
    internals of the pinned pyspark; ``tests/test_driver_writes.py``
    pins them by name. The table is cast to the schema ``toArrow``
    casts to."""
    if isinstance(df, DriverRows):
        return df
    qe = df._jdf.queryExecution()
    # Only a plan whose one leaf is a local relation can optimize to
    # one; checking the analyzed leaves first keeps the optimizer pass
    # (~0.4 s on a MoR tree) off writes of scans and joins.
    leaves = qe.analyzed().collectLeaves()
    if leaves.size() != 1 or leaves.head().nodeName() != "LocalRelation":
        return None
    plan = qe.optimizedPlan()
    if plan.nodeName() != "LocalRelation":
        return None
    options = parquet_options(df.schema, df.sparkSession)
    if options is None:
        return None
    return DriverRows(_local_relation_arrow(df, plan), options)


def _local_relation_arrow(df: DataFrame, plan) -> "pa.Table":  # noqa: F821
    """Serve a ``LocalRelation``'s rows from the driver JVM as Arrow IPC
    streams (one per batch, each carrying its schema) and read them
    back with pyarrow (:func:`driver_rows`)."""
    import pyarrow as pa
    from pyspark.serializers import NoOpSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _load_from_socket

    jvm = df.sparkSession._jvm
    jconf = df.sparkSession._jconf
    large = jconf.arrowUseLargeVarTypes()
    schema = to_arrow_schema(
        df.schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=large,
    )
    # Fully qualified names resolve in one py4j round trip; walking
    # ``jvm.org.apache...`` costs one per package (~2 ms a class).
    converters = getattr(
        jvm, "org.apache.spark.sql.execution.arrow.ArrowConverters$"
    )
    streams = getattr(converters, "MODULE$").toBatchWithSchemaIterator(
        plan.data().iterator(), plan.schema(),
        jconf.arrowMaxRecordsPerBatch(), jconf.arrowMaxBytesPerBatch(),
        jconf.sessionLocalTimeZone(),
        True,  # errorOnDuplicatedFieldNames, as toArrow's schema check
        large,
    )
    python_rdd = getattr(jvm, "org.apache.spark.api.python.PythonRDD")
    port, secret, server = python_rdd.serveIterator(
        streams, "serve-local-relation-arrow"
    )
    try:
        batches = [
            batch
            for stream in _load_from_socket((port, secret), NoOpSerializer())
            for batch in pa.ipc.open_stream(stream)
        ]
    finally:
        # Joins the serving thread; re-raises a JVM-side failure that
        # would otherwise read as a short stream.
        server.getResult()
    if not batches:
        return schema.empty_table()
    return pa.Table.from_batches(batches).cast(schema)


def _write_driver_files(
    rows: DriverRows,
    out_dir: str,
    n_files: int,
    compression: str,
    content: str,
    sequence_number: int,
    **harvest,
) -> list[ManifestEntry]:
    """Write ``rows`` with pyarrow as ``n_files`` contiguous row slices
    (zero rows write no file) and harvest them as Spark's output is.
    Each file carries a page index, as parquet-mr writes one, so a
    key-range read can skip pages inside a large rewritten file. Pages
    are 128 KiB, not pyarrow's 1 MiB: parquet-mr caps a page at 20,000
    rows, and on a 1M-row compacted file a 1% key-range scan of 128 KiB
    pages took as long as one of Spark's file (0.071 s median over 15
    ranges, 3 cores), where 1 MiB pages took 0.082 s."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = rows.table
    if tbl.num_rows:
        local = strip_local_scheme(out_dir)
        os.makedirs(local)
        step = -(-tbl.num_rows // n_files)
        for i, start in enumerate(range(0, tbl.num_rows, step)):
            pq.write_table(
                tbl.slice(start, step),
                os.path.join(local, f"part-{i:05d}.parquet"),
                compression=compression,
                write_page_index=True,
                data_page_size=128 << 10,
                **rows.options,
            )
    entries = _collect_parquet_entries(out_dir, content, sequence_number, **harvest)
    # pyarrow leaves NaN out of float min/max, but Spark's filters
    # match NaN above +inf, so such a range could prune a matching
    # file: a float column holding NaN carries no range, as in Spark's
    # own files (footer_column_stats).
    nan_cols = [
        f.name
        for f in tbl.schema
        if pa.types.is_floating(f.type)
        and pc.any(pc.is_nan(tbl.column(f.name))).as_py()
    ]
    for e in entries:
        for c in nan_cols:
            e.column_stats.pop(c, None)
    return entries


def write_data_files(
    df: DataFrame | DriverRows,
    table_root: str,
    sequence_number: int,
    target_file_size: int,
    partition_spec: list[str] | None = None,
    compression: str = "snappy",
    parquet_bytes_hint: int | None = None,
    bloom_cols: list[str] | None = None,
) -> list[ManifestEntry]:
    """Write ``df`` as size-targeted parquet data files; return manifest entries.

    Unpartitioned: repartition to ``ceil(bytes/target)`` round-robin.
    Partitioned (fanout, S8): hash-repartition on the partition columns
    so rows for one partition co-locate — each task then writes one
    file per partition value it owns instead of one per (task,
    partition) pair, which at 1000 executors is the difference between
    `n_partitions` files and `n_tasks × n_partitions` small files.

    Unpartitioned rows already on the driver (:func:`driver_rows`, or
    a :class:`DriverRows` a caller built) are written by pyarrow: no
    Spark job. ``parquet_bytes_hint``, when given, sizes them too.
    """
    out_dir = os.path.join(
        table_root, "data", f"seq{sequence_number}-{uuid.uuid4().hex[:12]}"
    )
    rows = None if partition_spec else driver_rows(df)
    if rows is not None:
        n_files = derive_n_files(
            df, target_file_size,
            parquet_bytes=(
                parquet_bytes_hint
                if parquet_bytes_hint is not None
                else rows.table.nbytes // _PARQUET_RATIO
            ),
        )
        return _write_driver_files(
            rows, out_dir, n_files, compression, "data", sequence_number,
            bloom_cols=bloom_cols,
        )
    # One stats pass, shared by the file-count and parallelism-floor
    # decisions below (estimate_bytes re-optimizes the whole plan — it
    # must not run twice, and not at all when the caller knows the
    # physical input size from manifests).
    pq_bytes = (
        parquet_bytes_hint
        if parquet_bytes_hint is not None
        else parquet_bytes_estimate(df)
    )
    n_files = derive_n_files(df, target_file_size, parquet_bytes=pq_bytes)
    writer = df
    if partition_spec:
        writer = df.repartition(n_files, *[F.col(c) for c in partition_spec])
        (
            writer.write.mode("error")
            .option("compression", compression)
            .partitionBy(*partition_spec)
            .parquet(out_dir)
        )
    else:
        # coalesce, NOT repartition: merge-only, no shuffle — the Spark
        # analog of the reference's rolling writer, which also never
        # redistributes rows (each scan task rolls its own output,
        # rolling_iceberg_writer.rs:47-95). A repartition here would
        # add a full round-trip of the data through the shuffle service
        # on EVERY write — at 100 TB that's the difference between two
        # I/O passes (scan, write) and three. ``n_files`` acts as a
        # CEILING on output files (the small-input / post-delete case);
        # when the plan has fewer partitions than ``n_files`` the
        # coalesce is a no-op and per-file size stays bounded by the
        # scan's ``maxPartitionBytes`` (~the target size) anyway.
        #
        # Parallelism floor: coalescing BELOW the cluster's core count
        # serializes the whole final stage — parquet encode included —
        # onto n_files tasks (coalesce(1) = a one-task write no matter
        # how many executors). When the data supports multiple
        # ≥ target/8 files, keep the write at least as wide as the
        # smaller of the plan and the cluster; the reference's rolling
        # writer has the same behavior (per-task streams, never merged
        # across tasks). At 100 TB n_files >> cores and the floor is
        # inert.
        # (coalesce above the plan's real partition count is a no-op,
        # so the floor needs no partition-count probe — rdd.
        # getNumPartitions() would rebuild the physical plan, ~0.5 s
        # of pure planning overhead per write.)
        floor = parallelism_floor(
            pq_bytes, target_file_size,
            df.sparkSession.sparkContext.defaultParallelism,
        )
        writer = df.coalesce(max(n_files, floor))
        writer.write.mode("error").option("compression", compression).parquet(out_dir)
    return _collect_parquet_entries(
        out_dir, "data", sequence_number, partition_cols=partition_spec,
        bloom_cols=bloom_cols,
    )


def write_data_files_presized(
    df: DataFrame,
    table_root: str,
    sequence_number: int,
    compression: str = "snappy",
    partition_spec: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> list[ManifestEntry]:
    """Write a pre-partitioned DataFrame as data files, one file per
    input partition. The caller owns the partitioning — used by the
    sort-clustering rewrite, whose repartitionByRange + sort must
    survive to the parquet files (a round-robin repartition here would
    destroy the min/max clustering that makes file pruning work).

    For tables with a ``partition_spec`` the write fans out Hive-style
    (``partitionBy``) and the manifest entries record the partition
    values — ``scan_data`` re-attaches partition columns from the
    manifest, so skipping this would read them back as NULL.
    """
    out_dir = os.path.join(
        table_root, "data", f"seq{sequence_number}-{uuid.uuid4().hex[:12]}"
    )
    w = df.write.mode("error").option("compression", compression)
    if partition_spec:
        w = w.partitionBy(*partition_spec)
    w.parquet(out_dir)
    return _collect_parquet_entries(
        out_dir, "data", sequence_number, partition_cols=partition_spec,
        bloom_cols=bloom_cols,
    )


def write_position_delete_files(
    df: DataFrame, table_root: str, sequence_number: int
) -> list[ManifestEntry]:
    """Write a positional-delete file sorted by (file_path, pos).

    The reference uses a sort-based pos-delete writer
    (``SortPositionDeleteWriterBuilder``, compaction/mod.rs:780-795);
    sorting gives run-length-friendly parquet and lets readers
    range-skip.
    """
    out_dir = os.path.join(
        table_root, "deletes", f"pos-seq{sequence_number}-{uuid.uuid4().hex[:12]}"
    )
    (
        df.select(F.col("file_path"), F.col("pos").cast("long"))
        # repartition (not coalesce): keeps the upstream scan/filter
        # parallel and only funnels the small delete set to one writer.
        .repartition(1)
        .sortWithinPartitions("file_path", "pos")
        .write.mode("error")
        .parquet(out_dir)
    )
    return _collect_parquet_entries(out_dir, "pos_delete", sequence_number)


def write_deletion_vector_files(
    df: DataFrame, table_root: str, sequence_number: int
) -> list[ManifestEntry]:
    """Write ``(file_path, pos)`` rows as Iceberg-v3-style DELETION
    VECTORS: one roaring bitmap per referenced data file, each task
    packing ITS file's bitmap into its own Puffin file under
    ``<root>/deletes/`` (`lake/puffin.py`) — the distributed shape:
    no position list ever lands on the driver; only the
    descriptor rows (one per referenced file, manifest-sized) are
    collected into :class:`ManifestEntry` values the scan's DV
    decode path reads back. The v2 sibling is
    :func:`write_position_delete_files`; additive union semantics
    (multiple DVs for one file union their positions, like stacked
    pos-delete files) match this lake's scan."""
    import hashlib as _hashlib

    import pandas as pd

    from bergloom_spark.lake import puffin

    out_dir = os.path.join(table_root, "deletes")
    io_for(out_dir).mkdirs(out_dir)
    tag = uuid.uuid4().hex[:12]

    def build_dv(key, pdf):
        referenced = key[0]
        blob_file, metas = puffin.write_puffin_dvs(
            {referenced: pdf["pos"].to_numpy()}
        )
        b = metas[0]
        name = _hashlib.sha1(
            f"{referenced}:{tag}".encode()
        ).hexdigest()[:16]
        path = os.path.join(out_dir, f"dv-{name}.puffin")
        with open(path, "wb") as f:
            f.write(blob_file)
        return pd.DataFrame(
            {
                "puffin_path": [path],
                "referenced": [referenced],
                "offset": [b["offset"]],
                "length": [b["length"]],
                "cardinality": [int(b["properties"]["cardinality"])],
                "file_size": [len(blob_file)],
            }
        )

    descs = (
        df.select(F.col("file_path"), F.col("pos").cast("long"))
        .groupBy("file_path")
        .applyInPandas(
            build_dv,
            "puffin_path string, referenced string, offset long, "
            "length long, cardinality long, file_size long",
        )
        .collect()
    )
    return [
        ManifestEntry(
            content=POS_DELETE,
            file_path=r.puffin_path,
            record_count=int(r.cardinality),
            file_size_bytes=int(r.file_size),
            sequence_number=sequence_number,
            dv_referenced_file=r.referenced,
            dv_offset=int(r.offset),
            dv_size=int(r.length),
        )
        for r in descs
    ]


def write_equality_delete_files(
    df: DataFrame | DriverRows,
    table_root: str,
    sequence_number: int,
    equality_ids: list[str],
) -> list[ManifestEntry]:
    """Write an equality-delete file projecting only the key columns
    (reference projects ``equality_ids`` only, compaction/mod.rs:429-434).
    Keys already on the driver (:func:`driver_rows`) are written with
    pyarrow, in Spark's default snappy codec."""
    out_dir = os.path.join(
        table_root, "deletes", f"eq-seq{sequence_number}-{uuid.uuid4().hex[:12]}"
    )
    keys = df.select(*equality_ids)
    rows = driver_rows(keys)
    if rows is not None:
        return _write_driver_files(
            rows, out_dir, 1, "snappy", "eq_delete", sequence_number,
            equality_ids=equality_ids,
        )
    (
        keys
        # repartition (not coalesce): coalesce(1) would run the
        # caller's whole upstream plan in one task; this funnels only
        # the key columns to the one writer.
        .repartition(1)
        .write.mode("error")
        .parquet(out_dir)
    )
    return _collect_parquet_entries(
        out_dir, "eq_delete", sequence_number, equality_ids=equality_ids
    )
