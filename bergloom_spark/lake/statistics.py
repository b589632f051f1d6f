"""Table statistics: per-column NDV theta sketches in Puffin files.

Iceberg's ``statistics`` metadata field (Table Spec: "Table
statistics") points at a Puffin file of
``apache-datasketches-theta-v1`` blobs — one per column, each
REQUIRED to carry the ``ndv`` property engines feed their CBO
(Spark/Trino read the property, not the sketch, for stats). This
module computes them Spark-natively and round-trips them through
export/import.

Sketch construction is the KMV/bottom-k form of a theta sketch: keep
the k smallest values of ``h(x) >>> 1`` over distinct column values;
``theta`` = the k-th smallest normalized to [0,1); estimate =
``(retained - 1) / theta`` when estimating, exact when fewer than k
distinct values exist. The hash universe here is Spark's built-in
``xxhash64`` — JVM-side and whole-stage-codegen'd, so the scan never
leaves the executor (the 100 TB shape: one distinct + TakeOrdered(k)
per column). The serialized payload follows the public DataSketches
compact-ordered theta layout (preamble longs / serial version 3 /
family 3 / flags / seed hash, then the ordered retained hashes), and
each blob carries ``properties.ndv`` (the spec-required consumable)
plus ``hash-universe: spark-xxhash64``: a reader that only consumes
``ndv`` (every engine's CBO path) interoperates fully; UNIONING
sketches across writers requires an identical hash universe, which
the property makes explicit instead of silently wrong — the same
honesty posture as the z-order sort-claim (spec can't express it,
property carries it).
"""

from __future__ import annotations

import dataclasses
import json
import os
import struct

import numpy as np

from bergloom_spark.lake import puffin
from bergloom_spark.lake.fileio import io_for

THETA_BLOB_TYPE = "apache-datasketches-theta-v1"
DEFAULT_K = 16384
_SER_VER = 3
_FAMILY_THETA_COMPACT = 3
# flag bits (DataSketches preamble): 2=READ_ONLY 4=EMPTY 8=COMPACT 16=ORDERED
_FLAG_READONLY, _FLAG_EMPTY, _FLAG_COMPACT, _FLAG_ORDERED = 2, 4, 8, 16
_SEED_HASH = 0x93CC  # DataSketches default-seed (9001) hash, public constant
_MAX_HASH = (1 << 63) - 1  # hashes live in [1, 2^63); theta scales over it


def serialize_theta(hashes: np.ndarray, theta_long: int) -> bytes:
    """Compact-ordered theta sketch bytes from sorted retained
    ``hashes`` (int64 in [1, 2^63)) and ``theta_long``
    (2^63-1 = exact mode)."""
    hashes = np.asarray(hashes, dtype=np.int64)
    n = len(hashes)
    estimating = theta_long < _MAX_HASH
    if n == 0 and not estimating:
        pre = struct.pack(
            "<BBBBBBH", 1, _SER_VER, _FAMILY_THETA_COMPACT, 0, 0,
            _FLAG_READONLY | _FLAG_EMPTY | _FLAG_COMPACT | _FLAG_ORDERED,
            _SEED_HASH,
        )
        return pre
    flags = _FLAG_READONLY | _FLAG_COMPACT | _FLAG_ORDERED
    if estimating:
        pre_longs = 3
        head = struct.pack(
            "<BBBBBBH", pre_longs, _SER_VER, _FAMILY_THETA_COMPACT,
            0, 0, flags, _SEED_HASH,
        ) + struct.pack("<II", n, 0) + struct.pack("<q", theta_long)
    else:
        pre_longs = 2
        head = struct.pack(
            "<BBBBBBH", pre_longs, _SER_VER, _FAMILY_THETA_COMPACT,
            0, 0, flags, _SEED_HASH,
        ) + struct.pack("<II", n, 0)
    return head + hashes.astype("<i8").tobytes()


def deserialize_theta(blob: bytes) -> tuple[np.ndarray, int]:
    """→ (sorted retained hashes, theta_long). ValueError on any
    structural violation (attacker-bytes posture of the codec
    family)."""
    if len(blob) < 8:
        raise ValueError("theta: truncated preamble")
    pre_longs, ser, fam, _, _, flags, seed = struct.unpack_from(
        "<BBBBBBH", blob, 0
    )
    if ser != _SER_VER or fam != _FAMILY_THETA_COMPACT:
        raise ValueError(
            f"theta: unsupported serial/family {ser}/{fam}"
        )
    if flags & _FLAG_EMPTY:
        return np.empty(0, np.int64), _MAX_HASH
    if pre_longs not in (2, 3):
        raise ValueError(f"theta: bad preamble longs {pre_longs}")
    if len(blob) < 8 * pre_longs:
        raise ValueError("theta: truncated header")
    (n,) = struct.unpack_from("<I", blob, 8)
    theta = _MAX_HASH
    off = 16
    if pre_longs == 3:
        (theta,) = struct.unpack_from("<q", blob, 16)
        off = 24
        if not 0 < theta <= _MAX_HASH:
            raise ValueError(f"theta: theta out of range {theta}")
    if len(blob) != off + 8 * n:
        raise ValueError(
            f"theta: {len(blob)} bytes != header + {n} hashes"
        )
    hashes = np.frombuffer(blob, "<i8", n, off)
    if n:
        bad = hashes[0] < 1 or bool(np.any(np.diff(hashes) <= 0))
        if pre_longs == 3:
            bad = bad or int(hashes[-1]) >= theta
        if bad:
            raise ValueError(
                "theta: hashes not ordered/unique/below theta"
            )
    return hashes.astype(np.int64), int(theta)


def theta_estimate(n_retained: int, theta_long: int) -> float:
    if theta_long >= _MAX_HASH:
        return float(n_retained)
    return (n_retained - 1) / (theta_long / _MAX_HASH)


def column_sketch(df, column: str, k: int = DEFAULT_K):
    """(sorted hashes array, theta_long) for one column — the k
    smallest distinct ``xxhash64 >>> 1`` values, computed with ONE
    distinct + TakeOrdered(k) job, all JVM-side until the final ≤ k
    rows."""
    from pyspark.sql import functions as F

    rows = (
        df.where(F.col(column).isNotNull())  # NDV counts values, not nulls
        .select(
            F.shiftrightunsigned(F.xxhash64(F.col(column)), 1).alias("h")
        )
        .where(F.col("h") > 0)
        .distinct()
        .orderBy("h")
        .limit(k + 1)
        .collect()
    )
    hs = np.array([r.h for r in rows], dtype=np.int64)
    if len(hs) <= k:
        return hs, _MAX_HASH  # exact mode
    theta_long = int(hs[k])  # (k+1)-th smallest bounds the kept set
    return hs[:k], theta_long


def compute_table_statistics(
    table, columns: list[str] | None = None, k: int = DEFAULT_K
) -> str:
    """Build the Puffin statistics file for ``table``'s current
    snapshot (one theta blob per column, ``ndv`` + hash-universe
    properties) and commit its location as the ``statistics_file``
    table property (snapshot-less commit — see
    :func:`_commit_properties`). Returns the Puffin path."""
    table.refresh()
    snap = table.meta.current_snapshot()
    if snap is None:
        raise ValueError("statistics: table has no snapshot")
    df = table.read(snapshot_id=snap.snapshot_id)
    cols = columns or [f.name for f in table.schema.fields]
    parts = [puffin.MAGIC]
    offset = len(puffin.MAGIC)
    blobs = []
    for c in cols:
        hashes, theta_long = column_sketch(df, c, k=k)
        blob = serialize_theta(hashes, theta_long)
        ndv = int(round(theta_estimate(len(hashes), theta_long)))
        blobs.append(
            {
                "type": THETA_BLOB_TYPE,
                "fields": [i + 1 for i, f in enumerate(
                    table.schema.fields) if f.name == c],
                "snapshot-id": snap.snapshot_id,
                "sequence-number": snap.sequence_number,
                "offset": offset,
                "length": len(blob),
                "properties": {
                    "ndv": str(ndv),
                    "column": c,
                    "hash-universe": "spark-xxhash64",
                },
            }
        )
        parts.append(blob)
        offset += len(blob)
    payload = json.dumps({"blobs": blobs, "properties": {}}).encode()
    parts += [
        puffin.MAGIC, payload, struct.pack("<I", len(payload)),
        b"\x00\x00\x00\x00", puffin.MAGIC,
    ]
    data = b"".join(parts)
    out_dir = os.path.join(table.meta.table_root, "stats")
    io_for(out_dir).mkdirs(out_dir)
    path = os.path.join(
        out_dir, f"stats-{snap.snapshot_id}.puffin"
    )
    with open(path, "wb") as f:
        f.write(data)
    _commit_properties(
        table,
        {
            "statistics_file": path,
            "statistics_snapshot_id": str(snap.snapshot_id),
        },
    )
    return path


def _commit_properties(table, props: dict[str, str]) -> None:
    """Snapshot-LESS property commit (Iceberg's UpdateProperties:
    properties changes never create snapshots — a stats pointer that
    bumped the snapshot would make itself stale). Same retrying
    version-file CAS as every commit; ``table`` adopts the result."""
    table._commit(
        lambda base: dataclasses.replace(
            base, properties={**base.properties, **props}
        )
    )


def compute_partition_statistics(table) -> str:
    """Write the Iceberg PARTITION STATISTICS file for the current
    snapshot (Table Spec "Partition Statistics": one parquet row per
    partition of the default spec — fields 1-9: partition struct,
    spec_id, data record/file/byte counts, position- and
    equality-delete record/file counts) and commit its location
    snapshot-lessly as ``partition_statistics_file``. Counts come
    straight from the manifest entries (metadata-sized, no table
    scan); deletion-vector entries count as position deletes with
    their cardinality. Returns the parquet path.

    The file is written with pyarrow directly — partition stats are
    manifest-sized, and a Spark job to write one small parquet file
    would be pure overhead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bergloom_spark.lake import metadata as md

    table.refresh()
    snap = table.meta.current_snapshot()
    if snap is None:
        raise ValueError("partition statistics: table has no snapshot")
    part_cols = list(table.meta.partition_spec or [])
    agg: dict[tuple, dict[str, int]] = {}
    zero = {
        "data_record_count": 0, "data_file_count": 0,
        "total_data_file_size_in_bytes": 0,
        "position_delete_record_count": 0,
        "position_delete_file_count": 0,
        "equality_delete_record_count": 0,
        "equality_delete_file_count": 0,
    }
    for e in snap.entries:
        key = tuple(e.partition.get(c) for c in part_cols)
        row = agg.setdefault(key, dict(zero))
        if e.content == md.DATA:
            row["data_record_count"] += e.record_count
            row["data_file_count"] += 1
            row["total_data_file_size_in_bytes"] += e.file_size_bytes
        elif e.content == md.POS_DELETE:
            row["position_delete_record_count"] += e.record_count
            row["position_delete_file_count"] += 1
        elif e.content == md.EQ_DELETE:
            row["equality_delete_record_count"] += e.record_count
            row["equality_delete_file_count"] += 1
    keys = sorted(agg, key=lambda k: tuple(x or "" for x in k))
    partition_struct = pa.StructArray.from_arrays(
        [
            pa.array([k[i] for k in keys], type=pa.string())
            for i in range(len(part_cols))
        ] or [pa.nulls(len(keys), pa.string())],
        names=part_cols or ["__unpartitioned"],
    )
    cols = {
        "partition": partition_struct,
        "spec_id": pa.array([0] * len(keys), pa.int32()),
    }
    for f in zero:
        cols[f] = pa.array([agg[k][f] for k in keys], pa.int64())
    out_dir = os.path.join(table.meta.table_root, "stats")
    io_for(out_dir).mkdirs(out_dir)
    path = os.path.join(
        out_dir, f"partition-stats-{snap.snapshot_id}.parquet"
    )
    pq.write_table(pa.table(cols), path)
    _commit_properties(
        table,
        {
            "partition_statistics_file": path,
            "partition_statistics_snapshot_id": str(snap.snapshot_id),
        },
    )
    return path


def read_ndv_stats(puffin_path: str) -> dict[str, int]:
    """{column: ndv} from a statistics Puffin file — validates each
    blob's framing and RE-DERIVES the estimate from the sketch, so a
    property/payload mismatch is caught instead of trusted."""
    with open(puffin_path, "rb") as f:
        raw = f.read()
    meta = puffin.read_file_metadata(raw)
    out: dict[str, int] = {}
    for b in meta.get("blobs", []):
        if b.get("type") != THETA_BLOB_TYPE:
            continue
        props = b.get("properties") or {}
        col = props.get("column")
        if not col:
            continue
        hashes, theta_long = deserialize_theta(
            puffin.blob_bytes(raw, b["offset"], b["length"])
        )
        derived = int(round(theta_estimate(len(hashes), theta_long)))
        claimed = props.get("ndv")
        if claimed is not None and int(claimed) != derived:
            raise ValueError(
                f"statistics: blob ndv {claimed} disagrees with its "
                f"own sketch ({derived}) for column {col!r}"
            )
        out[col] = derived
    return out
