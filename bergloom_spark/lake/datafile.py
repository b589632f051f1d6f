"""One lake data file read and merged-on-read in Arrow on the calling
process.

The per-file reader and delete application behind the changelog kernel
(``sources/lakestream.py``), which runs them inside Python workers, and
behind compaction's driver-side rewrite (``lake/compaction.py``).
:func:`read_data_file` resolves a file's columns to the table's
declared schema the way :meth:`LakeTable._scan_file_group` does for
Spark scans: by name, through the rename history, nulls for columns the
file predates and constants for virtualized partition columns.
:func:`read_positions` reads a positional delete's row positions, and
:func:`deleted_mask` marks the rows positions and equality-delete keys
remove, with keys matched as Spark's ``eqNullSafe`` anti join does.
"""

from __future__ import annotations

import json

from pyspark.sql import types as T


def meta_renames(meta) -> tuple:
    """Rename history from table properties, tuple-ified for partition
    descriptors: ((current, (historical, ...)), ...)."""
    raw = meta.properties.get("column_renames", "")
    if not raw:
        return ()
    return tuple(
        (cur, tuple(hist)) for cur, hist in json.loads(raw).items()
    )


def _cast_partition_scalar(value: str, field_type):
    """One Hive directory-string partition value → typed Arrow scalar.
    tz-aware timestamps need the two-step parse (Arrow refuses a
    zone-less string against a tz-typed cast; Hive dir values are
    written in the session zone, which this lake pins to UTC)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array([value], pa.string())
    if pa.types.is_timestamp(field_type) and field_type.tz is not None:
        naive = arr.cast(pa.timestamp(field_type.unit))
        return pc.assume_timezone(naive, field_type.tz)[0]
    return arr.cast(field_type)[0]


def read_data_file(
    file_path: str,
    columns,
    schema_json: str,
    partition,
    renames=(),
    max_bytes: int | None = None,
):
    """Read ``columns`` of one data file as an Arrow table in the
    DECLARED schema (``schema_json``, the table's), reattaching
    virtualized partition columns from the manifest entry (round 5 —
    partitioned-table support): Hive-style fanout writes
    drop the partition columns from the parquet, so they come back as
    constant arrays cast from the directory's string value. The full
    cast also normalizes e.g. nanosecond timestamps, which the Python
    source bridge refuses.

    Schema evolution: a column absent from the file under its CURRENT
    name is first resolved through the table's rename history
    (``renames`` = ((current, (historical, ...)), ...) — files written
    before a rename store the old name; each file has exactly one of
    the names, matching the batch reader's coalesce), and only then
    projected as nulls (a file written before add_columns).

    With ``max_bytes``, None when the table would take more than that
    many bytes in memory. Parquet can store a column in a small
    fraction of its decoded size (a run of equal values, all nulls, a
    low-cardinality string), so the file size bounds nothing: the
    footer's value counts bound the fixed-width columns before any
    read, and strings are read dictionary-encoded and measured before
    they are decoded."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(
        T.StructType.fromJson(json.loads(schema_json))
    )
    pdict = dict(partition)
    rmap = {cur: tuple(hist) for cur, hist in renames}
    meta = pq.read_metadata(file_path)
    present = set(meta.schema.to_arrow_schema().names)

    def stored_name(name: str) -> str | None:
        if name in present:
            return name
        for h in rmap.get(name, ()):
            if h in present:
                return h
        return None

    stored = {
        c: stored_name(c) for c in columns if c not in pdict
    }
    file_cols = sorted({s for s in stored.values() if s is not None})
    n = meta.num_rows
    strings = None
    if max_bytes is not None:
        # the columns the file lacks come back as all-null arrays
        absent = sum(
            n * _null_width(target.field(c).type)
            for c, s in stored.items()
            if s is None
        )
        fixed, strings = _footer_bound(meta, file_cols)
        if absent + fixed > max_bytes:
            return None
    # INT96 read as nanoseconds wraps past 2262; Spark's values are
    # microseconds, which every INT96 year fits.
    tbl = pq.read_table(
        file_path, columns=file_cols, coerce_int96_timestamp_unit="us",
        read_dictionary=strings,
    )
    if max_bytes is not None and absent + sum(
        _decoded_nbytes(c) for c in tbl.columns
    ) > max_bytes:
        return None
    arrays = []
    for name in columns:
        field = target.field(name)
        if name in pdict:
            v = pdict[name]
            if v is None:
                arrays.append(pa.nulls(n, field.type))
            else:
                arrays.append(
                    pa.repeat(_cast_partition_scalar(v, field.type), n)
                )
        elif stored[name] is None:
            arrays.append(pa.nulls(n, field.type))
        else:
            arrays.append(tbl.column(stored[name]).cast(field.type))
    return pa.Table.from_arrays(
        arrays, schema=pa.schema([target.field(c) for c in columns])
    )


def _null_width(t) -> int:
    """Bytes per row of an all-null array of type ``t``."""
    try:
        return max(1, t.bit_width // 8)
    except ValueError:  # not fixed-width: offsets
        return 4


def _leaf_count(t) -> int:
    """Parquet leaf columns an Arrow type is stored as."""
    import pyarrow as pa

    if pa.types.is_struct(t):
        return sum(_leaf_count(f.type) for f in t)
    if pa.types.is_map(t):
        return _leaf_count(t.key_type) + _leaf_count(t.item_type)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return _leaf_count(t.value_type)
    return 1


# In-memory bytes per value of a parquet physical type once read
# (INT96 is read as int64 microseconds); byte arrays count their offset
# or dictionary index here and their values once read.
_PHYSICAL_BYTES = {
    "BOOLEAN": 1, "INT32": 4, "INT64": 8, "INT96": 8, "FLOAT": 4,
    "DOUBLE": 8, "BYTE_ARRAY": 4,
}


def _footer_bound(meta, columns) -> tuple[int, list[str]]:
    """(in-memory bytes of ``columns``' values other than string and
    binary contents, from the footer's per-chunk value counts; the
    leaf paths of those columns' string and binary values)."""
    arrow = meta.schema.to_arrow_schema()
    wanted, leaf = set(columns), 0
    leaves = []
    for field in arrow:
        k = _leaf_count(field.type)
        if field.name in wanted:
            leaves.extend(range(leaf, leaf + k))
        leaf += k
    strings = []
    widths = {}
    for j in leaves:
        col = meta.schema.column(j)
        if col.physical_type == "BYTE_ARRAY":
            strings.append(col.path)
        # a FIXED_LEN_BYTE_ARRAY is a decimal, read as 16 bytes
        widths[j] = _PHYSICAL_BYTES.get(col.physical_type, max(16, col.length))
    fixed = sum(
        meta.row_group(g).column(j).num_values * w
        for g in range(meta.num_row_groups)
        for j, w in widths.items()
    )
    return fixed, strings


def _decoded_nbytes(arr) -> int:
    """Bytes ``arr`` takes once its dictionary-encoded strings are
    decoded to plain values."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        return sum(_decoded_nbytes(c) for c in arr.chunks)
    t = arr.type
    frame = 4 * (len(arr) + 1) + len(arr) // 8 + 1  # offsets + validity
    if pa.types.is_dictionary(t):
        lengths = pc.take(pc.binary_length(arr.dictionary), arr.indices)
        return frame + (pc.sum(lengths).as_py() or 0)
    if pa.types.is_struct(t):
        return len(arr) // 8 + 1 + sum(
            _decoded_nbytes(arr.field(i)) for i in range(t.num_fields)
        )
    if pa.types.is_list(t) or pa.types.is_map(t):
        return frame + _decoded_nbytes(arr.values)
    return arr.nbytes


def read_positions(path: str, dv=None) -> dict:
    """{data file path: int64 row positions} one positional delete
    removes: a deletion vector's bitmap (``dv`` = (offset, size, data
    file path), a blob range of the Puffin file at ``path``) or the
    ``pos`` rows of the parquet pos-delete file at ``path``, grouped by
    their ``file_path`` as written."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if dv is not None:
        from bergloom_spark.lake import puffin

        offset, size, referenced = dv
        with open(path, "rb") as f:
            f.seek(offset)
            blob = f.read(size)
        return {referenced: puffin.decode_deletion_vector(blob).astype(np.int64)}
    t = pq.read_table(
        path, columns=["file_path", "pos"], read_dictionary=["file_path"]
    )
    t = t.filter(pc.is_valid(t["pos"]))
    grouped = t.group_by("file_path").aggregate([("pos", "list")])
    lists = grouped["pos_list"].combine_chunks()
    return {
        fp: lists[i].values.to_numpy().astype(np.int64)
        for i, fp in enumerate(grouped["file_path"].to_pylist())
        if fp is not None
    }


def deleted_mask(tbl, positions=(), eq_keys=()):
    """Boolean mask of ``tbl``'s rows a merge-on-read removes: every
    row index in ``positions`` (int arrays; an index past the table is
    ignored) and every row equal, on all of ``cols``, to some row of
    ``keys`` for each ``(cols, keys)`` of ``eq_keys``. Keys match as
    Spark's ``eqNullSafe`` join keys do: null equals null, -0.0 equals
    0.0 and NaN equals NaN."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    dead = np.zeros(n, dtype=bool)
    for pos in positions:
        pos = np.asarray(pos, dtype=np.int64)
        dead[pos[(pos >= 0) & (pos < n)]] = True
    for cols, keys in eq_keys:
        cols = list(cols)
        if len(cols) == 1:
            (c,) = cols
            t = tbl[c].type
            hit = pc.is_in(
                _join_key(tbl[c], t),
                value_set=_join_key(keys[c], t).combine_chunks(),
                skip_nulls=False,
            )
            dead |= hit.to_numpy(zero_copy_only=False)
            continue
        # a join never matches nulls: join on each column's code in a
        # dictionary of both sides' values, where null is a value too
        probe, build = {}, {}
        for c in cols:
            t = tbl[c].type
            both = pa.chunked_array(
                _join_key(tbl[c], t).chunks + _join_key(keys[c], t).chunks, t
            )
            codes = pa.chunked_array(
                [
                    ch.indices
                    for ch in pc.dictionary_encode(
                        both, null_encoding="encode"
                    ).chunks
                ],
                pa.int32(),
            ).combine_chunks()
            probe[c], build[c] = codes.slice(0, n), codes.slice(n)
        probe["__row"] = pa.array(np.arange(n))
        rows = pa.table(probe).join(
            pa.table(build), keys=cols, join_type="left semi"
        )
        dead[rows["__row"].to_numpy()] = True
    return dead


def _join_key(col, t):
    """``col`` cast to ``t``, with -0.0 folded into 0.0."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = col.cast(t)
    if pa.types.is_floating(t):
        col = pc.add(col, pa.scalar(0.0, t))
    return col
