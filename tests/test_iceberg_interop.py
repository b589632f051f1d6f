"""Iceberg metadata interop (round 12, verdict r11 #4).

Import a REAL Iceberg v2 metadata tree (JSON + Avro manifests) into
the lake and run MoR scans against it; export the lake's own
snapshots as Iceberg v2. The Avro writer (iceberg_export) and reader
(operators/avrocodec) are independent implementations of the public
spec, cross-validated here; the end-to-end oracle is the lake's own
native read of the same physical files.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bergloom_spark.lake import LakeTable
from bergloom_spark.lake import metadata as md
from bergloom_spark.lake.iceberg_export import (
    export_iceberg_metadata,
    write_avro_ocf,
)
from bergloom_spark.lake.iceberg_import import (
    load_iceberg_metadata,
    load_iceberg_table,
)
from bergloom_spark.operators.avrocodec import parse_avro

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("cat", T.StringType(), True),
        T.StructField("val", T.DoubleType(), True),
    ]
)


def seed(spark, n=50):
    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("c"), (F.col("id") % 5).cast("string")).alias("cat"),
        (F.col("id") * 1.5).alias("val"),
    )


class TestAvroRoundtrip:
    REC_SCHEMA = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "u", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "nested", "type": {
                "type": "record", "name": "n",
                "fields": [{"name": "x", "type": "double"}],
            }},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "b", "type": "boolean"},
        ],
    }
    RECS = [
        {"a": -1, "s": "héllo", "u": None, "arr": [1, 2, 3],
         "nested": {"x": 2.5}, "m": {"k": "v"}, "b": True},
        {"a": 2**40, "s": "", "u": 7, "arr": [],
         "nested": {"x": -0.5}, "m": {}, "b": False},
    ]

    @pytest.mark.parametrize("codec", ["null", "deflate"])
    def test_roundtrip(self, codec):
        blob = write_avro_ocf(self.REC_SCHEMA, self.RECS, codec=codec)
        schema, records = parse_avro(blob)
        assert records == self.RECS
        assert schema["name"] == "r"

    def test_hostile_inputs_raise(self):
        good = write_avro_ocf(self.REC_SCHEMA, self.RECS)
        with pytest.raises(ValueError):
            parse_avro(b"NOPE" + good[4:])
        with pytest.raises(ValueError):
            parse_avro(good[:-10])  # truncated block
        bad_sync = good[:-16] + b"\x00" * 16
        with pytest.raises(ValueError):
            parse_avro(bad_sync)
        with pytest.raises(ValueError):
            parse_avro(b"")

    def test_zero_byte_record_bomb_block_cap(self):
        """ADVICE r12: a deflate block inflating under the 64 MiB cap
        with an empty-record schema allocated millions of dicts before
        the trailing-bytes check — the decoded-item budget was
        proportional to the INFLATED block. The block-header record
        cap must kill a 200k-empty-record claim instantly."""
        import time as _time

        empty = {"type": "record", "name": "E", "fields": []}
        blob = write_avro_ocf(empty, [{}] * 200_000, codec="deflate")
        t0 = _time.monotonic()
        with pytest.raises(ValueError):
            parse_avro(blob)
        assert _time.monotonic() - t0 < 2.0

    def test_zero_byte_record_allowance_in_loop(self):
        """Variant where the block DOES carry bytes (so the header cap
        passes) but every record consumes zero of them: the in-loop
        cursor-progress allowance must fire, bounded, before the
        claimed count allocates."""
        import time as _time

        from bergloom_spark.lake.iceberg_export import _enc_long

        empty = {"type": "record", "name": "E", "fields": []}
        base = write_avro_ocf(empty, [], codec="null")
        sync = base[-16:]
        header = base[:-18]  # strip the empty block (n=0, size=0) + sync
        payload = b"\x00" * 8192  # junk the zero-byte records never consume
        n = 8192 + 2000  # within the header cap (len(block)+allowance)
        body = _enc_long(n) + _enc_long(len(payload)) + payload + sync
        t0 = _time.monotonic()
        with pytest.raises(ValueError, match="zero-byte"):
            parse_avro(header + body)
        assert _time.monotonic() - t0 < 2.0

    def test_legit_empty_record_file_still_parses(self):
        """A few zero-byte records are legal Avro — the allowance must
        not reject a small legitimate file."""
        empty = {"type": "record", "name": "E", "fields": []}
        blob = write_avro_ocf(empty, [{}] * 100, codec="null")
        _, records = parse_avro(blob)
        assert records == [{}] * 100

    def test_mutated_schema_json_is_valueerror(self):
        """r12 fuzz finding: the embedded avro.schema is attacker
        bytes — a still-valid-JSON mutation that drops required keys
        ('name'/'type'/'fields') or swaps node types escaped as
        KeyError/TypeError instead of the bytes→ValueError
        contract."""
        import json as _json

        from bergloom_spark.lake.iceberg_export import (
            _enc_bytes,
            _enc_long,
            _enc_str,
        )

        def ocf_with_schema(schema_obj) -> bytes:
            blob = bytearray(b"Obj\x01")
            blob += _enc_long(2)
            blob += _enc_str("avro.schema") + _enc_bytes(
                _json.dumps(schema_obj).encode()
            )
            blob += _enc_str("avro.codec") + _enc_bytes(b"null")
            blob += _enc_long(0)
            sync = b"S" * 16
            blob += sync
            payload = b"\x02" * 8  # arbitrary record bytes
            blob += _enc_long(1) + _enc_long(len(payload)) + payload
            blob += sync
            return bytes(blob)

        for schema in (
            {"type": "record", "name": "r",
             "fields": [{"type": "long"}]},          # field sans name
            {"type": "record", "name": "r",
             "fields": [{"name": "a"}]},             # field sans type
            {"type": "record", "name": "r"},         # record sans fields? ok-empty
            {"type": "fixed", "name": "f"},          # fixed sans size
            {"type": "enum", "name": "e",
             "symbols": "notalist"},                 # symbols wrong type
            {"type": "array"},                       # array sans items
            {"type": "map"},                         # map sans values
            [[]],                                    # nested junk
            12.5,                                    # not a schema at all
        ):
            try:
                parse_avro(ocf_with_schema(schema))
            except ValueError:
                pass  # the contract
            # anything else (KeyError/TypeError/...) fails the test
            # by escaping; a silent success is fine only for shapes
            # that legitimately decode 8 bytes (none of these do,
            # but the contract under test is "no foreign exception")


class TestExportImportRoundtrip:
    def _rows(self, df):
        return sorted(
            (r.id, r.cat, r.val) for r in df.collect()
        )

    def test_mor_table_roundtrips(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
        t.append(seed(spark).filter("id % 2 = 0"))
        t.append(seed(spark).filter("id % 2 = 1"))
        # positional deletes on a value predicate
        from bergloom_spark.operators import mor

        hidden = t.scan_data(with_hidden=True)
        t.append_position_deletes(
            hidden.filter("id % 7 = 0").select(
                F.col(mor.SYS_HIDDEN_FILE_PATH).alias("file_path"),
                F.col(mor.SYS_HIDDEN_POS).alias("pos"),
            )
        )
        # equality deletes (gated by sequence number)
        t.append_equality_deletes(
            spark.createDataFrame([("c3",)], "cat string"), ["cat"]
        )
        native = self._rows(t.read())
        assert native  # non-degenerate fixture

        mjson = export_iceberg_metadata(t.meta)
        t2 = load_iceberg_table(spark, mjson)
        assert self._rows(t2.read()) == native
        # schema carried over
        assert [f.name for f in t2.schema.fields] == ["id", "cat", "val"]
        assert t2.meta.properties["format"] == "iceberg-import"
        # sequence numbers preserved per entry
        orig = {
            (e.file_path, e.sequence_number)
            for e in t.meta.current_snapshot().entries
        }
        got = {
            (e.file_path, e.sequence_number)
            for e in t2.meta.current_snapshot().entries
        }
        assert got == orig
        # equality ids mapped through field ids back to names
        eq = [
            e for e in t2.meta.current_snapshot().entries
            if e.content == md.EQ_DELETE
        ]
        assert eq and all(e.equality_ids == ["cat"] for e in eq)

    def test_exported_manifests_carry_spec_file_metadata(
        self, spark, tmp_path
    ):
        """Table Spec 'Manifests'/'Manifest Lists': Iceberg-native
        readers resolve the entry schema and partition spec from the
        OCF key-value file metadata — an export without those keys
        parses here but not in a real engine (review r12)."""
        import json as _json

        t = LakeTable.create(
            spark, str(tmp_path / "fm"), SCHEMA, partition_spec=["cat"]
        )
        t.append(seed(spark, 20))
        mjson = export_iceberg_metadata(t.meta)
        doc = _json.loads(open(mjson).read())
        snap = doc["snapshots"][0]
        _, mrows, list_meta = parse_avro(
            open(snap["manifest-list"], "rb").read(), with_meta=True
        )
        assert list_meta["format-version"] == b"2"
        assert int(list_meta["snapshot-id"]) == snap["snapshot-id"]
        assert int(list_meta["sequence-number"]) == snap["sequence-number"]
        for mrow in mrows:
            _, _, mmeta = parse_avro(
                open(mrow["manifest_path"], "rb").read(), with_meta=True
            )
            assert mmeta["format-version"] == b"2"
            assert mmeta["content"] in (b"data", b"deletes")
            assert mmeta["partition-spec-id"] == b"0"
            schema = _json.loads(mmeta["schema"])
            assert [f["name"] for f in schema["fields"]] == [
                "id", "cat", "val"
            ]
            spec = _json.loads(mmeta["partition-spec"])
            assert [f["name"] for f in spec] == ["cat"]
            assert all(f["transform"] == "identity" for f in spec)

    def test_partitioned_identity_spec(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "p"), SCHEMA, partition_spec=["cat"]
        )
        t.append(seed(spark, 40))
        mjson = export_iceberg_metadata(t.meta)
        t2 = load_iceberg_table(spark, mjson)
        assert t2.meta.partition_spec == ["cat"]
        parts = {
            e.partition.get("cat")
            for e in t2.meta.current_snapshot().entries
        }
        assert parts == {f"c{i}" for i in range(5)}
        assert self._rows(t2.read()) == self._rows(t.read())


class TestImportSpecSemantics:
    def test_sequence_inheritance_from_manifest_list(
        self, spark, tmp_path
    ):
        """Spec 'Sequence number inheritance': an ADDED entry with a
        null sequence number takes the manifest-list row's."""
        t = LakeTable.create(spark, str(tmp_path / "s"), SCHEMA)
        t.append(seed(spark, 10))
        mjson = export_iceberg_metadata(t.meta)
        # rewrite the data manifest with null entry sequence numbers
        import json as _json

        meta_doc = _json.loads(open(mjson).read())
        snap = meta_doc["snapshots"][0]
        _, mrows = parse_avro(open(snap["manifest-list"], "rb").read())
        from bergloom_spark.lake.iceberg_export import (
            _manifest_entry_schema,
        )

        for mrow in mrows:
            eschema, entries = parse_avro(
                open(mrow["manifest_path"], "rb").read()
            )
            for e in entries:
                e["sequence_number"] = None
                e["file_sequence_number"] = None
            blob = write_avro_ocf(_manifest_entry_schema([]), entries)
            open(mrow["manifest_path"], "wb").write(blob)
            # bump the list-level sequence number to a sentinel
            mrow["sequence_number"] = 42
        from bergloom_spark.lake.iceberg_export import (
            _MANIFEST_LIST_SCHEMA,
        )

        open(snap["manifest-list"], "wb").write(
            write_avro_ocf(_MANIFEST_LIST_SCHEMA, mrows)
        )
        imported = load_iceberg_metadata(mjson)
        assert {
            e.sequence_number
            for e in imported.current_snapshot().entries
        } == {42}

    def test_uri_paths_and_pos_delete_normalization(
        self, spark, tmp_path
    ):
        """A real Iceberg writer records file:// URIs both in
        manifests and INSIDE pos-delete parquet — both must normalize
        so deletes land."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = LakeTable.create(spark, str(tmp_path / "u"), SCHEMA)
        t.append(seed(spark, 20))
        data_entry = t.meta.current_snapshot().files(md.DATA)[0]
        # pos-delete parquet referencing the data file BY URI
        del_path = str(tmp_path / "u" / "posdel-uri.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(
                        ["file://" + data_entry.file_path] * 2
                    ),
                    "pos": pa.array([0, 1], pa.int64()),
                }
            ),
            del_path,
        )
        meta = t.meta
        meta.snapshots[-1].entries.append(
            md.ManifestEntry(
                content=md.POS_DELETE,
                file_path=del_path,
                record_count=2,
                file_size_bytes=os.path.getsize(del_path),
                sequence_number=2,
            )
        )
        # manifest data-file path in URI form too
        data_entry.file_path = "file://" + data_entry.file_path
        mjson = export_iceberg_metadata(meta)
        t2 = load_iceberg_table(spark, mjson)
        got = sorted(r.id for r in t2.read().collect())
        assert len(got) == 18  # two rows deleted by position

    def test_compact_real_iceberg_table_end_to_end(
        self, spark, tmp_path
    ):
        """The reference's whole job on a real Iceberg metadata tree:
        import → rewrite with all deletes applied → export → the
        re-imported compacted table reads identically and carries no
        delete files."""
        from bergloom_spark.lake.iceberg_export import (
            export_iceberg_metadata,
        )
        from bergloom_spark.lake.iceberg_import import (
            compact_iceberg_table,
        )
        from bergloom_spark.operators import mor

        t = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA)
        t.append(seed(spark).filter("id % 2 = 0"))
        t.append(seed(spark).filter("id % 2 = 1"))
        hidden = t.scan_data(with_hidden=True)
        t.append_position_deletes(
            hidden.filter("id % 9 = 0").select(
                F.col(mor.SYS_HIDDEN_FILE_PATH).alias("file_path"),
                F.col(mor.SYS_HIDDEN_POS).alias("pos"),
            )
        )
        t.append_equality_deletes(
            spark.createDataFrame([("c1",)], "cat string"), ["cat"]
        )
        expected = sorted(
            (r.id, r.cat, r.val) for r in t.read().collect()
        )
        src_iceberg = export_iceberg_metadata(t.meta)

        result, out_meta = compact_iceberg_table(
            spark, src_iceberg, str(tmp_path / "work")
        )
        assert result.stat.rewritten_files_count >= 2
        t2 = load_iceberg_table(spark, out_meta)
        got = sorted((r.id, r.cat, r.val) for r in t2.read().collect())
        assert got == expected
        snap = t2.meta.current_snapshot()
        assert not snap.files(md.POS_DELETE)
        assert not snap.files(md.EQ_DELETE)
        # compacted output references only files under the work root
        assert all(
            str(tmp_path / "work") in e.file_path for e in snap.entries
        )

    def test_column_bounds_roundtrip_and_prune(self, spark, tmp_path):
        """Spec fields 125/128 (lower/upper bound maps, Appendix-D
        single-value encoding): the exporter writes the lake's
        harvested column_stats so native engines can prune our
        files, and the importer reads a real table's bounds back so
        IMPORTED tables get this lake's manifest data-skipping.
        Strings roundtrip under the truncate(16) contract (r13) and
        carry the bound marker; counts (fields 109/110) roundtrip
        alongside."""
        from bergloom_spark.lake import skipping as sk

        t = LakeTable.create(spark, str(tmp_path / "cb"), SCHEMA)
        # two files with disjoint id ranges → prunable
        t.append(seed(spark, 50).filter("id < 25"))
        t.append(seed(spark, 50).filter("id >= 25"))
        orig = {
            e.file_path: e.column_stats
            for e in t.meta.current_snapshot().files(md.DATA)
        }
        assert all("id" in s and "val" in s for s in orig.values())
        # strings carry the truncate-contract marker (r13)
        assert all(
            s["cat"][2] == sk.STRING_BOUND_MARKER for s in orig.values()
        )
        orig_counts = {
            e.file_path: (e.column_value_counts, e.column_null_counts)
            for e in t.meta.current_snapshot().files(md.DATA)
        }
        assert all(
            vc.get("id") == 25 and nc.get("id") == 0
            for vc, nc in orig_counts.values()
        )
        mjson = export_iceberg_metadata(t.meta)
        t2 = load_iceberg_table(spark, mjson)
        got = {
            e.file_path: e.column_stats
            for e in t2.meta.current_snapshot().files(md.DATA)
        }
        assert got == orig
        got_counts = {
            e.file_path: (e.column_value_counts, e.column_null_counts)
            for e in t2.meta.current_snapshot().files(md.DATA)
        }
        assert got_counts == orig_counts
        # the imported stats actually prune: id >= 25 keeps one file
        entries = t2.meta.current_snapshot().files(md.DATA)
        kept = sk.prune_entries(entries, [("id", ">=", 25)])
        assert len(kept) < len(entries)
        # and the filtered scan still returns exactly the right rows
        n = t2.scan_data(filters=[("id", ">=", 25)]).count()
        assert n == 25

    def test_time_travel_snapshot_id(self, spark, tmp_path):
        """A non-current snapshot imports via snapshot_id (VERSION AS
        OF) — the metadata doc lists both snapshots; pin the old one
        and read the pre-append state."""
        import json as _json

        t = LakeTable.create(spark, str(tmp_path / "tt"), SCHEMA)
        t.append(seed(spark, 10))
        old_meta = export_iceberg_metadata(t.meta)
        old_doc = _json.loads(open(old_meta).read())
        old_snap = old_doc["snapshots"][0]
        t.append(seed(spark, 10).withColumn("id", F.col("id") + 100))
        new_meta = export_iceberg_metadata(
            t.meta, out_dir=str(tmp_path / "tt" / "mi2")
        )
        # splice the old snapshot into the new doc (a real metadata
        # json carries the full snapshot log)
        doc = _json.loads(open(new_meta).read())
        doc["snapshots"].append(old_snap)
        open(new_meta, "w").write(_json.dumps(doc))
        t_old = load_iceberg_table(
            spark, new_meta, snapshot_id=old_snap["snapshot-id"]
        )
        assert t_old.read().count() == 10
        t_new = load_iceberg_table(spark, new_meta)
        assert t_new.read().count() == 20

    def test_v1_inline_manifests(self, spark, tmp_path):
        """Format-version 1: legacy 'schema' + inline snapshot
        'manifests' list, no sequence numbers (all inherit 0)."""
        import json as _json

        t = LakeTable.create(spark, str(tmp_path / "v1"), SCHEMA)
        t.append(seed(spark, 15))
        mjson = export_iceberg_metadata(t.meta)
        doc = _json.loads(open(mjson).read())
        snap = doc["snapshots"][0]
        _, mrows = parse_avro(open(snap["manifest-list"], "rb").read())
        v1 = {
            "format-version": 1,
            "location": doc["location"],
            "schema": doc["schemas"][0],
            "partition-spec": [],
            "current-snapshot-id": snap["snapshot-id"],
            "snapshots": [
                {
                    "snapshot-id": snap["snapshot-id"],
                    "timestamp-ms": snap["timestamp-ms"],
                    "summary": {"operation": "append"},
                    "manifests": [
                        m["manifest_path"] for m in mrows
                    ],
                }
            ],
        }
        v1_path = str(tmp_path / "v1.metadata.json")
        open(v1_path, "w").write(_json.dumps(v1))
        t1 = load_iceberg_table(spark, v1_path)
        assert t1.read().count() == 15
        assert {
            e.sequence_number
            for e in t1.meta.current_snapshot().entries
        } == {1}  # entry-level seq from the v2-written manifest

    def test_renamed_column_guardrail(self, spark, tmp_path):
        """A parquet file whose PARQUET:field_id maps a schema id to
        a DIFFERENT name must refuse to import (name-resolution
        would silently read NULLs)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = LakeTable.create(spark, str(tmp_path / "rn"), SCHEMA)
        t.append(seed(spark, 5))
        # overwrite the data file with one carrying field ids whose
        # id=2 ('cat' in export order id:1,cat:2,val:3) is named
        # 'category' — the pre-rename name
        entry = t.meta.current_snapshot().files(md.DATA)[0]
        fields = [
            pa.field("id", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("category", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
            pa.field("val", pa.float64(),
                     metadata={b"PARQUET:field_id": b"3"}),
        ]
        tbl = pa.table(
            {"id": pa.array([1], pa.int64()),
             "category": pa.array(["x"]),
             "val": pa.array([1.0])},
            schema=pa.schema(fields),
        )
        pq.write_table(tbl, entry.file_path)
        mjson = export_iceberg_metadata(t.meta)
        with pytest.raises(ValueError, match="rename"):
            load_iceberg_table(spark, mjson)

    def test_unsupported_inputs_raise(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "e"), SCHEMA)
        t.append(seed(spark, 5))
        mjson = export_iceberg_metadata(t.meta)
        import json as _json

        doc = _json.loads(open(mjson).read())
        doc["format-version"] = 4  # v3 reads now (DV support, r14)
        bad = str(tmp_path / "bad.metadata.json")
        open(bad, "w").write(_json.dumps(doc))
        with pytest.raises(ValueError, match="format-version"):
            load_iceberg_metadata(bad)
        doc["format-version"] = 2
        doc["current-snapshot-id"] = None
        open(bad, "w").write(_json.dumps(doc))
        with pytest.raises(ValueError, match="no current snapshot"):
            load_iceberg_metadata(bad)


def _drop_crc_sidecar(file_path):
    """Overwriting a Spark-written parquet in place invalidates its
    Hadoop .crc sidecar — remove it so the re-read checksums clean."""
    d, b = os.path.split(file_path)
    crc = os.path.join(d, f".{b}.crc")
    if os.path.exists(crc):
        os.unlink(crc)


class TestRenamedHistoryImport:
    """Field-id rename resolution (round 13, verdict r12 Missing #2):
    real long-lived Iceberg tables rename columns; iceberg-rs reads
    their old files via field ids. The import derives per-column
    alias lists from the metadata's SCHEMA HISTORY and threads them
    through the native scan's rename-coalesce, so pre-rename files
    resolve instead of refusing (or worse, reading NULLs)."""

    @staticmethod
    def _apply_rename(mjson, old_to_new: dict[str, str]):
        """Rewrite an exported metadata.json so the CURRENT schema
        carries renamed columns while schema-id 0 keeps the names the
        data files were written under — exactly the document a real
        table has after ALTER TABLE RENAME COLUMN."""
        import copy
        import json as _json

        doc = _json.loads(open(mjson).read())
        old = doc["schemas"][0]
        new = copy.deepcopy(old)
        new["schema-id"] = old["schema-id"] + 1
        for f in new["fields"]:
            if f["name"] in old_to_new:
                f["name"] = old_to_new[f["name"]]
        doc["schemas"] = [old, new]
        doc["current-schema-id"] = new["schema-id"]
        open(mjson, "w").write(_json.dumps(doc))
        return mjson

    def test_scan_coalesces_pre_rename_data_files(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "r"), SCHEMA)
        t.append(seed(spark, 40))
        expected = sorted((r.id, r.cat, r.val) for r in t.read().collect())
        mjson = self._apply_rename(
            export_iceberg_metadata(t.meta), {"cat": "category"}
        )
        t2 = load_iceberg_table(spark, mjson)
        assert [f.name for f in t2.schema.fields] == ["id", "category", "val"]
        got = sorted(
            (r.id, r.category, r.val) for r in t2.read().collect()
        )
        assert got == expected  # values, not NULLs

    def test_eq_delete_file_under_old_name_applies(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "rd"), SCHEMA)
        t.append(seed(spark, 40))
        t.append_equality_deletes(
            spark.createDataFrame([("c3",)], "cat string"), ["cat"]
        )
        expected = sorted((r.id, r.cat, r.val) for r in t.read().collect())
        assert all(c != "c3" for _, c, _ in expected)
        mjson = self._apply_rename(
            export_iceberg_metadata(t.meta), {"cat": "category"}
        )
        t2 = load_iceberg_table(spark, mjson)
        # equality ids resolve through field ids to the CURRENT name
        eq = [
            e for e in t2.meta.current_snapshot().entries
            if e.content == md.EQ_DELETE
        ]
        assert eq and all(e.equality_ids == ["category"] for e in eq)
        got = sorted(
            (r.id, r.category, r.val) for r in t2.read().collect()
        )
        assert got == expected
        # a second delete on the same key set, written after the
        # rename under the CURRENT name (as a later Iceberg writer
        # would; the import is read-only, so the entry joins the
        # pinned snapshot in memory): the old-name and the new-name
        # file apply together in the set's one scan
        from bergloom_spark.lake import writer as wr

        snap = t2.meta.current_snapshot()
        snap.entries.extend(
            wr.write_equality_delete_files(
                spark.createDataFrame([("c1",)], "category string"),
                str(tmp_path / "late"),
                snap.sequence_number + 1,
                ["category"],
            )
        )
        assert len(snap.files(md.EQ_DELETE)) == 2
        got = sorted(
            (r.id, r.category, r.val) for r in t2.read().collect()
        )
        assert got == [r for r in expected if r[1] != "c1"]

    def test_footer_field_ids_covered_by_history_pass(self, spark, tmp_path):
        """A pre-rename file WITH PARQUET:field_id footer metadata is
        exactly the iceberg-java-written shape: the guardrail must
        accept it when the schema history covers the old name, and
        the scan must still read it correctly."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = LakeTable.create(spark, str(tmp_path / "rf"), SCHEMA)
        t.append(seed(spark, 10))
        entry = t.meta.current_snapshot().files(md.DATA)[0]
        fields = [
            pa.field("id", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("cat", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
            pa.field("val", pa.float64(),
                     metadata={b"PARQUET:field_id": b"3"}),
        ]
        tbl = pa.table(
            {"id": pa.array(range(10), pa.int64()),
             "cat": pa.array([f"c{i % 5}" for i in range(10)]),
             "val": pa.array([i * 1.5 for i in range(10)])},
            schema=pa.schema(fields),
        )
        pq.write_table(tbl, entry.file_path)
        _drop_crc_sidecar(entry.file_path)
        mjson = self._apply_rename(
            export_iceberg_metadata(t.meta), {"cat": "category"}
        )
        t2 = load_iceberg_table(spark, mjson)  # no refusal
        got = sorted(
            (r.id, r.category) for r in t2.read().collect()
        )
        assert got == [(i, f"c{i % 5}") for i in range(10)]

    def test_uncovered_footer_rename_still_refuses(self, spark, tmp_path):
        """A footer name NO schema version ever carried is out of
        contract — the r12 guardrail survives as the fallback."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = LakeTable.create(spark, str(tmp_path / "ru"), SCHEMA)
        t.append(seed(spark, 5))
        entry = t.meta.current_snapshot().files(md.DATA)[0]
        fields = [
            pa.field("id", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("never_in_history", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
            pa.field("val", pa.float64(),
                     metadata={b"PARQUET:field_id": b"3"}),
        ]
        tbl = pa.table(
            {"id": pa.array([1], pa.int64()),
             "never_in_history": pa.array(["x"]),
             "val": pa.array([1.0])},
            schema=pa.schema(fields),
        )
        pq.write_table(tbl, entry.file_path)
        mjson = self._apply_rename(
            export_iceberg_metadata(t.meta), {"cat": "category"}
        )
        with pytest.raises(ValueError, match="rename"):
            load_iceberg_table(spark, mjson)

    def test_name_swap_history_refuses(self, spark, tmp_path):
        """Two columns exchanging names across history make name-based
        coalesce read the OTHER column's values — must refuse."""
        import json as _json

        t = LakeTable.create(spark, str(tmp_path / "rs"), SCHEMA)
        t.append(seed(spark, 5))
        mjson = export_iceberg_metadata(t.meta)
        doc = _json.loads(open(mjson).read())
        import copy

        old = copy.deepcopy(doc["schemas"][0])
        # old schema: 'cat' and 'val' names swapped (same ids/types?
        # a true swap needs same types; use cat<->a string twin)
        new = copy.deepcopy(old)
        new["schema-id"] = old["schema-id"] + 1
        by_name = {f["name"]: f for f in old["fields"]}
        # make both string-typed so the type gate doesn't mask the
        # ambiguity check
        by_name["val"]["type"] = "string"
        for f in new["fields"]:
            if f["name"] == "cat":
                f["name"] = "val"
            elif f["name"] == "val":
                f["name"] = "cat"
                f["type"] = "string"
        doc["schemas"] = [old, new]
        doc["current-schema-id"] = new["schema-id"]
        open(mjson, "w").write(_json.dumps(doc))
        # r14: metadata load only MARKS the ambiguity; the refusal
        # decision moved to load_iceberg_table, which still refuses
        # here because the lake-written files carry no field ids
        meta = load_iceberg_metadata(mjson)
        assert "iceberg.rename-ambiguous" in meta.properties
        with pytest.raises(ValueError, match="ambiguous"):
            load_iceberg_table(spark, mjson)
        with pytest.raises(ValueError, match="field_id"):
            load_iceberg_table(spark, mjson)

    def test_name_swap_resolves_by_field_id(self, spark, tmp_path):
        """Verdict r13 Missing #3 done-criterion: when every data
        file footer carries PARQUET:field_id for every column, an
        A<->B name swap resolves purely by id — values follow their
        ids, never their names."""
        import glob
        import json as _json

        from bergloom_spark.lake.iceberg_export import write_iceberg_tree

        # id-stamped parquet: Spark writes PARQUET:field_id when the
        # schema metadata carries parquet.field.id
        df = spark.range(40).select(
            F.col("id").alias("x"), (F.col("id") * 10).alias("y")
        )
        stamped = T.StructType([
            T.StructField("x", T.LongType(), True, {"parquet.field.id": 1}),
            T.StructField("y", T.LongType(), True, {"parquet.field.id": 2}),
        ])
        ddir = str(tmp_path / "data")
        spark.createDataFrame(df.collect(), stamped).coalesce(
            1
        ).write.parquet(ddir)
        fpath = glob.glob(ddir + "/part-*.parquet")[0]
        # tree whose CURRENT schema swaps the names: id 1 is now
        # called "y", id 2 is now called "x"
        mjson = write_iceberg_tree(
            str(tmp_path / "tree"),
            [
                {"id": 1, "name": "y", "type": "long", "required": False},
                {"id": 2, "name": "x", "type": "long", "required": False},
            ],
            [],
            [{"file_path": fpath, "record_count": 40,
              "file_size_in_bytes": os.path.getsize(fpath)}],
        )
        doc = _json.loads(open(mjson).read())
        doc["schemas"] = [
            {"type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "x", "type": "long", "required": False},
                {"id": 2, "name": "y", "type": "long", "required": False},
            ]},
            doc["schemas"][0] | {"schema-id": 1},
        ]
        doc["current-schema-id"] = 1
        open(mjson, "w").write(_json.dumps(doc))
        t = load_iceberg_table(spark, mjson)
        assert t.meta.properties.get("iceberg.field-id-read") == "true"
        rows = sorted((r.x, r.y) for r in t.read().collect())
        # column "y" (id 1) carries the ORIGINAL x values; column
        # "x" (id 2) the original y values
        assert rows == sorted((i * 10, i) for i in range(40))
        # two equality deletes on current "y" (id 1), one per name
        # epoch: a pre-swap file stores the key as "x", a post-swap
        # file as "y". The set's one scan resolves both by id.
        snap = t.meta.current_snapshot()
        for seq, (name, key) in enumerate([("x", 3), ("y", 7)], 2):
            ddir = str(tmp_path / f"eq-{seq}")
            spark.createDataFrame(
                [(key,)],
                T.StructType([
                    T.StructField(name, T.LongType(), True,
                                  {"parquet.field.id": 1}),
                ]),
            ).coalesce(1).write.parquet(ddir)
            dpath = glob.glob(ddir + "/part-*.parquet")[0]
            snap.entries.append(md.ManifestEntry(
                content=md.EQ_DELETE,
                file_path=dpath,
                record_count=1,
                file_size_bytes=os.path.getsize(dpath),
                sequence_number=seq,
                equality_ids=["y"],
            ))
        rows = sorted((r.x, r.y) for r in t.read().collect())
        assert rows == sorted(
            (i * 10, i) for i in range(40) if i not in (3, 7)
        )

    def test_rename_with_type_change_not_aliased(self, spark, tmp_path):
        """A rename that ALSO changed the primitive type is excluded
        from aliasing (no cast path); files without footer ids load
        but coalesce only through same-typed history."""
        import json as _json

        t = LakeTable.create(spark, str(tmp_path / "rt"), SCHEMA)
        t.append(seed(spark, 5))
        mjson = self._apply_rename(
            export_iceberg_metadata(t.meta), {"cat": "category"}
        )
        doc = _json.loads(open(mjson).read())
        for f in doc["schemas"][0]["fields"]:
            if f["name"] == "cat":
                f["type"] = "int"  # historical type differs
        open(mjson, "w").write(_json.dumps(doc))
        meta = load_iceberg_metadata(mjson)
        assert "column_renames" not in meta.properties

    def test_native_rename_roundtrips_through_export(self, spark, tmp_path):
        """Files genuinely spanning a native rename_column survive the
        full export→import loop: the exporter reconstructs historical
        schema versions from column_renames, the importer derives the
        alias map back from them."""
        import json as _json

        t = LakeTable.create(spark, str(tmp_path / "rr"), SCHEMA)
        t.append(seed(spark, 40).filter("id % 2 = 0"))  # files carry 'cat'
        t.rename_column("cat", "category")
        t.append(
            seed(spark, 40)
            .filter("id % 2 = 1")
            .withColumnRenamed("cat", "category")
        )  # files carry 'category'
        native = sorted(
            (r.id, r.category, r.val) for r in t.read().collect()
        )
        mjson = export_iceberg_metadata(t.refresh().meta)
        doc = _json.loads(open(mjson).read())
        assert len(doc["schemas"]) == 2  # history materialized
        t2 = load_iceberg_table(spark, mjson)
        got = sorted(
            (r.id, r.category, r.val) for r in t2.read().collect()
        )
        assert got == native


class TestStringBoundsAndCounts:
    """r13 (verdict r12 Missing #3a): string bounds under Iceberg's
    truncate(16) contract + value/null counts, both directions."""

    def test_utf8_truncate_contract(self):
        from bergloom_spark.lake.skipping import (
            utf8_truncate_lower,
            utf8_truncate_upper,
        )

        assert utf8_truncate_lower("short") == "short"
        assert utf8_truncate_upper("short") == "short"
        long = "abcdefghijklmnop" + "qqqq"  # 20 cps
        assert utf8_truncate_lower(long) == "abcdefghijklmnop"
        up = utf8_truncate_upper(long)
        assert up == "abcdefghijklmnoq" and up > long
        # increment skips the surrogate block
        s = "a" * 15 + "퟿" + "zz"
        assert utf8_truncate_upper(s)[-1] == ""
        # carry past U+10FFFF moves left
        s = "ab" + "\U0010ffff" * 14 + "zz"
        up = utf8_truncate_upper(s)
        assert up == "ac" and up > s
        # unincrementable prefix → no upper bound
        assert utf8_truncate_upper("\U0010ffff" * 17) is None
        # the law on arbitrary strings: lower ≤ s ≤ upper
        for probe in ("", "z" * 40, "é世" * 20, "a\U0010ffffb" * 8):
            lo = utf8_truncate_lower(probe)
            hi = utf8_truncate_upper(probe)
            assert lo <= probe
            if hi is not None:
                assert probe <= hi

    def test_string_predicate_prunes_imported_files(self, spark, tmp_path):
        """Disjoint string ranges across files: a string predicate
        must prune files through IMPORTED metadata (the verdict's
        done-criterion fixture) and return exactly the right rows."""
        from bergloom_spark.lake import skipping as sk

        t = LakeTable.create(spark, str(tmp_path / "sp"), SCHEMA)
        a = seed(spark, 40).withColumn(
            "cat", F.concat(F.lit("apple-"), F.col("id").cast("string"))
        )
        b = seed(spark, 40).withColumn(
            "cat", F.concat(F.lit("zebra-"), F.col("id").cast("string"))
        )
        t.append(a)
        t.append(b)
        mjson = export_iceberg_metadata(t.meta)
        t2 = load_iceberg_table(spark, mjson)
        entries = t2.meta.current_snapshot().files(md.DATA)
        assert len(entries) == 2
        kept = sk.prune_entries(entries, [("cat", ">=", "m")])
        assert len(kept) == 1  # the apple file pruned
        got = sorted(
            r.id for r in t2.scan_data(
                filters=[("cat", ">=", "m")]
            ).collect()
        )
        assert got == list(range(40))  # all zebra rows, none lost

    def test_long_string_bounds_stay_conservative(self, spark, tmp_path):
        """Values longer than 16 cps truncate; pruning must stay
        conservative (never lose a matching row) and fast_min_max
        must refuse the non-attained bounds."""
        from bergloom_spark.lake import skipping as sk

        t = LakeTable.create(spark, str(tmp_path / "ls"), SCHEMA)
        prefix = "a" * 16  # shared 16-cp prefix: truncation collides
        rows = [(i, prefix + f"suffix-{i:04d}", float(i)) for i in range(30)]
        t.append(spark.createDataFrame(rows, SCHEMA).coalesce(1))
        (entry,) = t.meta.current_snapshot().files(md.DATA)
        lo, hi = entry.column_stats["cat"][0], entry.column_stats["cat"][1]
        assert lo == prefix and hi == "a" * 15 + "b"
        assert t.fast_min_max("cat") is None
        # equality probe inside the range: may-match (no false prune)
        assert sk.entry_may_match(entry, "cat", "=", prefix + "suffix-0010")
        # probe above the incremented upper: prunes
        assert not sk.entry_may_match(entry, "cat", ">=", "b")
        mjson = export_iceberg_metadata(t.meta)
        t2 = load_iceberg_table(spark, mjson)
        (e2,) = t2.meta.current_snapshot().files(md.DATA)
        assert e2.column_stats["cat"] == entry.column_stats["cat"]

    def test_all_null_column_prunes(self, spark, tmp_path):
        """value_counts == null_value_counts proves every value NULL —
        any comparison predicate prunes the file, natively and through
        the import."""
        from bergloom_spark.lake import skipping as sk

        t = LakeTable.create(spark, str(tmp_path / "an"), SCHEMA)
        t.append(
            seed(spark, 20).withColumn(
                "val", F.lit(None).cast("double")
            )
        )
        t.append(seed(spark, 20))
        entries = t.meta.current_snapshot().files(md.DATA)
        kept = sk.prune_entries(entries, [("val", ">=", 0.0)])
        assert len(kept) == 1
        mjson = export_iceberg_metadata(t.meta)
        t2 = load_iceberg_table(spark, mjson)
        kept2 = sk.prune_entries(
            t2.meta.current_snapshot().files(md.DATA),
            [("val", ">=", 0.0)],
        )
        assert len(kept2) == 1
        assert t2.scan_data(filters=[("val", ">=", 0.0)]).count() == 20

    def test_fast_null_count(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "nc"), SCHEMA)
        t.append(
            seed(spark, 30).withColumn(
                "val",
                F.when(F.col("id") % 3 == 0, F.col("val")),
            )
        )
        t.append(seed(spark, 10))
        assert t.fast_null_count("val") == 20
        assert t.fast_null_count("id") == 0
        assert t.fast_null_count("nope") is None
        # deletes poison the metadata-only answer
        t.append_equality_deletes(
            spark.createDataFrame([("c1",)], "cat string"), ["cat"]
        )
        assert t.fast_null_count("val") is None


class TestTransformPartitionPruning:
    """r13 (verdict r12 Missing #3b): bucket[N]/truncate[W]/day|month|
    year|hour partition transforms on IMPORTED tables prune files via
    Appendix-B semantics evaluated at plan time."""

    def test_murmur3_spec_vectors(self):
        """The published Appendix-B test vectors pin the hash."""
        import datetime as dt

        from bergloom_spark.lake.skipping import (
            iceberg_bucket,
            murmur3_x86_32,
        )

        assert murmur3_x86_32((34).to_bytes(8, "little")) == 2017239379
        assert murmur3_x86_32(b"iceberg") == 1210000089
        days = (dt.date(2017, 11, 16) - dt.date(1970, 1, 1)).days
        assert murmur3_x86_32(
            (days & ((1 << 64) - 1)).to_bytes(8, "little")
        ) == -653330422
        ts = dt.datetime(2017, 11, 16, 22, 31, 8)
        us = int((ts - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
        assert murmur3_x86_32(
            (us & ((1 << 64) - 1)).to_bytes(8, "little")
        ) == -2047944441
        # int and long of the same value bucket identically (spec:
        # widened before hashing) and strings hash their UTF-8
        assert iceberg_bucket(34, 16) == (2017239379 & 0x7FFFFFFF) % 16
        assert iceberg_bucket("iceberg", 16) == (1210000089 & 0x7FFFFFFF) % 16
        assert iceberg_bucket(1.5, 16) is None  # floats never bucket
        assert iceberg_bucket(True, 16) is None

    @staticmethod
    def _day_tree(spark, tmp_path, n_days=4):
        """Real parquet files, one per day, under a day-transform
        spec — the metadata a production Iceberg table carries."""
        import datetime as dt

        from bergloom_spark.lake.iceberg_export import write_iceberg_tree

        schema_fields = [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "ts", "required": False,
             "type": "timestamp"},
            {"id": 3, "name": "v", "required": False, "type": "double"},
        ]
        files = []
        base = dt.datetime(2024, 3, 1)
        for d in range(n_days):
            day = base + dt.timedelta(days=d)
            rows = [
                (d * 100 + i, day + dt.timedelta(hours=i % 24), float(i))
                for i in range(50)
            ]
            df = spark.createDataFrame(
                rows, "id long, ts timestamp_ntz, v double"
            ).coalesce(1)
            out = str(tmp_path / f"data-d{d}")
            df.write.mode("overwrite").parquet(out)
            import glob as _glob

            (path,) = _glob.glob(out + "/*.parquet")
            files.append(
                {
                    "file_path": path,
                    "record_count": 50,
                    "file_size_in_bytes": os.path.getsize(path),
                    "partition": {
                        "ts_day": (day.date() - dt.date(1970, 1, 1)).days
                    },
                }
            )
        return write_iceberg_tree(
            str(tmp_path / "meta"),
            schema_fields,
            [{"name": "ts_day", "transform": "day", "source-id": 2,
              "field-id": 1000}],
            files,
        )

    def test_timestamp_micros_exact_integer_arithmetic(self):
        """ADVICE r13 (high): ``total_seconds() * 1e6`` truncates one
        microsecond low on ~1.2% of microsecond-precision values,
        silently changing the bucket — equality queries on imported
        bucket[N] timestamp partitions then drop matching rows. The
        advisor's repro value pins the fix, and a sweep checks exact
        integer agreement where float math disagrees."""
        import datetime as dt

        from bergloom_spark.lake.skipping import (
            iceberg_bucket,
            murmur3_x86_32,
            timestamp_to_micros,
        )

        v = dt.datetime(2005, 3, 28, 19, 42, 50, 536110)
        us = timestamp_to_micros(v)
        assert us == 1112038970536110  # exact; float path gave ...109
        assert iceberg_bucket(v, 8) == 1  # float path gave 7
        # exactness law across a deterministic sweep, incl. values
        # where the float path is provably wrong
        base = dt.datetime(2003, 7, 1)
        for k in range(2000):
            t = base + dt.timedelta(
                days=k * 37 % 9000, seconds=k * 7919 % 86400,
                microseconds=k * 104729 % 1_000_000,
            )
            d = t - dt.datetime(1970, 1, 1)
            want = (
                d.days * 86_400_000_000
                + d.seconds * 1_000_000
                + d.microseconds
            )
            assert timestamp_to_micros(t) == want
            assert iceberg_bucket(t, 97) == (
                murmur3_x86_32(
                    (want & ((1 << 64) - 1)).to_bytes(8, "little")
                ) & 0x7FFFFFFF
            ) % 97

    def test_serialize_bound_timestamp_exact(self):
        """ADVICE r13 (medium): the exported timestamp bound must be
        the exact integer micros — a 1us-low UPPER bound understates
        the max and lets import-side pruning drop a file whose true
        max equals the predicate literal."""
        import struct

        from bergloom_spark.lake.iceberg_export import _serialize_bound

        b = _serialize_bound(
            "timestamp", "2005-03-28T19:42:50.536110", side="upper"
        )
        assert struct.unpack("<q", b)[0] == 1112038970536110
        b = _serialize_bound(
            "timestamptz", "2005-03-28T19:42:50.536110+00:00", side="upper"
        )
        assert struct.unpack("<q", b)[0] == 1112038970536110

    def test_day_transform_prunes_imported_files(self, spark, tmp_path):
        """The verdict's done-criterion: a day-partitioned fixture
        scans fewer files under a timestamp predicate, hash-equal
        results."""
        import datetime as dt

        from bergloom_spark.lake import skipping as sk

        mjson = self._day_tree(spark, tmp_path)
        t = load_iceberg_table(spark, mjson)
        entries = t.meta.current_snapshot().files(md.DATA)
        assert len(entries) == 4
        # derived evidence landed as a closed day range on ts
        assert all("ts" in e.column_stats for e in entries)
        cut = dt.datetime(2024, 3, 3)  # keeps days 2..3 only
        kept = sk.prune_entries(entries, [("ts", ">=", cut)])
        assert len(kept) == 2  # file-count assertion: two days pruned
        got = sorted(
            r.id for r in t.scan_data(filters=[("ts", ">=", cut)]).collect()
        )
        want = sorted(
            d * 100 + i for d in (2, 3) for i in range(50)
        )
        assert got == want  # results identical to the unpruned filter

    def test_bucket_transform_prunes_equality(self, spark, tmp_path):
        """bucket[8] on a long key: an equality probe keeps only the
        files whose bucket matches the literal's Appendix-B hash."""
        from bergloom_spark.lake import skipping as sk
        from bergloom_spark.lake.iceberg_export import write_iceberg_tree

        schema_fields = [
            {"id": 1, "name": "k", "required": True, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "double"},
        ]
        n = 8
        by_bucket: dict[int, list] = {}
        for k in range(200):
            by_bucket.setdefault(sk.iceberg_bucket(k, n), []).append(k)
        files = []
        for b, keys in sorted(by_bucket.items()):
            df = spark.createDataFrame(
                [(k, float(k)) for k in keys], "k long, v double"
            ).coalesce(1)
            out = str(tmp_path / f"data-b{b}")
            df.write.mode("overwrite").parquet(out)
            import glob as _glob

            (path,) = _glob.glob(out + "/*.parquet")
            files.append(
                {
                    "file_path": path,
                    "record_count": len(keys),
                    "file_size_in_bytes": os.path.getsize(path),
                    "partition": {"k_bucket": b},
                }
            )
        mjson = write_iceberg_tree(
            str(tmp_path / "meta"),
            schema_fields,
            [{"name": "k_bucket", "transform": "bucket[8]",
              "source-id": 1, "field-id": 1000}],
            files,
        )
        t = load_iceberg_table(spark, mjson)
        entries = t.meta.current_snapshot().files(md.DATA)
        assert len(entries) == len(by_bucket)
        kept = sk.prune_entries(entries, [("k", "=", 42)])
        assert len(kept) == 1  # only the matching bucket's file
        got = t.scan_data(filters=[("k", "=", 42)]).collect()
        assert [(r.k, r.v) for r in got] == [(42, 42.0)]
        # range predicates never consult buckets (no false prune)
        assert len(sk.prune_entries(entries, [("k", ">=", 0)])) == len(
            entries
        )

    def test_truncate_transforms_derive_ranges(self):
        """truncate[W] evidence: int → [v, v+W−1]; string → prefix
        bounds under the marker. Pure plan-time derivation."""
        from bergloom_spark.lake.iceberg_import import (
            _transform_pruning_evidence,
        )
        from bergloom_spark.lake.skipping import STRING_BOUND_MARKER

        ids = {1: "amount", 2: "name"}
        types = {1: "long", 2: "string"}
        spec = [
            {"name": "amount_trunc", "transform": "truncate[100]",
             "source-id": 1},
            {"name": "name_trunc", "transform": "truncate[4]",
             "source-id": 2},
        ]
        stats, buckets = _transform_pruning_evidence(
            {"amount_trunc": 300, "name_trunc": "appl"}, spec, ids, types
        )
        assert stats["amount"] == [300, 399]
        assert stats["name"] == ["appl", "appm", STRING_BOUND_MARKER]
        assert buckets == {}
        # month / year / hour ranges
        ids2, types2 = {1: "ts"}, {1: "timestamp"}
        for tr, v, lo, hi in [
            ("month", 650, "2024-03-01T00:00:00",
             "2024-03-31T23:59:59.999999"),
            ("year", 54, "2024-01-01T00:00:00",
             "2024-12-31T23:59:59.999999"),
            ("hour", 474935, "2024-03-06T23:00:00",
             "2024-03-06T23:59:59.999999"),
        ]:
            st2, _ = _transform_pruning_evidence(
                {"p": v},
                [{"name": "p", "transform": tr, "source-id": 1}],
                ids2,
                types2,
            )
            assert st2["ts"] == [lo, hi], (tr, st2)

    def test_day_transform_prunes_through_rename(self, spark, tmp_path):
        """Interaction (r13): the day-partitioned table's source
        column was RENAMED after the files were written — the spec's
        source-id resolves to the CURRENT name, the alias map
        resolves the files' old name, and pruning + values both
        survive."""
        import copy
        import datetime as dt
        import json as _json

        from bergloom_spark.lake import skipping as sk

        mjson = self._day_tree(spark, tmp_path)
        doc = _json.loads(open(mjson).read())
        old_schema = doc["schemas"][0]
        new_schema = copy.deepcopy(old_schema)
        new_schema["schema-id"] = 1
        for f in new_schema["fields"]:
            if f["name"] == "ts":
                f["name"] = "event_time"
        doc["schemas"] = [old_schema, new_schema]
        doc["current-schema-id"] = 1
        open(mjson, "w").write(_json.dumps(doc))

        t = load_iceberg_table(spark, mjson)
        assert "event_time" in [f.name for f in t.schema.fields]
        entries = t.meta.current_snapshot().files(md.DATA)
        # derived day evidence lands on the CURRENT name
        assert all("event_time" in e.column_stats for e in entries)
        cut = dt.datetime(2024, 3, 3)
        kept = sk.prune_entries(entries, [("event_time", ">=", cut)])
        assert len(kept) == 2
        got = sorted(
            r.id
            for r in t.scan_data(
                filters=[("event_time", ">=", cut)]
            ).collect()
        )
        assert got == sorted(d * 100 + i for d in (2, 3) for i in range(50))
        # the values themselves resolve through the alias (not NULL)
        row = t.scan_data().filter("id = 310").select("event_time").first()
        assert row.event_time == dt.datetime(2024, 3, 4, 10)

    def test_hostile_transform_values_never_escape(self):
        """Partition values are attacker bytes (they ride in Avro
        manifests): out-of-range time transform values must yield NO
        evidence, never an OverflowError escaping the import."""
        from bergloom_spark.lake.iceberg_import import (
            _transform_pruning_evidence,
        )

        ids, types = {1: "ts"}, {1: "timestamp"}
        for tr in ("day", "month", "year", "hour"):
            for v in (10**15, -(10**15), 10**9):
                stats, buckets = _transform_pruning_evidence(
                    {"p": v},
                    [{"name": "p", "transform": tr, "source-id": 1}],
                    ids,
                    types,
                )
                assert buckets == {}
                # either valid evidence or none — lo <= hi when present
                if "ts" in stats:
                    assert stats["ts"][0] <= stats["ts"][1]
        # junk value types: silently no evidence
        for junk in ("x", True, None, 1.5, [1]):
            stats, _ = _transform_pruning_evidence(
                {"p": junk},
                [{"name": "p", "transform": "day", "source-id": 1}],
                ids,
                types,
            )
            assert stats == {}


class TestDeletionVectors:
    """Iceberg v3 deletion vectors (r14, verdict r13 Missing #2):
    Puffin files + roaring64 portable bitmaps applied as positional
    deletes in the import scan."""

    @staticmethod
    def _dv_tree(spark, root, dvs_for_file):
        """Two real parquet data files + one Puffin DV file + a v3
        tree referencing them. ``dvs_for_file(i, n_rows)`` gives the
        deleted positions for file i."""
        import glob

        from bergloom_spark.lake import puffin
        from bergloom_spark.lake.iceberg_export import write_iceberg_tree

        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        ddir = os.path.join(root, "data")
        df.where("k < 50").coalesce(1).write.parquet(ddir + "/f0")
        df.where("k >= 50").coalesce(1).write.parquet(ddir + "/f1")
        files = [
            glob.glob(d + "/part-*.parquet")[0]
            for d in (ddir + "/f0", ddir + "/f1")
        ]
        dvs = {files[i]: dvs_for_file(i, 50) for i in range(2)}
        dvs = {p: v for p, v in dvs.items() if v is not None}
        pf, metas = puffin.write_puffin_dvs(dvs)
        ppath = os.path.join(root, "deletes.puffin")
        with open(ppath, "wb") as f:
            f.write(pf)
        schema_fields = [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ]
        data_files = [
            {"file_path": f, "record_count": 50,
             "file_size_in_bytes": os.path.getsize(f)}
            for f in files
        ]
        delete_files = [
            {"file_path": ppath, "file_format": "puffin",
             "record_count": int(b["properties"]["cardinality"]),
             "file_size_in_bytes": len(pf),
             "referenced_data_file":
                 b["properties"]["referenced-data-file"],
             "content_offset": b["offset"],
             "content_size_in_bytes": b["length"]}
            for b in metas
        ]
        return write_iceberg_tree(
            root, schema_fields, [], data_files,
            delete_files=delete_files, format_version=3,
        ), files

    def test_dv_read_applies_positions(self, spark, tmp_path):
        mjson, _ = self._dv_tree(
            spark, str(tmp_path),
            lambda i, n: list(range(10)) if i == 0
            else [p for p in range(50) if p % 2 == 0],
        )
        t = load_iceberg_table(spark, mjson)
        got = sorted(r.k for r in t.read().collect())
        want = sorted(
            set(range(10, 50))
            | {k for k in range(50, 100) if (k - 50) % 2 == 1}
        )
        assert got == want

    def test_dv_mixed_with_parquet_pos_deletes(self, spark, tmp_path):
        """A v3 table may carry BOTH puffin DVs and legacy parquet
        position-delete files; both apply."""
        import glob

        mjson, files = self._dv_tree(
            spark, str(tmp_path), lambda i, n: [0] if i == 0 else None
        )
        # append a parquet pos-delete for file 1, pos 0 (k=50), by
        # rewriting the tree with both delete kinds
        pdel = spark.createDataFrame(
            [(files[1], 0)], "file_path string, pos long"
        )
        pdir = str(tmp_path / "pdel")
        pdel.coalesce(1).write.parquet(pdir)
        ppath = glob.glob(pdir + "/part-*.parquet")[0]
        import json as _json

        from bergloom_spark.lake import puffin
        from bergloom_spark.lake.iceberg_export import write_iceberg_tree

        pf = open(str(tmp_path / "deletes.puffin"), "rb").read()
        meta = puffin.read_file_metadata(pf)["blobs"][0]
        schema_fields = [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ]
        mjson2 = write_iceberg_tree(
            str(tmp_path / "tree2"), schema_fields, [],
            [{"file_path": f, "record_count": 50,
              "file_size_in_bytes": os.path.getsize(f)}
             for f in files],
            delete_files=[
                {"file_path": str(tmp_path / "deletes.puffin"),
                 "file_format": "puffin", "record_count": 1,
                 "file_size_in_bytes": len(pf),
                 "referenced_data_file":
                     meta["properties"]["referenced-data-file"],
                 "content_offset": meta["offset"],
                 "content_size_in_bytes": meta["length"]},
                {"file_path": ppath, "file_format": "parquet",
                 "record_count": 1,
                 "file_size_in_bytes": os.path.getsize(ppath)},
            ],
            format_version=3,
        )
        t = load_iceberg_table(spark, mjson2)
        got = sorted(r.k for r in t.read().collect())
        assert got == sorted(set(range(100)) - {0, 50})

    def test_dv_compacts_to_clean_v2(self, spark, tmp_path):
        """compact_iceberg_table over a v3 DV table: the rewrite
        applies the DVs and lands a delete-free v2 tree."""
        from bergloom_spark.lake.iceberg_import import (
            compact_iceberg_table,
        )

        mjson, _ = self._dv_tree(
            spark, str(tmp_path / "src"),
            lambda i, n: list(range(0, 50, 5)),
        )
        result, out = compact_iceberg_table(
            spark, mjson, str(tmp_path / "out")
        )
        t2 = load_iceberg_table(spark, out)
        snap = t2.meta.current_snapshot()
        assert not snap.files(md.POS_DELETE)
        assert not snap.files(md.EQ_DELETE)
        got = sorted(r.k for r in t2.read().collect())
        want = sorted(
            k for k in range(100) if (k % 50) % 5 != 0
        )
        assert got == want

    def test_malformed_dv_entry_refuses(self, spark, tmp_path):
        """PUFFIN entries missing the referenced fields, or carrying
        non-delete content, are loud refusals — never a silent
        wrong-rows read."""
        from bergloom_spark.lake.iceberg_export import write_iceberg_tree
        from bergloom_spark.lake.iceberg_import import (
            load_iceberg_metadata,
        )

        df = spark.range(10).select(F.col("id").alias("k"))
        ddir = str(tmp_path / "d")
        df.coalesce(1).write.parquet(ddir)
        import glob

        f = glob.glob(ddir + "/part-*.parquet")[0]
        schema_fields = [
            {"id": 1, "name": "k", "type": "long", "required": False},
        ]
        mjson = write_iceberg_tree(
            str(tmp_path / "t"), schema_fields, [],
            [{"file_path": f, "record_count": 10,
              "file_size_in_bytes": os.path.getsize(f)}],
            delete_files=[{
                "file_path": str(tmp_path / "nope.puffin"),
                "file_format": "puffin", "record_count": 1,
                "file_size_in_bytes": 1,
                # missing referenced_data_file/content_offset/...
            }],
            format_version=3,
        )
        with pytest.raises(ValueError, match="deletion-vector"):
            load_iceberg_metadata(mjson)

    def test_hostile_dv_blobs_raise(self):
        """Framing violations in the blob are ValueError, never a
        crash or a silently-empty vector."""
        import struct
        import zlib

        from bergloom_spark.lake import puffin

        good = puffin.encode_deletion_vector([1, 2, 3])
        assert puffin.decode_deletion_vector(good).tolist() == [1, 2, 3]
        bad_cases = [
            b"",                                  # empty
            good[:-1],                            # truncated CRC
            good[:4] + b"XXXX" + good[8:],        # wrong magic
            struct.pack(">I", 999) + good[4:],    # wrong length
            good[:-4] + struct.pack(">I", 0),     # wrong CRC
        ]
        for b in bad_cases:
            with pytest.raises(ValueError):
                puffin.decode_deletion_vector(b)
        # corrupt interior roaring data: flip a byte inside the
        # vector and fix the CRC — must still be a structured error,
        # not garbage positions
        body = bytearray(good[4:-4])
        if len(body) > 12:
            body[8] ^= 0xFF
            blob = (
                struct.pack(">I", len(body))
                + bytes(body)
                + struct.pack(">I", zlib.crc32(bytes(body)) & 0xFFFFFFFF)
            )
            try:
                puffin.decode_deletion_vector(blob)
            except ValueError:
                pass  # structured refusal is the contract


class TestV3ExportRoundtrip:
    def test_dv_snapshot_exports_as_v3_and_reimports(self, spark, tmp_path):
        """r14: native DV snapshot → real v3 tree (PUFFIN entries
        with spec fields 143-145) → import reads identical rows; the
        v2 default still refuses."""
        from bergloom_spark.lake.compaction import (
            rewrite_deletes_to_vectors,
        )
        from bergloom_spark.operators import mor

        t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
        t.append(seed(spark, 200))
        hidden = t.scan_data(with_hidden=True)
        t.append_position_deletes(
            hidden.filter("id % 3 = 0").select(
                F.col(mor.SYS_HIDDEN_FILE_PATH).alias("file_path"),
                F.col(mor.SYS_HIDDEN_POS).alias("pos"),
            )
        )
        before = sorted(r.id for r in t.read().collect())
        rewrite_deletes_to_vectors(t)
        t.refresh()
        with pytest.raises(ValueError, match="deletion vectors"):
            export_iceberg_metadata(t.meta)  # v2 default refuses
        mjson = export_iceberg_metadata(t.meta, format_version=3)
        import json as _json

        doc = _json.loads(open(mjson).read())
        assert doc["format-version"] == 3
        t2 = load_iceberg_table(spark, mjson)
        assert sorted(r.id for r in t2.read().collect()) == before
        pos = t2.meta.current_snapshot().files(md.POS_DELETE)
        assert pos and all(e.dv_referenced_file for e in pos)

    def test_v3_export_without_dvs_reads_as_plain_table(
        self, spark, tmp_path
    ):
        """format_version=3 on a DV-free table is still a valid tree
        (v3 is a superset)."""
        t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
        t.append(seed(spark, 60))
        mjson = export_iceberg_metadata(t.meta, format_version=3)
        t2 = load_iceberg_table(spark, mjson)
        assert t2.read().count() == 60
