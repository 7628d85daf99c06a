"""Apache Iceberg (v2 spec) table layout: export, read, append, time travel.

The north rule targets "Iceberg tables of pre-tokenized training
sequences"; this module makes that concrete WITHOUT any Iceberg runtime
dependency (none exists in this environment): it writes and reads the
public Iceberg v2 table format directly —

    table_dir/
      data/snap-<id>/*.parquet                (data and delete files)
      metadata/
        version-hint.text                     ("N" → current metadata)
        vN.metadata.json                      (table metadata, v2 spec)
        snap-<id>.avro                        (manifest LIST, Avro)
        manifest-<id>.avro                    (manifest, Avro)

Two self-contained layers:

* a minimal generic **Avro 1.11 object-container codec** (``_avro_write`` /
  ``_avro_read``) driven by the writer's JSON schema — Iceberg manifests
  and manifest lists are Avro files per the spec, with field names and
  field-ids following the spec tables.  Interop evidence (no external
  Avro/Iceberg library exists in this environment to cross-check
  against): the wire format is asserted byte-for-byte against the worked
  examples PUBLISHED IN the Avro 1.11 specification itself — zigzag
  table, the spec's record example, and a golden container file fixture
  (tests/test_iceberg.py::test_avro_wire_format_matches_spec_examples,
  ::test_avro_golden_container_bytes) — deflate-codec files built to
  the spec's framing read back equal (::test_avro_deflate_codec_reads) —
  and a CLEAN-ROOM second reader implementation
  (tests/avro_independent.py: its own varint/zigzag/union/block code,
  strict sync-marker and block-consumption checks) cross-reads every
  manifest, manifest list, and delete manifest the writer emits and
  agrees record-for-record
  (::test_avro_independent_reader_cross_reads_all_manifests).  Codecs
  beyond null/deflate (snappy, zstd) are refused loudly; a golden
  fixture from a real Iceberg runtime remains the one check this
  environment cannot produce — validate against one before relying on
  cross-runtime reads;
* the **Iceberg table protocol**: ``export_encoded`` publishes an encoded
  DataFrame as a new Iceberg table, ``append`` commits another snapshot,
  ``read_table`` loads the current (or any historic) snapshot by walking
  version-hint → metadata → manifest list → manifests → data files —
  applying v2 POSITION DELETES (``delete_where`` /
  ``write_position_deletes`` commit them, ``compact_files`` folds them
  into the dirtied data files only) — and ``snapshots`` lists the log.
  Every metadata change goes through ONE commit path, :func:`_commit`,
  under Iceberg's optimistic concurrency: data + manifests are written
  first, then the COMMIT POINT is an atomic no-overwrite publish of the
  complete vN.metadata.json (os.link from a tmp file — exactly one
  concurrent writer wins); version-hint.text is an advisory fast-path
  updated after, and readers probe past a stale or regressed hint, so a
  crash anywhere leaves either the previous or the new version current —
  never a half-commit, never a wedged table.  A writer that loses vN
  reloads the table and, by its kind's rule, re-applies its change or
  raises :class:`CommitConflict`: appends (main or branch) rebase while
  the current schema is unchanged; position deletes rebase while every
  commit since their base is an append or a delete (no file they target
  can have been rewritten); schema changes re-run while the current
  schema id is unchanged; tag, branch and expiry changes re-run on the
  new state with the values the caller resolved (the snapshot a tag
  pins); overwrite, compaction, manifest rewrite, equality deletes,
  rollback and table creation never rebase.

Data and delete files are written by pyarrow inside the Spark tasks
(:func:`_write_data_files`): each task streams its rows into its own
parquet files and returns one small row per file — path, record count,
size, column bounds from the file's own footer, partition values — so a
write is ONE Spark job, and the Spark driver builds the manifest from
the collected rows without opening a data file.  Writing the exact,
uncached frame ``engine.encode_files`` or ``engine.encode`` returned is
also ONE Python stage, whatever the partition spec: the writer runs the
encoder in its own task, on the encoder's input, so encoded rows never
cross into the JVM and back, and the task computes each row's partition
values itself (:func:`_transform_values`).

The reference engine has no table notion at all (README.md:23-24 "does
not define a compressed format"); this is the storage layer the north
rule adds on top of it.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import struct
import time
import uuid
import zlib
from pathlib import Path
from typing import NamedTuple

import numpy as np

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import engine

# ---------------------------------------------------------------------------
# Minimal Avro 1.11 object-container codec (public spec, generic datum
# reader/writer driven by the JSON schema)
# ---------------------------------------------------------------------------

_MAGIC = b"Obj\x01"


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


class _Reader:
    def __init__(self, data: bytes):
        self.b = data
        self.pos = 0

    def read(self, n: int) -> bytes:
        out = self.b[self.pos:self.pos + n]
        if len(out) != n:
            raise EOFError("truncated avro data")
        self.pos += n
        return out

    def read_long(self) -> int:
        u, shift = 0, 0
        while True:
            byte = self.b[self.pos]
            self.pos += 1
            u |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (u >> 1) ^ -(u & 1)


def _write_datum(out: bytearray, schema, datum) -> None:
    if isinstance(schema, list):                       # union
        for i, branch in enumerate(schema):
            bname = branch if isinstance(branch, str) else branch.get("type")
            if datum is None and bname == "null":
                out += _zigzag_encode(i)
                return
            if datum is not None and bname != "null":
                out += _zigzag_encode(i)
                _write_datum(out, branch, datum)
                return
        raise ValueError(f"datum {datum!r} fits no union branch {schema}")
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if datum else 0)
    elif t in ("int", "long"):
        out += _zigzag_encode(int(datum))
    elif t == "float":
        out += struct.pack("<f", float(datum))
    elif t == "double":
        out += struct.pack("<d", float(datum))
    elif t in ("bytes", "string"):
        raw = datum.encode("utf-8") if isinstance(datum, str) else bytes(datum)
        out += _zigzag_encode(len(raw))
        out += raw
    elif t == "fixed":
        out += bytes(datum)
    elif t == "record":
        for f in schema["fields"]:
            _write_datum(out, f["type"], datum.get(f["name"]))
    elif t == "array":
        if datum:
            out += _zigzag_encode(len(datum))
            for item in datum:
                _write_datum(out, schema["items"], item)
        out += _zigzag_encode(0)
    elif t == "map":
        if datum:
            out += _zigzag_encode(len(datum))
            for k, v in datum.items():
                _write_datum(out, "string", k)
                _write_datum(out, schema["values"], v)
        out += _zigzag_encode(0)
    else:
        raise NotImplementedError(f"avro type {t!r}")


def _read_datum(r: _Reader, schema):
    if isinstance(schema, list):                       # union
        return _read_datum(r, schema[r.read_long()])
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return None
    if t == "boolean":
        return r.read(1) != b"\x00"
    if t in ("int", "long"):
        return r.read_long()
    if t == "float":
        return struct.unpack("<f", r.read(4))[0]
    if t == "double":
        return struct.unpack("<d", r.read(8))[0]
    if t == "bytes":
        return r.read(r.read_long())
    if t == "string":
        return r.read(r.read_long()).decode("utf-8")
    if t == "fixed":
        return r.read(int(schema["size"]))
    if t == "record":
        return {f["name"]: _read_datum(r, f["type"])
                for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = r.read_long()
            if n == 0:
                return out
            if n < 0:                 # block with byte-size prefix
                r.read_long()
                n = -n
            for _ in range(n):
                out.append(_read_datum(r, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = r.read_long()
            if n == 0:
                return out
            if n < 0:
                r.read_long()
                n = -n
            for _ in range(n):
                k = _read_datum(r, "string")
                out[k] = _read_datum(r, schema["values"])
    raise NotImplementedError(f"avro type {t!r}")


def _avro_write(path: str, schema: dict, records: list[dict],
                metadata: dict[str, bytes] | None = None) -> None:
    """Write an Avro object-container file (null codec)."""
    schema_json = json.dumps(schema).encode()
    sync = bytes((hash((schema_json, len(records))) & ((1 << 128) - 1))
                 .to_bytes(16, "little"))
    body = bytearray()
    for rec in records:
        _write_datum(body, schema, rec)
    meta = {"avro.schema": schema_json, "avro.codec": b"null"}
    for k, v in (metadata or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode()
    out = bytearray(_MAGIC)
    _write_datum(out, {"type": "map", "values": "bytes"}, meta)
    out += sync
    if records:
        out += _zigzag_encode(len(records))
        out += _zigzag_encode(len(body))
        out += body
        out += sync
    Path(path).write_bytes(bytes(out))


def _avro_read(path: str) -> tuple[dict, list[dict]]:
    """Read an Avro object-container file (null or deflate codec).
    Returns (writer schema, records)."""
    r = _Reader(Path(path).read_bytes())
    if r.read(4) != _MAGIC:
        raise ValueError(f"{path}: not an avro object container file")
    meta = _read_datum(r, {"type": "map", "values": "bytes"})
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b"deflate"):
        # a real Iceberg writer may declare snappy/zstd; feeding those
        # blocks to the datum reader would produce garbage records, not
        # an error — refuse up front
        raise ValueError(
            f"{path}: unsupported avro codec {codec!r} (this reader "
            "handles null and deflate)")
    sync = r.read(16)
    records: list[dict] = []
    while r.pos < len(r.b):
        n = r.read_long()
        size = r.read_long()
        block = r.read(size)
        if codec == b"deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(n):
            records.append(_read_datum(br, schema))
        if r.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch")
    return schema, records


# ---------------------------------------------------------------------------
# Iceberg v2 schemas (field names and field-ids per the public spec tables)
# ---------------------------------------------------------------------------

def _f(name, ftype, fid, required=True):
    t = ftype if required else ["null", ftype]
    return {"name": name, "type": t, "field-id": fid,
            **({} if required else {"default": None})}


# Iceberg models int-keyed maps (bounds are map<field-id, single-value
# binary>) as Avro arrays of key/value records (spec: "Avro type: array of
# key_value records")
def _kv_map(name):
    return {"type": "array", "items": {
        "type": "record", "name": name, "fields": [
            {"name": "key", "type": "int"},
            {"name": "value", "type": "bytes"}]}}


_DATA_FILE_SCHEMA = {
    "type": "record", "name": "r2", "fields": [
        _f("content", "int", 134),
        _f("file_path", "string", 100),
        _f("file_format", "string", 101),
        {"name": "partition", "field-id": 102,
         "type": {"type": "record", "name": "partition_data",
                  "fields": []}},                      # unpartitioned spec
        _f("record_count", "long", 103),
        _f("file_size_in_bytes", "long", 104),
        _f("lower_bounds", _kv_map("k126_v127"), 125, required=False),
        _f("upper_bounds", _kv_map("k129_v130"), 128, required=False),
        # spec field 135 (element id 136): the schema field ids an
        # EQUALITY delete file (content=2) deletes on; null for data and
        # position-delete files
        _f("equality_ids",
           {"type": "array", "items": "int", "element-id": 136},
           135, required=False),
    ]}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        _f("status", "int", 0),
        _f("snapshot_id", "long", 1, required=False),
        _f("sequence_number", "long", 3, required=False),
        _f("file_sequence_number", "long", 4, required=False),
        {"name": "data_file", "type": _DATA_FILE_SCHEMA, "field-id": 2},
    ]}

_ICEBERG_TO_AVRO = {"string": "string", "int": "int", "long": "long"}


def _manifest_entry_schema(part_fields: list[tuple]) -> dict:
    """Manifest-entry schema whose ``partition`` record carries the
    current partition spec's fields (identity transforms), per the spec's
    'the partition struct's schema is derived from the partition spec'.
    ``part_fields`` is [(name, iceberg_type, partition_field_id)]."""
    schema = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    part = next(f for f in schema["fields"][-1]["type"]["fields"]
                if f["name"] == "partition")
    part["type"]["fields"] = [
        {"name": n, "type": ["null", _ICEBERG_TO_AVRO[t]],
         "field-id": fid, "default": None}
        for n, t, fid in part_fields]
    return schema

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517),
        _f("sequence_number", "long", 515),
        _f("min_sequence_number", "long", 516),
        _f("added_snapshot_id", "long", 503),
        _f("added_data_files_count", "int", 504),
        _f("existing_data_files_count", "int", 505),
        _f("deleted_data_files_count", "int", 506),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
    ]}

_SPARK_TO_ICEBERG = {"string": "string", "int": "int", "integer": "int",
                     "bigint": "long", "long": "long", "binary": "binary",
                     "double": "double", "float": "float",
                     "boolean": "boolean", "timestamp": "timestamptz",
                     "timestamp_ntz": "timestamp", "date": "date"}


def _iceberg_schema_of(df: DataFrame) -> dict:
    fields = []
    next_id = len(df.schema.fields)  # element-ids allocated after columns
    for i, f in enumerate(df.schema.fields):
        s = f.dataType.simpleString()
        if s.startswith("array<") and s.endswith(">"):
            elem = _SPARK_TO_ICEBERG.get(s[6:-1])
            if elem is None:
                raise NotImplementedError(
                    f"no Iceberg mapping for array element "
                    f"{s[6:-1]!r} (column {f.name!r})")
            next_id += 1
            t = {"type": "list", "element-id": next_id, "element": elem,
                 "element-required": False}
        else:
            t = _SPARK_TO_ICEBERG.get(s)
            if t is None:
                raise NotImplementedError(
                    f"no Iceberg mapping for Spark type {s!r} "
                    f"(column {f.name!r})")
        fields.append({"id": i + 1, "name": f.name,
                       "required": False, "type": t})
    return {"type": "struct", "schema-id": 0, "fields": fields}


# ---------------------------------------------------------------------------
# table protocol
# ---------------------------------------------------------------------------

def _meta_dir(table_dir: str) -> Path:
    return Path(table_dir) / "metadata"


def _sv_encode(t, v) -> bytes:
    """Iceberg single-value binary serialization (spec Appendix D):
    int = 4-byte LE, long = 8-byte LE, string = UTF-8 bytes."""
    if t == "int":
        return struct.pack("<i", int(v))
    if t == "long":
        return struct.pack("<q", int(v))
    if t == "float":
        return struct.pack("<f", float(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "string":
        return str(v).encode("utf-8")
    raise NotImplementedError(f"single-value serialization for {t!r}")


def _sv_decode(t, b: bytes):
    if t == "int":
        return struct.unpack("<i", b)[0]
    if t == "long":
        # bounds written before an int->long promote_column stay 4 bytes
        # (the spec stores the value at its WRITE-time width); decode by
        # physical width so pruning keeps working across the promotion
        return struct.unpack("<i" if len(b) == 4 else "<q", b)[0]
    if t == "float":
        return struct.unpack("<f", b)[0]
    if t == "double":
        return struct.unpack("<f" if len(b) == 4 else "<d", b)[0]
    if t == "string":
        return b.decode("utf-8")
    raise NotImplementedError(f"single-value serialization for {t!r}")


# Spark's parquet.block.size default: a task flushes its open files' row
# groups once this much Arrow data is buffered across them
_ROW_GROUP_BYTES = 128 << 20
_WRITTEN_SCHEMA = engine._schema(
    "path string, rows long, bytes long, bounds string, partition string, "
    "whole_runs boolean")
# table property: every data file committed at a data sequence number at
# or below this value passed the writer's whole-run check (_RunCheck), so
# read_table may let engine.decode stitch it without an exchange
_WHOLE_RUNS_PROP = "simdcomp.whole-segment-runs-through-seq"


def _write_data_files(df: DataFrame, out_dir: str, schema: dict,
                      spec: dict) -> list[dict]:
    """Write ``df`` as parquet files under ``out_dir`` — the only data-file
    writer of every Iceberg write (export, append, overwrite, both delete
    writers, compaction).  Each Spark task writes its own files with
    pyarrow and returns one small row per file, so the write is ONE job
    and nothing re-reads the footers, in the Spark driver or in another
    job.  Returns ``[{"path", "rows", "bytes", "bounds", "partition",
    "whole_runs"}]`` sorted by path: ``bounds`` is ``{column: [min,
    max]}``, ``partition`` ``{partition field: value}`` and
    ``whole_runs`` whether the file passed :class:`_RunCheck`.

    ``schema`` is an Iceberg struct whose fields name ``df``'s columns;
    each column (and a list's element) carries its field id in the
    parquet footer.  The Spark driver resolves ``spec`` into one
    ``(field name, source column, transform, param, source type)`` per
    partition field; each task computes every field's value from its
    source column (:func:`_transform_values`) and splits its rows by them
    into one file per partition value.  A failed task removes the files
    it wrote; the Spark driver commits only what the job returned.

    When ``df`` is the exact frame ``engine.encode_files`` or
    ``engine.encode`` returned (``engine._ENCODE_PLANS``), the write is
    fused: one ``mapInArrow`` over the encoder's input, each task feeding
    the encoder's batches as they come straight into :func:`_write_task`
    — one Python worker per task instead of two, the same files (a row
    group's pages depend only on its rows, not on their batching), for
    any spec.  Two frames keep the two-stage plan: a cached one (it must
    be written from its cache, never re-encoded: its input may be gone)
    and a derived one (its rows are no longer the encoder's)."""
    by_id = {f["id"]: f for f in schema["fields"]}
    parts = [(pf["name"], by_id[pf["source-id"]]["name"], *_transform_of(pf),
              by_id[pf["source-id"]]["type"]) for pf in spec["fields"]]
    fused = None if df.is_cached else engine._ENCODE_PLANS.get(df)
    ids = {f["name"]: (f["id"], f["type"].get("element-id")
                       if isinstance(f["type"], dict) else None)
           for f in schema["fields"]}
    Path(out_dir).mkdir(parents=True)
    df, rows_of = fused or (df, lambda it: it)

    def write_fn(it):
        return _write_task(rows_of(it), out_dir, parts, ids)

    return sorted(({**r.asDict(), "bounds": json.loads(r["bounds"]),
                    "partition": json.loads(r["partition"])}
                   for r in df.mapInArrow(write_fn, _WRITTEN_SCHEMA)
                   .collect()), key=lambda s: s["path"])


def _with_field_ids(schema: pa.Schema, ids: dict) -> pa.Schema:
    """``schema`` with ``PARQUET:field_id`` on every column named in
    ``ids`` (``{name: (field id, list element id or None)}``)."""
    def tag(field, fid):
        return field.with_metadata({b"PARQUET:field_id": str(fid)})

    out = []
    for f in schema:
        if f.name in ids:
            fid, eid = ids[f.name]
            if eid is not None and pa.types.is_list(f.type):
                f = f.with_type(pa.list_(tag(f.type.value_field, eid)))
            f = tag(f, fid)
        out.append(f)
    return pa.schema(out)


def _split_partitions(batch: pa.RecordBatch, parts: list[tuple]):
    """Yield (partition values, rows) of ``batch`` per distinct tuple of
    its ``parts``' transformed values (:func:`_write_data_files`), rows
    in arrival order."""
    if not parts:
        yield (), batch
        return
    code = np.zeros(batch.num_rows, np.int64)
    values, codes = [], []
    for _, src, tname, param, src_type in parts:
        enc = _transform_values(batch.column(src), tname, param, src_type
                                ).dictionary_encode(null_encoding="encode")
        ix = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        values.append(enc.dictionary.to_pylist())
        codes.append(ix)
        code = code * len(enc.dictionary) + ix
    uniq, inv = np.unique(code, return_inverse=True)
    for u in range(uniq.size):
        rows = np.flatnonzero(inv == u)
        key = tuple(v[ix[rows[0]]] for v, ix in zip(values, codes))
        yield key, (batch if uniq.size == 1 else batch.take(rows))


def _footer_stats(md) -> dict:
    """``{column: [min, max]}`` from a parquet footer's statistics, for
    top-level int and string columns only (the values the manifest's
    single-value bounds serialize).  A column's bound is emitted ONLY when
    every row group has usable statistics for it: a partial-coverage
    bound would describe a subset of the file and pruning on it could
    silently drop matching rows."""
    mins, maxs, covered = {}, {}, {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            if "." in c.path_in_schema:      # nested/list
                continue
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            name = c.path_in_schema
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(mn, (int, str)) or isinstance(mn, bool):
                continue
            covered[name] = covered.get(name, 0) + 1
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    return {k: [mins[k], maxs[k]] for k in mins
            if covered[k] == md.num_row_groups}


class _RunCheck:
    """The writer's whole-run check of one data file: in every row group,
    each document's segments form whole runs under
    ``engine._whole_run_breaks`` (a run starts at seg_id 0 or a new
    doc_id, and its seg_ids are 0, 1, …, k−1).  The open run carries
    across Arrow batches; :meth:`flush` ends it at a row-group boundary,
    so a run straddling one fails.  A file without doc_id and seg_id
    columns fails."""

    def __init__(self):
        self.ok, self.open_id, self.open_len = True, None, 0

    def feed(self, rows: pa.RecordBatch) -> None:
        if not self.ok or rows.num_rows == 0:
            return
        if not {"doc_id", "seg_id"} <= set(rows.schema.names):
            self.ok = False
            return
        ids = rows.column("doc_id")
        brk, bad = engine._whole_run_breaks(ids, rows.column("seg_id"),
                                            self.open_id, self.open_len)
        if bad >= 0:
            self.ok = False
            return
        starts = np.flatnonzero(brk)
        if starts.size:
            self.open_id = ids[int(starts[-1])].as_py()
            self.open_len = rows.num_rows - int(starts[-1])
        else:
            self.open_len += rows.num_rows

    def flush(self) -> None:
        self.open_id, self.open_len = None, 0


def _write_task(batches, out_dir: str, parts: list[tuple], ids: dict):
    """Task side of :func:`_write_data_files`: stream ``batches`` into one
    snappy ``ParquetWriter`` per partition value, flushing a row group
    whenever ``_ROW_GROUP_BYTES`` of Arrow data is buffered, then yield
    one ``_WRITTEN_SCHEMA`` row per file, read from its own footer, with
    its :class:`_RunCheck` verdict."""
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    ctx = TaskContext.get()
    prefix = f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}"
    files: dict[tuple, tuple] = {}  # key → (path, writer, buffered, check)
    buffered = 0

    def flush():
        for _, w, buf, check in files.values():
            if buf:
                # one chunk per column: the pages then depend only on
                # the row group's rows, not on how they were batched
                t = pa.Table.from_batches(buf).combine_chunks()
                w.write_table(t, row_group_size=t.num_rows)
                buf.clear()
                check.flush()

    try:
        for batch in batches:
            for key, rows in _split_partitions(batch, parts):
                if rows.num_rows == 0:
                    continue
                if key not in files:
                    path = os.path.join(
                        out_dir, f"{prefix}-{uuid.uuid4().hex}.parquet")
                    files[key] = (path, pq.ParquetWriter(
                        path, _with_field_ids(rows.schema, ids),
                        compression="snappy"), [], _RunCheck())
                files[key][2].append(rows)
                files[key][3].feed(rows)
                buffered += rows.nbytes
                if buffered >= _ROW_GROUP_BYTES:
                    flush()
                    buffered = 0
        flush()
        for _, w, _, _ in files.values():
            w.close()
        out = {c: [] for c in ("path", "rows", "bytes", "bounds",
                               "partition", "whole_runs")}
        names = [p[0] for p in parts]
        for key, (path, _, _, check) in files.items():
            md = pq.read_metadata(path)
            out["path"].append(path)
            out["rows"].append(md.num_rows)
            out["bytes"].append(os.path.getsize(path))
            out["bounds"].append(json.dumps(_footer_stats(md)))
            out["partition"].append(json.dumps(dict(zip(names, key))))
            out["whole_runs"].append(check.ok)
    except BaseException:
        for path, w, _, _ in files.values():
            with contextlib.suppress(OSError, pa.ArrowException):
                w.close()
            with contextlib.suppress(OSError):
                os.remove(path)
        raise
    if files:
        yield pa.RecordBatch.from_pydict(out)


def _file_entries(stats: list[dict], snap_id: int, content: int,
                  fields: dict, spec: dict, **data_file) -> list:
    """Manifest entries (status ADDED) for the files
    :func:`_write_data_files` returned.  ``fields`` maps a column name to
    its Iceberg field (id, type): its bounds become the spec's
    lower/upper_bounds maps (fields 125/128: map<field-id, single-value
    binary>), the basis of metadata-level file pruning.  The partition
    struct follows the table's ``spec``; partition columns get no
    bounds — the partition struct holds their exact value.
    ``data_file`` adds fields such as ``equality_ids``."""
    part_names = [pf["name"] for pf in spec["fields"]]
    entries = []
    for s in stats:
        lbs, ubs = [], []
        for name, (mn, mx) in sorted(s["bounds"].items()):
            f = fields.get(name)
            if f is None or not isinstance(f["type"], str) \
                    or name in part_names:
                continue
            try:
                lbs.append({"key": f["id"],
                            "value": _sv_encode(f["type"], mn)})
                ubs.append({"key": f["id"],
                            "value": _sv_encode(f["type"], mx)})
            except NotImplementedError:
                continue
        entries.append(
            {"status": 1, "snapshot_id": snap_id,
             "sequence_number": None, "file_sequence_number": None,
             "data_file": {"content": content, "file_path": s["path"],
                           "file_format": "PARQUET",
                           "partition": {n: s["partition"].get(n)
                                         for n in part_names},
                           "record_count": s["rows"],
                           "file_size_in_bytes": s["bytes"],
                           "lower_bounds": lbs, "upper_bounds": ubs,
                           **data_file}})
    return entries


def _write_manifest(path: str, entries: list[dict], schema: dict,
                    spec: dict, deletes: bool = False) -> dict:
    """Write ``entries`` as a manifest avro at ``path`` under the table's
    ``schema`` and ``spec``, and return its manifest-list record (spec
    ``manifest_file`` struct; added and existing counts from the entries'
    status).  :func:`_commit` stamps its sequence numbers."""
    _avro_write(path, _manifest_entry_schema(_part_fields(spec, schema)),
                entries, metadata={
                    "schema": json.dumps(schema),
                    "partition-spec": json.dumps(spec["fields"]),
                    "content": "deletes" if deletes else "data",
                    "format-version": "2"})
    added = [e["data_file"] for e in entries if e["status"] == 1]
    existing = [e for e in entries if e["status"] == 0]
    return {"manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": spec["spec-id"], "content": int(deletes),
            "sequence_number": None,
            "min_sequence_number": min(
                (e["sequence_number"] for e in existing), default=None),
            "added_snapshot_id": None,
            "added_data_files_count": len(added),
            "existing_data_files_count": len(existing),
            "deleted_data_files_count": 0,
            "added_rows_count": sum(d["record_count"] for d in added),
            "existing_rows_count": sum(e["data_file"]["record_count"]
                                       for e in existing),
            "deleted_rows_count": 0}


def _new_snapshot_id() -> int:
    return int(uuid.uuid4().int % (1 << 62)) + 1


def _current_version(table_dir: str) -> int:
    """Resolve the current metadata version.

    HadoopTableOperations semantics: the atomic no-overwrite publish of
    ``vN.metadata.json`` is the COMMIT POINT; ``version-hint.text`` is an
    advisory fast-path.  A writer that crashed after publishing vN but
    before updating the hint has still committed — so readers start at the
    hint and probe upward while a complete (JSON-parseable) next version
    exists.  This also heals a regressed hint (two writers finishing out
    of order) and restores commit liveness: a later writer always computes
    version N+1, never re-collides with an already-published vN."""
    mdir = _meta_dir(table_dir)
    hint = mdir / "version-hint.text"
    if hint.is_file():
        v = int(hint.read_text().strip())
    elif (mdir / "v1.metadata.json").is_file():
        # First-commit crash window: v1.metadata.json (the commit point)
        # was published but the writer died before writing the advisory
        # hint.  The table IS committed — start the upward probe at 1
        # instead of declaring it not-a-table.
        v = 1
    else:
        raise FileNotFoundError(f"{table_dir}: not an Iceberg table "
                                "(no metadata/version-hint.text)")
    while True:
        nxt = mdir / f"v{v + 1}.metadata.json"
        if not nxt.is_file():
            return v
        try:  # legacy pre-publish-protocol tables may hold a torn vN
            json.loads(nxt.read_text())
        except (OSError, ValueError):
            return v
        v += 1


def is_iceberg_table(table_dir: str) -> bool:
    """True when ``table_dir`` holds a committed table: the hint fast-path
    OR a published v1.metadata.json (hint-less first-commit crash window —
    the metadata publish is the commit point, the hint is advisory)."""
    mdir = _meta_dir(table_dir)
    return (mdir / "version-hint.text").is_file() or \
        (mdir / "v1.metadata.json").is_file()


def _current_schema(meta: dict) -> dict:
    """The table's CURRENT schema (schema evolution appends to `schemas`
    and moves `current-schema-id`; index 0 is only the original)."""
    sid = meta.get("current-schema-id", 0)
    return next(s for s in meta["schemas"] if s.get("schema-id", 0) == sid)


def _load_base(table_dir: str) -> tuple[int, dict]:
    """``(version, metadata)`` of the current table state: the base a
    commit plans against and publishes ``version + 1`` over."""
    v = _current_version(table_dir)
    return v, json.loads(
        (_meta_dir(table_dir) / f"v{v}.metadata.json").read_text())


def _load_metadata(table_dir: str) -> dict:
    return _load_base(table_dir)[1]


def _metadata_or_none(table_dir: str) -> dict | None:
    """The current metadata, or None when ``table_dir`` holds no table
    yet (a resumable writer's or stream sink's first run)."""
    try:
        return _load_metadata(table_dir)
    except FileNotFoundError:
        return None


# ---------------------------------------------------------------------------
# Partition transforms (Iceberg spec "Partition Transforms" + Appendix B
# 32-bit hash requirements): identity, bucket[N], truncate[W]
# ---------------------------------------------------------------------------

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit over ``data`` — the hash the Iceberg spec's
    bucket transform requires (Appendix B; test-pinned to the spec's own
    vectors: hash of long 34 = 2017239379, of "iceberg" = 1210000089)."""
    c1, c2, M = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & M

    h = seed & M
    nblk = len(data) // 4
    for i in range(nblk):
        k = int.from_bytes(data[4 * i:4 * i + 4], "little")
        k = rotl((k * c1) & M, 15) * c2 & M
        h = (rotl(h ^ k, 13) * 5 + 0xE6546B64) & M
    tail = data[4 * nblk:]
    if tail:
        k = int.from_bytes(tail, "little")
        h ^= rotl((k * c1) & M, 15) * c2 & M
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & M
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & M
    return h ^ (h >> 16)


def _murmur3_32_long_vec(v: np.ndarray) -> np.ndarray:
    """Vectorized murmur3_32 over int64 values hashed as the spec's
    8-byte little-endian longs (ints hash as longs so int/long agree)."""
    x = np.ascontiguousarray(v, dtype=np.int64).view(np.uint64)
    u32 = np.uint32

    def rotl(a, r):
        return (a << u32(r)) | (a >> u32(32 - r))

    h = np.zeros(x.size, np.uint32)                      # seed 0
    for blk in (x & np.uint64(0xFFFFFFFF), x >> np.uint64(32)):
        k = blk.astype(np.uint32)
        k = rotl(k * u32(0xCC9E2D51), 15) * u32(0x1B873593)
        h = rotl(h ^ k, 13) * u32(5) + u32(0xE6546B64)
    h ^= u32(8)
    h ^= h >> u32(16)
    h *= u32(0x85EBCA6B)
    h ^= h >> u32(13)
    h *= u32(0xC2B2AE35)
    return h ^ (h >> u32(16))


def _transform_values(values: pa.Array, tname: str, param: int | None,
                      src_type: str) -> pa.Array:
    """The spec's partition transform ``tname[param]`` of every value, null
    to null: identity is ``values``; truncate[W] is v − floorMod(v, W) on
    int/long and the first W code points of a string; bucket[N] is
    (murmur3 & Int.MAX) % N, ints hashed as longs so int and long
    agree."""
    if tname == "identity":
        return values
    if tname == "truncate" and src_type == "string":
        return pc.utf8_slice_codeunits(values, 0, param)
    nulls = (values.is_null().to_numpy(zero_copy_only=False)
             if values.null_count else None)
    if src_type == "string":
        h = np.array([0 if v is None else murmur3_32(v.encode("utf-8"))
                      for v in values.to_pylist()], np.uint32)
    elif src_type in ("int", "long"):
        v = values.fill_null(0).to_numpy(zero_copy_only=False) \
            .astype(np.int64)
        if tname == "truncate":
            return pa.array(v - np.mod(v, param), mask=nulls)
        h = _murmur3_32_long_vec(v)
    else:
        raise NotImplementedError(f"{tname} over {src_type!r}")
    return pa.array(((h & np.uint32(0x7FFFFFFF)) % np.uint32(param))
                    .astype(np.int32), mask=nulls)


_PARTITION_BY_RE = re.compile(
    r"^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$")
_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\[(\d+)\]$")


def _parse_partition_by(partition_by: str) -> tuple[str, str, int | None]:
    """'col' → (identity, col, None); 'bucket(16, col)' → (bucket, col,
    16); 'truncate(4, col)' → (truncate, col, 4)."""
    m = _PARTITION_BY_RE.match(partition_by)
    if m is None:
        return "identity", partition_by.strip(), None
    return m.group(1), m.group(3), int(m.group(2))


def _transform_of(pf: dict) -> tuple[str, int | None]:
    """(name, param) of a spec field's transform; refuses unknown ones
    loudly (year/month/day/hour/void are not implemented here)."""
    t = pf["transform"]
    if t == "identity":
        return "identity", None
    m = _TRANSFORM_RE.match(t)
    if m is None:
        raise NotImplementedError(
            f"partition transform {t!r} (identity, bucket[N], "
            "truncate[W] supported)")
    return m.group(1), int(m.group(2))


def _write_snapshot(table_dir: str, df: DataFrame,
                    base: tuple[int, dict] | None,
                    operation: str = "append",
                    partition_by: str | None = None,
                    extra_summary: dict[str, str] | None = None,
                    branch: str = "main") -> dict:
    """Write ``df``'s data files and manifest, then commit them as one
    snapshot through :func:`_commit`.  ``base`` is the ``(version,
    metadata)`` the write was planned against, None for a new table.
    ``operation`` is "append" (the snapshot carries the target ref's
    manifests forward, and rebases onto a concurrent commit that kept the
    schema) or "overwrite" (the snapshot holds ONLY the new manifest —
    previous snapshots' files become dead in it but remain readable by
    time travel).

    ``partition_by`` (new tables only) writes a one-field partition spec:
    ``col`` (identity), ``bucket(N, col)`` or ``truncate(W, col)``.  Each
    writer task computes the field's value per row and splits its files
    by it (the source column itself STAYS in the data files, as Iceberg
    requires); each manifest entry carries the file's partition struct,
    and :func:`prune_files` prunes on it from the spec alone — no bounds
    read.  Appends to a partitioned table inherit the table's spec
    automatically."""
    table_dir = str(table_dir)
    mdir = _meta_dir(table_dir)
    mdir.mkdir(parents=True, exist_ok=True)
    prev_meta = base[1] if base else None
    snap_id = _new_snapshot_id()
    table_schema = (_current_schema(prev_meta) if prev_meta
                    else _iceberg_schema_of(df))
    by_name = {f["name"]: f for f in table_schema["fields"]}

    # partition spec: inherited from the table, or new from partition_by
    if prev_meta:
        spec = _default_spec(prev_meta)
        if partition_by is not None:
            raise ValueError("partition_by is set at table creation; "
                             "appends inherit the table's spec")
    elif partition_by:
        tname, src_col, param = _parse_partition_by(partition_by)
        f = by_name.get(src_col)
        if f is None or f["type"] not in _ICEBERG_TO_AVRO:
            raise ValueError(
                f"partition_by={partition_by!r}: need an existing "
                f"string/int/long column, have "
                f"{ {k: v['type'] for k, v in by_name.items()} }")
        if param is not None and param <= 0:
            raise ValueError(f"{tname} parameter must be positive")
        pname = (src_col if tname == "identity"
                 else f"{src_col}_{tname}")
        tstr = "identity" if tname == "identity" else f"{tname}[{param}]"
        spec = {"spec-id": 0, "fields": [
            {"name": pname, "transform": tstr,
             "source-id": f["id"], "field-id": 1000}]}
    else:
        spec = {"spec-id": 0, "fields": []}

    # data files (a per-snapshot subdir — no clobbering), field ids
    # stamped in every footer, then the manifest with per-file bounds
    stats = _write_data_files(df, str(Path(table_dir) / "data"
                                      / f"snap-{snap_id}"),
                              table_schema, spec)
    manifest = _write_manifest(
        str(mdir / f"manifest-{snap_id}.avro"),
        _file_entries(stats, snap_id, 0, by_name, spec), table_schema, spec)
    snapshot = _NewSnapshot(
        snap_id, [manifest], (0, 1) if operation == "append" else (),
        {"operation": operation, "added-data-files": str(len(stats)),
         "added-records": str(sum(st["rows"] for st in stats)),
         **(extra_summary or {})},
        branch, all(st["whole_runs"] for st in stats))
    if base is not None:
        return _commit(table_dir, snapshot=snapshot, base=base,
                       validate=_same_schema if operation == "append"
                       else None)
    # last-column-id is the HIGHEST assigned field id including list
    # element-ids (v2 spec) — excluding them invites id collisions when a
    # real engine evolves the schema
    last_id = max(
        max(f["id"], f["type"].get("element-id", 0)
            if isinstance(f["type"], dict) else 0)
        for f in table_schema["fields"])
    return _commit(table_dir, lambda _: {
        "format-version": 2, "table-uuid": str(uuid.uuid4()),
        "location": table_dir,
        "last-column-id": last_id,
        "current-schema-id": 0,
        "schemas": [table_schema],
        "default-spec-id": 0,
        "partition-specs": [spec],
        "last-partition-id": max(
            [999] + [pf["field-id"] for pf in spec["fields"]]),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "snapshots": [], "snapshot-log": [], "metadata-log": []},
        snapshot=snapshot, base=(0, None))


def _with_whole_runs(props: dict, prev_meta: dict | None, seq: int,
                     whole_runs: bool) -> dict:
    """``props`` with ``_WHOLE_RUNS_PROP`` as a commit at sequence number
    ``seq`` leaves it.  The commit raises it to ``seq`` when every data
    file it adds passed the writer's whole-run check (vacuously, when it
    adds none) and every earlier data file did too: the table is new, or
    the property equals the base's ``last-sequence-number``.  Otherwise
    it drops to at most ``seq - 1``, so files committed from then on are
    never vouched for.  The rule holds for every data file ever
    committed, so a time-travel read may trust it too; for that reason an
    overwrite does not re-certify a table it replaces."""
    props = dict(props)
    if prev_meta is None:
        through = seq if whole_runs else 0
    else:
        prev = int(prev_meta.get("properties", {}).get(_WHOLE_RUNS_PROP, 0))
        through = (seq if whole_runs and
                   prev == prev_meta.get("last-sequence-number", 0)
                   else min(prev, seq - 1))
    if through > 0:
        props[_WHOLE_RUNS_PROP] = str(through)
    else:
        props.pop(_WHOLE_RUNS_PROP, None)
    return props


class CommitConflict(RuntimeError):
    """A commit lost the optimistic-concurrency race — another writer
    published the metadata version it meant to publish — and its change
    may not be re-applied to the newer table state."""


class _NewSnapshot(NamedTuple):
    """A snapshot a commit adds: its manifests (:func:`_write_manifest`
    records), the manifest contents it carries forward from its ref's head
    (0 data, 1 deletes), its summary, that ref, and whether every data
    file it adds passed the writer's whole-run check."""
    id: int
    manifests: list
    carry: tuple
    summary: dict
    branch: str = "main"
    whole_runs: bool = True


# re-applications of a change that keeps losing the commit race
_COMMIT_RETRIES = 5


def _reapply(start: dict, cur: dict) -> None:
    """Validation of ref and expiry changes: they re-run on any newer
    base."""
    return None


def _same_schema(start: dict, cur: dict) -> str | None:
    """Validation of appends and schema changes: re-apply only while the
    table keeps the schema the change was planned against."""
    a = start.get("current-schema-id", 0)
    b = cur.get("current-schema-id", 0)
    return None if a == b else f"the current schema moved from {a} to {b}"


def _no_rewrite_since(start: dict, cur: dict) -> str | None:
    """Validation of position deletes, which name their target files by
    path: re-apply only while no file can have been rewritten — every
    snapshot committed since ``start`` is an append or a delete, and
    ``start``'s current snapshot was not rolled back."""
    seen = {s["snapshot-id"] for s in start["snapshots"]}
    for s in cur["snapshots"]:
        op = s.get("summary", {}).get("operation")
        if s["snapshot-id"] not in seen and op not in ("append", "delete"):
            return (f"snapshot {s['snapshot-id']} ({op}) may have "
                    "rewritten a file the deletes target")
    if start["current-snapshot-id"] not in \
            {s["snapshot-id"] for s in cur["snapshots"]} | {-1}:
        return f"snapshot {start['current-snapshot-id']} was rolled back"
    return None


def _commit(table_dir: str, change=None, *, snapshot=None, validate=None,
            base: tuple[int, dict | None] | None = None) -> dict:
    """THE commit path: the only publisher of table metadata.
    ``change(base)`` returns the new metadata from the base metadata alone
    (default: unchanged); ``snapshot`` (:class:`_NewSnapshot`) is one the
    commit adds, its manifest list written against the base.  This stamps
    what every commit shares — sequence number, ``parent-snapshot-id``,
    ``_WHOLE_RUNS_PROP``, the ``main`` ref (= the current snapshot), the
    snapshot log (current-snapshot changes, retained snapshots only), the
    base's ``simdcomp-*`` lineage properties, ``last-updated-ms`` — and
    publishes ``version + 1`` of ``base``, the ``(version, metadata)`` the
    caller planned against (default: loaded here; ``(0, None)`` creates
    the table).  After a lost race ``validate(start, cur)`` returns None
    to re-apply the change to the reloaded table (up to
    ``_COMMIT_RETRIES`` times) or why not, raised as
    :class:`CommitConflict`; without ``validate`` every lost race
    raises."""
    table_dir = str(table_dir)
    version, start = base if base is not None else _load_base(table_dir)
    cur = start
    for attempt in range(_COMMIT_RETRIES + 1):
        meta = dict(change(cur) if change else cur)
        now = time.time_ns() // 1_000_000
        if snapshot is not None:
            seq = meta.get("last-sequence-number", 0) + 1
            refs = meta.get("refs", {})
            if snapshot.branch == "main":
                staged = [n for n, r in refs.items()
                          if r.get("type") == "branch" and n != "main"]
                if staged:
                    raise ValueError(
                        f"{table_dir}: staging branch(es) {staged} are "
                        "ahead of main — fast_forward or drop_branch first "
                        "(the snapshot log is linear)")
                parent = meta.get("current-snapshot-id")
            else:
                ref = refs.get(snapshot.branch)
                if ref is None or ref.get("type") != "branch":
                    raise ValueError(
                        f"{table_dir}: no branch ref {snapshot.branch!r} "
                        "(create_branch first)")
                parent = ref["snapshot-id"]
                if meta["snapshots"][-1]["snapshot-id"] != parent:
                    raise ValueError(
                        f"{table_dir}: branch {snapshot.branch!r} head is "
                        "not the log tail")
                meta["refs"] = {**refs, snapshot.branch: {
                    "snapshot-id": snapshot.id, "type": "branch"}}
            carried = [r for r in _prev_manifest_records(meta, parent)
                       if r.get("content", 0) in snapshot.carry
                       ] if snapshot.carry else []
            mlist = str(_meta_dir(table_dir) / f"snap-{snapshot.id}.avro")
            _avro_write(mlist, _MANIFEST_FILE_SCHEMA, carried + [
                {**r, "sequence_number": seq, "min_sequence_number":
                 min(seq, r["min_sequence_number"] or seq),
                 "added_snapshot_id": snapshot.id}
                for r in snapshot.manifests],
                metadata={"format-version": "2"})
            record = {"snapshot-id": snapshot.id, "sequence-number": seq,
                      "timestamp-ms": now, "manifest-list": mlist,
                      "schema-id": meta.get("current-schema-id", 0),
                      "summary": snapshot.summary}
            if parent not in (None, -1):
                record["parent-snapshot-id"] = parent
            meta["snapshots"] = meta["snapshots"] + [record]
            if snapshot.branch == "main":
                meta["current-snapshot-id"] = snapshot.id
            meta["properties"] = _with_whole_runs(
                meta["properties"], cur, seq, snapshot.whole_runs)
            meta["last-sequence-number"] = seq
        current = meta.get("current-snapshot-id", -1)
        meta["refs"] = {n: r for n, r in meta.get("refs", {}).items()
                        if n != "main"}
        kept = {s["snapshot-id"] for s in meta["snapshots"]}
        meta["snapshot-log"] = [e for e in meta.get("snapshot-log", [])
                                if e["snapshot-id"] in kept]
        if current not in (None, -1):
            meta["refs"]["main"] = {"snapshot-id": current,
                                    "type": "branch"}
            # spec: the log records changes of the CURRENT snapshot, so a
            # staged branch commit stays out of it (a timestamp time
            # travel never resolves to unaudited state)
            if current != (cur or {}).get("current-snapshot-id"):
                meta["snapshot-log"].append({"snapshot-id": current,
                                             "timestamp-ms": now})
        meta["properties"] = {
            **{k: v for k, v in (cur or {}).get("properties", {}).items()
               if k.startswith("simdcomp-")},
            **meta.get("properties", {})}
        meta["last-updated-ms"] = now
        try:
            _publish_metadata(_meta_dir(table_dir), meta, version + 1)
            return meta
        except FileExistsError:
            lost = version + 1
        version, cur = _load_base(table_dir)
        why = (validate(start, cur) if validate else
               "this commit is not re-applied to a newer table state")
        if why is None and attempt == _COMMIT_RETRIES:
            why = f"it lost {attempt + 1} races in a row"
        if why is not None:
            tail = cur["snapshots"][-1]["snapshot-id"] \
                if cur["snapshots"] else None
            raise CommitConflict(
                f"{table_dir}: commit conflict: another writer published "
                f"v{lost} (newest snapshot {tail}); {why} — re-read the "
                "table and retry")
        time.sleep(0.02 * (attempt + 1)
                   * (1 + (uuid.uuid4().int & 0xFF) / 256))


def _publish_metadata(mdir: Path, meta: dict, version: int) -> None:
    """THE COMMIT POINT: publish vN.metadata.json atomically with
    NO-OVERWRITE semantics (complete content in a tmp file, then os.link,
    which fails with EEXIST instead of clobbering): of two writers based
    on the same parent exactly one wins, the loser gets
    ``FileExistsError``, and its retry sees the winner's vN because
    _current_version probes past the hint.  Readers never see a torn vN.
    The hint update after is advisory (a crash there, or an out-of-order
    update, is healed by that probe).  Both tmp names carry a fresh random
    token: a shared tmp file would let one writer publish the other's
    content, or move the other's hint out from under it."""
    vpath = mdir / f"v{version}.metadata.json"
    vtmp = mdir / f".v{version}.{uuid.uuid4().hex}.tmp"
    vtmp.write_text(json.dumps(meta))
    try:
        os.link(vtmp, vpath)
    finally:
        vtmp.unlink(missing_ok=True)
    tmp = mdir / f".version-hint.{uuid.uuid4().hex}.tmp"
    tmp.write_text(str(version))
    os.replace(tmp, mdir / "version-hint.text")


def export_encoded(df: DataFrame, table_dir: str,
                   partition_by: str | None = None,
                   extra_summary: dict[str, str] | None = None) -> dict:
    """Publish a DataFrame (typically engine.encode output) as a NEW
    Iceberg v2 table at ``table_dir``.  ``partition_by`` writes an
    identity partition spec on that column (e.g. ``source`` for the
    north-rule table shape); appends inherit it.  Returns the table
    metadata."""
    if is_iceberg_table(table_dir):
        raise FileExistsError(
            f"{table_dir} is already an Iceberg table — use append()")
    return _write_snapshot(table_dir, df, None,
                           partition_by=partition_by,
                           extra_summary=extra_summary)


def append(df: DataFrame, table_dir: str,
           extra_summary: dict[str, str] | None = None,
           branch: str = "main") -> dict:
    """Commit an append snapshot to an existing table (schema must match).
    Readers of the previous snapshot are unaffected (snapshot isolation);
    ``read_table(snapshot_id=...)`` time-travels to any snapshot.
    ``extra_summary`` adds application keys to the snapshot summary (the
    spec's summary map is string->string; e.g. the resumable ingest's
    input-file lineage).  ``branch`` stages the append on a write-audit-
    publish ref instead of main (see :func:`create_branch`)."""
    base = _load_base(table_dir)
    _check_same_schema(base[1], df, "append")
    return _write_snapshot(table_dir, df, base,
                           extra_summary=extra_summary, branch=branch)


def _append_or_create(df: DataFrame, table_dir: str,
                      extra_summary: dict[str, str]) -> dict:
    """Commit ``df`` as an append snapshot, creating the table on the first
    commit — the resumable writers and the stream sink start from an empty
    dir.  :func:`append` alone keeps failing on a missing table, so a
    mistyped path is never silently created there."""
    if is_iceberg_table(table_dir):
        return append(df, table_dir, extra_summary=extra_summary)
    return export_encoded(df, table_dir, extra_summary=extra_summary)


def add_column(table_dir: str, name: str, ftype: str) -> dict:
    """Schema evolution: ADD an optional column (metadata-only commit).

    Appends a new schema (schema-id = max+1) with the column assigned the
    next field id and moves current-schema-id, through :func:`_commit`
    like every commit — readers see old-or-new.  Existing data files
    are untouched: read_table projects the CURRENT schema by field id,
    so old files, which lack the new id, surface the new column as NULL
    (Iceberg's add-column semantics).  Scalar types only.  Renaming /
    dropping / promoting live in :func:`rename_column` /
    :func:`drop_column` / :func:`promote_column`."""
    if ftype not in ("string", "int", "long", "double", "float",
                     "boolean", "binary"):
        raise NotImplementedError(
            f"add_column supports scalar types, not {ftype!r}")

    def mutate(meta, cur):
        if any(f["name"] == name for f in cur["fields"]):
            raise ValueError(f"column {name!r} already exists")
        new_id = meta["last-column-id"] + 1
        meta["last-column-id"] = new_id
        return cur["fields"] + [{"id": new_id, "name": name,
                                 "required": False, "type": ftype}]
    return _evolve_schema(table_dir, mutate)


def _evolve_schema(table_dir: str, mutate) -> dict:
    """Shared metadata-only schema commit: append a new schema
    (schema-id = max+1) built by ``mutate(meta, current_schema) ->
    new_fields`` and move current-schema-id.  A commit that loses the
    race re-runs ``mutate`` on the new base while the current schema is
    unchanged.  Data files are never touched: every reader resolves
    columns by field id, which is what makes a metadata-only rename /
    drop / promote safe."""
    def change(base):
        meta = dict(base)
        new_fields = mutate(meta, _current_schema(base))
        new_sid = max(s.get("schema-id", 0) for s in base["schemas"]) + 1
        meta["schemas"] = base["schemas"] + [
            {"type": "struct", "schema-id": new_sid, "fields": new_fields}]
        meta["current-schema-id"] = new_sid
        return meta
    return _commit(table_dir, change, validate=_same_schema)


def _refuse_partition_source(meta: dict, field: dict, op: str) -> None:
    if any(pf["source-id"] == field["id"]
           for pf in _default_spec(meta)["fields"]):
        raise ValueError(
            f"{op}: column {field['name']!r} (field id {field['id']}) "
            "is a partition source column — evolving it would desync "
            "the partition spec from the data layout")


def rename_column(table_dir: str, old: str, new: str) -> dict:
    """Schema evolution: RENAME a column (metadata-only commit).

    The field KEEPS its id; data files are untouched — readers resolve
    the column by its parquet field id, so every file written under the
    old name serves the renamed column's data (and an equality-delete
    file keyed on the old name still applies: its key columns are also
    id-resolved).  Partition source columns refuse (the spec names the
    partition path layout after them).  The fused ingest
    (engine.encode_files) resolves its role columns by field id too
    (:func:`fused_role_columns`), so it reads a renamed table as is."""
    def mutate(meta, cur):
        by_name = {f["name"]: f for f in cur["fields"]}
        if old not in by_name:
            raise ValueError(f"rename_column: no column {old!r} "
                             f"(have {sorted(by_name)})")
        if new in by_name:
            raise ValueError(f"rename_column: {new!r} already exists")
        _refuse_partition_source(meta, by_name[old], "rename_column")
        return [dict(f, name=new) if f["name"] == old else f
                for f in cur["fields"]]
    return _evolve_schema(table_dir, mutate)


def drop_column(table_dir: str, name: str) -> dict:
    """Schema evolution: DROP a column (metadata-only commit).

    Data files are untouched — the field id simply stops being
    requested.  Re-adding the same NAME later allocates a NEW field id
    (last-column-id never decreases), so the old physical columns stay
    invisible: dead data cannot resurrect under a recycled name.
    Refuses partition source columns and columns referenced by live
    equality-delete files (their keys could no longer be evaluated;
    compact_files folds the deletes away first)."""
    def mutate(meta, cur):
        by_name = {f["name"]: f for f in cur["fields"]}
        if name not in by_name:
            raise ValueError(f"drop_column: no column {name!r} "
                             f"(have {sorted(by_name)})")
        if len(cur["fields"]) == 1:
            raise ValueError("drop_column: cannot drop the last column")
        f = by_name[name]
        _refuse_partition_source(meta, f, "drop_column")
        for d in delete_files(table_dir):
            if f["id"] in (d.get("equality_ids") or []):
                raise ValueError(
                    f"drop_column: {name!r} (field id {f['id']}) is an "
                    "equality-delete key of a live delete file "
                    f"({d['file_path']}) — run compact_files first")
        return [g for g in cur["fields"] if g["name"] != name]
    return _evolve_schema(table_dir, mutate)


_PROMOTIONS = {("int", "long"), ("float", "double")}


def promote_column(table_dir: str, name: str, new_type: str) -> dict:
    """Schema evolution: PROMOTE a column's type (metadata-only commit).

    The Iceberg-spec widening promotions only — int->long and
    float->double.  Data files are untouched: Spark's vectorized parquet
    reader widens the physical int32/float32 values on read (verified by
    test), and appends after the promotion write the wide type.  Old
    manifest bounds stay 4 bytes; :func:`_sv_decode` decodes bounds by
    their physical width, so metadata pruning keeps working across the
    promotion."""
    def mutate(meta, cur):
        by_name = {f["name"]: f for f in cur["fields"]}
        if name not in by_name:
            raise ValueError(f"promote_column: no column {name!r} "
                             f"(have {sorted(by_name)})")
        f = by_name[name]
        if not isinstance(f["type"], str) \
                or (f["type"], new_type) not in _PROMOTIONS:
            raise ValueError(
                f"promote_column: {f['type']!r} -> {new_type!r} is not "
                f"an Iceberg widening promotion {sorted(_PROMOTIONS)}")
        _refuse_partition_source(meta, f, "promote_column")
        return [dict(g, type=new_type) if g["name"] == name else g
                for g in cur["fields"]]
    return _evolve_schema(table_dir, mutate)


def fused_role_columns(table_dir: str, roles: list[str]) -> dict:
    """Map the engine's canonical role-column names (``doc_id``,
    ``payload``, …) to the field ids of the table's CURRENT schema that
    serve them.  The fused ingest (engine.encode_files) reads each data
    file's columns through these ids (the file's ``PARQUET:field_id``
    footer metadata), so a file written under any earlier name of the
    field reads the same.

    Resolution per role: FIELD-ID LINEAGE, walked oldest→newest through
    schema history — the role binds to the field id its name had at the
    name's first appearance, follows that id through renames (the id
    outliving its name is exactly a rename), and rebinds to a fresh
    field of the same name only after the bound id was DROPPED
    (drop + re-add: the re-added column IS the live one).  Name match
    against the current schema must NOT win on its own: a rename chain
    like ``doc_id→did`` then ``source→doc_id`` leaves the current name
    ``doc_id`` on the SOURCE field — resolving by name there would read
    source values as doc ids with no error.  A role whose field was
    dropped (and never re-added) raises."""
    meta = _load_metadata(table_dir)
    cur_ids = {f["id"] for f in _current_schema(meta)["fields"]}
    history = sorted(meta["schemas"], key=lambda s: s.get("schema-id", 0))
    out = {}
    for r in roles:
        fid = None
        for s in history:
            ids = {f["id"] for f in s["fields"]}
            if fid is not None and fid in ids:
                continue            # id lives on (possibly renamed)
            hit = next((f["id"] for f in s["fields"]
                        if f["name"] == r), None)
            if hit is not None:
                fid = hit           # first binding, or re-add after drop
        if fid is None or fid not in cur_ids:
            raise ValueError(
                f"{table_dir}: required column {r!r} is not in the "
                "current schema and no rename of it survives — not a "
                "decodable encoded table" if fid is None else
                f"{table_dir}: required column {r!r} (field id {fid}) "
                "was dropped from the schema")
        out[r] = fid
    return out


def _check_same_schema(prev_meta: dict, df: DataFrame, op: str) -> None:
    """Column NAMES AND TYPES must match the table schema — a name-only
    check would let an append commit e.g. int64 files into an int32
    table, leaving the Iceberg schema no longer describing its data."""
    def norm(fields):
        out = []
        for f in fields:
            t = f["type"]
            if isinstance(t, dict):            # list type
                t = f"list<{t['element']}>"
            out.append((f["name"], t))
        return out
    want = norm(_current_schema(prev_meta)["fields"])
    got = norm(_iceberg_schema_of(df)["fields"])
    if want != got:
        raise ValueError(
            f"schema mismatch: table has {want}, {op} has {got}")


def overwrite(df: DataFrame, table_dir: str) -> dict:
    """Commit an overwrite snapshot: the new snapshot's live file set is
    exactly ``df``'s files (schema must match).  Previous snapshots stay
    readable via time travel; their files are dead in the current
    snapshot.  This is the natural sink for dedup/filter pipelines that
    REWRITE a table (e.g. ``encoded_dedup`` output) with snapshot
    isolation — readers of the old snapshot are never disturbed."""
    base = _load_base(table_dir)
    _check_same_schema(base[1], df, "overwrite")
    return _write_snapshot(table_dir, df, base, operation="overwrite")


def prune_files(table_dir: str, col: str, lo=None, hi=None,
                snapshot_id: int | None = None,
                ignore_deletes: bool = False,
                preloaded: tuple[dict, list[dict]] | None = None
                ) -> list[dict]:
    """Data files whose manifest [lower, upper] bounds for ``col`` may
    overlap [lo, hi] — metadata-level file pruning, no data I/O.  Files
    lacking bounds for the column are conservatively kept.  At 100 TB
    this is the difference between scanning the table and scanning the
    few files a range predicate touches.

    ``ignore_deletes`` has :func:`data_files` semantics: pruned paths
    handed to a raw scan must not come from a delete-bearing snapshot
    (read_table prunes AND applies the deletes; it passes True here).
    ``preloaded=(meta, data_entries)`` reuses a caller's existing
    metadata-tree walk instead of re-reading it."""
    if preloaded is not None:
        meta, entries = preloaded
    else:
        meta = _load_metadata(table_dir)
        entries = data_files(table_dir, snapshot_id, ignore_deletes)
    fields = {f["name"]: f for f in _current_schema(meta)["fields"]}
    if col not in fields:
        raise KeyError(f"column {col!r} not in table schema "
                       f"({sorted(fields)})")
    fid, ftype = fields[col]["id"], fields[col]["type"]
    part_field = next((pf for pf in _default_spec(meta)["fields"]
                       if pf["source-id"] == fid), None)
    tname = param = None
    if part_field is not None:
        tname, param = _transform_of(part_field)
        bucket_eq = (_transform_values(pa.array([lo]), tname, param,
                                       ftype)[0].as_py()
                     if tname == "bucket" and lo is not None
                     and lo == hi else None)
    out = []
    for d in entries:
        if part_field is not None:
            part = d.get("partition") or {}
            pv = part.get(part_field["name"])
            if pv is None and part_field["name"] in part and \
                    (lo is not None or hi is not None):
                # a null partition value means every row's source value
                # is null (each transform maps null to null): no range
                # predicate matches
                continue
            if pv is not None:
                if tname == "identity":
                    # the partition struct holds the file's exact value —
                    # prune from the SPEC, no bounds read
                    if (hi is not None and pv > hi) or \
                       (lo is not None and pv < lo):
                        continue
                    out.append(d)
                    continue
                if tname == "bucket":
                    # only an EQUALITY probe prunes a hash bucket; range
                    # predicates fall through to the column bounds below
                    if bucket_eq is not None and pv != bucket_eq:
                        continue
                elif tname == "truncate":
                    # file holds values v with truncate(v) == pv:
                    # ints cover [pv, pv+W); strings have prefix pv
                    # (so v >= pv) — prune on the SOUND directions only,
                    # bounds below refine the rest
                    if ftype in ("int", "long"):
                        if (hi is not None and pv > hi) or \
                           (lo is not None and pv + param - 1 < lo):
                            continue
                    else:
                        if (hi is not None and pv > hi) or \
                           (lo is not None and len(lo) >= param
                                and pv < lo[:param]):
                            continue
        lbs = {e["key"]: e["value"] for e in (d.get("lower_bounds") or [])}
        ubs = {e["key"]: e["value"] for e in (d.get("upper_bounds") or [])}
        if fid in lbs and fid in ubs:
            fmin = _sv_decode(ftype, lbs[fid])
            fmax = _sv_decode(ftype, ubs[fid])
            if (hi is not None and fmin > hi) or \
               (lo is not None and fmax < lo):
                continue
        out.append(d)
    return out


def _snapshot_entries(table_dir: str, snapshot_id: int | None = None,
                      meta: dict | None = None
                      ) -> tuple[dict, list[dict], list[dict]]:
    """Walk metadata → manifest list → manifests for a snapshot (current
    by default) and return ``(meta, data_entries, delete_entries)``.

    Each entry is the spec's ``data_file`` struct augmented with
    ``_snapshot_id`` / ``_sequence_number`` resolved per the v2
    inheritance rule (an ADDED entry with null sequence number inherits
    the manifest-list entry's; EXISTING entries carry explicit values) —
    compaction needs them to carry untouched files forward as EXISTING
    entries without rewriting a byte.  ``delete_entries`` are POSITION
    delete files (content=1) and EQUALITY delete files (content=2);
    callers split on ``content``.  ``meta`` reuses metadata the caller
    already loaded."""
    if meta is None:
        meta = _load_metadata(table_dir)
    sid = snapshot_id or meta["current-snapshot-id"]
    if sid == -1 or (snapshot_id is None and not meta["snapshots"]):
        return meta, [], []  # empty table (all snapshots rolled back)
    snaps = [s for s in meta["snapshots"] if s["snapshot-id"] == sid]
    if not snaps:
        raise ValueError(f"snapshot {sid} not found; have "
                         f"{[s['snapshot-id'] for s in meta['snapshots']]}")
    _, manifests = _avro_read(snaps[0]["manifest-list"])
    data, dels = [], []
    for m in manifests:
        m_content = m.get("content", 0)
        _, entries = _avro_read(m["manifest_path"])
        for e in entries:
            if e["status"] == 2:                     # 2 = DELETED entry
                continue
            d = dict(e["data_file"])
            d["_snapshot_id"] = (e.get("snapshot_id")
                                 if e.get("snapshot_id") is not None
                                 else m["added_snapshot_id"])
            d["_sequence_number"] = (
                e.get("sequence_number")
                if e.get("sequence_number") is not None
                else m["sequence_number"])
            content = d.get("content", 0)
            # spec: a manifest's content must agree with its entries (a
            # DELETE manifest holds position=1 OR equality=2 files); a
            # mismatch means a corrupt/hand-edited metadata tree, and
            # guessing either way silently loses or resurrects rows
            if (content == 0) != (m_content == 0):
                kind = ("data file entry in a DELETE manifest"
                        if m_content == 1 else
                        "delete file entry in a DATA manifest")
                raise ValueError(
                    f"{table_dir}: corrupt manifest "
                    f"{m['manifest_path']}: {kind} "
                    f"({d['file_path']}, content={content})")
            (data if content == 0 else dels).append(d)
    return meta, data, dels


def data_files(table_dir: str, snapshot_id: int | None = None,
               ignore_deletes: bool = False) -> list[dict]:
    """Live data files of a snapshot (current by default) by walking
    metadata → manifest list → manifests, per the spec.

    If the snapshot carries DELETE files (position or equality) this
    raises unless ``ignore_deletes=True``: callers that hand the returned
    paths straight to a parquet scan (the fused ingest) would silently
    resurrect deleted rows.  Row-aware readers go through
    :func:`read_table` (which applies the deletes) or
    :func:`compact_files` (which rewrites them away)."""
    _, data, dels = _snapshot_entries(table_dir, snapshot_id)
    if dels and not ignore_deletes:
        npos = sum(1 for d in dels if d.get("content", 0) == 1)
        raise NotImplementedError(
            f"{table_dir}: the snapshot carries {npos} position-delete "
            f"and {len(dels) - npos} equality-delete file(s); a raw "
            "file-level scan would resurrect deleted rows. Read via "
            "iceberg.read_table (applies the deletes), or run "
            "iceberg.compact_files first for file-level consumers "
            "(engine.encode_files).")
    return data


def delete_files(table_dir: str, snapshot_id: int | None = None
                 ) -> list[dict]:
    """Live DELETE files of a snapshot (empty when none): position
    deletes carry ``content=1``, equality deletes ``content=2`` plus
    ``equality_ids`` (the schema field ids they delete on) and
    ``_sequence_number`` (they apply only to data files with a STRICTLY
    SMALLER data sequence number, per the v2 spec)."""
    return _snapshot_entries(table_dir, snapshot_id)[2]


_BROADCAST_DELETE_BYTES = 64 << 20


def _apply_position_deletes(spark: SparkSession, df: DataFrame,
                            dels: list[dict]) -> DataFrame:
    """Anti-join ``df`` (must carry ``_file``/``_pos``) against the
    snapshot's position-delete files.  A delete set under 64 MB — the
    overwhelmingly common case; deletes are (path, pos) pairs, not rows —
    is broadcast, so the scan stays shuffle-free; larger sets fall back
    to a shuffled anti-join (AQE plans it)."""
    pos = spark.read.schema("file_path string, pos bigint").parquet(
        *[d["file_path"] for d in dels])
    if sum(int(d.get("file_size_in_bytes") or 0)
           for d in dels) < _BROADCAST_DELETE_BYTES:
        pos = F.broadcast(pos)
    cond = (df["_file"] == pos["file_path"]) & (df["_pos"] == pos["pos"])
    return df.join(pos, cond, "left_anti")


def _eq_delete_groups(meta: dict, eq_dels: list[dict]
                      ) -> dict[tuple, list[dict]]:
    """Group equality-delete files by their key-column NAME tuple
    (resolving ``equality_ids`` against the current schema); raises on
    ids the schema does not know (deleting on a since-dropped column
    cannot be evaluated)."""
    by_id = {f["id"]: f["name"] for f in _current_schema(meta)["fields"]}
    groups: dict[tuple, list[dict]] = {}
    for d in eq_dels:
        ids = list(d.get("equality_ids") or [])
        if not ids:
            raise ValueError(
                f"{d['file_path']}: equality delete file (content=2) "
                "without equality_ids")
        missing = [i for i in ids if i not in by_id]
        if missing:
            raise ValueError(
                f"{d['file_path']}: equality_ids {missing} not in the "
                "current schema")
        groups.setdefault(tuple(by_id[i] for i in ids), []).append(d)
    return groups


def _apply_equality_deletes(spark: SparkSession, df: DataFrame,
                            eq_dels: list[dict], meta: dict) -> DataFrame:
    """Anti-join ``df`` (must carry ``_seq``, its data file's sequence
    number) against the snapshot's equality-delete files.  Spec
    semantics: a delete row removes every data row whose key columns are
    null-safe-equal AND whose data sequence number is STRICTLY LESS than
    the delete file's — rows (re-)appended after the delete survive.
    Small delete sets broadcast; larger ones shuffle on the key."""
    fields = {f["name"]: f for f in _current_schema(meta)["fields"]}
    for cols, ds in _eq_delete_groups(meta, eq_dels).items():
        # key columns resolve BY FIELD ID (current names requested): a
        # delete file written before a rename still applies
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        reader = spark.read.schema(_spark_struct_with_ids(
            {"fields": [fields[c] for c in cols]}))
        keys = None
        for d in ds:
            k = (reader.parquet(d["file_path"]).select(*cols)
                 .withColumn("_del_seq",
                             F.lit(int(d["_sequence_number"]))))
            keys = k if keys is None else keys.unionByName(k)
        if sum(int(d.get("file_size_in_bytes") or 0)
               for d in ds) < _BROADCAST_DELETE_BYTES:
            keys = F.broadcast(keys)
        cond = keys["_del_seq"] > df["_seq"]
        for c in cols:
            cond = cond & df[c].eqNullSafe(keys[c])
        df = df.join(keys, cond, "left_anti")
    return df


def _eq_dirty_files(meta: dict, data: list[dict], eq_dels: list[dict]
                    ) -> set[str]:
    """Conservative dirty set for equality deletes (compaction planning):
    every data file with a STRICTLY smaller sequence number whose
    key-column bounds intersect the delete file's.  Missing bounds on
    either side → assumed dirty (a rewrite of a clean file is wasted
    work, a skipped dirty file resurrects rows)."""
    fields = {f["name"]: f for f in _current_schema(meta)["fields"]}
    dirty: set[str] = set()
    for cols, ds in _eq_delete_groups(meta, eq_dels).items():
        for d in ds:
            dseq = int(d["_sequence_number"])
            dlb = {e["key"]: e["value"]
                   for e in (d.get("lower_bounds") or [])}
            dub = {e["key"]: e["value"]
                   for e in (d.get("upper_bounds") or [])}
            for e in data:
                if e["file_path"] in dirty:
                    continue
                if int(e.get("_sequence_number") or 0) >= dseq:
                    continue
                elb = {b["key"]: b["value"]
                       for b in (e.get("lower_bounds") or [])}
                eub = {b["key"]: b["value"]
                       for b in (e.get("upper_bounds") or [])}
                hit = True
                for c in cols:
                    f = fields[c]
                    fid, t = f["id"], f["type"]
                    if not isinstance(t, str):
                        continue
                    if all(fid in m for m in (dlb, dub, elb, eub)):
                        if (_sv_decode(t, eub[fid])
                                < _sv_decode(t, dlb[fid])
                                or _sv_decode(t, elb[fid])
                                > _sv_decode(t, dub[fid])):
                            hit = False
                            break
                if hit:
                    dirty.add(e["file_path"])
    return dirty


def _read_with_pos(spark: SparkSession, table_dir: str,
                   entries: list[dict], dels: list[dict],
                   meta: dict | None = None) -> DataFrame:
    """Scan the data files in ``entries`` under the table's CURRENT
    schema with two extra columns — ``_file`` (normalized data-file
    path) and ``_pos`` (row ordinal within its file, Spark's
    ``_metadata.row_index``) — and the snapshot's position AND equality
    deletes applied.  (file, pos) is exactly the coordinate system v2
    position-delete files speak; equality deletes additionally need each
    row's data sequence number (``entries`` carry it), attached via a
    broadcast (file → seq) map so the scan stays shuffle-free."""
    paths = [e["file_path"] for e in entries]
    if meta is None:
        meta = _load_metadata(table_dir)
    df = (_schema_reader(spark, meta).parquet(*paths)
          .withColumn("_file", F.regexp_replace(
              F.col("_metadata.file_path"), "^file:/+", "/"))
          .withColumn("_pos", F.col("_metadata.row_index")))
    pos_dels = [d for d in dels if d.get("content", 0) == 1]
    eq_dels = [d for d in dels if d.get("content", 0) == 2]
    if pos_dels:
        df = _apply_position_deletes(spark, df, pos_dels)
    if eq_dels:
        seqs = spark.createDataFrame(
            [(e["file_path"], int(e.get("_sequence_number") or 0))
             for e in entries], "_file string, _seq bigint")
        df = (_apply_equality_deletes(
                  spark, df.join(F.broadcast(seqs), "_file", "left"),
                  eq_dels, meta)
              .drop("_seq"))
    return df


def read_table_with_pos(spark: SparkSession, table_dir: str,
                        snapshot_id: int | None = None) -> DataFrame:
    """:func:`read_table` plus the ``_file``/``_pos`` row coordinates —
    the input every position-delete WRITER needs (``delete_where``,
    ``engine.dedup_delete_iceberg``): select the rows to drop, emit
    their (_file, _pos) pairs, commit via
    :func:`write_position_deletes`.  Existing deletes are applied, so
    already-deleted rows can never be selected again."""
    meta, data, dels = _snapshot_entries(table_dir, snapshot_id)
    if not data:
        return spark.createDataFrame(
            [], _spark_struct_with_ids(_current_schema(meta))
            .add("_file", "string").add("_pos", "long"))
    return _read_with_pos(spark, table_dir, data, dels, meta)


def read_table(spark: SparkSession, table_dir: str,
               snapshot_id: int | None = None,
               between: tuple | None = None,
               ref: str | None = None,
               since_snapshot_id: int | None = None) -> DataFrame:
    """Load an Iceberg table's current (or a historic) snapshot as a
    DataFrame.  File pruning happens at the metadata layer — only the
    snapshot's live files are handed to the parquet scan.  ``between =
    (col, lo, hi)`` additionally prunes files via the manifest column
    bounds (:func:`prune_files`) and applies the exact row filter on
    top (the pruning is a superset guarantee, the filter the truth).
    ``since_snapshot_id`` restricts the scan to the files appended after
    that snapshot cursor, up to the read snapshot
    (:func:`incremental_files`: raises on non-append history in the
    range).  DELETE files in the snapshot are applied — position deletes
    by anti-join on the (file, row-ordinal) coordinates, equality
    deletes by null-safe key anti-join under the sequence-number rule;
    both broadcast when small.  ``ref`` reads the snapshot a named tag
    (or ``"main"``) points at — mutually exclusive with
    ``snapshot_id``.  Encoded tables decode with ``engine.decode``.

    When the snapshot has no delete files, ``between`` is unset and every
    scanned file's data sequence number is at most ``_WHOLE_RUNS_PROP``,
    the returned frame itself (not one derived from it) is marked for
    ``engine.decode`` to stitch without an exchange."""
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass ref OR snapshot_id, not both")
        snapshot_id = resolve_ref(table_dir, ref)
    meta, data, dels = _snapshot_entries(table_dir, snapshot_id)
    # range filters reuse THIS walk's entries — a second walk would
    # re-open every manifest avro
    files = data
    if since_snapshot_id is not None:
        files = incremental_files(table_dir, since_snapshot_id,
                                  snapshot_id, preloaded=(meta, files))
    if between is not None:
        col, lo, hi = between
        files = prune_files(table_dir, col, lo, hi, snapshot_id,
                            ignore_deletes=True,
                            preloaded=(meta, files))
    paths = [d["file_path"] for d in files]
    if not paths:
        return spark.createDataFrame(
            [], _spark_struct_with_ids(_current_schema(meta)))
    if dels:
        df = _read_with_pos(spark, table_dir, files, dels, meta) \
            .drop("_file", "_pos")
    else:
        # explicit CURRENT schema, resolved by field id (see
        # _schema_reader): files written before an add_column surface
        # the new column as NULL, renamed/promoted columns resolve
        df = _schema_reader(spark, meta).parquet(*paths)
        through = int(meta.get("properties", {}).get(_WHOLE_RUNS_PROP, 0))
        if between is None and all(d["_sequence_number"] <= through
                                   for d in files):
            engine._WHOLE_RUN_SCANS.add(df)
    if between is not None:
        col, lo, hi = between
        if lo is not None:
            df = df.where(df[col] >= lo)
        if hi is not None:
            df = df.where(df[col] <= hi)
    return df


# ---------------------------------------------------------------------------
# field-id projection (schema evolution support)
#
# Every writer stamps the Iceberg field id of every column, and of a
# list's element, into the parquet footers (parquet's standard field_id
# slot, set as ``PARQUET:field_id`` Arrow field metadata by the
# task-side pyarrow writer, :func:`_write_data_files`), and every reader
# resolves columns BY ID, never by name: read_table and the delete
# readers through ``spark.sql.parquet.fieldId.read.enabled``, the fused
# ingest (engine.encode_files) through each file's footer metadata.
# That is what makes rename/drop/promote safe: a renamed column still
# resolves to the same physical data, a dropped-then-re-added name gets
# a NEW id so old physical columns with the stale name surface NULL
# instead of resurrecting dead data, and int->long promotion widens on
# read.  A data file without field ids fails the read loudly.
# ---------------------------------------------------------------------------

def _spark_struct_with_ids(schema: dict):
    """The current schema as a StructType whose every field carries
    ``parquet.field.id`` metadata — the request shape that flips Spark's
    parquet reader into field-id (not name) column resolution."""
    from pyspark.sql import types as T
    scalar = {"string": T.StringType(), "int": T.IntegerType(),
              "long": T.LongType(), "binary": T.BinaryType(),
              "double": T.DoubleType(), "float": T.FloatType(),
              "boolean": T.BooleanType(), "date": T.DateType(),
              "timestamptz": T.TimestampType(),
              "timestamp": T.TimestampNTZType()}

    def one(t):
        if isinstance(t, dict) and t.get("type") == "list":
            return T.ArrayType(scalar[t["element"]])
        return scalar[t]

    return T.StructType([
        T.StructField(f["name"], one(f["type"]), True,
                      {"parquet.field.id": f["id"]})
        for f in schema["fields"]])


def _schema_reader(spark: SparkSession, meta: dict):
    """A DataFrameReader projecting the table's CURRENT schema by field
    id (rename/drop/promote safe).  A file with no field ids fails the
    scan (Spark: "Parquet file schema doesn't contain any field Ids")."""
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    return spark.read.schema(_spark_struct_with_ids(_current_schema(meta)))


def snapshots(table_dir: str) -> list[dict]:
    """The snapshot log: (snapshot-id, sequence-number, timestamp-ms,
    operation, added rows) per commit."""
    meta = _load_metadata(table_dir)
    return [{"snapshot-id": s["snapshot-id"],
             "sequence-number": s.get("sequence-number"),
             "timestamp-ms": s["timestamp-ms"],
             "operation": s.get("summary", {}).get("operation"),
             "added-records": s.get("summary", {}).get("added-records"),
             "is-current": s["snapshot-id"] == meta["current-snapshot-id"]}
            for s in meta["snapshots"]]


def incremental_files(table_dir: str, from_snapshot_id: int,
                      to_snapshot_id: int | None = None,
                      preloaded: tuple[dict, list[dict]] | None = None
                      ) -> list[dict]:
    """Data files ADDED by the snapshots strictly after
    ``from_snapshot_id`` up to and including ``to_snapshot_id`` (default:
    current) — the incremental-consumption unit of a recurring pipeline:
    each run processes only what landed since its last run's snapshot
    cursor, a metadata-only plan at any table size.

    Safe only over APPEND history: if any snapshot in the range is an
    overwrite/delete/replace, "files added" is no longer the logical
    table diff (rows were removed or rewritten), so this raises and the
    caller must fall back to a full read (or re-seed its cursor).
    Deletes committed BEFORE the cursor never affect the result: the v2
    sequence rule means they only apply to data files with a smaller
    sequence number, and every in-range file's sequence is larger.  An
    expired or unknown ``from_snapshot_id`` raises (stale cursor —
    ``expire_snapshots`` outran the consumer).

    ``preloaded=(meta, data_entries)`` reuses a caller's existing
    :func:`_snapshot_entries` result resolved AT ``to_snapshot_id`` —
    no second manifest-tree walk (the tables this targets are exactly
    the long-manifest-chain ones where each walk is expensive)."""
    meta = preloaded[0] if preloaded is not None \
        else _load_metadata(table_dir)
    order = {s["snapshot-id"]: i for i, s in enumerate(meta["snapshots"])}
    if from_snapshot_id not in order:
        raise ValueError(
            f"{table_dir}: cursor snapshot {from_snapshot_id} is not in "
            "the table history (expired or never existed) — re-seed the "
            "incremental cursor from a full read")
    to_id = (to_snapshot_id if to_snapshot_id is not None
             else meta["current-snapshot-id"])
    if to_id not in order:
        raise ValueError(f"{table_dir}: snapshot {to_id} not found")
    i0, i1 = order[from_snapshot_id], order[to_id]
    if i1 < i0:
        raise ValueError(
            f"{table_dir}: to_snapshot {to_id} precedes from_snapshot "
            f"{from_snapshot_id}")
    # tag-pinned expiry can leave GAPS in the retained log (a pinned old
    # snapshot survives while untagged ones between it and the head are
    # expired); every adjacent pair in the range must be parent-linked
    # (spec parent-snapshot-id; consecutive-sequence fallback for
    # legacy snapshots), else this walk would silently skip the expired
    # snapshots' files — refuse like a stale cursor
    span = meta["snapshots"][i0:i1 + 1]
    for a, b in zip(span, span[1:]):
        if not _is_parent(a, b):
            raise ValueError(
                f"{table_dir}: snapshots between "
                f"{a['snapshot-id']} and {b['snapshot-id']} were "
                "expired (tag-gapped history) — the incremental range "
                "is incomplete; re-seed the cursor from a full read")
    rng = meta["snapshots"][i0 + 1:i1 + 1]
    # a manifest rewrite (operation=replace + rewrite-manifests marker)
    # adds no files and preserves every entry's original snapshot id —
    # benign inside an incremental range
    non_append = [(s["snapshot-id"],
                   s.get("summary", {}).get("operation"))
                  for s in rng
                  if s.get("summary", {}).get("operation") != "append"
                  and s.get("summary", {}).get("rewrite-manifests")
                  != "true"]
    if non_append:
        raise ValueError(
            f"{table_dir}: snapshot range contains non-append commits "
            f"{non_append}; added-files is not the logical diff across "
            "overwrite/delete/replace — full read required")
    if not rng:
        return []
    want = {s["snapshot-id"] for s in rng}
    if preloaded is not None:
        data = preloaded[1]
    else:
        _, data, _ = _snapshot_entries(table_dir, to_id)
    return [d for d in data if d["_snapshot_id"] in want]


# ---------------------------------------------------------------------------
# v2 row-level deletes: position-delete files (write + apply + compact)
# ---------------------------------------------------------------------------

# the spec's reserved field ids for position-delete file columns
_FP_FID, _POS_FID = 2147483546, 2147483545
_DELETE_ROWS_PER_FILE = 2_000_000


def _default_spec(meta: dict) -> dict:
    return meta["partition-specs"][meta.get("default-spec-id", 0)]


def _part_fields(spec: dict, schema: dict) -> list[tuple]:
    """[(name, iceberg_type, partition_field_id)] of ``spec`` over
    ``schema`` — the manifest-entry partition-struct schema."""
    by_id = {f["id"]: f for f in schema["fields"]}
    return [(pf["name"], "int" if _transform_of(pf)[0] == "bucket"
             else by_id[pf["source-id"]]["type"], pf["field-id"])
            for pf in spec["fields"]]


def _prev_manifest_records(prev_meta: dict,
                           base_snapshot_id: int | None = None
                           ) -> list[dict]:
    """A snapshot's manifest-list records (data AND delete manifests):
    the current snapshot's, or ``base_snapshot_id``'s (a branch head)."""
    sid = (base_snapshot_id if base_snapshot_id is not None
           else prev_meta.get("current-snapshot-id"))
    cur = [s for s in prev_meta["snapshots"] if s["snapshot-id"] == sid]
    if not cur:
        return []
    _, records = _avro_read(cur[0]["manifest-list"])
    return records


def _write_deletes(table_dir: str, base: tuple[int, dict], rows: DataFrame,
                   fields: list[dict], kind: str, validate,
                   summary: dict[str, str], **data_file) -> dict | None:
    """Commit ``rows`` as one DELETE snapshot of "position" (content=1)
    or "equality" (content=2) delete files, ~2M rows each and sorted by
    the columns as the spec requires — both delete writers' tail.
    ``fields`` (the columns' Iceberg fields) go into the footers and the
    manifest bounds.  Returns the new metadata, or None (no commit) when
    ``rows`` is empty."""
    # the rows' lineage is often the expensive part (delete_where / dedup
    # scan the whole table, equality keys run a distinct): persist so
    # count + write run it once
    rows = rows.persist()
    n = rows.count()
    if n == 0:
        rows.unpersist()
        return None
    meta = base[1]
    snap_id = _new_snapshot_id()
    cols = [f["name"] for f in fields]
    nfiles = (n + _DELETE_ROWS_PER_FILE - 1) // _DELETE_ROWS_PER_FILE
    stats = _write_data_files(
        rows.repartitionByRange(nfiles, *cols).sortWithinPartitions(*cols),
        str(Path(table_dir) / "data" / f"snap-{snap_id}"),
        {"fields": fields}, {"fields": []})
    rows.unpersist()
    spec = _default_spec(meta)
    entries = _file_entries(stats, snap_id, 1 if kind == "position" else 2,
                            {f["name"]: f for f in fields}, spec,
                            **data_file)
    manifest = _write_manifest(
        str(_meta_dir(table_dir) / f"manifest-{kind}-del-{snap_id}.avro"),
        entries, _current_schema(meta), spec, deletes=True)
    return _commit(table_dir, snapshot=_NewSnapshot(
        snap_id, [manifest], (0, 1),
        {"operation": "delete", f"added-{kind}-delete-files": str(len(stats)),
         f"added-{kind}-deletes": str(n), **summary}),
        validate=validate, base=base)


def write_position_deletes(spark: SparkSession, table_dir: str,
                           pos_df: DataFrame,
                           extra_summary: dict[str, str] | None = None,
                           base: tuple[int, dict] | None = None
                           ) -> dict | None:
    """Commit a DELETE snapshot from a DataFrame of row coordinates
    ``(file_path string, pos long)`` — the v2 position-delete format
    (spec: 'a position delete file identifies deleted rows by file path
    and row ordinal').  No data file is touched: the coordinates are
    written as parquet delete files (sorted by (file_path, pos) as the
    spec requires, ~2M coordinates per file), recorded in a delete
    manifest (content=1), and the manifest list carries every previous
    manifest forward.  At 100 TB this is the only sane shape for
    sub-percent row removal — dedup losers, takedowns, PII scrubs —
    because the alternative rewrites every dirtied data file for rows
    that are 16 bytes of coordinates each.  A commit that loses the race
    rebases while every commit since its base is an append or a delete
    (no file it targets can have been rewritten).  ``base`` is the
    ``(version, metadata)`` whose current snapshot ``pos_df`` was read
    from (:func:`_load_base`, then :func:`read_table_with_pos` at that
    snapshot); it defaults to the table as loaded here, which validates
    only the commits that land after this call starts.

    Readers: :func:`read_table` applies the deletes; raw file-level
    consumers are refused by :func:`data_files` until
    :func:`compact_files` rewrites the dirtied files.  Returns the new
    table metadata, or None (no commit) when ``pos_df`` is empty."""
    # file_path/pos under the spec's RESERVED field ids (readers here
    # match these constant names)
    return _write_deletes(
        table_dir, base or _load_base(table_dir),
        pos_df.select(F.col("file_path").cast("string"),
                      F.col("pos").cast("long")),
        [{"id": _FP_FID, "name": "file_path", "type": "string"},
         {"id": _POS_FID, "name": "pos", "type": "long"}],
        "position", _no_rewrite_since, extra_summary or {})


def delete_where(spark: SparkSession, table_dir: str, predicate
                 ) -> dict | None:
    """Row-level DELETE by predicate (a SQL string or a Column) committed
    as position-delete files — no data-file rewrite.  Rows already
    deleted by earlier snapshots are never re-matched (the scan applies
    them).  The rows are read from the current snapshot of the commit's
    base, so a commit that lands after the read is validated against the
    deletes.  Returns the new metadata, or None when nothing matched."""
    base = _load_base(table_dir)
    df = read_table_with_pos(spark, table_dir,
                             base[1].get("current-snapshot-id"))
    cond = F.expr(predicate) if isinstance(predicate, str) else predicate
    pos = df.where(cond).select(F.col("_file").alias("file_path"),
                                F.col("_pos").alias("pos"))
    return write_position_deletes(
        spark, table_dir, pos,
        extra_summary={"delete-predicate": str(predicate)}, base=base)


def write_equality_deletes(spark: SparkSession, table_dir: str,
                           keys_df: DataFrame,
                           extra_summary: dict[str, str] | None = None
                           ) -> dict | None:
    """Commit a DELETE snapshot from a DataFrame of KEY VALUES — the v2
    equality-delete format (content=2): a delete row removes every data
    row whose values in the key columns are null-safe-equal, in data
    files with a STRICTLY smaller sequence number (spec: 'equality
    delete files are applied to data files from older sequence
    numbers'), so rows (re-)appended later survive.  The key columns are
    ``keys_df``'s columns, recorded as schema field ids in the manifest's
    ``equality_ids``; unlike position deletes no row coordinate is
    needed — the writer never has to read the table, which is what CDC /
    takedown-by-id pipelines want at 100 TB.  Key-column bounds are
    stamped on the delete file so compaction can skip data files whose
    bounds cannot intersect.  A commit that loses the race raises
    :class:`CommitConflict`: at a later sequence number the keys would
    also delete the concurrent commit's rows.  Returns the new table
    metadata, or None (no commit) when ``keys_df`` is empty."""
    base = _load_base(table_dir)
    fields = {f["name"]: f for f in _current_schema(base[1])["fields"]}
    cols = list(keys_df.columns)
    unknown = [c for c in cols if c not in fields]
    if not cols or unknown:
        raise ValueError(
            f"equality-delete key columns {unknown or cols} not in the "
            f"table schema {sorted(fields)}")
    # the key columns carry their table field ids so the read side can
    # resolve them by id even after a later rename
    eq_ids = [fields[c]["id"] for c in cols]
    return _write_deletes(
        table_dir, base, keys_df.distinct(), [fields[c] for c in cols],
        "equality", None,
        {"equality-field-ids": ",".join(map(str, eq_ids)),
         **(extra_summary or {})}, equality_ids=eq_ids)


def compact_files(spark: SparkSession, table_dir: str) -> dict:
    """REPLACE commit that folds the snapshot's position deletes into the
    data files they dirty — and ONLY those: untouched files are carried
    forward as EXISTING manifest entries (status=0, explicit snapshot /
    sequence numbers per the spec), so compaction cost scales with the
    dirtied fraction, not the table.  At 100 TB with 0.1% of rows
    deleted across 1% of files, 99% of the table is a metadata-only
    carry-forward.  A compaction that loses the commit race raises
    :class:`CommitConflict` naming a file it rewrote.

    After compaction the current snapshot has no delete files, so the
    fused ingest (engine.encode_files) accepts the table again.  Earlier
    snapshots still time-travel (their delete files stay referenced
    until expire_snapshots + remove_orphan_files reclaim them).  Returns
    ``{"meta", "rewritten_files", "kept_files", "removed_delete_files"}``;
    no commit when the table has no deletes."""
    base = _load_base(table_dir)
    prev_meta, data, dels = _snapshot_entries(table_dir, meta=base[1])
    if not dels:
        return {"meta": None, "rewritten_files": 0,
                "kept_files": len(data), "removed_delete_files": 0}
    pos_dels = [d for d in dels if d.get("content", 0) == 1]
    eq_dels = [d for d in dels if d.get("content", 0) == 2]
    dirty: set[str] = set()
    if pos_dels:
        # distinct dirtied paths: bounded by the data-file count, the
        # same order of driver memory as the manifest listing itself
        dirty |= {r["file_path"] for r in
                  spark.read.schema("file_path string, pos bigint")
                  .parquet(*[d["file_path"] for d in pos_dels])
                  .select("file_path").distinct().collect()}
    if eq_dels:
        dirty |= _eq_dirty_files(prev_meta, data, eq_dels)
    clean = [d for d in data if d["file_path"] not in dirty]
    dirty_entries = [d for d in data if d["file_path"] in dirty]

    spec = _default_spec(prev_meta)
    schema = _current_schema(prev_meta)
    snap_id = _new_snapshot_id()

    # rewrite ONLY the dirtied files, deletes applied; rewritten files
    # are stamped with CURRENT field ids and names, so compaction also
    # migrates files toward the current schema
    df = _read_with_pos(spark, table_dir, dirty_entries, dels,
                        prev_meta).drop("_file", "_pos")
    stats = _write_data_files(
        df, str(Path(table_dir) / "data" / f"snap-{snap_id}"), schema, spec)
    entries = _file_entries(stats, snap_id, 0,
                            {f["name"]: f for f in schema["fields"]}, spec)
    entries += _existing_entries(clean)  # untouched files: metadata only
    manifest = _write_manifest(str(_meta_dir(table_dir)
                                   / f"manifest-{snap_id}.avro"),
                               entries, schema, spec)
    rewritten = (f"it rewrote {dirty_entries[0]['file_path']}"
                 if dirty_entries else "it drops the delete files")
    meta = _commit(table_dir, snapshot=_NewSnapshot(
        snap_id, [manifest], (),
        {"operation": "replace",
         "added-data-files": str(len(stats)),
         "added-records": str(sum(st["rows"] for st in stats)),
         "rewritten-data-files": str(len(dirty_entries)),
         "kept-data-files": str(len(clean)),
         "removed-position-delete-files": str(len(pos_dels)),
         "removed-equality-delete-files": str(len(eq_dels))},
        whole_runs=all(st["whole_runs"] for st in stats)),
        validate=lambda start, cur: rewritten, base=base)
    return {"meta": meta, "rewritten_files": len(dirty_entries),
            "kept_files": len(clean), "removed_delete_files": len(dels)}


def _existing_entries(data: list[dict]) -> list[dict]:
    """EXISTING (status=0) manifest entries carrying ``data`` forward
    unchanged, with their original snapshot and sequence numbers."""
    return [{"status": 0, "snapshot_id": d["_snapshot_id"],
             "sequence_number": d["_sequence_number"],
             "file_sequence_number": d["_sequence_number"],
             "data_file": {k: v for k, v in d.items()
                           if not k.startswith("_")}} for d in data]


# ---------------------------------------------------------------------------
# table maintenance: snapshot expiry + orphan-file cleanup
# ---------------------------------------------------------------------------

# Resume lineage the file-keyed resumable ingest and the stream sink
# stamp on their snapshot summaries: id sets (JSON lists: input files,
# stream batch ids) and scalars (strings: the stream's query id).
# expire_snapshots folds an expired snapshot's ids into the
# `<key>-expired` JSON-list property and its scalars into the property of
# the same key.
_LINEAGE_SETS = ("simdcomp-input-files", "simdcomp-stream-batches")
_LINEAGE_SCALARS = ("simdcomp-stream-query",)


def _lineage(meta: dict | None,
             snapshots: list[dict] | None = None) -> dict:
    """The resume lineage recorded in ``snapshots`` (default: every
    snapshot of ``meta``) together with what :func:`expire_snapshots`
    folded into the table properties — the one reader of that format.

    Each id-set key maps to its set of ids (input files as relative
    paths, stream batch ids as ints); each scalar key to the list of its
    values, the property's first, then the snapshots' in log order.
    ``meta`` None (no table) has none."""
    meta = meta or {}
    props = meta.get("properties", {})
    if snapshots is None:
        snapshots = meta.get("snapshots", [])
    summaries = [s.get("summary", {}) for s in snapshots]
    out: dict = {}
    for key in _LINEAGE_SETS:
        ids = set(json.loads(props.get(f"{key}-expired", "[]")))
        for summ in summaries:
            ids |= set(json.loads(summ.get(key) or "[]"))
        out[key] = ids
    for key in _LINEAGE_SCALARS:
        out[key] = [v for v in [props.get(key)]
                    + [s.get(key) for s in summaries] if v]
    return out


def rewrite_manifests(table_dir: str,
                      target_entries: int = 100_000) -> dict:
    """Metadata-only REPLACE commit that consolidates the accumulated
    data manifests into ``ceil(live_files / target_entries)`` new ones.
    Every append carries the previous manifests forward, so a
    one-snapshot-per-micro-batch producer (the exactly-once streaming
    sink, the per-batch resumable ingest) leaves a manifest LIST of one
    small avro file per commit — after 10^4 micro-batches every planning
    walk (_snapshot_entries) opens 10^4 files.  This is the maintenance
    half Iceberg's own RewriteManifests action provides.

    No data file is touched and no entry changes identity: live data
    files are rewritten as EXISTING entries (status=0) with their
    ORIGINAL snapshot and sequence numbers, so time travel, the v2
    delete sequence rule, and :func:`incremental_files` cursors all
    survive a rewrite (the rewrite snapshot itself adds no files and is
    treated as benign by the incremental walk via its
    ``rewrite-manifests`` summary marker).  Delete manifests are carried
    forward unchanged.  Old manifest avros stay referenced by older
    snapshots until ``expire_snapshots`` + ``remove_orphan_files``
    reclaim them.  Returns ``{"meta", "manifests_before",
    "manifests_after"}``; no commit when there is nothing to merge."""
    if target_entries < 1:
        raise ValueError(
            f"rewrite_manifests: target_entries must be >= 1, got "
            f"{target_entries}")
    base = _load_base(table_dir)
    prev_meta, data, _ = _snapshot_entries(table_dir, meta=base[1])
    n_before = sum(1 for r in _prev_manifest_records(prev_meta)
                   if r.get("content", 0) == 0)
    need = max(1, -(-len(data) // target_entries))
    if not data or n_before <= need:
        return {"meta": None, "manifests_before": n_before,
                "manifests_after": n_before}
    spec = _default_spec(prev_meta)
    schema = _current_schema(prev_meta)
    snap_id = _new_snapshot_id()
    entries = _existing_entries(data)
    mdir = _meta_dir(table_dir)
    manifests = [
        _write_manifest(str(mdir / f"manifest-rw-{snap_id}-{i}.avro"),
                        entries[gi:gi + target_entries], schema, spec)
        for i, gi in enumerate(range(0, len(entries), target_entries))]
    meta = _commit(table_dir, snapshot=_NewSnapshot(
        snap_id, manifests, (1,),
        {"operation": "replace", "rewrite-manifests": "true",
         "manifests-replaced": str(n_before),
         "manifests-created": str(len(manifests))}), base=base)
    return {"meta": meta, "manifests_before": n_before,
            "manifests_after": len(manifests)}


def _is_parent(a: dict, b: dict) -> bool:
    """Is snapshot ``a`` the direct parent of ``b``?  By the spec's
    parent-snapshot-id when stamped; consecutive sequence numbers for
    legacy snapshots (correct pre-branch/rollback, when the log was
    always a contiguous chain)."""
    pid = b.get("parent-snapshot-id")
    if pid is not None:
        return pid == a["snapshot-id"]
    return b.get("sequence-number") == a.get("sequence-number", 0) + 1


def _check_ref_name(name: str) -> None:
    if name == "main":
        raise ValueError("'main' is the reserved branch ref")
    if not name or not all(c.isalnum() or c in "._-" for c in name):
        raise ValueError(
            f"invalid ref name {name!r}: need [A-Za-z0-9._-]+")


def _without_ref(meta: dict, name: str) -> dict:
    return {**meta, "refs": {n: r for n, r in meta["refs"].items()
                             if n != name}}


def resolve_ref(table_dir: str, name: str) -> int:
    """Snapshot id a named ref (tag or branch) points at."""
    meta = _load_metadata(table_dir)
    ref = meta.get("refs", {}).get(name)
    if ref is None:
        raise ValueError(
            f"{table_dir}: no ref {name!r} "
            f"(have {sorted(meta.get('refs', {}))})")
    return ref["snapshot-id"]


def create_tag(table_dir: str, name: str,
               snapshot_id: int | None = None) -> dict:
    """Metadata-only commit adding a named TAG ref (Iceberg v2 ``refs``
    map) pinning ``snapshot_id`` (default: current when called) — the
    reproducibility primitive: a training run tags the exact corpus
    snapshot it consumed ("run-2026-08-18"), later commits never move it,
    :func:`expire_snapshots` never expires it, and
    :func:`read_table`\\ ``(ref=...)`` reads exactly it forever (until
    :func:`remove_tag`)."""
    _check_ref_name(name)
    base = _load_base(table_dir)
    sid = snapshot_id if snapshot_id is not None \
        else base[1]["current-snapshot-id"]

    def change(meta):
        if sid not in {s["snapshot-id"] for s in meta["snapshots"]}:
            raise ValueError(f"{table_dir}: snapshot {sid} not in the log")
        if name in meta.get("refs", {}):
            raise ValueError(
                f"{table_dir}: ref {name!r} already exists "
                f"(-> {meta['refs'][name]['snapshot-id']}); tags are "
                "immutable — remove_tag first to repoint")
        return {**meta, "refs": {**meta.get("refs", {}), name: {
            "snapshot-id": sid, "type": "tag"}}}
    return _commit(table_dir, change, validate=_reapply, base=base)


def remove_tag(table_dir: str, name: str) -> dict:
    """Metadata-only commit dropping a tag ref (the snapshot itself
    stays in the log until :func:`expire_snapshots` takes it)."""
    _check_ref_name(name)

    def change(meta):
        ref = meta.get("refs", {}).get(name)
        if ref is None:
            raise ValueError(f"{table_dir}: no ref {name!r}")
        if ref.get("type") == "branch":
            # deleting just the ref would orphan the staged snapshots IN
            # the log (time travel would expose unpublished data, and the
            # main-commit freeze would silently lift)
            raise ValueError(
                f"{table_dir}: {name!r} is a staging BRANCH — use "
                "drop_branch (removes its staged snapshots too) or "
                "fast_forward (publishes them)")
        return _without_ref(meta, name)
    return _commit(table_dir, change, validate=_reapply)


def create_branch(table_dir: str, name: str) -> dict:
    """Metadata-only commit opening a write-audit-publish STAGING branch
    at the current snapshot: ``append(..., branch=name)`` then commits
    to the branch (readers of main unaffected), auditors read it with
    ``read_table(ref=name)``, and :func:`fast_forward` publishes it to
    main (or :func:`drop_branch` discards it).  One staging branch at a
    time — the linear snapshot log cannot represent true divergence, so
    main-targeted commits refuse while a branch exists."""
    _check_ref_name(name)

    def change(meta):
        refs = meta.get("refs", {})
        if name in refs:
            raise ValueError(f"{table_dir}: ref {name!r} already exists")
        existing = [n for n, r in refs.items()
                    if r.get("type") == "branch" and n != "main"]
        if existing:
            raise ValueError(
                f"{table_dir}: staging branch {existing[0]!r} already open "
                "— one at a time (linear log)")
        if meta["current-snapshot-id"] in (None, -1):
            raise ValueError(f"{table_dir}: empty table has no snapshot "
                             "to branch from")
        return {**meta, "refs": {**refs, name: {
            "snapshot-id": meta["current-snapshot-id"], "type": "branch"}}}
    return _commit(table_dir, change, validate=_reapply)


def fast_forward(table_dir: str, branch: str) -> dict:
    """PUBLISH a staging branch: metadata-only commit pointing main (and
    the current snapshot) at the branch head and dropping the branch
    ref — the audited snapshots become main history atomically; readers
    switch from pre-branch main to the full staged state in one
    metadata swap."""
    _check_ref_name(branch)

    def change(meta):
        ref = meta.get("refs", {}).get(branch)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(f"{table_dir}: no branch ref {branch!r}")
        head = ref["snapshot-id"]
        if not meta["snapshots"] or \
                meta["snapshots"][-1]["snapshot-id"] != head:
            raise ValueError(
                f"{table_dir}: branch {branch!r} head is not the log tail "
                "— cannot fast-forward")
        return {**_without_ref(meta, branch), "current-snapshot-id": head}
    return _commit(table_dir, change, validate=_reapply)


def drop_branch(table_dir: str, name: str) -> dict:
    """DISCARD a staging branch: metadata-only commit removing the
    branch ref AND its unpublished snapshots from the log (so the log
    stays exactly main's history — abandoned snapshots lingering after
    main would be silently swept into later incremental ranges).  The
    dropped snapshots' files become orphans (remove_orphan_files
    reclaims them); a tag pinning one of them blocks the drop."""
    _check_ref_name(name)

    def change(meta):
        refs = meta.get("refs", {})
        ref = refs.get(name)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(f"{table_dir}: no branch ref {name!r}")
        ids = [s["snapshot-id"] for s in meta["snapshots"]]
        cut = ids.index(meta["current-snapshot-id"]) + 1 \
            if meta["current-snapshot-id"] in ids else len(ids)
        for sid in ids[cut:]:
            pins = [n for n, r in refs.items()
                    if n != name and r["snapshot-id"] == sid]
            if pins:
                raise ValueError(
                    f"{table_dir}: ref(s) {pins} pin staged snapshot "
                    f"{sid} — remove them before drop_branch")
        return {**_without_ref(meta, name),
                "snapshots": meta["snapshots"][:cut]}
    return _commit(table_dir, change, validate=_reapply)


def _expired(meta: dict, keep_last: int) -> list[dict]:
    """The snapshots :func:`expire_snapshots` drops from ``meta``: all of
    main's history but the last ``keep_last``, except ref-pinned ones
    (tags pin training-run inputs) and the STAGED region of an open
    branch (the snapshots after current) — expiring a staged
    intermediate would both gap the chain fast_forward publishes and
    fold a never-published batch's resume lineage into properties as
    done."""
    snaps = meta["snapshots"]
    pinned = {r["snapshot-id"] for r in meta.get("refs", {}).values()}
    cur_idx = next((i for i, s in enumerate(snaps)
                    if s["snapshot-id"] == meta["current-snapshot-id"]),
                   len(snaps) - 1)
    return [s for s in snaps[:cur_idx + 1][:-keep_last]
            if s["snapshot-id"] not in pinned]


def expire_snapshots(table_dir: str, keep_last: int = 1) -> dict:
    """Metadata commit that drops all but the last ``keep_last`` snapshots
    from the log (standard Iceberg expire semantics: time travel to the
    expired snapshots ends; readers of the CURRENT snapshot are
    unaffected; physical bytes are reclaimed separately by
    :func:`remove_orphan_files`).

    The resumable ingest and the stream sink record their lineage (input
    files / stream batch ids) in snapshot summaries — expiring those
    snapshots must NOT forget the work: expired summaries' lineage keys
    are folded into the table ``properties`` first, and :func:`_lineage`
    unions properties with the live summaries, so a resume after expiry
    is still a no-op."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current snapshot "
                         "can never be expired)")
    base = _load_base(table_dir)
    if not _expired(base[1], keep_last):
        return {"expired": 0, "retained": len(base[1]["snapshots"])}
    expired: list[dict] = []

    def change(meta):
        expired[:] = _expired(meta, keep_last)
        gone = {s["snapshot-id"] for s in expired}
        props = dict(meta.get("properties", {}))
        folded = _lineage(meta, expired)
        for key in _LINEAGE_SETS:
            if folded[key]:
                props[f"{key}-expired"] = json.dumps(sorted(folded[key]))
        # scalar lineage must survive expiry too: the streaming sink's
        # checkpoint query id
        for key in _LINEAGE_SCALARS:
            if folded[key]:
                props[key] = folded[key][-1]
        return {**meta, "properties": props, "snapshots": [
            s for s in meta["snapshots"] if s["snapshot-id"] not in gone]}
    meta = _commit(table_dir, change, validate=_reapply, base=base)
    return {"expired": len(expired), "retained": len(meta["snapshots"])}


def remove_orphan_files(table_dir: str, older_than_s: float = 86400.0,
                        dry_run: bool = False) -> list[str]:
    """Delete data files no snapshot references (crashed-run leftovers,
    files of expired snapshots).  Walks every RETAINED snapshot's
    manifests directly — including DELETED-status entries, which still
    pin their files for time travel — and removes the complement.

    ``older_than_s`` guards the race with an in-flight writer: a
    concurrent commit's data files exist before its metadata does and
    must not be swept; the default only removes files older than a day
    (set 0 only when no writer can be active).  Unreferenced METADATA
    avros (manifest lists + manifests of expired snapshots, and the
    pre-rewrite manifests :func:`rewrite_manifests` replaced) are swept
    under the same age guard — without this, a
    one-snapshot-per-micro-batch producer leaks one avro per trigger
    forever.  Returns the removed (or, with dry_run, would-be-removed)
    paths."""
    meta = _load_metadata(table_dir)
    live: set[str] = set()       # data files, manifest lists, manifests
    for s in meta["snapshots"]:
        live.add(s["manifest-list"])
        _, manifests = _avro_read(s["manifest-list"])
        for m in manifests:
            live.add(m["manifest_path"])
            _, entries = _avro_read(m["manifest_path"])
            live |= {e["data_file"]["file_path"] for e in entries}
    now = time.time()
    out = []
    # unreferenced data files and avros, plus the .tmp files a publisher
    # killed inside _publish_metadata leaves behind (vtmp before its
    # finally-unlink, hint tmp before os.replace)
    mdir = _meta_dir(table_dir)
    for p in (sorted((Path(table_dir) / "data").rglob("*.parquet"))
              + sorted(mdir.glob("*.avro")) + sorted(mdir.glob(".*.tmp"))):
        if str(p) in live:
            continue
        try:
            if now - p.stat().st_mtime < older_than_s:
                continue
            if not dry_run:
                p.unlink()
            out.append(str(p))
        except OSError:
            continue
    if not dry_run:  # drop now-empty per-snapshot dirs (+ _SUCCESS marks)
        for d in sorted((Path(table_dir) / "data").glob("snap-*"),
                        reverse=True):
            try:
                # the dir sweep needs the SAME age guard as the files: an
                # in-flight writer's freshly created snap dir has no
                # *.parquet yet and must not be rmtree'd from under it
                if now - d.stat().st_mtime < older_than_s:
                    continue
            except OSError:
                continue
            if not any(d.rglob("*.parquet")):
                import shutil
                shutil.rmtree(d, ignore_errors=True)
    return out


def rollback_last_snapshot(table_dir: str, expected_id: int | None = None
                           ) -> dict:
    """Metadata commit that DROPS the most recent snapshot, restoring the
    previous one as current (or an empty table if it was the first).

    The verification arm of the resumable ingest uses this: a batch whose
    round-trip check fails must not stay current, and dropping it from
    the log also un-records its resume lineage, so the re-run (with the
    fixed encoder) re-encodes exactly that batch.  The dropped snapshot's
    data files become orphans (remove_orphan_files reclaims them);
    sequence numbers stay monotonic (the dropped one is not reused).

    ``expected_id`` pins WHICH snapshot the caller intends to drop: if a
    concurrent append landed after it, the log tail is an innocent
    snapshot and blind rollback would destroy it while leaving the bad
    one current.  Callers reverting a specific commit must pass it.  A
    rollback that loses the commit race raises :class:`CommitConflict`
    rather than drop whatever is the tail by then."""
    def change(meta):
        if not meta["snapshots"]:
            raise ValueError(f"{table_dir}: no snapshot to roll back")
        dropped = meta["snapshots"][-1]
        if expected_id is not None and dropped["snapshot-id"] != expected_id:
            raise RuntimeError(
                f"{table_dir}: refusing rollback — expected snapshot "
                f"{expected_id} at the log tail but found "
                f"{dropped['snapshot-id']} (a concurrent commit landed "
                "after the snapshot being reverted; resolve it explicitly "
                "instead of dropping an innocent snapshot)")
        for name, r in meta.get("refs", {}).items():
            if name != "main" and r["snapshot-id"] == dropped["snapshot-id"]:
                raise ValueError(
                    f"refusing to roll back snapshot "
                    f"{dropped['snapshot-id']}: ref {name!r} pins it "
                    "(remove_tag first if the pin is stale)")
        kept = meta["snapshots"][:-1]
        if kept and not _is_parent(kept[-1], dropped):
            raise ValueError(
                f"refusing to roll back snapshot "
                f"{dropped['snapshot-id']}: its parent was expired "
                "(tag-gapped history) — restoring the older retained "
                f"snapshot {kept[-1]['snapshot-id']} would silently drop "
                "the expired commits' rows from the current view")
        # spec: -1 when no snapshot is current
        return {**meta, "snapshots": kept, "current-snapshot-id":
                kept[-1]["snapshot-id"] if kept else -1}
    return _commit(table_dir, change)
