"""Iceberg v2 table layout: avro codec round-trip, export/read identity,
append + snapshot isolation + time travel, commit atomicity, and spec
conformance of the written metadata tree."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from simdcomp_spark import engine, fixtures, iceberg


@pytest.fixture(scope="module")
def unit_df(spark):
    return fixtures.unit_table(spark).cache()


def test_avro_container_roundtrip(tmp_path):
    """The generic Avro 1.11 codec: unions, nested records, arrays, maps,
    bytes/strings, negative zigzag values — write then read back equal."""
    schema = {
        "type": "record", "name": "t", "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": ["null", "long"]},
            {"name": "b", "type": "bytes"},
            {"name": "d", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "rec", "type": {
                "type": "record", "name": "inner", "fields": [
                    {"name": "x", "type": "int"}]}},
        ]}
    records = [
        {"s": "héllo", "n": None, "b": b"\x00\xff", "d": -1.5,
         "flag": True, "arr": [1, -2, 3], "m": {"a": 7, "b": -9},
         "rec": {"x": -123456789}},
        {"s": "", "n": 2 ** 61, "b": b"", "d": 0.0, "flag": False,
         "arr": [], "m": {}, "rec": {"x": 0}},
    ]
    path = str(tmp_path / "t.avro")
    iceberg._avro_write(path, schema, records)
    got_schema, got = iceberg._avro_read(path)
    assert got_schema == schema
    assert got == records


def test_export_read_roundtrip(spark, unit_df, tmp_path):
    """encode → export as Iceberg → read_table → decode must reproduce the
    original tokens bit-identically (the README's 'Iceberg mapping'
    paragraph, backed by a test)."""
    table = str(tmp_path / "iceberg_table")
    enc = engine.encode(unit_df, codec="auto", split_threshold=1 << 14)
    iceberg.export_encoded(enc, table)
    back = iceberg.read_table(spark, table)
    dec = engine.decode(back, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0


def test_tokens_table_export(spark, unit_df, tmp_path):
    """Raw tokens tables (array<int> column) export/read too — the north
    star's input side: 'Iceberg tables of pre-tokenized sequences'."""
    table = str(tmp_path / "tok_table")
    iceberg.export_encoded(unit_df.select("doc_id", "source", "n_tok",
                                          "tokens"), table)
    back = iceberg.read_table(spark, table)
    a = {r["doc_id"]: r["tokens"] for r in back.collect()}
    b = {r["doc_id"]: r["tokens"] for r in unit_df.collect()}
    assert a == b
    # list type mapped per spec
    meta = iceberg._load_metadata(table)
    tok_field = [f for f in meta["schemas"][0]["fields"]
                 if f["name"] == "tokens"][0]
    assert tok_field["type"]["type"] == "list"
    assert tok_field["type"]["element"] == "int"


def test_append_snapshot_isolation_and_time_travel(spark, unit_df, tmp_path):
    table = str(tmp_path / "appendable")
    enc1 = engine.encode(unit_df.where(F.col("n_tok") <= 1000),
                         codec="bitpack", split_threshold=None)
    enc2 = engine.encode(unit_df.where(F.col("n_tok") > 1000),
                         codec="d1", split_threshold=None)
    meta1 = iceberg.export_encoded(enc1, table)
    snap1 = meta1["current-snapshot-id"]
    n1 = iceberg.read_table(spark, table).count()
    assert n1 == enc1.count()
    meta2 = iceberg.append(enc2, table)
    snap2 = meta2["current-snapshot-id"]
    assert snap2 != snap1
    # current snapshot sees both commits
    assert iceberg.read_table(spark, table).count() == \
        enc1.count() + enc2.count()
    # time travel to snapshot 1 sees only the first commit
    assert iceberg.read_table(spark, table, snapshot_id=snap1).count() == n1
    log = iceberg.snapshots(table)
    assert [s["snapshot-id"] for s in log] == [snap1, snap2]
    assert log[-1]["is-current"] and not log[0]["is-current"]
    # appends must match the table schema
    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg.append(unit_df, table)
    # double-create is refused
    with pytest.raises(FileExistsError):
        iceberg.export_encoded(enc1, table)


def test_commit_protocol_survives_torn_commit(spark, unit_df, tmp_path):
    """HadoopTableOperations-style commit discipline: publishing
    vN.metadata.json (atomic no-overwrite link of complete content) IS the
    commit; version-hint.text is advisory.  A writer that crashes after
    publishing vN but before the hint update leaves a COMMITTED snapshot
    that readers heal to by probing past the hint — and commit liveness
    survives (the next append computes N+1 instead of wedging on vN
    forever).  A genuinely torn vN (partial JSON, legacy direct-write
    crash) stops the probe and leaves the previous version readable."""
    table = str(tmp_path / "torn")
    enc = engine.encode(unit_df, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    n1 = iceberg.read_table(spark, table).count()
    iceberg.append(enc.limit(10), table)
    n2 = iceberg.read_table(spark, table).count()
    assert n2 == n1 + 10
    # crash-after-publish-before-hint: v2 exists (complete), hint says 1
    mdir = Path(table) / "metadata"
    hint = mdir / "version-hint.text"
    assert hint.read_text().strip() == "2"
    hint.write_text("1")
    assert iceberg.read_table(spark, table).count() == n2   # healed to v2
    # liveness: a follow-up commit lands as v3, not a v2 conflict
    iceberg.append(enc.limit(5), table)
    assert hint.read_text().strip() == "3"
    assert iceberg.read_table(spark, table).count() == n2 + 5
    # genuinely torn NEXT version (legacy partial write) is ignored
    (mdir / "v4.metadata.json").write_text('{"truncated')
    assert iceberg.read_table(spark, table).count() == n2 + 5


def test_avro_independent_reader_cross_reads_all_manifests(
        spark, unit_df, tmp_path):
    """Dual-implementation interop: a CLEAN-ROOM Avro OCF reader
    (tests/avro_independent.py — own varint/zigzag/union/block code,
    written from the Avro spec, strict about sync markers and block
    consumption) must decode every manifest, manifest list, and delete
    manifest our writer emits across create/append/delete commits, and
    agree record-for-record with iceberg._avro_read.  This is the
    strongest interop evidence available without an Avro library or a
    real Iceberg runtime in the environment: a framing/encoding bug in
    either implementation breaks the agreement."""
    from tests import avro_independent as ind

    table = str(tmp_path / "xread")
    enc = engine.encode(unit_df, codec="auto", split_threshold=None)
    iceberg.export_encoded(enc, table)
    iceberg.append(enc.limit(20), table)
    some_doc = iceberg.read_table(spark, table).select("doc_id").first()[0]
    iceberg.delete_where(spark, table, F.col("doc_id") == some_doc)
    avros = sorted((Path(table) / "metadata").rglob("*.avro"))
    assert len(avros) >= 6          # ≥3 manifest lists + ≥3 manifests
    n_records = 0
    for p in avros:
        schema_i, meta_i, recs_i = ind.read_container(str(p))
        schema_e, recs_e = iceberg._avro_read(str(p))
        assert schema_i == schema_e, p
        assert len(recs_i) == len(recs_e), p
        for a, b in zip(recs_i, recs_e):
            assert a == b, (p, a, b)
        n_records += len(recs_i)
    assert n_records >= 6


def _spec_bucket(k: int, n: int) -> int:
    """``bucket[n]`` of a long straight from the spec's formula over the
    scalar hash: (murmur3 of the 8-byte LE value & Int.MAX) % n."""
    h = iceberg.murmur3_32(k.to_bytes(8, "little", signed=True))
    return (h & 0x7FFFFFFF) % n


def test_transform_values_match_spec_values(monkeypatch):
    """The writer's one transform function against the spec's own
    values, no Spark: truncate[W] on ints is v − floorMod(v, W) (so −1
    truncates to −10, not 0 as a C-style remainder would give); on
    strings it keeps W code points, not bytes; bucket[N] agrees for int
    and long and with the Appendix B hashes; every transform maps null
    to null; and prune_files' bucket probe goes through it."""
    import pyarrow as pa
    tv = iceberg._transform_values
    for typ, src_type in ((pa.int32(), "int"), (pa.int64(), "long")):
        got = tv(pa.array([-1, -10, 9, 10, None], typ), "truncate", 10,
                 src_type)
        assert got.to_pylist() == [-10, -10, 0, 10, None]
    assert tv(pa.array(["héllo", "日本語", "a", None]), "truncate", 2,
              "string").to_pylist() == ["hé", "日本", "a", None]
    ints = tv(pa.array([34, -1, 0, None], pa.int32()), "bucket", 16, "int")
    longs = tv(pa.array([34, -1, 0, None], pa.int64()), "bucket", 16,
               "long")
    assert ints.to_pylist() == longs.to_pylist() == \
        [2017239379 % 16, _spec_bucket(-1, 16), _spec_bucket(0, 16), None]
    assert tv(pa.array(["iceberg", None]), "bucket", 16, "string") \
        .to_pylist() == [1210000089 % 16, None]
    assert tv(pa.array([None, "x"]), "identity", None, "string") \
        .to_pylist() == [None, "x"]

    calls = []

    def spy(*args):
        calls.append(args[1:])
        return tv(*args)

    meta = {"current-schema-id": 0, "default-spec-id": 0,
            "schemas": [{"schema-id": 0, "fields": [
                {"id": 1, "name": "k", "type": "long"}]}],
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "k_bucket", "transform": "bucket[8]",
                 "source-id": 1, "field-id": 1000}]}]}
    entries = [{"file_path": f"f{b}", "partition": {"k_bucket": b}}
               for b in range(8)]
    monkeypatch.setattr(iceberg, "_transform_values", spy)
    kept = iceberg.prune_files(None, "k", 34, 34, preloaded=(meta, entries))
    assert [d["file_path"] for d in kept] == [f"f{2017239379 % 8}"]
    assert calls == [("bucket", 8, "long")]


def test_partition_transform_hash_spec_vectors():
    """The bucket transform's hash is pinned to the Iceberg spec's own
    Appendix B vectors: murmur3_x86_32 of long 34 (8-byte LE) is
    2017239379 and of the UTF-8 bytes of "iceberg" is 1210000089 (the
    transform's int/long agreement is
    :func:`test_transform_values_match_spec_values`).  The vectorized
    numpy kernel must agree with the scalar byte implementation
    everywhere, including negatives."""
    import numpy as np
    assert iceberg.murmur3_32((34).to_bytes(8, "little")) == 2017239379
    assert iceberg.murmur3_32(b"iceberg") == 1210000089
    vals = np.array([0, 1, -1, 34, 2**62, -2**62, 123456789],
                    dtype=np.int64)
    vec = iceberg._murmur3_32_long_vec(vals)
    for i, v in enumerate(vals):
        assert int(vec[i]) == iceberg.murmur3_32(
            int(v).to_bytes(8, "little", signed=True)), v


def test_partition_transforms_end_to_end(spark, tmp_path):
    """bucket[N] and truncate[W] partition specs: the manifest partition
    struct carries the TRANSFORMED value (int bucket id / truncated
    value), equality probes prune buckets strictly, range probes prune
    truncate partitions, appends inherit the transform, compaction
    rewrites into the same layout, and unknown transforms are refused
    loudly."""
    df = spark.range(0, 400).select(
        F.col("id").cast("long").alias("k"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"))
        .alias("w"),
        (F.col("id") * 3).cast("int").alias("v"))

    tb = str(tmp_path / "bkt")
    meta = iceberg.export_encoded(df, tb, partition_by="bucket(8, k)")
    pf = meta["partition-specs"][0]["fields"][0]
    assert pf["transform"] == "bucket[8]" and pf["name"] == "k_bucket"
    live = iceberg.data_files(tb)
    assert {d["partition"]["k_bucket"] for d in live} == set(range(8))
    # every file's partition value is the spec bucket of its rows
    for d in live:
        b = d["partition"]["k_bucket"]
        ks = [r["k"] for r in spark.read.parquet(d["file_path"])
              .select("k").collect()]
        assert all(_spec_bucket(k, 8) == b for k in ks)
    pruned = iceberg.prune_files(tb, "k", 123, 123)
    want_b = _spec_bucket(123, 8)
    assert pruned and {d["partition"]["k_bucket"] for d in pruned} == \
        {want_b} and len(pruned) < len(live)
    got = iceberg.read_table(spark, tb, between=("k", 123, 123)).collect()
    assert len(got) == 1 and got[0]["k"] == 123
    # append inherits; compaction keeps the layout
    iceberg.append(df.limit(50), tb)
    iceberg.delete_where(spark, tb, F.col("k") == 123)
    res = iceberg.compact_files(spark, tb)
    assert res is not None
    assert iceberg.read_table(
        spark, tb, between=("k", 123, 123)).count() == 0
    after = iceberg.data_files(tb)
    assert all("k_bucket" in d["partition"] for d in after)

    tt = str(tmp_path / "trunc")
    iceberg.export_encoded(df, tt, partition_by="truncate(100, k)")
    livet = iceberg.data_files(tt)
    assert {d["partition"]["k_truncate"] for d in livet} == \
        {0, 100, 200, 300}
    assert {d["partition"]["k_truncate"]
            for d in iceberg.prune_files(tt, "k", 150, 250)} == {100, 200}
    assert iceberg.read_table(spark, tt, between=("k", 150, 250)) \
        .count() == 101

    # bucket over a string column (per-value murmur3 over UTF-8 bytes)
    ts = str(tmp_path / "bstr")
    iceberg.export_encoded(df, ts, partition_by="bucket(4, w)")
    pruned_s = iceberg.prune_files(ts, "w", "w3", "w3")
    assert 0 < len(pruned_s) < len(iceberg.data_files(ts))
    assert iceberg.read_table(spark, ts, between=("w", "w3", "w3")) \
        .count() == df.where(F.col("w") == "w3").count()

    with pytest.raises(ValueError, match="need an existing"):
        iceberg.export_encoded(df, str(tmp_path / "bad"),
                               partition_by="bucket(4, nope)")
    with pytest.raises(NotImplementedError, match="transform"):
        iceberg._transform_of({"transform": "year"})


def test_first_commit_crash_window_hintless_table(spark, unit_df, tmp_path):
    """A writer that crashed between publishing v1.metadata.json (the
    commit point) and writing version-hint.text has still COMMITTED the
    table: readers probe for v1 when the hint is absent instead of
    declaring the directory not-a-table, and the next commit restores
    the hint (ADVICE r5: first-commit crash window)."""
    table = str(tmp_path / "hintless")
    enc = engine.encode(unit_df, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    n1 = iceberg.read_table(spark, table).count()
    hint = Path(table) / "metadata" / "version-hint.text"
    hint.unlink()                                  # simulate the crash
    assert iceberg.is_iceberg_table(table)
    assert iceberg.read_table(spark, table).count() == n1
    # liveness: append treats the hint-less table as existing (v2 next)
    iceberg.append(enc.limit(5), table)
    assert hint.read_text().strip() == "2"
    assert iceberg.read_table(spark, table).count() == n1 + 5
    # a directory with neither hint nor v1 is still refused
    with pytest.raises(FileNotFoundError, match="not an Iceberg table"):
        iceberg.read_table(spark, str(tmp_path / "nothing"))


def test_rollback_pins_expected_snapshot(spark, unit_df, tmp_path):
    """rollback_last_snapshot(expected_id=...) must refuse when a
    concurrent append moved the log tail: blind rollback would destroy
    the innocent newest snapshot and leave the bad one current
    (ADVICE r5, manifest verify arm)."""
    table = str(tmp_path / "pinned_rb")
    enc = engine.encode(unit_df, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    bad = iceberg.append(enc.limit(10), table)["current-snapshot-id"]
    # concurrent append lands AFTER the snapshot we want to revert
    innocent = iceberg.append(enc.limit(3), table)["current-snapshot-id"]
    with pytest.raises(RuntimeError, match="refusing rollback"):
        iceberg.rollback_last_snapshot(table, expected_id=bad)
    # the innocent snapshot is untouched and still current
    assert iceberg.snapshots(table)[-1]["snapshot-id"] == innocent
    # pinning the actual tail works
    iceberg.rollback_last_snapshot(table, expected_id=innocent)
    assert iceberg.snapshots(table)[-1]["snapshot-id"] == bad


def test_written_layout_is_spec_shaped(spark, unit_df, tmp_path):
    """Structural conformance of the on-disk tree: version-hint, vN
    metadata json with required v2 keys, avro manifest list with spec
    field names/ids, avro manifests whose entries carry data_file records,
    and file stats that match the parquet reality."""
    table = str(tmp_path / "spec")
    enc = engine.encode(unit_df, codec="auto", split_threshold=None)
    iceberg.export_encoded(enc, table)
    mdir = Path(table) / "metadata"
    assert (mdir / "version-hint.text").read_text().strip() == "1"
    meta = json.loads((mdir / "v1.metadata.json").read_text())
    for key in ("format-version", "table-uuid", "location", "schemas",
                "partition-specs", "snapshots", "current-snapshot-id",
                "last-sequence-number", "sort-orders", "refs"):
        assert key in meta, key
    assert meta["format-version"] == 2
    snap = meta["snapshots"][0]
    mlist_schema, manifests = iceberg._avro_read(snap["manifest-list"])
    assert mlist_schema["name"] == "manifest_file"
    names = {f["name"] for f in mlist_schema["fields"]}
    assert {"manifest_path", "manifest_length", "added_snapshot_id",
            "sequence_number", "content"} <= names
    fid = {f["name"]: f["field-id"] for f in mlist_schema["fields"]}
    assert fid["manifest_path"] == 500 and fid["added_snapshot_id"] == 503
    total_rows = 0
    for m in manifests:
        entry_schema, entries = iceberg._avro_read(m["manifest_path"])
        assert entry_schema["name"] == "manifest_entry"
        for e in entries:
            df_rec = e["data_file"]
            assert df_rec["file_format"] == "PARQUET"
            assert Path(df_rec["file_path"]).is_file()
            assert Path(df_rec["file_path"]).stat().st_size == \
                df_rec["file_size_in_bytes"]
            total_rows += df_rec["record_count"]
    assert total_rows == enc.count()


def test_fused_encode_reads_iceberg_input(spark, unit_df, tmp_path):
    """The north rule's input side end-to-end: an Iceberg table of
    pre-tokenized sequences is consumed DIRECTLY by the fused ingest —
    work units come from the snapshot's live data files (no export step),
    orphan data files from torn commits are invisible, and snapshot_id
    time-travels the encode input."""
    import shutil

    table = str(tmp_path / "tok_input")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    half1 = unit_df.where(F.crc32("doc_id") % 2 == 0).select(*cols)
    half2 = unit_df.where(F.crc32("doc_id") % 2 == 1).select(*cols)
    meta1 = iceberg.export_encoded(half1, table)
    snap1 = meta1["current-snapshot-id"]
    iceberg.append(half2, table)

    # torn-commit orphan: a data file that no snapshot references — a
    # plain directory walk would double-read it, metadata planning must not
    live = [d["file_path"] for d in iceberg.data_files(table)]
    orphan = str(Path(table) / "data" / "orphan-not-committed.parquet")
    shutil.copy(live[0], orphan)

    enc = engine.encode_files(spark, table, codec="auto")
    dec = engine.decode(enc, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0
    assert enc.agg(F.sum("n_tok")).first()[0] == \
        unit_df.agg(F.sum("n_tok")).first()[0]

    # time travel: encode the first commit only
    enc1 = engine.encode_files(spark, table, snapshot_id=snap1)
    assert enc1.agg(F.sum("n_tok")).first()[0] == \
        half1.agg(F.sum("n_tok")).first()[0]

    # snapshot_id against a plain parquet dir is a loud error
    plain = str(tmp_path / "plain")
    half1.write.parquet(plain)
    with pytest.raises(ValueError, match="not an Iceberg table"):
        engine.encode_files(spark, plain, snapshot_id=snap1).count()


def test_fused_decode_reads_encoded_iceberg_table(spark, unit_df, tmp_path):
    """read_table → decode over an exported ENCODED Iceberg table plans
    from metadata: appended snapshots are all read, orphans are not, and
    time travel decodes the historic snapshot."""
    import shutil

    table = str(tmp_path / "enc_table")
    enc1 = engine.encode(unit_df.where(F.col("n_tok") <= 1000),
                         codec="bitpack", split_threshold=None)
    enc2 = engine.encode(unit_df.where(F.col("n_tok") > 1000),
                         codec="d1", split_threshold=None)
    meta1 = iceberg.export_encoded(enc1, table)
    snap1 = meta1["current-snapshot-id"]
    iceberg.append(enc2, table)
    live = [d["file_path"] for d in iceberg.data_files(table)]
    shutil.copy(live[0], str(Path(table) / "data" / "orphan.parquet"))

    dec = engine.decode(iceberg.read_table(spark, table), reassemble=False)
    assert dec.count() == unit_df.count()
    a = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    b = {r["doc_id"]: r["tokens"] for r in unit_df.collect()}
    assert a == b
    dec1 = engine.decode(iceberg.read_table(spark, table, snapshot_id=snap1),
                         reassemble=False)
    assert dec1.count() == enc1.count()


def test_overwrite_replaces_live_set_with_time_travel(spark, unit_df,
                                                      tmp_path):
    """Overwrite commits: current snapshot sees ONLY the new data; the old
    snapshot stays readable (snapshot isolation); the fused paths plan
    from metadata so the now-dead files are not read."""
    table = str(tmp_path / "ow")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    full = unit_df.select(*cols)
    meta1 = iceberg.export_encoded(full, table)
    snap1 = meta1["current-snapshot-id"]
    kept = full.where(F.crc32("doc_id") % 3 != 0)
    meta2 = iceberg.overwrite(kept, table)
    assert meta2["snapshots"][-1]["summary"]["operation"] == "overwrite"

    assert iceberg.read_table(spark, table).count() == kept.count()
    assert iceberg.read_table(spark, table,
                              snapshot_id=snap1).count() == full.count()
    # dead files really exist on disk but the fused path never reads them
    n_disk = len(list((Path(table) / "data").rglob("*.parquet")))
    n_live = len(iceberg.data_files(table))
    assert n_disk > n_live
    enc = engine.encode_files(spark, table)
    assert enc.agg(F.sum("n_tok")).first()[0] == \
        kept.agg(F.sum("n_tok")).first()[0]
    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg.overwrite(unit_df, table)


def test_manifest_column_bounds_prune_files(spark, tmp_path):
    """Manifest lower/upper_bounds (spec field-ids 125/128, single-value
    binary) drive metadata-level file pruning: a range predicate on a
    sort-clustered column touches only the overlapping files, and the
    pruned read equals the exact filtered read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "bounded")
    # 8 files, disjoint n_tok ranges (written pre-clustered, one per file)
    rows = [(f"d{i:04d}", "s", i, [1, 2, 3]) for i in range(800)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, n_tok int, tokens array<int>")
    df = df.repartitionByRange(8, "n_tok").sortWithinPartitions("n_tok")
    iceberg.export_encoded(df, table)

    live = iceberg.data_files(table)
    assert all(d.get("lower_bounds") and d.get("upper_bounds")
               for d in live), "bounds missing from manifest entries"
    # range that lives in one or two files
    pruned = iceberg.prune_files(table, "n_tok", lo=250, hi=310)
    assert 0 < len(pruned) < len(live)
    got = iceberg.read_table(spark, table, between=("n_tok", 250, 310))
    exact = df.where((F.col("n_tok") >= 250) & (F.col("n_tok") <= 310))
    assert sorted(r["doc_id"] for r in got.collect()) == \
        sorted(r["doc_id"] for r in exact.collect())
    # string bounds work too
    p2 = iceberg.prune_files(table, "doc_id", lo="d0700")
    assert 0 < len(p2) < len(live)


def test_bounds_are_spec_shaped_and_old_tables_still_read(spark, unit_df,
                                                          tmp_path):
    """lower/upper_bounds round-trip through the Avro manifest as the
    spec's array-of-key_value-records form keyed by field-id; manifests
    written WITHOUT bounds (older layout) still load."""
    table = str(tmp_path / "spec")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    meta = iceberg._load_metadata(table)
    fid = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    d = iceberg.data_files(table)[0]
    lbs = {e["key"]: e["value"] for e in d["lower_bounds"]}
    assert fid["n_tok"] in lbs and isinstance(lbs[fid["n_tok"]], bytes)
    assert len(lbs[fid["n_tok"]]) == 4                      # int32 LE
    # a manifest entry with no bounds fields (pre-bounds writer) parses
    # and prunes conservatively (file kept)
    entries = [{"status": 1, "snapshot_id": 1, "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {"content": 0, "file_path": "x.parquet",
                              "file_format": "PARQUET", "partition": {},
                              "record_count": 1,
                              "file_size_in_bytes": 1}}]
    old_schema = json.loads(json.dumps(iceberg._MANIFEST_ENTRY_SCHEMA))
    df_fields = old_schema["fields"][-1]["type"]["fields"]
    old_schema["fields"][-1]["type"]["fields"] = [
        f for f in df_fields if f["name"] not in ("lower_bounds",
                                                  "upper_bounds")]
    p = str(tmp_path / "old_manifest.avro")
    iceberg._avro_write(p, old_schema, entries)
    _, got = iceberg._avro_read(p)
    assert got[0]["data_file"].get("lower_bounds") is None


def test_commit_conflict_fails_loudly(spark, unit_df, tmp_path):
    """Two writers based on the SAME loaded parent compute the same
    metadata version; the atomic no-overwrite publish lets exactly one
    win.  The winner's vN must survive byte-identical — the loser never
    clobbers it: an APPEND loser rebases onto it and lands as vN+1 with
    the winner's snapshot carried in its lineage
    (test_concurrent_append_rebases_and_retries covers the full retry
    contract); a non-append loser fails loudly."""
    table = str(tmp_path / "conflict")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    stale = iceberg._load_base(table)               # writer B loads v1
    iceberg.append(unit_df.select(*cols).limit(5), table)  # A commits v2
    v2 = Path(table) / "metadata" / "v2.metadata.json"
    winner = v2.read_text()
    meta = iceberg._write_snapshot(table, unit_df.select(*cols).limit(3),
                                   stale)
    assert v2.read_text() == winner                 # never clobbered
    assert iceberg._current_version(table) == 3
    # the rebased commit kept the winner's snapshot in the lineage
    assert {s["snapshot-id"] for s in stale[1]["snapshots"]} \
        < {s["snapshot-id"] for s in meta["snapshots"]}
    assert len(meta["snapshots"]) == 3
    # a non-append loser (overwrite) fails with the typed conflict and
    # leaves v3 as it was
    v3 = Path(table) / "metadata" / "v3.metadata.json"
    winner = v3.read_text()
    with pytest.raises(iceberg.CommitConflict, match="published v2"):
        iceberg._write_snapshot(table, unit_df.select(*cols).limit(3),
                                stale, operation="overwrite")
    assert v3.read_text() == winner


def test_append_type_mismatch_rejected(spark, unit_df, tmp_path):
    table = str(tmp_path / "typed")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    widened = unit_df.select(
        "doc_id", "source",
        F.col("n_tok").cast("long").alias("n_tok"), "tokens")
    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg.append(widened, table)


def test_last_column_id_covers_element_ids(spark, unit_df, tmp_path):
    """v2 spec: last-column-id is the highest ASSIGNED field id including
    list element-ids — otherwise a real engine evolving the schema
    allocates a colliding id."""
    table = str(tmp_path / "lastid")
    iceberg.export_encoded(
        unit_df.select("doc_id", "source", "n_tok", "tokens"), table)
    meta = iceberg._load_metadata(table)
    ids = []
    for f in meta["schemas"][0]["fields"]:
        ids.append(f["id"])
        if isinstance(f["type"], dict):
            ids.append(f["type"]["element-id"])
    assert meta["last-column-id"] == max(ids)


def test_avro_deflate_codec_reads(tmp_path):
    """Real Iceberg writers emit deflate-codec manifests by default; the
    reader must handle them.  Build a deflate object-container by hand
    (raw-deflate block, avro.codec=deflate) and read it back equal."""
    import zlib

    schema = {"type": "record", "name": "t", "fields": [
        {"name": "s", "type": "string"}, {"name": "n", "type": "long"}]}
    records = [{"s": "a", "n": 1}, {"s": "bb", "n": -7}]
    body = bytearray()
    for rec in records:
        iceberg._write_datum(body, schema, rec)
    comp = zlib.compress(bytes(body), 6)[2:-4]       # raw deflate (-15)
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": b"deflate"}
    out = bytearray(iceberg._MAGIC)
    iceberg._write_datum(out, {"type": "map", "values": "bytes"}, meta)
    sync = bytes(16)
    out += sync
    out += iceberg._zigzag_encode(len(records))
    out += iceberg._zigzag_encode(len(comp))
    out += comp
    out += sync
    p = str(tmp_path / "deflate.avro")
    Path(p).write_bytes(bytes(out))
    got_schema, got = iceberg._avro_read(p)
    assert got_schema == schema and got == records


def test_partition_spec_identity_on_source(spark, tmp_path):
    """North-rule table partitioned by source: the identity partition spec
    is written to metadata, each manifest entry carries the file's exact
    partition value, and prune_files prunes from the SPEC alone — the
    manifests hold NO bounds for the partition column, so a bounds read
    cannot be what pruned.  Appends inherit the spec; the partition column
    stays in the data files (Iceberg semantics, unlike Hive)."""
    rows = [(f"d{i}", src, 4, [i, i + 1, i + 2, i + 3])
            for i, src in enumerate(["web", "books", "code"] * 20)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, n_tok int, tokens array<int>")
    table = str(tmp_path / "parted")
    meta = iceberg.export_encoded(df, table, partition_by="source")
    spec = meta["partition-specs"][0]
    assert spec["fields"] == [{"name": "source", "transform": "identity",
                               "source-id": 2, "field-id": 1000}]
    assert meta["last-partition-id"] == 1000

    src_fid = next(f["id"] for f in meta["schemas"][0]["fields"]
                   if f["name"] == "source")
    files = iceberg.data_files(table)
    assert files and all(d["partition"]["source"] in
                         ("web", "books", "code") for d in files)
    for d in files:  # no bounds for the partition column anywhere
        assert src_fid not in {e["key"] for e in (d["lower_bounds"] or [])}

    web_files = iceberg.prune_files(table, "source", "web", "web")
    assert web_files and all(d["partition"]["source"] == "web"
                             for d in web_files)
    assert len(web_files) < len(files)

    got = iceberg.read_table(spark, table, between=("source", "web", "web"))
    assert got.count() == 20
    assert set(got.select("source").distinct().toPandas()["source"]) == \
        {"web"}  # the column survives in the data files

    # append inherits the spec and stays prunable
    iceberg.append(df.where(F.col("source") == "web").limit(5), table)
    web2 = iceberg.prune_files(table, "source", "web", "web")
    assert len(web2) > len(web_files)
    assert iceberg.read_table(
        spark, table, between=("source", "books", "books")).count() == 20
    # a caller-supplied partition_by on append is a loud error
    with pytest.raises(ValueError, match="inherit"):
        iceberg._write_snapshot(table, df, iceberg._load_base(table),
                                partition_by="source")
    # unimplemented transforms are refused, not silently mis-partitioned
    # (bucket[N]/truncate[W] are implemented — see
    # test_partition_transforms_end_to_end)
    version, meta2 = iceberg._load_base(table)
    meta2["partition-specs"][0]["fields"][0]["transform"] = "year"
    with pytest.raises(NotImplementedError, match="transform"):
        iceberg._write_snapshot(table, df, (version, meta2))


def test_partition_values_round_trip_exactly(spark, tmp_path):
    """Identity partition values that a Hive-style path would have to
    escape — '/', '=', '%', non-ASCII, null — round-trip exactly: the
    manifest holds the input values, every data file sits under
    data/snap-<id>/, and pruning and range reads return exactly that
    value's rows."""
    import pyarrow.parquet as pq

    values = ["a/b", "k=v", "50%", "é", None]
    rows = [(f"d{i:02d}", values[i % 5], i) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, source string, n int")
    table = str(tmp_path / "esc")
    meta = iceberg.export_encoded(df, table, partition_by="source")
    snap_dir = f"{table}/data/snap-{meta['current-snapshot-id']}/"
    files = iceberg.data_files(table)
    assert {d["partition"]["source"] for d in files} == set(values)
    for d in files:
        assert d["file_path"].startswith(snap_dir)
        got = pq.read_table(d["file_path"]).column("source").to_pylist()
        assert set(got) == {d["partition"]["source"]}
        assert len(got) == d["record_count"]
    for v in values[:-1]:
        want = sorted(r[0] for r in rows if r[1] == v)
        pruned = iceberg.prune_files(table, "source", v, v)
        assert {d["partition"]["source"] for d in pruned} == {v}
        assert sum(d["record_count"] for d in pruned) == len(want)
        assert sorted(r["doc_id"] for r in iceberg.read_table(
            spark, table, between=("source", v, v)).collect()) == want


def test_failed_export_never_commits(spark, tmp_path):
    """A task that fails after the other tasks have written their files
    fails the export: no metadata is published, a second export to the
    same directory succeeds and reads back only its own rows, and
    remove_orphan_files sweeps exactly the failed export's files."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = str(tmp_path / "t")
    data_dir = f"{table}/data"

    def gen(it):
        from pathlib import Path

        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        for _ in it:
            pass
        if pid == 3:
            # wait until the other three tasks have CLOSED their files
            deadline = time.time() + 120
            while time.time() < deadline:
                done = 0
                for p in Path(data_dir).rglob("*.parquet"):
                    try:
                        pq.read_metadata(str(p))
                        done += 1
                    except (OSError, pa.ArrowException):
                        pass
                if done == 3:
                    break
                time.sleep(0.05)
            time.sleep(0.5)
            raise RuntimeError("injected task failure")
        yield pa.RecordBatch.from_pydict(
            {"doc_id": [f"p{pid}r{i}" for i in range(10)],
             "n": list(range(10))})

    bad = spark.range(4, numPartitions=4).mapInArrow(
        gen, "doc_id string, n long")
    with pytest.raises(Exception, match="injected task failure"):
        iceberg.export_encoded(bad, table)
    assert not iceberg.is_iceberg_table(table)
    assert not (Path(table) / "metadata" / "v1.metadata.json").exists()
    failed = sorted(str(p) for p in Path(data_dir).rglob("*.parquet"))
    assert len(failed) == 3

    good = spark.createDataFrame([("ok1", 1), ("ok2", 2)],
                                 "doc_id string, n long")
    iceberg.export_encoded(good, table)
    assert sorted(r["doc_id"] for r in
                  iceberg.read_table(spark, table).collect()) == \
        ["ok1", "ok2"]
    assert iceberg.remove_orphan_files(table, older_than_s=0) == failed
    assert iceberg.read_table(spark, table).count() == 2


def test_write_task_removes_its_files_on_failure(tmp_path, monkeypatch):
    """The task-side writer deletes every file it opened when its input
    raises mid-stream, so a failed task attempt leaves nothing behind."""
    import pyarrow as pa
    from pyspark import TaskContext

    class Ctx:
        def partitionId(self):
            return 0

        def attemptNumber(self):
            return 0

    monkeypatch.setattr(TaskContext, "get", classmethod(lambda c: Ctx()))
    batch = pa.RecordBatch.from_pydict({"k": ["x", "y"]})

    def batches():
        yield batch
        raise RuntimeError("input failed")

    with pytest.raises(RuntimeError, match="input failed"):
        list(iceberg._write_task(
            batches(), str(tmp_path),
            [("k", "k", "identity", None, "string")], {}))
    assert list(tmp_path.iterdir()) == []


def test_export_keeps_temporal_double_boolean_columns(spark, tmp_path):
    """timestamp, timestamp_ntz, date, double and boolean columns survive
    export_encoded → read_table with equal values and types, nulls and
    values before the Gregorian cutover included."""
    import datetime as dt
    ddl = ("k string, ts timestamp, tn timestamp_ntz, d date, x double, "
           "b boolean")
    df = spark.createDataFrame([
        ("a", dt.datetime(2024, 1, 2, 3, 4, 5, 678901),
         dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.date(2024, 2, 29), 1.5,
         True),
        ("b", None, None, None, None, None),
        ("c", dt.datetime(1969, 12, 31, 23, 59, 59),
         dt.datetime(1970, 1, 1), dt.date(1970, 1, 1), -2.25e-300,
         False),
        ("d", dt.datetime(1500, 1, 2, 3, 4, 5), dt.datetime(1500, 1, 2),
         dt.date(1000, 3, 1), float("inf"), True)], ddl)
    table = str(tmp_path / "types")
    iceberg.export_encoded(df, table)
    back = iceberg.read_table(spark, table)
    assert back.dtypes == df.dtypes
    assert sorted(back.collect()) == sorted(df.collect())


def test_schema_evolution_add_column(spark, unit_df, tmp_path):
    """add_column is a metadata-only commit: a new schema-id becomes
    current, old data files surface the column as NULL (field-id
    projection against the CURRENT schema), appends must carry the new
    schema, and the commit goes through the same atomic vN protocol."""
    table = str(tmp_path / "evo")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    n1 = iceberg.read_table(spark, table).count()
    v_before = iceberg._current_version(table)

    meta = iceberg.add_column(table, "lang", "string")
    assert meta["current-schema-id"] == 1
    assert iceberg._current_version(table) == v_before + 1
    df = iceberg.read_table(spark, table)
    assert "lang" in df.columns
    assert df.where(F.col("lang").isNull()).count() == n1   # old files

    wide = unit_df.select(*cols).limit(7).withColumn("lang", F.lit("en"))
    iceberg.append(wide, table)
    df2 = iceberg.read_table(spark, table)
    assert df2.where(F.col("lang") == "en").count() == 7
    assert df2.count() == n1 + 7
    # an old-schema append is refused (the table schema is the new one)
    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg.append(unit_df.select(*cols).limit(3), table)
    with pytest.raises(ValueError, match="already exists"):
        iceberg.add_column(table, "lang", "string")
    with pytest.raises(NotImplementedError, match="scalar"):
        iceberg.add_column(table, "emb", "list<float>")
    # pruning on the evolved column: new files have bounds, old files
    # lack them and are conservatively kept
    pruned = iceberg.prune_files(table, "lang", "en", "en")
    assert len(pruned) == len(iceberg.data_files(table))
    zz = iceberg.prune_files(table, "lang", "zz", "zz")
    assert len(zz) < len(iceberg.data_files(table))


def test_inconsistent_delete_manifest_rejected(spark, unit_df, tmp_path):
    """A manifest whose content flag disagrees with its entries (here: a
    'deletes' manifest holding DATA entries — the shape a hand-edited or
    corrupt tree produces) is refused loudly: guessing either way would
    silently duplicate or resurrect rows.  (Consistent position-delete
    manifests are APPLIED, not refused — tests/test_iceberg_deletes.py.)"""
    table = str(tmp_path / "withdel")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    meta = iceberg._load_metadata(table)
    snap = meta["snapshots"][-1]
    _, manifests = iceberg._avro_read(snap["manifest-list"])
    dm = dict(manifests[0])
    dm["content"] = 1                      # claims deletes, entries = data
    iceberg._avro_write(snap["manifest-list"],
                        iceberg._MANIFEST_FILE_SCHEMA, manifests + [dm])
    with pytest.raises(ValueError, match="DELETE manifest"):
        iceberg.data_files(table)
    with pytest.raises(ValueError, match="DELETE manifest"):
        iceberg.read_table(spark, table)


def test_delete_entry_in_data_manifest_rejected(spark, unit_df, tmp_path):
    """The mirror corruption — a delete-file ENTRY (position=1 or
    equality=2) inside a content=0 DATA manifest — is refused loudly;
    well-formed equality deletes live in DELETE manifests and are
    applied (tests/test_iceberg_deletes.py)."""
    table = str(tmp_path / "withdel2")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    meta = iceberg._load_metadata(table)
    snap = meta["snapshots"][-1]
    _, manifests = iceberg._avro_read(snap["manifest-list"])
    mpath = manifests[0]["manifest_path"]
    schema, entries = iceberg._avro_read(mpath)
    entries[0]["data_file"]["content"] = 1
    iceberg._avro_write(mpath, schema, entries)
    with pytest.raises(ValueError, match="DATA manifest"):
        iceberg.data_files(table)
    entries[0]["data_file"]["content"] = 2     # eq delete in DATA manifest
    iceberg._avro_write(mpath, schema, entries)
    with pytest.raises(ValueError, match="DATA manifest"):
        iceberg.data_files(table)


def test_avro_wire_format_matches_spec_examples():
    """Byte-for-byte conformance with the worked examples PUBLISHED in the
    Apache Avro 1.11 specification (the strongest interop evidence
    available without an external Avro library in this environment).

    - zigzag/varint long encoding table ('Primitive Types'):
        0→00, -1→01, 1→02, -2→03, 2→04, -64→7f, 64→80 01
    - string 'foo' → 06 66 6f 6f
    - record {'a': 27, 'b': 'foo'} of schema test(a: long, b: string)
      → 36 06 66 6f 6f  ('Complex Types / Records' example)
    - array [3, 27] of long → 04 06 36 00  ('Arrays' example)
    - union ['null','string']: null → 00; 'a' → 02 02 61
      ('Unions' example)"""
    zz = {0: "00", -1: "01", 1: "02", -2: "03", 2: "04",
          -64: "7f", 64: "8001"}
    for val, hexs in zz.items():
        buf = bytearray()
        iceberg._write_datum(buf, "long", val)
        assert buf.hex() == hexs, (val, buf.hex())
        assert iceberg._read_datum(iceberg._Reader(bytes(buf)),
                                   "long") == val

    buf = bytearray()
    iceberg._write_datum(buf, "string", "foo")
    assert buf.hex() == "06666f6f"

    rec_schema = {"type": "record", "name": "test", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    buf = bytearray()
    iceberg._write_datum(buf, rec_schema, {"a": 27, "b": "foo"})
    assert buf.hex() == "3606666f6f"
    assert iceberg._read_datum(iceberg._Reader(bytes(buf)), rec_schema) \
        == {"a": 27, "b": "foo"}

    arr_schema = {"type": "array", "items": "long"}
    buf = bytearray()
    iceberg._write_datum(buf, arr_schema, [3, 27])
    assert buf.hex() == "04063600"
    assert iceberg._read_datum(iceberg._Reader(bytes(buf)),
                               arr_schema) == [3, 27]

    union = ["null", "string"]
    buf = bytearray()
    iceberg._write_datum(buf, union, None)
    assert buf.hex() == "00"
    buf = bytearray()
    iceberg._write_datum(buf, union, "a")
    assert buf.hex() == "020261"
    assert iceberg._read_datum(iceberg._Reader(b"\x02\x02a"), union) == "a"


def test_avro_golden_container_bytes(tmp_path):
    """A golden object-container file assembled BY HAND from the spec's
    framing rules (magic 'Obj\\x01', metadata map, sync marker, block
    framing) with literal hex — independent of this repo's writer — must
    read back the expected records."""
    schema = {"type": "record", "name": "test", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    schema_json = json.dumps(schema).encode()
    golden = bytearray()
    golden += b"Obj\x01"                      # magic, version 1
    golden += bytes([0x02])                   # map: 1 block of 1 entry
    golden += iceberg._zigzag_encode(len(b"avro.schema")) + b"avro.schema"
    golden += iceberg._zigzag_encode(len(schema_json)) + schema_json
    golden += bytes([0x00])                   # end of map
    sync = bytes(range(16))                   # fixed 16-byte sync marker
    golden += sync
    body = bytes.fromhex("3606666f6f")        # the spec's record example
    body += bytes.fromhex("0000")             # {'a': 0, 'b': ''}
    golden += bytes([0x04])                   # block: 2 records
    golden += iceberg._zigzag_encode(len(body)) + body
    golden += sync
    p = tmp_path / "golden.avro"
    p.write_bytes(bytes(golden))
    got_schema, got = iceberg._avro_read(str(p))
    assert got_schema == schema
    assert got == [{"a": 27, "b": "foo"}, {"a": 0, "b": ""}]


def test_avro_unsupported_codec_rejected(tmp_path):
    """A codec this reader can't decode (snappy/zstd from a real writer)
    must be a loud error, not garbage records or a confusing EOF."""
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "n", "type": "long"}]}
    body = bytearray()
    iceberg._write_datum(body, schema, {"n": 1})
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": b"snappy"}
    out = bytearray(iceberg._MAGIC)
    iceberg._write_datum(out, {"type": "map", "values": "bytes"}, meta)
    sync = bytes(16)
    out += sync
    out += iceberg._zigzag_encode(1)
    out += iceberg._zigzag_encode(len(body))
    out += bytes(body) + sync
    p = str(tmp_path / "snappy.avro")
    Path(p).write_bytes(bytes(out))
    with pytest.raises(ValueError, match="unsupported avro codec"):
        iceberg._avro_read(p)


from hypothesis import given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(st.lists(st.fixed_dictionaries({
    "s": st.text(max_size=40),
    "n": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "b": st.binary(max_size=40),
    "f": st.booleans(),
    "arr": st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                    max_size=8),
    "opt": st.one_of(st.none(),
                     st.integers(min_value=-(2**63), max_value=2**63 - 1)),
}), max_size=12))
def test_avro_codec_property(records):
    """Property: any record list round-trips through the self-contained
    Avro codec — unicode strings, full-range zigzag longs, binary, arrays,
    null unions (the value domains Iceberg manifests actually use)."""
    import tempfile
    schema = {"type": "record", "name": "p", "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "b", "type": "bytes"},
        {"name": "f", "type": "boolean"},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "opt", "type": ["null", "long"], "default": None},
    ]}
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/t.avro"
        iceberg._avro_write(p, schema, records)
        got_schema, got = iceberg._avro_read(p)
    assert got_schema == schema and got == records


def test_concurrent_append_rebases_and_retries(spark, unit_df, tmp_path,
                                               monkeypatch):
    """Two appends racing from the same parent: the CAS loser REBASES —
    reloads the winner's metadata, rebuilds its manifest list + sequence
    number, re-attaches — instead of failing (appends invalidate
    nothing).  Both appends' rows land; sequence numbers are distinct
    and ordered; no data file is rewritten."""
    table = str(tmp_path / "t")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    enc = engine.encode(unit_df.select(*cols).limit(30), codec="bitpack",
                        split_threshold=None)
    a = enc.where("cast(doc_id as string) < '3'")
    b = enc.where("cast(doc_id as string) >= '3'")
    iceberg.export_encoded(a.limit(5), table)
    stale = iceberg._load_base(table)           # both racers' parent
    iceberg.append(a, table)                    # the winner
    # the loser commits from the STALE parent: its first CAS hits the
    # winner's vN and must rebase, not raise
    meta = iceberg._write_snapshot(table, b, stale)
    seqs = [s["sequence-number"] for s in meta["snapshots"]]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    assert len(meta["snapshots"]) == 3
    n = (a.limit(5).count() + a.count() + b.count())
    assert iceberg.read_table(spark, table).count() == n
    # with retries disabled the same race fails loudly
    stale2 = iceberg._load_base(table)
    iceberg.append(b.limit(3), table)
    monkeypatch.setattr(iceberg, "_COMMIT_RETRIES", 0)
    with pytest.raises(iceberg.CommitConflict, match="commit conflict"):
        iceberg._write_snapshot(table, b.limit(2), stale2)
    # non-append commits (overwrite) keep fail-loudly semantics
    stale3 = iceberg._load_base(table)
    iceberg.append(b.limit(2), table)
    with pytest.raises(iceberg.CommitConflict, match="commit conflict"):
        iceberg._write_snapshot(table, b.limit(2), stale3,
                                operation="overwrite")


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(f"d{i:03d}", "unit", 4, [i, i + 1, i + 2, i + 3])
         for i in range(lo, hi)],
        "doc_id string, source string, n_tok int, tokens array<int>")


def test_incremental_files_append_ranges(spark, tmp_path):
    """incremental_files returns exactly the files the in-range appends
    added (a metadata-only cursor walk), read_table(since_snapshot_id=)
    → decode decodes only those rows, and an at-cursor range is
    empty."""
    t = str(tmp_path / "t")
    enc = lambda df: engine.encode(df, codec="bitpack",  # noqa: E731
                                   split_threshold=None)
    iceberg.export_encoded(enc(_docs(spark, 0, 8)), t)
    s1 = iceberg.snapshots(t)[-1]["snapshot-id"]
    iceberg.append(enc(_docs(spark, 8, 14)), t)
    s2 = iceberg.snapshots(t)[-1]["snapshot-id"]
    iceberg.append(enc(_docs(spark, 14, 20)), t)

    inc = iceberg.incremental_files(t, s1)
    assert inc and len(inc) < len(iceberg.data_files(t))
    dec = engine.decode(iceberg.read_table(spark, t, since_snapshot_id=s1))
    assert engine.verify_roundtrip(_docs(spark, 8, 20), dec) == 0
    # bounded range [s1, s2]: only the middle batch
    dec_mid = engine.decode(iceberg.read_table(
        spark, t, snapshot_id=s2, since_snapshot_id=s1))
    assert engine.verify_roundtrip(_docs(spark, 8, 14), dec_mid) == 0
    # at-cursor: nothing landed
    assert iceberg.incremental_files(t, iceberg.snapshots(t)[-1]
                                     ["snapshot-id"]) == []
    assert engine.decode(iceberg.read_table(
        spark, t, since_snapshot_id=iceberg.snapshots(t)[-1]
        ["snapshot-id"])).count() == 0


def test_incremental_files_refuses_non_append_history(spark, tmp_path):
    """Overwrite or delete inside the range means added-files is not the
    logical diff — refuse; a delete BEFORE the cursor is fine (the v2
    sequence rule keeps in-range files untouched).  Unknown/expired
    cursors refuse too."""
    t = str(tmp_path / "t")
    enc = lambda df: engine.encode(df, codec="bitpack",  # noqa: E731
                                   split_threshold=None)
    iceberg.export_encoded(enc(_docs(spark, 0, 8)), t)
    s1 = iceberg.snapshots(t)[-1]["snapshot-id"]
    iceberg.delete_where(spark, t, "doc_id = 'd003'")
    with pytest.raises(ValueError, match="non-append"):
        iceberg.incremental_files(t, s1)
    with pytest.raises(ValueError, match="non-append"):
        iceberg.read_table(spark, t, since_snapshot_id=s1)
    # cursor AFTER the delete: appends since then are cleanly consumable
    s2 = iceberg.snapshots(t)[-1]["snapshot-id"]
    iceberg.append(enc(_docs(spark, 8, 12)), t)
    dec = engine.decode(iceberg.read_table(spark, t, since_snapshot_id=s2))
    assert engine.verify_roundtrip(_docs(spark, 8, 12), dec) == 0
    with pytest.raises(ValueError, match="not in the table history"):
        iceberg.incremental_files(t, 424242)
    with pytest.raises(ValueError, match="precedes"):
        iceberg.incremental_files(t, s2, to_snapshot_id=s1)


def test_rewrite_manifests_consolidates_append_history(spark, tmp_path):
    """One manifest per append (the streaming-sink shape) collapses to
    ceil(files/target) via a METADATA-ONLY replace commit: data files
    untouched, read identity holds, time travel still sees the
    pre-rewrite state, and an incremental cursor from before the rewrite
    keeps working (entries keep their original snapshot ids)."""
    t = str(tmp_path / "t")
    enc = lambda df: engine.encode(df, codec="bitpack",  # noqa: E731
                                   split_threshold=None)
    iceberg.export_encoded(enc(_docs(spark, 0, 4)), t)
    cursor = iceberg.snapshots(t)[-1]["snapshot-id"]
    for lo in (4, 8, 12, 16):
        iceberg.append(enc(_docs(spark, lo, lo + 4)), t)
    n_manifests = len([r for r in iceberg._prev_manifest_records(
        iceberg._load_metadata(t)) if r.get("content", 0) == 0])
    assert n_manifests == 5
    files_before = {d["file_path"] for d in iceberg.data_files(t)}
    pre_rewrite = iceberg.snapshots(t)[-1]["snapshot-id"]

    # chunked first: target sized for two manifests over the live set
    n_files = len(files_before)
    res = iceberg.rewrite_manifests(
        t, target_entries=-(-n_files // 2))
    assert res["manifests_before"] == 5 and res["manifests_after"] == 2
    res = iceberg.rewrite_manifests(t)
    assert res["manifests_before"] == 2 and res["manifests_after"] == 1
    assert {d["file_path"] for d in iceberg.data_files(t)} \
        == files_before                        # data files untouched
    dec = engine.decode(iceberg.read_table(spark, t))
    assert engine.verify_roundtrip(_docs(spark, 0, 20), dec) == 0
    # original snapshot/sequence numbers preserved on EXISTING entries
    assert {d["_snapshot_id"] for d in iceberg.data_files(t)} \
        == {s["snapshot-id"] for s in iceberg.snapshots(t)[:5]}
    # time travel predates the rewrite (same live set, old manifests)
    assert {d["file_path"]
            for d in iceberg.data_files(t, snapshot_id=pre_rewrite)} \
        == files_before
    # incremental cursor from BEFORE the rewrite: the replace commit is
    # benign, the appended files still come back
    dec_inc = engine.decode(
        iceberg.read_table(spark, t, since_snapshot_id=cursor))
    assert engine.verify_roundtrip(_docs(spark, 4, 20), dec_inc) == 0
    # a second rewrite is a no-op (already consolidated); splitting into
    # MORE manifests than needed is refused too; appends after work
    assert iceberg.rewrite_manifests(t)["meta"] is None
    assert iceberg.rewrite_manifests(t, target_entries=1)["meta"] is None
    with pytest.raises(ValueError, match="target_entries"):
        iceberg.rewrite_manifests(t, target_entries=0)
    iceberg.append(enc(_docs(spark, 20, 24)), t)
    assert engine.verify_roundtrip(
        _docs(spark, 0, 24), engine.decode(iceberg.read_table(spark, t))) == 0


def test_rewrite_manifests_carries_delete_manifests(spark, tmp_path):
    """A rewrite on a delete-bearing table keeps the delete manifests
    referenced: read_table still applies the deletes afterwards."""
    t = str(tmp_path / "t")
    enc = lambda df: engine.encode(df, codec="bitpack",  # noqa: E731
                                   split_threshold=None)
    iceberg.export_encoded(enc(_docs(spark, 0, 6)), t)
    iceberg.append(enc(_docs(spark, 6, 12)), t)
    iceberg.delete_where(spark, t, "doc_id = 'd004'")
    res = iceberg.rewrite_manifests(t)
    assert res["manifests_after"] == 1
    assert len(iceberg.delete_files(t)) >= 1
    back = iceberg.read_table(spark, t)
    keep = _docs(spark, 0, 12).where("doc_id <> 'd004'")
    assert engine.verify_roundtrip(
        keep, engine.decode(back, reassemble=True)) == 0


def test_maintenance_cycle_reclaims_rewritten_manifests(spark, tmp_path):
    """rewrite_manifests → expire_snapshots → remove_orphan_files: the
    replaced per-append manifests and expired manifest lists are swept
    from metadata/, every data file survives, and the table still reads
    bit-identically — the full maintenance loop a long-running
    micro-batch producer needs."""
    t = str(tmp_path / "t")
    enc = lambda df: engine.encode(df, codec="bitpack",  # noqa: E731
                                   split_threshold=None)
    iceberg.export_encoded(enc(_docs(spark, 0, 4)), t)
    for lo in (4, 8):
        iceberg.append(enc(_docs(spark, lo, lo + 4)), t)
    avros_before = set((Path(t) / "metadata").glob("*.avro"))
    assert iceberg.rewrite_manifests(t)["manifests_after"] == 1
    iceberg.expire_snapshots(t, keep_last=1)
    swept = iceberg.remove_orphan_files(t, older_than_s=0)
    assert any(s.endswith(".avro") for s in swept)
    left = set((Path(t) / "metadata").glob("*.avro"))
    assert left < avros_before | left        # old avros actually gone
    assert len(left) < len(avros_before) + 1
    # every retained reference still resolves; reads stay bit-identical
    dec = engine.decode(iceberg.read_table(spark, t))
    assert engine.verify_roundtrip(_docs(spark, 0, 12), dec) == 0
    assert iceberg.read_table(spark, t).count() == dec.count()


def test_tags_pin_snapshots_through_commits_and_expiry(spark, unit_df,
                                                       tmp_path):
    """Named tag refs (v2 refs map): a tag pins its snapshot across
    later appends, reads by ref forever, survives expire_snapshots
    (which drops untagged old snapshots), and blocks
    rollback_last_snapshot; removal re-enables expiry.  Tags are
    immutable; 'main' is reserved; unknown refs raise."""
    table = str(tmp_path / "tagged")
    enc1 = engine.encode(unit_df.where(F.col("n_tok") <= 1000),
                         codec="bitpack", split_threshold=None)
    enc2 = engine.encode(unit_df.where(F.col("n_tok") > 1000),
                         codec="d1", split_threshold=None)
    meta1 = iceberg.export_encoded(enc1, table)
    snap1 = meta1["current-snapshot-id"]
    n1 = iceberg.read_table(spark, table).count()
    iceberg.create_tag(table, "run-a")           # pins snap1 (current)
    meta2 = iceberg.append(enc2, table)          # tag must survive
    assert iceberg.resolve_ref(table, "run-a") == snap1
    assert iceberg.resolve_ref(table, "main") == \
        meta2["current-snapshot-id"]
    assert iceberg.read_table(spark, table, ref="run-a").count() == n1
    # expiry keeps the tagged snapshot, reports nothing expired
    assert iceberg.expire_snapshots(table, keep_last=1)["expired"] == 0
    assert iceberg.read_table(spark, table, ref="run-a").count() == n1
    # a tagged HEAD blocks rollback
    iceberg.append(enc1, table)
    iceberg.create_tag(table, "run-b")
    with pytest.raises(ValueError, match="run-b"):
        iceberg.rollback_last_snapshot(table)
    iceberg.remove_tag(table, "run-b")
    iceberg.rollback_last_snapshot(table)
    # guards
    with pytest.raises(ValueError, match="already exists"):
        iceberg.create_tag(table, "run-a")
    with pytest.raises(ValueError, match="reserved"):
        iceberg.create_tag(table, "main")
    with pytest.raises(ValueError, match="no ref"):
        iceberg.read_table(spark, table, ref="nope")
    with pytest.raises(ValueError, match="not in the log"):
        iceberg.create_tag(table, "ghost", snapshot_id=12345)
    # untag -> the old snapshot becomes expirable
    iceberg.remove_tag(table, "run-a")
    assert iceberg.expire_snapshots(table, keep_last=1)["expired"] >= 1
    with pytest.raises(ValueError, match="no ref"):
        iceberg.resolve_ref(table, "run-a")


def test_expire_folds_lineage_in_the_stored_format(tmp_path):
    """Resume lineage keeps its on-disk format across expiry, so tables
    written before stay resumable: expired ids fold into `<key>-expired`
    JSON lists (sorted, merged with the ids folded earlier), scalars into
    the property of the same key, and the resume readers union the folded
    ids with the live summaries."""
    from simdcomp_spark import streaming
    table = tmp_path / "t"
    (table / "metadata").mkdir(parents=True)

    def snap(sid, **summary):
        return {"snapshot-id": sid,
                "summary": {"operation": "append", **summary}}
    meta = {
        "format-version": 2, "current-snapshot-id": 4, "refs": {},
        "properties": {"simdcomp-input-files-expired": '["c.parquet"]'},
        "snapshots": [
            snap(1, **{"simdcomp-input-files":
                       json.dumps(["b.parquet", "a.parquet"])}),
            snap(2, **{"simdcomp-stream-batches": "[2]",
                       "simdcomp-stream-query": "q1"}),
            snap(3, **{"simdcomp-stream-batches": "[1]",
                       "simdcomp-stream-query": "q1"}),
            snap(4, **{"simdcomp-input-files": json.dumps(["d.parquet"]),
                       "simdcomp-stream-batches": "[0]",
                       "simdcomp-stream-query": "q1"})],
        "snapshot-log": []}
    (table / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    (table / "metadata" / "version-hint.text").write_text("1")

    assert iceberg.expire_snapshots(str(table), keep_last=1) == \
        {"expired": 3, "retained": 1}
    props = json.loads(
        (table / "metadata" / "v2.metadata.json").read_text())["properties"]
    assert props == {
        "simdcomp-input-files-expired":
            '["a.parquet", "b.parquet", "c.parquet"]',
        "simdcomp-stream-batches-expired": "[1, 2]",
        "simdcomp-stream-query": "q1"}
    assert iceberg._lineage(iceberg._metadata_or_none(str(table)))[
        "simdcomp-input-files"] == \
        {"a.parquet", "b.parquet", "c.parquet", "d.parquet"}
    assert streaming.committed_stream_batches(str(table)) == \
        ({0, 1, 2}, "q1")


def test_tag_gapped_history_guards(spark, unit_df, tmp_path):
    """Tag-pinned expiry leaves GAPS in the snapshot log; the consumers
    that assumed a contiguous suffix must refuse rather than silently
    skip the expired middle: incremental_files raises on a range
    crossing a gap, rollback refuses when the head's parent was
    expired, and ref names that can't ride in commit filenames raise
    up front."""
    table = str(tmp_path / "gapped")
    halves = [unit_df.where(F.col("n_tok") <= 1000),
              unit_df.where(F.col("n_tok") > 1000)]
    enc = [engine.encode(h, codec="bitpack", split_threshold=None)
           for h in halves]
    meta1 = iceberg.export_encoded(enc[0], table)   # s1
    s1 = meta1["current-snapshot-id"]
    iceberg.create_tag(table, "pin")                # pins s1
    iceberg.append(enc[1], table)                   # s2
    iceberg.append(enc[0], table)                   # s3 (head)
    # expire: s2 goes (untagged), s1 stays (pinned), s3 stays (current)
    assert iceberg.expire_snapshots(table, keep_last=1)["expired"] == 1
    ids = [s["snapshot-id"] for s in iceberg.snapshots(table)]
    assert ids[0] == s1 and len(ids) == 2
    # incremental read across the gap must refuse, not skip s2's files
    with pytest.raises(ValueError, match="expired"):
        iceberg.incremental_files(table, s1)
    # rolling back s3 would restore s1 as current, silently dropping
    # s2's rows — refused
    with pytest.raises(ValueError, match="parent was expired"):
        iceberg.rollback_last_snapshot(table)
    # ref-name hygiene: path separators / empty names raise up front
    for bad in ("run/2026", "", "a b"):
        with pytest.raises(ValueError, match="invalid ref name"):
            iceberg.create_tag(table, bad)


def test_write_audit_publish_branch(spark, unit_df, tmp_path):
    """WAP lifecycle: stage appends on a branch (main readers see
    nothing), audit by ref, fast_forward publishes atomically; main
    commits refuse while a branch is open; drop_branch discards the
    staged snapshots so later incremental ranges can't sweep them in;
    one staging branch at a time."""
    table = str(tmp_path / "wap")
    lo = engine.encode(unit_df.where(F.col("n_tok") <= 1000),
                       codec="bitpack", split_threshold=None)
    hi = engine.encode(unit_df.where(F.col("n_tok") > 1000),
                       codec="d1", split_threshold=None)
    meta1 = iceberg.export_encoded(lo, table)
    s1, n1 = meta1["current-snapshot-id"], lo.count()
    iceberg.create_branch(table, "audit")
    iceberg.append(hi, table, branch="audit")       # staged, not live
    assert iceberg.read_table(spark, table).count() == n1
    assert iceberg.read_table(spark, table, ref="audit").count() == \
        n1 + hi.count()
    # main is frozen while the branch is open
    with pytest.raises(ValueError, match="staging branch"):
        iceberg.append(lo, table)
    with pytest.raises(ValueError, match="one at a time"):
        iceberg.create_branch(table, "audit2")
    # publish: one metadata swap makes the staged state current
    iceberg.fast_forward(table, "audit")
    assert iceberg.read_table(spark, table).count() == n1 + hi.count()
    assert iceberg.resolve_ref(table, "main") != s1
    with pytest.raises(ValueError, match="no ref"):
        iceberg.resolve_ref(table, "audit")
    # staged history is parent-linked: incremental from s1 sees the
    # published batch (no false gap)
    assert len(iceberg.incremental_files(table, s1)) > 0
    # discard path: staged snapshots leave the log entirely
    iceberg.create_branch(table, "audit")
    iceberg.append(lo, table, branch="audit")
    staged_head = iceberg.resolve_ref(table, "audit")
    iceberg.drop_branch(table, "audit")
    assert staged_head not in {s["snapshot-id"]
                               for s in iceberg.snapshots(table)}
    # main commits work again, and the incremental chain stays sound
    cursor = iceberg.resolve_ref(table, "main")
    iceberg.append(lo, table)
    assert len(iceberg.incremental_files(table, cursor)) > 0
    # a tag on a staged snapshot blocks the drop
    iceberg.create_branch(table, "audit")
    iceberg.append(hi, table, branch="audit")
    iceberg.create_tag(table, "keepme",
                       snapshot_id=iceberg.resolve_ref(table, "audit"))
    with pytest.raises(ValueError, match="keepme"):
        iceberg.drop_branch(table, "audit")
    iceberg.remove_tag(table, "keepme")
    iceberg.drop_branch(table, "audit")


def test_wap_multi_append_staging(spark, unit_df, tmp_path):
    """Accumulating MULTIPLE audited batches on one branch: every staged
    batch survives to publish (reproduced data loss: carry-forward from
    main's head instead of the branch head dropped all but the last
    staged batch); expire during staging touches nothing of the staged
    chain; remove_tag refuses to delete a branch ref."""
    table = str(tmp_path / "wapmulti")
    lo = engine.encode(unit_df.where(F.col("n_tok") <= 1000),
                       codec="bitpack", split_threshold=None)
    hi = engine.encode(unit_df.where(F.col("n_tok") > 1000),
                       codec="d1", split_threshold=None)
    meta1 = iceberg.export_encoded(lo, table)
    s1 = meta1["current-snapshot-id"]
    n_lo, n_hi = lo.count(), hi.count()
    iceberg.create_branch(table, "audit")
    iceberg.append(hi, table, branch="audit")   # staged batch A
    iceberg.append(lo, table, branch="audit")   # staged batch B
    # expire mid-staging: main history is just s1 -> nothing to expire,
    # and the staged chain must be untouched
    assert iceberg.expire_snapshots(table, keep_last=1)["expired"] == 0
    with pytest.raises(ValueError, match="drop_branch"):
        iceberg.remove_tag(table, "audit")
    assert iceberg.read_table(spark, table, ref="audit").count() == \
        2 * n_lo + n_hi
    iceberg.fast_forward(table, "audit")
    # EVERY staged batch present after publish
    assert iceberg.read_table(spark, table).count() == 2 * n_lo + n_hi
    # the published chain is parent-linked from the pre-branch cursor
    assert len(iceberg.incremental_files(table, s1)) > 0


def test_wap_fused_audit_read(spark, unit_df, tmp_path):
    """The audit step decodes the staged snapshot (read_table by ref, or
    resolve_ref + snapshot_id=): it must see the staged batches while
    the decode of MAIN still serves only the published state."""
    table = str(tmp_path / "wapfused")
    lo = engine.encode(unit_df.where(F.col("n_tok") <= 1000),
                       codec="bitpack", split_threshold=None)
    hi = engine.encode(unit_df.where(F.col("n_tok") > 1000),
                       codec="d1", split_threshold=None)
    iceberg.export_encoded(lo, table)
    iceberg.create_branch(table, "audit")
    iceberg.append(hi, table, branch="audit")
    staged = iceberg.resolve_ref(table, "audit")
    dec = lambda **kw: engine.decode(  # noqa: E731
        iceberg.read_table(spark, table, **kw), reassemble=False)
    assert dec().count() == lo.count()
    assert dec(snapshot_id=staged).count() == lo.count() + hi.count()
    assert dec(ref="audit").count() == lo.count() + hi.count()
    iceberg.drop_branch(table, "audit")


# ---------------------------------------------------------------------------
# the one commit path (iceberg._commit): each commit kind's rebase rule, the
# invariants every commit keeps, and the publisher guard
# ---------------------------------------------------------------------------

def _race(monkeypatch, commit):
    """Land ``commit`` (another writer) just before the next metadata
    publish, so that publish loses the optimistic-concurrency race."""
    real = iceberg._publish_metadata
    armed = [True]

    def publish(mdir, meta, version):
        if armed[0]:
            armed[0] = False
            commit()
        real(mdir, meta, version)
    monkeypatch.setattr(iceberg, "_publish_metadata", publish)


def _count(spark, table):
    return iceberg.read_table(spark, table).count()


@pytest.fixture(scope="module")
def enc30(unit_df):
    return engine.encode(
        unit_df.select("doc_id", "source", "n_tok", "tokens").limit(30),
        codec="bitpack", split_threshold=None).cache()


def test_compaction_racing_an_append_conflicts(spark, enc30, tmp_path,
                                               monkeypatch):
    """A compaction that loses the race to an append raises CommitConflict
    naming a data file it rewrote; the append's rows are never lost and
    the delete files stay live."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    doc = enc30.select("doc_id").first()["doc_id"]
    iceberg.delete_where(spark, table, F.col("doc_id") == doc)
    n = _count(spark, table)
    live = [d["file_path"]
            for d in iceberg.data_files(table, ignore_deletes=True)]
    _race(monkeypatch, lambda: iceberg.append(enc30.limit(4), table))
    with pytest.raises(iceberg.CommitConflict) as err:
        iceberg.compact_files(spark, table)
    assert table in str(err.value)
    assert any(p in str(err.value) for p in live)
    assert _count(spark, table) == n + 4
    assert iceberg.snapshots(table)[-1]["operation"] == "append"
    assert iceberg.delete_files(table)


def test_schema_change_and_append_race_rules(spark, enc30, tmp_path,
                                             monkeypatch):
    """add_column racing an append re-runs on the new base and keeps both
    changes; an append or a schema change losing to a schema change
    raises CommitConflict (the schema it was planned against moved)."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    _race(monkeypatch, lambda: iceberg.append(enc30.limit(4), table))
    meta = iceberg.add_column(table, "lang", "string")
    assert iceberg._current_version(table) == 3
    assert "lang" in [f["name"] for f in
                      iceberg._current_schema(meta)["fields"]]
    assert len(meta["snapshots"]) == 2
    assert _count(spark, table) == 34

    other = str(tmp_path / "u")
    iceberg.export_encoded(enc30, other)
    _race(monkeypatch, lambda: iceberg.add_column(other, "x", "int"))
    with pytest.raises(iceberg.CommitConflict, match="schema"):
        iceberg.append(enc30.limit(2), other)
    assert _count(spark, other) == 30
    _race(monkeypatch, lambda: iceberg.add_column(other, "y", "int"))
    with pytest.raises(iceberg.CommitConflict, match="schema"):
        iceberg.add_column(other, "z", "int")
    assert [f["name"] for f in iceberg._current_schema(
        iceberg._load_metadata(other))["fields"]][-2:] == ["x", "y"]


def test_position_deletes_rebase_over_appends_only(spark, enc30, tmp_path,
                                                   monkeypatch):
    """Position deletes name their files by path: they rebase onto a
    concurrent append, and raise CommitConflict when an overwrite (which
    may rewrite the files they target) landed first."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    doc = enc30.select("doc_id").first()["doc_id"]
    _race(monkeypatch, lambda: iceberg.append(enc30.limit(4), table))
    iceberg.delete_where(spark, table, F.col("doc_id") == doc)
    assert _count(spark, table) == 33
    assert [s["operation"] for s in iceberg.snapshots(table)] == \
        ["append", "append", "delete"]
    _race(monkeypatch, lambda: iceberg.overwrite(enc30.limit(5), table))
    with pytest.raises(iceberg.CommitConflict, match="overwrite"):
        iceberg.delete_where(spark, table, F.col("doc_id") != doc)
    assert _count(spark, table) == 5


def _commit_after_read(monkeypatch, commit):
    """Land ``commit`` (another writer) right after the next
    ``read_table_with_pos``: between a delete writer's read of its target
    rows and its commit."""
    real = iceberg.read_table_with_pos

    def read(*a, **kw):
        df = real(*a, **kw)
        monkeypatch.setattr(iceberg, "read_table_with_pos", real)
        commit()
        return df
    monkeypatch.setattr(iceberg, "read_table_with_pos", read)


def _delete_first_doc(spark, table, doc):
    return iceberg.delete_where(spark, table, F.col("doc_id") == doc)


def _dedup(spark, table, doc):
    return engine.dedup_delete_iceberg(spark, table)


@pytest.mark.parametrize("delete", [_delete_first_doc, _dedup])
def test_overwrite_after_the_delete_read_conflicts(spark, enc30, tmp_path,
                                                   monkeypatch, delete):
    """An overwrite that lands between a position-delete writer's read and
    its commit may have rewritten the files the deletes name: the commit
    raises CommitConflict (its base is the snapshot it read), and the
    overwrite's rows stay."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    doc = enc30.select("doc_id").first()["doc_id"]
    # a renamed copy of one document: the duplicate dedup deletes
    iceberg.append(enc30.where(F.col("doc_id") == doc)
                   .withColumn("doc_id", F.concat(F.lit("~"), "doc_id")),
                   table)
    _commit_after_read(monkeypatch,
                       lambda: iceberg.overwrite(enc30, table))
    with pytest.raises(iceberg.CommitConflict, match="overwrite"):
        delete(spark, table, doc)
    assert [s["operation"] for s in iceberg.snapshots(table)] == \
        ["append", "append", "overwrite"]
    assert _count(spark, table) == 30


def test_append_after_the_delete_read_rebases(spark, enc30, tmp_path,
                                              monkeypatch):
    """An append that lands between delete_where's read and its commit
    cannot have rewritten a file: the deletes rebase onto it, and the
    appended rows stay."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    doc = enc30.select("doc_id").first()["doc_id"]
    _commit_after_read(monkeypatch,
                       lambda: iceberg.append(enc30.limit(4), table))
    iceberg.delete_where(spark, table, F.col("doc_id") == doc)
    assert [s["operation"] for s in iceberg.snapshots(table)] == \
        ["append", "append", "delete"]
    assert _count(spark, table) == 33
    left = iceberg.read_table(spark, table).where(F.col("doc_id") == doc)
    assert left.count() == (1 if doc in {
        r["doc_id"] for r in enc30.limit(4).collect()} else 0)


def test_never_rebasing_commits_conflict(spark, enc30, tmp_path,
                                         monkeypatch):
    """overwrite, rewrite_manifests, equality deletes and table creation
    raise CommitConflict on any lost race, naming the table, the version
    lost and the newest snapshot; the winner's rows stay."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    iceberg.append(enc30.limit(3), table)
    ops = [lambda: iceberg.overwrite(enc30.limit(5), table),
           lambda: iceberg.rewrite_manifests(table),
           lambda: iceberg.write_equality_deletes(
               spark, table, enc30.select("doc_id").limit(1))]
    n = 33
    for op in ops:
        v = iceberg._current_version(table)
        _race(monkeypatch, lambda: iceberg.append(enc30.limit(2), table))
        with pytest.raises(iceberg.CommitConflict) as err:
            op()
        n += 2
        tail = iceberg.snapshots(table)[-1]["snapshot-id"]
        assert f"{table}: commit conflict: another writer published " \
            f"v{v + 1} (newest snapshot {tail})" in str(err.value)
        assert _count(spark, table) == n
    fresh = str(tmp_path / "new")
    _race(monkeypatch, lambda: iceberg.export_encoded(enc30.limit(7), fresh))
    with pytest.raises(iceberg.CommitConflict, match="published v1"):
        iceberg.export_encoded(enc30, fresh)
    assert _count(spark, fresh) == 7


def test_rollback_racing_an_append_keeps_the_innocent(spark, enc30, tmp_path,
                                                      monkeypatch):
    """A rollback that loses the race to an append raises CommitConflict,
    with or without expected_id: the innocent snapshot is never
    dropped."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    bad = iceberg.append(enc30.limit(3), table)["current-snapshot-id"]
    for expected in (bad, None):
        _race(monkeypatch, lambda: iceberg.append(enc30.limit(2), table))
        with pytest.raises(iceberg.CommitConflict):
            iceberg.rollback_last_snapshot(table, expected_id=expected)
    snaps = iceberg.snapshots(table)
    assert len(snaps) == 4 and bad == snaps[1]["snapshot-id"]
    assert snaps[-1]["is-current"]
    assert _count(spark, table) == 37


def test_ref_and_expiry_changes_rerun_with_caller_values(spark, enc30,
                                                         tmp_path,
                                                         monkeypatch):
    """A tag that loses the race still pins the snapshot that was current
    when create_tag was called; expiry re-runs on the new base."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc30, table)
    iceberg.append(enc30.limit(3), table)
    cur0 = iceberg.snapshots(table)[-1]["snapshot-id"]
    _race(monkeypatch, lambda: iceberg.append(enc30.limit(2), table))
    iceberg.create_tag(table, "run-a")
    assert iceberg.resolve_ref(table, "run-a") == cur0
    assert iceberg.snapshots(table)[-1]["snapshot-id"] != cur0
    _race(monkeypatch, lambda: iceberg.append(enc30.limit(1), table))
    # planned on 3 snapshots, re-run on 4: the tag pins cur0
    assert iceberg.expire_snapshots(table, keep_last=1) == \
        {"expired": 2, "retained": 2}
    assert _count(spark, table) == 36


def test_interleaved_hint_writes_both_commit(tmp_path, monkeypatch):
    """Two commits whose version-hint writes interleave both return: each
    hint tmp file carries its own random token, so one writer's
    os.replace can never move the other's file away."""
    table = tmp_path / "t"
    (table / "metadata").mkdir(parents=True)
    meta = {"format-version": 2, "current-snapshot-id": 4, "refs": {},
            "properties": {}, "snapshot-log": [],
            "snapshots": [{"snapshot-id": i, "sequence-number": i,
                           "summary": {"operation": "append"}}
                          for i in range(1, 5)]}
    (table / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    (table / "metadata" / "version-hint.text").write_text("1")
    real = os.replace
    inner = []

    def replace(src, dst):
        if str(dst).endswith("version-hint.text") and not inner:
            inner.append(None)        # the second commit, mid-hint-write
            inner.append(iceberg.expire_snapshots(str(table), keep_last=2))
        real(src, dst)
    monkeypatch.setattr(os, "replace", replace)
    assert iceberg.expire_snapshots(str(table), keep_last=3) == \
        {"expired": 1, "retained": 3}
    assert inner[1] == {"expired": 1, "retained": 2}
    assert iceberg._current_version(str(table)) == 3
    assert len(iceberg._load_metadata(str(table))["snapshots"]) == 2


@pytest.fixture(scope="module")
def lineage_table(spark, enc30, tmp_path_factory):
    """A table with folded resume lineage in its properties (stream batch
    0's snapshot expired) and three data manifests in its current
    snapshot."""
    table = str(tmp_path_factory.mktemp("lineage") / "t")
    iceberg.export_encoded(enc30, table, extra_summary={
        "simdcomp-stream-batches": "[0]", "simdcomp-stream-query": "q"})
    iceberg.append(enc30.limit(3), table,
                   extra_summary={"simdcomp-stream-batches": "[1]"})
    iceberg.append(enc30.limit(2), table,
                   extra_summary={"simdcomp-stream-batches": "[2]"})
    iceberg.expire_snapshots(table, keep_last=2)
    return table


def _doc_is_first(enc):
    return F.col("doc_id") == enc.select("doc_id").first()["doc_id"]


_COMMIT_OPS = {
    # name: (prepare, commit), each called with (spark, table, enc)
    "export_encoded": (None, lambda s, t, e: iceberg.export_encoded(e, t)),
    "append": (None, lambda s, t, e: iceberg.append(e.limit(2), t)),
    "append_branch": (
        lambda s, t, e: iceberg.create_branch(t, "b"),
        lambda s, t, e: iceberg.append(e.limit(2), t, branch="b")),
    "overwrite": (None, lambda s, t, e: iceberg.overwrite(e.limit(5), t)),
    "delete_where": (None, lambda s, t, e: iceberg.delete_where(
        s, t, _doc_is_first(e))),
    "write_equality_deletes": (None, lambda s, t, e:
                               iceberg.write_equality_deletes(
                                   s, t, e.select("doc_id").limit(1))),
    "compact_files": (
        lambda s, t, e: iceberg.delete_where(s, t, _doc_is_first(e)),
        lambda s, t, e: iceberg.compact_files(s, t)),
    "rewrite_manifests": (None, lambda s, t, e:
                          iceberg.rewrite_manifests(t)),
    "add_column": (None, lambda s, t, e:
                   iceberg.add_column(t, "lang", "string")),
    "rename_column": (None, lambda s, t, e:
                      iceberg.rename_column(t, "source", "src")),
    "drop_column": (None, lambda s, t, e: iceberg.drop_column(t, "source")),
    "promote_column": (None, lambda s, t, e:
                       iceberg.promote_column(t, "n_tok", "long")),
    "create_tag": (None, lambda s, t, e: iceberg.create_tag(t, "x")),
    "remove_tag": (lambda s, t, e: iceberg.create_tag(t, "x"),
                   lambda s, t, e: iceberg.remove_tag(t, "x")),
    "create_branch": (None, lambda s, t, e: iceberg.create_branch(t, "b")),
    "fast_forward": (
        lambda s, t, e: (iceberg.create_branch(t, "b"),
                         iceberg.append(e.limit(2), t, branch="b")),
        lambda s, t, e: iceberg.fast_forward(t, "b")),
    "drop_branch": (
        lambda s, t, e: (iceberg.create_branch(t, "b"),
                         iceberg.append(e.limit(2), t, branch="b")),
        lambda s, t, e: iceberg.drop_branch(t, "b")),
    "expire_snapshots": (None, lambda s, t, e:
                         iceberg.expire_snapshots(t, keep_last=1)),
    "rollback_last_snapshot": (None, lambda s, t, e:
                               iceberg.rollback_last_snapshot(t)),
}


@pytest.mark.parametrize("op", sorted(_COMMIT_OPS))
def test_every_commit_keeps_the_table_invariants(spark, enc30, lineage_table,
                                                 tmp_path, op):
    """Every public commit op publishes exactly version + 1, leaves
    ``simdcomp.whole-segment-runs-through-seq`` where _with_whole_runs
    puts it (never above last-sequence-number), keeps the simdcomp-*
    lineage properties, and writes no in-memory key to disk."""
    import shutil
    prepare, commit = _COMMIT_OPS[op]
    table = str(tmp_path / "t")
    if op != "export_encoded":
        # a copy of the module's table: its metadata still names the
        # original's (unchanged) files, and every new file lands here
        shutil.copytree(lineage_table, table)
    if prepare is not None:
        prepare(spark, table, enc30)
    if op == "export_encoded":
        v0, before = 0, {"properties": {}, "last-sequence-number": 0}
    else:
        v0, before = iceberg._load_base(table)
    commit(spark, table, enc30)
    v1, after = iceberg._load_base(table)
    assert v1 == v0 + 1
    prop = iceberg._WHOLE_RUNS_PROP
    props0, props1 = before["properties"], after["properties"]
    seq = after["last-sequence-number"]
    if seq > before["last-sequence-number"]:
        want = iceberg._with_whole_runs(
            props0, before if v0 else None, seq, True).get(prop)
    else:
        want = props0.get(prop)
    assert props1.get(prop) == want
    assert int(props1.get(prop, 0)) <= seq
    for k, v in props0.items():
        if k.startswith("simdcomp-"):
            assert k in props1
            assert op == "expire_snapshots" or props1[k] == v
    for p in (Path(table) / "metadata").glob("v*.metadata.json"):
        assert "__loaded_version" not in json.loads(p.read_text())


def test_commit_is_the_only_publisher():
    """Only _commit publishes metadata and stamps last-updated-ms: a new
    commit op supplies a change and a validation, not its own version
    bump."""
    import ast
    pkg = Path(iceberg.__file__).parent
    offenders, calls = [], 0
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            owner = (path.name, getattr(top, "name", None))
            for node in ast.walk(top):
                name = getattr(node, "id", getattr(node, "attr", None))
                if name == "_publish_metadata" and \
                        isinstance(getattr(node, "ctx", None), ast.Load):
                    offenders.append((owner, node.lineno))
                keys = (node.keys if isinstance(node, ast.Dict) else
                        [node.slice] if isinstance(node, ast.Subscript)
                        and isinstance(node.ctx, ast.Store) else [])
                if any(isinstance(k, ast.Constant)
                       and k.value == "last-updated-ms" for k in keys):
                    offenders.append((owner, node.lineno))
    commit = [o for o in offenders if o[0] == ("iceberg.py", "_commit")]
    assert len(commit) == 2, commit   # one publish, one stamp
    assert [o for o in offenders if o not in commit] == []
