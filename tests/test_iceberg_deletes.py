"""Iceberg v2 position deletes: write (delete_where /
write_position_deletes), read-path application (read_table anti-join on
(file, row-ordinal)), compaction that rewrites ONLY dirtied files, and
the delete-driven document dedup (engine.dedup_delete_iceberg)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simdcomp_spark import engine, iceberg


def _tok_df(spark, n_docs=24, seg_len=50):
    rows = [(f"d{i:02d}", list(range(i, i + seg_len * (1 + i % 3))),
             seg_len * (1 + i % 3), "unit")
            for i in range(n_docs)]
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")


@pytest.fixture(scope="module")
def deltable(spark, tmp_path_factory):
    """An encoded Iceberg table (multi-file, multi-segment docs) with
    every doc_id ending in 3 deleted via delete_where."""
    table = str(tmp_path_factory.mktemp("icedel") / "table")
    tok = _tok_df(spark)
    enc = engine.encode(tok.repartition(4), codec="auto",
                        split_threshold=64)
    iceberg.export_encoded(enc, table)
    meta = iceberg.delete_where(
        spark, table, "doc_id like '%3'")
    assert meta is not None
    return table, tok


def test_delete_where_applies_on_read(spark, deltable):
    table, tok = deltable
    back = iceberg.read_table(spark, table)
    docs = {r["doc_id"] for r in back.select("doc_id").distinct().collect()}
    assert docs == {f"d{i:02d}" for i in range(24) if i % 10 != 3}
    # deleted docs decode away; survivors stay bit-identical
    dec = engine.decode(back, reassemble=True)
    keep = tok.where(~F.col("doc_id").like("%3"))
    assert engine.verify_roundtrip(keep, dec) == 0


def test_delete_is_metadata_only(spark, deltable):
    """No data file is rewritten: the delete commit adds coordinate files
    + a delete manifest and leaves every data file path in place."""
    table, _ = deltable
    meta = iceberg._load_metadata(table)
    pre_delete = meta["snapshots"][-2]["snapshot-id"]
    before = {d["file_path"]
              for d in iceberg.data_files(table, snapshot_id=pre_delete)}
    after = {d["file_path"]
             for d in iceberg.data_files(table, ignore_deletes=True)}
    assert before == after
    dels = iceberg.delete_files(table)
    assert dels and all(d["content"] == 1 for d in dels)
    s = iceberg.snapshots(table)[-1]
    assert s["operation"] == "delete"


def test_time_travel_predates_delete(spark, deltable):
    table, tok = deltable
    meta = iceberg._load_metadata(table)
    pre_delete = meta["snapshots"][-2]["snapshot-id"]
    full = iceberg.read_table(spark, table, snapshot_id=pre_delete)
    assert full.select("doc_id").distinct().count() == 24


def test_raw_file_consumers_refuse_deleted_table(spark, deltable):
    """data_files (and through it the fused ENCODE planner, whose input
    is a tokens table) refuses a delete-bearing snapshot instead of
    resurrecting deleted rows; read_table applies them instead
    (test_read_table_between_applies_deletes)."""
    table, _ = deltable
    with pytest.raises(NotImplementedError, match="position-delete"):
        iceberg.data_files(table)
    with pytest.raises(NotImplementedError, match="position-delete"):
        engine.encode_files(spark, table)


def test_read_table_between_applies_deletes(spark, deltable):
    """A pruned range read (read_table(between=)) of a delete-bearing
    snapshot applies the position deletes WITHOUT compaction: the
    multi-segment docs inside the range decode bit-identically, the
    deleted ones (d03, d13) are gone."""
    table, tok = deltable
    rng = ("doc_id", "d02", "d14")
    dec = engine.decode(iceberg.read_table(spark, table, between=rng))
    keep = tok.where(~F.col("doc_id").like("%3")
                     & F.col("doc_id").between("d02", "d14"))
    assert engine.verify_roundtrip(keep, dec) == 0
    assert dec.count() == keep.count() == 11


def test_cross_file_reassembly_with_deletes(spark, tmp_path):
    """Deletes compose with cross-file segment reassembly: salting the
    encoded segments scatters each length-split doc over several data
    files, one position delete and one equality delete each remove a
    doc, and read_table → decode(reassemble=True) stitches the
    survivors back bit-identically."""
    table = str(tmp_path / "t")
    tok = _tok_df(spark)
    enc = engine.salt_encoded(
        engine.encode(tok, codec="auto", split_threshold=16), shards=4)
    iceberg.export_encoded(enc, table)
    spans = (iceberg.read_table_with_pos(spark, table)
             .groupBy("doc_id").agg(F.countDistinct("_file").alias("n"))
             .agg(F.min("n")).first()[0])
    assert spans > 1                  # every doc spans several files
    assert iceberg.delete_where(spark, table, "doc_id = 'd05'") is not None
    keys = spark.createDataFrame([("d10",)], "doc_id string")
    assert iceberg.write_equality_deletes(spark, table, keys) is not None
    dec = engine.decode(iceberg.read_table(spark, table), reassemble=True)
    keep = tok.where("doc_id not in ('d05', 'd10')")
    assert engine.verify_roundtrip(keep, dec) == 0
    assert dec.count() == 22


def test_deletes_compose_and_never_rematch(spark, deltable):
    """A second delete_where commits only NEW coordinates (already-deleted
    rows are invisible to the matching scan) and both apply together."""
    table, _ = deltable
    n_before = sum(int(d["record_count"])
                   for d in iceberg.delete_files(table))
    meta = iceberg.delete_where(spark, table, "doc_id = 'd07'")
    assert meta is not None
    back = iceberg.read_table(spark, table)
    docs = {r["doc_id"] for r in back.select("doc_id").distinct().collect()}
    assert "d07" not in docs and "d13" not in docs
    # repeating the first predicate matches nothing → no commit
    assert iceberg.delete_where(spark, table, "doc_id like '%3'") is None
    n_after = sum(int(d["record_count"])
                  for d in iceberg.delete_files(table))
    assert n_after > n_before
    iceberg.rollback_last_snapshot(table)   # back out the d07 delete
    docs = {r["doc_id"] for r in
            iceberg.read_table(spark, table)
            .select("doc_id").distinct().collect()}
    assert "d07" in docs and "d13" not in docs


def test_append_after_delete(spark, tmp_path):
    table = str(tmp_path / "t")
    tok = _tok_df(spark, n_docs=8)
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    iceberg.delete_where(spark, table, "doc_id = 'd01'")
    more = engine.encode(
        _tok_df(spark, n_docs=12).where("doc_id >= 'd08'"),
        codec="bitpack", split_threshold=None)
    iceberg.append(more, table)
    docs = {r["doc_id"] for r in iceberg.read_table(spark, table)
            .select("doc_id").distinct().collect()}
    assert docs == {f"d{i:02d}" for i in range(12) if i != 1}


def test_compact_rewrites_only_dirty_files(spark, tmp_path):
    table = str(tmp_path / "t")
    tok = _tok_df(spark)
    # range-cluster so the delete dirties a strict subset of files
    enc = engine.encode(tok.repartitionByRange(6, "doc_id"),
                        codec="auto", split_threshold=64)
    iceberg.export_encoded(enc, table)
    before = {d["file_path"] for d in iceberg.data_files(table)}
    iceberg.delete_where(spark, table, "doc_id = 'd00'")
    res = iceberg.compact_files(spark, table)
    assert res["removed_delete_files"] >= 1
    assert 0 < res["rewritten_files"] < len(before)
    assert res["kept_files"] == len(before) - res["rewritten_files"]
    after = {d["file_path"] for d in iceberg.data_files(table)}
    # untouched files carried forward by identical path (metadata only)
    assert len(after & before) == res["kept_files"]
    assert iceberg.delete_files(table) == []
    # survivors still decode bit-identically
    dec = engine.decode(iceberg.read_table(spark, table))
    keep = tok.where("doc_id <> 'd00'")
    assert engine.verify_roundtrip(keep, dec) == 0
    # compacting a clean table is a no-op (no commit)
    v = iceberg._current_version(table)
    assert iceberg.compact_files(spark, table)["meta"] is None
    assert iceberg._current_version(table) == v


def test_compact_partitioned_keeps_spec_pruning(spark, tmp_path):
    table = str(tmp_path / "t")
    df = _tok_df(spark).withColumn(
        "source", F.when(F.col("doc_id") < "d12", "a").otherwise("b"))
    enc = engine.encode(df, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table, partition_by="source")
    iceberg.delete_where(spark, table, "doc_id = 'd02'")
    iceberg.compact_files(spark, table)
    live = iceberg.data_files(table)
    pruned = iceberg.prune_files(table, "source", "b", "b")
    assert 0 < len(pruned) < len(live)
    assert all((d.get("partition") or {}).get("source") == "b"
               for d in pruned)
    docs = {r["doc_id"] for r in iceberg.read_table(spark, table)
            .select("doc_id").distinct().collect()}
    assert "d02" not in docs and len(docs) == 23


def test_compact_after_expiry_reclaims_delete_files(spark, tmp_path):
    table = str(tmp_path / "t")
    enc = engine.encode(_tok_df(spark, n_docs=6), codec="bitpack",
                        split_threshold=None)
    iceberg.export_encoded(enc, table)
    iceberg.delete_where(spark, table, "doc_id = 'd05'")
    del_paths = [d["file_path"] for d in iceberg.delete_files(table)]
    iceberg.compact_files(spark, table)
    iceberg.expire_snapshots(table, keep_last=1)
    removed = iceberg.remove_orphan_files(table, older_than_s=0)
    assert set(del_paths) <= set(removed)
    assert iceberg.read_table(spark, table) \
        .select("doc_id").distinct().count() == 5


def test_dedup_delete_iceberg(spark, tmp_path):
    """Planted duplicate docs (incl. multi-segment) are deleted in place;
    the minimum doc_id of each group survives; no data-file rewrite."""
    table = str(tmp_path / "t")
    tok = _tok_df(spark, n_docs=10)
    dups = tok.where("doc_id in ('d02','d05')") \
        .withColumn("doc_id", F.concat(F.lit("z"), "doc_id"))
    enc = engine.encode(tok.unionByName(dups), codec="auto",
                        split_threshold=64)
    iceberg.export_encoded(enc, table)
    before = {d["file_path"] for d in iceberg.data_files(table)}
    meta = engine.dedup_delete_iceberg(spark, table)
    assert meta is not None
    s = meta["snapshots"][-1]["summary"]
    assert s["simdcomp-dedup-delete"] == "exact-doc-verified"
    assert {d["file_path"] for d in
            iceberg.data_files(table, ignore_deletes=True)} == before
    back = iceberg.read_table(spark, table)
    docs = {r["doc_id"] for r in back.select("doc_id").distinct().collect()}
    assert docs == {f"d{i:02d}" for i in range(10)}  # originals win (min)
    assert engine.verify_roundtrip(tok, engine.decode(
        back, reassemble=True)) == 0
    # idempotent: nothing left to delete
    assert engine.dedup_delete_iceberg(spark, table) is None


def test_dedup_delete_verify_defeats_forged_collision(spark, tmp_path):
    """Four DISTINCT docs forged to share a content_hash: the sha256
    confirmation separates them, so nothing is deleted — the advisory's
    attack, tested end-to-end.  encoded_dedup over the table shows the
    collision is real: all four docs share one fast signature, and each
    group carries the confirmation's ``:`` suffix."""
    table = str(tmp_path / "t")
    tok = _tok_df(spark, n_docs=4)
    enc = engine.encode(tok, codec="bitpack", split_threshold=None) \
        .withColumn("content_hash",
                    F.lit(bytearray(16)).cast("binary"))  # forged equal
    iceberg.export_encoded(enc, table)
    assert engine.dedup_delete_iceberg(spark, table) is None
    assert iceberg.read_table(spark, table) \
        .select("doc_id").distinct().count() == 4
    groups = engine.encoded_dedup(iceberg.read_table(spark, table)).collect()
    assert [g["n_docs"] for g in groups] == [1] * 4
    assert all(":" in g["seq_hash"] for g in groups)
    assert len({g["seq_hash"].split(":")[0] for g in groups}) == 1


# ---------------------------------------------------------------------------
# equality deletes (content=2)
# ---------------------------------------------------------------------------

@pytest.fixture()
def eqtable(spark, tmp_path):
    """Encoded Iceberg table of 12 docs; d03/d07/d09 deleted BY KEY via
    write_equality_deletes (no row coordinates, no table read)."""
    table = str(tmp_path / "t")
    tok = _tok_df(spark, n_docs=12)
    enc = engine.encode(tok.repartition(3), codec="auto",
                        split_threshold=64)
    iceberg.export_encoded(enc, table)
    keys = spark.createDataFrame(
        [("d03",), ("d07",), ("d09",)], "doc_id string")
    meta = iceberg.write_equality_deletes(spark, table, keys)
    assert meta is not None
    return table, tok


def test_equality_delete_read_path(spark, eqtable):
    table, tok = eqtable
    dels = iceberg.delete_files(table)
    assert dels and all(d["content"] == 2 for d in dels)
    meta = iceberg._load_metadata(table)
    fid = next(f["id"] for f in meta["schemas"][0]["fields"]
               if f["name"] == "doc_id")
    assert all(list(d["equality_ids"]) == [fid] for d in dels)
    back = iceberg.read_table(spark, table)
    docs = {r["doc_id"] for r in back.select("doc_id").distinct().collect()}
    assert docs == {f"d{i:02d}" for i in range(12) if i not in (3, 7, 9)}
    # survivors decode bit-identically
    dec = engine.decode(back, reassemble=True)
    keep = tok.where("doc_id not in ('d03','d07','d09')")
    assert engine.verify_roundtrip(keep, dec) == 0
    # no data file was touched, and raw file consumers refuse
    with pytest.raises(NotImplementedError, match="equality-delete"):
        iceberg.data_files(table)


def test_equality_delete_sequence_rule(spark, eqtable):
    """Rows RE-APPENDED after the delete survive: the delete applies only
    to data files with a strictly smaller sequence number."""
    table, tok = eqtable
    re_tok = tok.where("doc_id = 'd07'")
    iceberg.append(engine.encode(re_tok, codec="auto",
                                 split_threshold=64), table)
    back = iceberg.read_table(spark, table)
    docs = {r["doc_id"] for r in back.select("doc_id").distinct().collect()}
    assert "d07" in docs and "d03" not in docs and "d09" not in docs
    keep = tok.where("doc_id not in ('d03','d09')")
    assert engine.verify_roundtrip(
        keep, engine.decode(back, reassemble=True)) == 0


def test_equality_delete_fused_decode(spark, eqtable):
    """Per-segment decode (reassemble=False) of an equality-deleted
    table: every segment of a deleted doc is gone — the key matches all
    of a length-split doc's rows — and every surviving segment
    decodes."""
    table, tok = eqtable
    segs = engine.decode(iceberg.read_table(spark, table),
                         reassemble=False)
    keep = tok.where("doc_id not in ('d03','d07','d09')")
    got = {r["doc_id"]: r["n"] for r in segs.groupBy("doc_id").agg(
        F.sum("n_tok").alias("n")).collect()}
    assert got == {r["doc_id"]: r["n_tok"] for r in keep.collect()}
    assert segs.where("seg_id > 0").count() > 0


def test_equality_delete_multi_column_and_nulls(spark, tmp_path):
    """Multi-column keys with NULL-SAFE equality: a delete key with a
    null column matches rows whose column is null (spec semantics), and
    only the exact (doc_id, source) pair dies."""
    table = str(tmp_path / "t")
    rows = [("a", list(range(10)), 10, "s1"),
            ("a", list(range(20, 30)), 10, None),
            ("b", list(range(40, 50)), 10, "s1")]
    tok = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    keys = spark.createDataFrame([("a", None)],
                                 "doc_id string, source string")
    assert iceberg.write_equality_deletes(spark, table, keys) is not None
    back = iceberg.read_table(spark, table)
    left = {(r["doc_id"], r["source"])
            for r in back.select("doc_id", "source").collect()}
    assert left == {("a", "s1"), ("b", "s1")}
    dec = engine.decode(back, reassemble=False)
    assert {(r["doc_id"], r["source"], tuple(r["tokens"]))
            for r in dec.collect()} == {
        (d, s, tuple(t)) for d, t, _, s in rows if (d, s) in left}


def test_equality_delete_compaction(spark, eqtable):
    """compact_files folds equality deletes away; files appended AFTER
    the delete are clean by the sequence rule and carried forward."""
    table, tok = eqtable
    iceberg.append(engine.encode(tok.where("doc_id = 'd07'"),
                                 codec="auto", split_threshold=64), table)
    appended = {d["file_path"]
                for d in iceberg.data_files(table, ignore_deletes=True)
                } - {d["file_path"]
                     for d in iceberg.data_files(
                         table, ignore_deletes=True,
                         snapshot_id=iceberg._load_metadata(table)
                         ["snapshots"][0]["snapshot-id"])}
    res = iceberg.compact_files(spark, table)
    assert res["removed_delete_files"] == 1   # one eq-delete commit
    after = {d["file_path"] for d in iceberg.data_files(table)}
    assert appended <= after          # post-delete files never rewritten
    assert iceberg.delete_files(table) == []
    keep = tok.where("doc_id not in ('d03','d09')")
    dec = engine.decode(iceberg.read_table(spark, table))
    assert engine.verify_roundtrip(keep, dec) == 0


def test_equality_delete_validation(spark, eqtable):
    table, _ = eqtable
    bad = spark.createDataFrame([("x",)], "nope string")
    with pytest.raises(ValueError, match="not in the table schema"):
        iceberg.write_equality_deletes(spark, table, bad)
    empty = spark.createDataFrame([], "doc_id string")
    assert iceberg.write_equality_deletes(spark, table, empty) is None


def test_mixed_position_and_equality_deletes(spark, tmp_path):
    """Both delete kinds on one snapshot compose on the read path."""
    table = str(tmp_path / "t")
    tok = _tok_df(spark, n_docs=10)
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    iceberg.delete_where(spark, table, "doc_id = 'd02'")     # position
    keys = spark.createDataFrame([("d05",)], "doc_id string")
    iceberg.write_equality_deletes(spark, table, keys)       # equality
    keep = tok.where("doc_id not in ('d02','d05')")
    back = iceberg.read_table(spark, table)
    assert engine.verify_roundtrip(
        keep, engine.decode(back, reassemble=True)) == 0


def test_equality_delete_on_non_role_key_fused_decode(spark, tmp_path):
    """Equality deletes keyed on a column OUTSIDE the 8 decoded role
    columns (content_hash — the natural dedup/takedown key) are honored
    by read_table → decode."""
    table = str(tmp_path / "t")
    tok = _tok_df(spark, n_docs=8)
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    key = iceberg.read_table(spark, table) \
        .where("doc_id = 'd03'").select("content_hash").distinct()
    assert iceberg.write_equality_deletes(spark, table, key) is not None
    keep = tok.where("doc_id <> 'd03'")
    dec = engine.decode(iceberg.read_table(spark, table))
    assert engine.verify_roundtrip(keep, dec) == 0


def test_delete_files_sorted_and_id_stamped(spark, tmp_path, monkeypatch):
    """Position-delete files are sorted by (file_path, pos), as the spec
    requires, and on id-stamped tables carry the spec's reserved field
    ids; equality-delete files carry their key columns' table ids."""
    import pyarrow.parquet as pq

    table = str(tmp_path / "t")
    enc = engine.encode(_tok_df(spark).repartition(4), codec="auto",
                        split_threshold=64)
    iceberg.export_encoded(enc, table)
    monkeypatch.setattr(iceberg, "_DELETE_ROWS_PER_FILE", 7)
    assert iceberg.delete_where(spark, table, "seg_id % 2 = 0") is not None
    pos_files = iceberg.delete_files(table)
    assert len(pos_files) > 1
    n = 0
    for d in pos_files:
        pf = pq.ParquetFile(d["file_path"])
        assert {f.name: int(f.metadata[b"PARQUET:field_id"])
                for f in pf.schema_arrow} == {
            "file_path": iceberg._FP_FID, "pos": iceberg._POS_FID}
        t = pf.read()
        coords = list(zip(t["file_path"].to_pylist(),
                          t["pos"].to_pylist()))
        assert coords == sorted(coords)
        assert len(coords) == d["record_count"]
        n += len(coords)
    assert n == enc.where("seg_id % 2 = 0").count()

    ids = {f["name"]: f["id"] for f in iceberg._current_schema(
        iceberg._load_metadata(table))["fields"]}
    keys = spark.createDataFrame([("d05", "unit"), ("d11", "unit")],
                                 "doc_id string, source string")
    assert iceberg.write_equality_deletes(spark, table, keys) is not None
    eq_files = [d for d in iceberg.delete_files(table)
                if d["content"] == 2]
    assert eq_files
    for d in eq_files:
        assert d["equality_ids"] == [ids["doc_id"], ids["source"]]
        assert {f.name: int(f.metadata[b"PARQUET:field_id"])
                for f in pq.ParquetFile(d["file_path"]).schema_arrow} == \
            {"doc_id": ids["doc_id"], "source": ids["source"]}
