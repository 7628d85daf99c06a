"""Schema evolution on Iceberg tables: every data file carries parquet
field ids, and rename / drop / promote resolve physical columns by them
(the only safe way to execute them — reference analog: the reference has
no tables at all, reference/README.md:23-24; semantics follow the
Iceberg v2 spec).  Every reader resolves by id: read_table through
Spark's field-id projection, the fused file-level ingest
(engine.encode_files) through each file's footer metadata, so both read
a renamed table as is.  A data file without field ids, or one that
predates a drop + re-add of a role column, fails loudly."""

from __future__ import annotations

import glob
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from simdcomp_spark import engine, fixtures, iceberg, manifest


@pytest.fixture(scope="module")
def unit_df(spark):
    return fixtures.unit_table(spark).cache()


@pytest.fixture()
def table(spark, tmp_path):
    """A fresh 20-row tokens table (the BASELINE.json input shape):
    doc ``str(i)`` holds tokens ``[1, 2, i]``."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(str(i), "web" if i % 2 else "book", 3, [1, 2, i])
         for i in range(20)],
        "doc_id string, source string, n_tok int, tokens array<int>")
    iceberg.export_encoded(df, t)
    return t


def _truth(spark, extra=()):
    """(doc_id, tokens) of the ``table`` fixture plus ``extra`` rows."""
    return spark.createDataFrame(
        [(str(i), [1, 2, i]) for i in range(20)] + list(extra),
        "doc_id string, tokens array<int>")


def _field_ids(table):
    """{current column name: field id}."""
    return {f["name"]: f["id"] for f in iceberg._current_schema(
        iceberg._load_metadata(table))["fields"]}


def test_new_tables_stamp_field_ids(spark, table):
    """Every data file footer carries the Iceberg field id of each
    column (parquet's standard field_id slot), and a list column's
    element carries its element-id."""
    meta = iceberg._load_metadata(table)
    fields = iceberg._current_schema(meta)["fields"]
    want = {f["name"]: f["id"] for f in fields}
    elem = next(f["type"]["element-id"] for f in fields
                if f["name"] == "tokens")
    files = glob.glob(table + "/data/*/*.parquet")
    assert files
    for f in files:
        arrow = pq.ParquetFile(f).schema_arrow
        got = {fl.name: int(fl.metadata[b"PARQUET:field_id"])
               for fl in arrow}
        assert got == want
        vf = arrow.field("tokens").type.value_field
        assert int(vf.metadata[b"PARQUET:field_id"]) == elem


def test_rename_resolves_old_files_by_id(spark, table):
    """Rename is metadata-only: files written under the OLD name serve
    the renamed column's values; appends under the new name coexist."""
    before = iceberg.read_table(spark, table).agg(
        F.sum("n_tok")).collect()[0][0]
    iceberg.rename_column(table, "n_tok", "token_count")
    out = iceberg.read_table(spark, table)
    assert out.columns == ["doc_id", "source", "token_count", "tokens"]
    assert out.agg(F.sum("token_count")).collect()[0][0] == before
    extra = spark.createDataFrame(
        [("x", "web", 7, [9])],
        "doc_id string, source string, token_count int, "
        "tokens array<int>")
    iceberg.append(extra, table)
    assert iceberg.read_table(spark, table).agg(
        F.sum("token_count")).collect()[0][0] == before + 7
    # the old name is gone: appending under it refuses
    with pytest.raises(ValueError, match="schema mismatch"):
        iceberg.append(extra.withColumnRenamed("token_count", "n_tok"),
                       table)


def test_rename_checks(spark, tmp_path, table):
    with pytest.raises(ValueError, match="no column"):
        iceberg.rename_column(table, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        iceberg.rename_column(table, "n_tok", "source")
    # partition source columns refuse
    t2 = str(tmp_path / "part")
    df = spark.createDataFrame([("a", "web", [1])],
                               "doc_id string, source string, "
                               "tokens array<int>")
    iceberg.export_encoded(df, t2, partition_by="source")
    with pytest.raises(ValueError, match="partition source"):
        iceberg.rename_column(t2, "source", "origin")


def test_drop_then_readd_does_not_resurrect(spark, table):
    """Drop is metadata-only; re-adding the NAME allocates a fresh field
    id, so the old physical columns surface NULL — dead data cannot
    come back under a recycled name."""
    iceberg.drop_column(table, "source")
    assert iceberg.read_table(spark, table).columns == [
        "doc_id", "n_tok", "tokens"]
    iceberg.add_column(table, "source", "string")
    vals = (iceberg.read_table(spark, table)
            .select("source").distinct().collect())
    assert [v.source for v in vals] == [None]
    with pytest.raises(ValueError, match="last column"):
        for c in ("doc_id", "n_tok", "tokens", "source"):
            iceberg.drop_column(table, c)


def test_promote_int_to_long(spark, table):
    """int->long widening: old int32 files widen on read; appends write
    long; bounds written before the promotion (4 bytes) still prune."""
    before = iceberg.read_table(spark, table).agg(
        F.sum("n_tok")).collect()[0][0]
    with pytest.raises(ValueError, match="widening promotion"):
        iceberg.promote_column(table, "n_tok", "string")
    with pytest.raises(ValueError, match="widening promotion"):
        iceberg.promote_column(table, "doc_id", "long")
    iceberg.promote_column(table, "n_tok", "long")
    out = iceberg.read_table(spark, table)
    assert dict(out.dtypes)["n_tok"] == "bigint"
    assert out.agg(F.sum("n_tok")).collect()[0][0] == before
    big = spark.createDataFrame(
        [("y", "web", 2**40, [1])],
        "doc_id string, source string, n_tok bigint, tokens array<int>")
    iceberg.append(big, table)
    assert iceberg.read_table(spark, table).agg(
        F.sum("n_tok")).collect()[0][0] == before + 2**40
    # bounds pruning across mixed 4-byte (pre-promote) and 8-byte
    # (post-promote) manifest bounds
    hit = iceberg.prune_files(table, "n_tok", lo=2**39)
    assert len(hit) >= 1
    assert all(int(e["record_count"]) == 1 for e in hit)
    every = iceberg.prune_files(table, "n_tok", lo=0)
    assert len(every) > len(hit)


def test_equality_delete_applies_across_rename(spark, table):
    """An equality-delete file written BEFORE a rename still applies
    after it: its key columns are resolved by field id too."""
    iceberg.write_equality_deletes(
        spark, table,
        spark.createDataFrame([("3",), ("4",)], "doc_id string"))
    assert iceberg.read_table(spark, table).where(
        F.col("doc_id").isin("3", "4")).count() == 0
    iceberg.rename_column(table, "doc_id", "document_id")
    out = iceberg.read_table(spark, table)
    assert out.where(F.col("document_id").isin("3", "4")).count() == 0
    assert out.count() == 18
    # and compaction folds them away under the current schema
    iceberg.compact_files(spark, table)
    assert iceberg.read_table(spark, table).count() == 18
    assert not iceberg.delete_files(table)


def test_drop_refuses_live_equality_delete_key(spark, table):
    iceberg.write_equality_deletes(
        spark, table,
        spark.createDataFrame([("web",)], "source string"))
    with pytest.raises(ValueError, match="equality-delete key"):
        iceberg.drop_column(table, "source")
    iceberg.compact_files(spark, table)
    iceberg.drop_column(table, "source")         # folded away -> legal
    assert "source" not in iceberg.read_table(spark, table).columns


def test_encode_files_reads_renamed_roles_by_field_id(spark, unit_df,
                                                    tmp_path):
    """The fused ingest (encode_files over an Iceberg TOKENS table)
    resolves its role columns by field id: right after a rename of a
    role column — no rewrite in between — it reads the files written
    under the old name, and appends written under the new name, and the
    encoded rows carry the canonical role names."""
    t = str(tmp_path / "tok")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    tok = unit_df.select(*cols).orderBy("doc_id").limit(30)
    iceberg.export_encoded(tok, t)
    enc = lambda: engine.encode_files(  # noqa: E731
        spark, t, codec="bitpack", split_threshold=1 << 14)
    n0 = enc().count()
    iceberg.add_column(t, "note", "string")
    assert enc().count() == n0                 # adds are fine
    iceberg.rename_column(t, "note", "remark")
    assert enc().count() == n0
    iceberg.rename_column(t, "doc_id", "document_id")
    out = enc()
    assert out.count() == n0
    assert engine.verify_roundtrip(
        tok, engine.decode(out, reassemble=True)) == 0
    extra = spark.createDataFrame(
        [("new", "web", 2, [7, 8], None)],
        "document_id string, source string, n_tok int, "
        "tokens array<int>, remark string")
    iceberg.append(extra, t)
    assert engine.verify_roundtrip(
        tok.select("doc_id", "tokens").union(
            extra.select("document_id", "tokens")),
        engine.decode(enc(), reassemble=True)) == 0


def test_encode_files_after_rename_append_expire(spark, table):
    """rename → append → expire_snapshots: the original files outlive
    the snapshot that wrote them (EXISTING entries) and still carry the
    old name; encode_files reads them and the append by field id."""
    iceberg.rename_column(table, "doc_id", "did")
    extra = spark.createDataFrame(
        [("z", "web", 1, [5])],
        "did string, source string, n_tok int, tokens array<int>")
    iceberg.append(extra, table)          # lives under schema 1
    iceberg.expire_snapshots(table, keep_last=1)
    out = engine.encode_files(spark, table, codec="bitpack")
    assert engine.verify_roundtrip(
        _truth(spark, [("z", [5])]),
        engine.decode(out, reassemble=True)) == 0


def test_file_without_field_ids_fails_loudly(spark, table):
    """A data file written without field ids cannot be resolved by id:
    read_table's scan and encode_files both raise, encode_files naming
    the file, the role and the id."""
    victim = iceberg.data_files(table)[0]["file_path"]
    rows = pq.read_table(victim)
    bare = pa.schema([pa.field(f.name, pa.list_(f.type.value_type)
                               if pa.types.is_list(f.type) else f.type)
                      for f in rows.schema])
    pq.write_table(rows.cast(bare), victim)
    assert all(b"PARQUET:field_id" not in (f.metadata or {})
               for f in pq.ParquetFile(victim).schema_arrow)
    # a bare count() requests no column, so Spark checks no ids; any
    # scan that reads a column raises
    with pytest.raises(Exception, match="field Ids"):
        iceberg.read_table(spark, table).collect()
    doc_id = _field_ids(table)["doc_id"]
    with pytest.raises(Exception, match=(
            re.escape(victim) + f": no column with field id {doc_id} "
            "for role 'doc_id'")):
        engine.encode_files(spark, table, codec="bitpack").count()


def test_encode_files_refuses_readded_role(spark, table):
    """drop + re-add of doc_id gives the role a NEW field id that no
    existing file carries: encode_files raises naming the role and the
    id instead of reading the dead column under its recycled name."""
    old = _field_ids(table)["doc_id"]
    iceberg.drop_column(table, "doc_id")
    iceberg.add_column(table, "doc_id", "string")
    new = _field_ids(table)["doc_id"]
    assert new != old
    with pytest.raises(Exception, match=(
            f"no column with field id {new} for role 'doc_id'")):
        engine.encode_files(spark, table, codec="bitpack").count()


def test_resumable_verify_reads_renamed_input(spark, table, tmp_path):
    """encode_files_resumable_iceberg(verify=True) on an Iceberg input
    whose doc_id was renamed: the verify arm reads the batch by field id
    and renames the roles back, so the batch commits with no rollback."""
    iceberg.rename_column(table, "doc_id", "document_id")
    iceberg.append(spark.createDataFrame(
        [("z", "web", 1, [5])],
        "document_id string, source string, n_tok int, tokens array<int>"),
        table)
    out = str(tmp_path / "enc")
    s = manifest.encode_files_resumable_iceberg(
        spark, table, out, codec="bitpack", verify=True)
    assert s["encoded_files"] == s["input_files"] and s["rows"] == 21
    assert [x["snapshot-id"] for x in iceberg.snapshots(out)] \
        == s["snapshots"]
    assert engine.verify_roundtrip(
        _truth(spark, [("z", [5])]),
        engine.decode(iceberg.read_table(spark, out))) == 0


def test_fused_role_columns_resolution(spark, table):
    roles = ["doc_id", "source", "n_tok"]
    ids = _field_ids(table)
    assert iceberg.fused_role_columns(table, roles) == {
        r: ids[r] for r in roles}
    iceberg.rename_column(table, "n_tok", "tc")
    assert iceberg.fused_role_columns(table, roles)["n_tok"] == ids["n_tok"]
    iceberg.drop_column(table, "tc")
    with pytest.raises(ValueError, match="dropped"):
        iceberg.fused_role_columns(table, roles)
    # re-adding the original NAME resolves to the re-added column
    iceberg.add_column(table, "n_tok", "int")
    readded = _field_ids(table)["n_tok"]
    assert readded != ids["n_tok"]
    assert iceberg.fused_role_columns(table, roles)["n_tok"] == readded


def test_schema_id_recorded_on_snapshots(spark, table):
    """Snapshots record the schema they were written under."""
    iceberg.rename_column(table, "n_tok", "tc")
    extra = spark.createDataFrame(
        [("z", "web", 1, [5])],
        "doc_id string, source string, tc int, tokens array<int>")
    iceberg.append(extra, table)
    meta = iceberg._load_metadata(table)
    sids = [s.get("schema-id", 0) for s in meta["snapshots"]]
    assert sids[0] == 0 and sids[-1] == max(
        s.get("schema-id", 0) for s in meta["schemas"])


def test_decode_after_role_rename(spark, tmp_path):
    """read_table serves an encoded table under its CURRENT logical
    names; after a role column was renamed the caller renames it back
    (withColumnsRenamed) and decode round-trips."""
    t = str(tmp_path / "enc")
    tok = spark.createDataFrame(
        [(f"d{i}", "unit", 5, [i, i + 1, i + 2, i + 3, i + 4])
         for i in range(12)],
        "doc_id string, source string, n_tok int, tokens array<int>")
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, t)
    iceberg.rename_column(t, "doc_id", "document_id")
    iceberg.overwrite(iceberg.read_table(spark, t), t)
    back = iceberg.read_table(spark, t)
    assert "document_id" in back.columns and "doc_id" not in back.columns
    out = engine.decode(
        back.withColumnsRenamed({"document_id": "doc_id"}))
    assert engine.verify_roundtrip(tok, out) == 0


def test_fused_roles_resist_name_reuse_chain(spark, tmp_path):
    """A rename chain that RE-USES a role name for a different field
    (doc_id→did, then source→doc_id) must resolve by FIELD-ID lineage:
    role doc_id → the original doc_id field (now 'did'), role source →
    the original source field (now 'doc_id').  Name-first resolution
    silently read source values as doc ids."""
    t = str(tmp_path / "enc")
    tok = spark.createDataFrame(
        [(f"d{i}", f"src{i % 3}", 4, [i, 2 * i, 3 * i, 4 * i])
         for i in range(10)],
        "doc_id string, source string, n_tok int, tokens array<int>")
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, t)
    ids = _field_ids(t)
    iceberg.rename_column(t, "doc_id", "did")
    iceberg.rename_column(t, "source", "doc_id")
    iceberg.overwrite(iceberg.read_table(spark, t), t)
    cm = iceberg.fused_role_columns(t, ["doc_id", "source"])
    assert cm == {"doc_id": ids["doc_id"], "source": ids["source"]}
    name_of = {fid: name for name, fid in _field_ids(t).items()}
    assert {r: name_of[fid] for r, fid in cm.items()} == {
        "doc_id": "did", "source": "doc_id"}
    # the renames swap names, so map every column in one projection
    role_of = {name_of[fid]: role for role, fid in cm.items()}
    back = iceberg.read_table(spark, t)
    back = back.select(*[F.col(c).alias(role_of.get(c, c))
                         for c in back.columns])
    assert engine.verify_roundtrip(tok, engine.decode(back)) == 0
