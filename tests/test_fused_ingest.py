"""The fused ingest write: ``iceberg.export_encoded`` / ``append`` of the
exact frame ``engine.encode_files`` or ``engine.encode`` returned runs the
encoder inside the writer's own ``mapInArrow`` — one Python stage per
task, whatever the partition spec: the task computes each row's partition
values itself — and writes the same files the two-stage plan writes for
any frame derived from it.  Cached and derived frames keep the two-stage
plan."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from simdcomp_spark import engine, iceberg


@pytest.fixture(scope="module")
def tokens_dir(tmp_path_factory):
    """Three parquet files of 2600 documents each: 1-500 tokens, plus
    two documents per file long enough to split into several segments,
    so each task's encoder batches do not line up with Spark's."""
    d = tmp_path_factory.mktemp("fused_in")
    rng = np.random.default_rng(12)
    for f in range(3):
        lens = rng.integers(1, 500, 2600)
        lens[[7, 1900]] = (150_000, 70_000)
        pq.write_table(pa.table({
            "doc_id": [f"f{f}-{i:04d}" for i in range(lens.size)],
            "source": ["web" if i % 3 else "book" for i in range(lens.size)],
            "tokens": pa.array(
                [rng.zipf(1.3, int(n)).clip(max=50_000).astype(np.int32)
                 for n in lens], pa.list_(pa.int32()))}),
            d / f"part-{f}.parquet")
    return str(d)


def _truth(spark, tokens_dir):
    return spark.read.parquet(tokens_dir).select("doc_id", "tokens")


def _roundtrips(spark, table, tokens_dir) -> bool:
    dec = engine.decode(iceberg.read_table(spark, table), reassemble=True)
    return engine.verify_roundtrip(_truth(spark, tokens_dir), dec) == 0


def _write_plans(monkeypatch) -> list[str]:
    """Record the executed plan of every write job iceberg runs."""
    plans = []
    real = DataFrame.collect

    def collect(self):
        if "whole_runs" in self.columns:
            plans.append(
                self._jdf.queryExecution().executedPlan().toString())
        return real(self)
    monkeypatch.setattr(DataFrame, "collect", collect)
    return plans


def _file_layout(path: str) -> tuple:
    """Everything of a data file that does not depend on timing: the
    footer's key-value and Arrow schema metadata (field ids included),
    row groups and each column chunk's encodings and sizes — so two
    files cut into different pages differ here — and the rows.  The
    ``enc_ns`` column holds measured encode time and is left out."""
    md = pq.read_metadata(path)
    chunks = [(c.path_in_schema, c.num_values, c.encodings,
               c.total_compressed_size, c.total_uncompressed_size)
              for g in (md.row_group(i) for i in range(md.num_row_groups))
              for c in (g.column(j) for j in range(g.num_columns))
              if c.path_in_schema != "enc_ns"]
    rows = pq.read_table(path).drop_columns(["enc_ns"])
    return (md.metadata, md.schema.to_arrow_schema().to_string(
        show_field_metadata=True, show_schema_metadata=True), chunks), rows


def _file_key(d: dict) -> tuple:
    """(Spark partition id, Iceberg partition values) of a manifest
    entry: what names one data file across two writes of the same rows."""
    return (os.path.basename(d["file_path"]).split("-")[1],
            tuple(sorted(d["partition"].items())))


def _table_files(table: str) -> dict:
    """{(Spark partition id, partition values): data file path}."""
    _, data, _ = iceberg._snapshot_entries(table)
    return {_file_key(d): d["file_path"] for d in data}


def _entries(table: str) -> dict:
    """Manifest entries by (Spark partition id, partition values): path,
    size and the ``enc_ns`` bounds (field 10) aside."""
    _, data, _ = iceberg._snapshot_entries(table)
    out = {}
    for d in data:
        e = {k: v for k, v in d.items()
             if k not in ("file_path", "file_size_in_bytes",
                          "_snapshot_id")}
        for k in ("lower_bounds", "upper_bounds"):
            e[k] = sorted((b["key"], b["value"]) for b in e[k]
                          if b["key"] != 10)
        out[_file_key(d)] = e
    return out


@pytest.mark.parametrize("conf, partition_by, nfiles", [
    pytest.param({}, None, 3, id="conf0"),
    pytest.param({"maxBytesPerBatch": "100k"}, None, 3, id="conf1"),
    pytest.param({"maxRecordsPerBatch": "700"}, None, 3, id="conf2"),
    pytest.param({}, "source", 6, id="source"),
    pytest.param({}, "bucket(4, doc_id)", 12, id="bucket")])
def test_fused_and_two_stage_writes_are_identical(spark, tokens_dir,
                                                  tmp_path, conf,
                                                  partition_by, nfiles):
    """export_encoded(encode_files(...)) and export_encoded of the same
    frame with a select("*") on top write the same files: equal footers
    and field ids, the same row groups, column chunks of equal sizes
    (the same pages), equal rows and bounds, the same whole-runs
    certificate and equal manifest entries — paths, file sizes and the
    timing column ``enc_ns`` aside.  Smaller Arrow batch limits make
    Spark cut its batches by size or by a row count the encoder's
    batches do not share; a partitioned spec splits each task's rows
    into one file per partition value on both plans."""
    keys = {f"spark.sql.execution.arrow.{k}": v for k, v in conf.items()}
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        fused, derived = str(tmp_path / "fused"), str(tmp_path / "derived")
        iceberg.export_encoded(
            engine.encode_files(spark, tokens_dir), fused,
            partition_by=partition_by)
        iceberg.export_encoded(
            engine.encode_files(spark, tokens_dir).select("*"), derived,
            partition_by=partition_by)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    a, b = _table_files(fused), _table_files(derived)
    assert len(a) == nfiles and a.keys() == b.keys()
    for key in a:
        (meta_a, rows_a), (meta_b, rows_b) = (_file_layout(a[key]),
                                              _file_layout(b[key]))
        assert meta_a == meta_b
        assert rows_a.equals(rows_b)
    assert _entries(fused) == _entries(derived)
    prop = iceberg._WHOLE_RUNS_PROP
    assert iceberg._load_metadata(fused)["properties"][prop] == \
        iceberg._load_metadata(derived)["properties"][prop] == "1"
    assert _roundtrips(spark, fused, tokens_dir)


@pytest.mark.parametrize("producer", ["encode_files", "encode"])
def test_fused_write_is_one_python_stage(spark, tokens_dir, tmp_path,
                                         monkeypatch, producer):
    """The write of an exact encode frame has one MapInArrow node (the
    writer runs the encoder); a frame derived from it keeps two."""
    def enc():
        if producer == "encode_files":
            return engine.encode_files(spark, tokens_dir)
        return engine.encode(spark.read.parquet(tokens_dir)
                             .withColumn("n_tok", F.size("tokens")))

    plans = _write_plans(monkeypatch)
    iceberg.export_encoded(enc(), str(tmp_path / "fused"))
    iceberg.export_encoded(enc().withColumn("pid", F.lit(0)),
                           str(tmp_path / "derived"))
    assert [p.count("MapInArrow") for p in plans] == [1, 2]
    assert _roundtrips(spark, str(tmp_path / "fused"), tokens_dir)


def test_cached_encode_frame_is_written_from_its_cache(spark, tokens_dir,
                                                       tmp_path,
                                                       monkeypatch):
    """A cached encode frame is never re-encoded: with its input files
    gone, the export still writes it, from the cache."""
    src = str(tmp_path / "in")
    shutil.copytree(tokens_dir, src)
    enc = engine.encode_files(spark, src).cache()
    try:
        assert enc.count() > 7800
        shutil.rmtree(src)
        plans = _write_plans(monkeypatch)
        table = str(tmp_path / "t")
        iceberg.export_encoded(enc, table)
        [plan] = plans
        assert "InMemoryTableScan" in plan
        assert _roundtrips(spark, table, tokens_dir)
    finally:
        enc.unpersist()


@pytest.mark.parametrize("derived", [False, True])
def test_string_and_large_string_inputs_in_one_task(spark, tmp_path,
                                                    derived):
    """Input files whose id columns are string in some and large_string
    in others, read by one task: the encoder emits ENCODED_SCHEMA's
    string type for both, so the fused and the two-stage writes take
    them and the table round-trips."""
    par = spark.sparkContext.defaultParallelism
    src = tmp_path / "in"
    src.mkdir()
    truth = {}
    for f in range(2 * par):
        # the larger large_string files go to the tasks first, one each;
        # then one smaller string file joins each task
        large = f < par
        n = 60 if large else 30
        typ = pa.large_string() if large else pa.string()
        ids = [f"f{f}-{i}" for i in range(n)]
        toks = [list(range(i + 1)) for i in range(n)]
        truth.update(zip(ids, toks))
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, typ),
            "source": pa.array(["s"] * n, typ),
            "tokens": pa.array(toks, pa.list_(pa.int32()))}),
            src / f"part-{f}.parquet")
    enc = engine.encode_files(spark, str(src), codec="bitpack")
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc.select("*") if derived else enc, table)
    dec = engine.decode(iceberg.read_table(spark, table))
    assert {r["doc_id"]: r["tokens"] for r in dec.collect()} == truth


@pytest.fixture()
def idless_tokens(spark, tmp_path):
    """An Iceberg tokens table whose one data file lost its field ids."""
    table = str(tmp_path / "tokens")
    iceberg.export_encoded(spark.createDataFrame(
        [(str(i), "web", [1, 2, i]) for i in range(20)],
        "doc_id string, source string, tokens array<int>").coalesce(1),
        table)
    [victim] = [d["file_path"] for d in iceberg.data_files(table)]
    rows = pq.read_table(victim)
    pq.write_table(rows.cast(pa.schema(
        [pa.field(f.name, pa.list_(f.type.value_type)
                  if pa.types.is_list(f.type) else f.type)
         for f in rows.schema])), victim)
    return table


def test_fused_encoder_error_commits_nothing(spark, idless_tokens, tmp_path,
                                             tokens_dir, monkeypatch):
    """An encoder error inside the fused stage fails the write: no data
    file is left under the table's data/ and no metadata version is
    published — for a new table and for an append."""
    plans = _write_plans(monkeypatch)
    fresh = tmp_path / "fresh"
    with pytest.raises(Exception, match="no column with field id"):
        iceberg.export_encoded(
            engine.encode_files(spark, idless_tokens, codec="bitpack"),
            str(fresh))
    assert not glob.glob(f"{fresh}/data/**/*.parquet", recursive=True)
    assert not iceberg.is_iceberg_table(str(fresh))

    table = str(tmp_path / "t")
    iceberg.export_encoded(
        engine.encode_files(spark, tokens_dir, files=sorted(
            glob.glob(f"{tokens_dir}/*.parquet"))[:1]), table)
    version = iceberg._current_version(table)
    files = set(glob.glob(f"{table}/data/**/*.parquet", recursive=True))
    with pytest.raises(Exception, match="no column with field id"):
        iceberg.append(
            engine.encode_files(spark, idless_tokens, codec="bitpack"),
            table)
    assert set(glob.glob(f"{table}/data/**/*.parquet",
                         recursive=True)) == files
    assert iceberg._current_version(table) == version
    assert [p.count("MapInArrow") for p in plans] == [1, 1, 1]


def test_partitioned_export_writes_per_partition_files(spark, tokens_dir,
                                                       tmp_path,
                                                       monkeypatch):
    """partition_by keeps the one-stage plan: the write of an exact
    encode frame is one MapInArrow with no other Python node, for an
    identity, a bucket and a truncate spec, and a derived frame's is two
    MapInArrow and nothing else.  Each task splits its rows into one file
    per source, and the manifest records each file's value."""
    plans = _write_plans(monkeypatch)
    table = str(tmp_path / "t")
    iceberg.export_encoded(engine.encode_files(spark, tokens_dir), table,
                           partition_by="source")
    for i, spec in enumerate(("bucket(4, doc_id)", "truncate(1, doc_id)")):
        iceberg.export_encoded(engine.encode_files(spark, tokens_dir),
                               str(tmp_path / f"t{i}"), partition_by=spec)
    iceberg.export_encoded(engine.encode_files(spark, tokens_dir)
                           .select("*"), str(tmp_path / "derived"),
                           partition_by="source")
    assert [p.count("MapInArrow") for p in plans] == [1, 1, 1, 2]
    assert not any("EvalPython" in p for p in plans)
    _, data, _ = iceberg._snapshot_entries(table)
    assert len(data) == 6
    for d in data:
        [value] = d["partition"].values()
        assert set(pq.read_table(d["file_path"], columns=["source"])
                   .column(0).to_pylist()) == {value}
    assert {next(iter(d["partition"].values())) for d in data} == \
        {"web", "book"}
    assert _roundtrips(spark, table, tokens_dir)
