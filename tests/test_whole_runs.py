"""The whole-run certificate: the writer checks that every data file
stores each document's segments as whole runs (seg_id 0, 1, …, k−1 in one
row group), commits record it as the table property
``iceberg._WHOLE_RUNS_PROP``, and ``engine.decode`` stitches the frame
``iceberg.read_table`` returned for a certified table straight over the
scan, with no exchange.  Every other frame keeps the exchange, and a
wrong certificate fails the job naming a document."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from simdcomp_spark import engine, iceberg

PROP = iceberg._WHOLE_RUNS_PROP


def _rows(n: int, seed: int = 7) -> list[tuple]:
    """``n`` documents of 1-600 near-incompressible tokens."""
    rng = np.random.default_rng(seed)
    return [(f"d{i:04d}", "s",
             rng.integers(0, 1 << 20, int(rng.integers(1, 600))).tolist())
            for i in range(n)]


def _encoded(spark, rows, split_threshold=64):
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens"))
    return engine.encode(df, codec="bitpack", split_threshold=split_threshold)


def _want(rows) -> list[tuple]:
    return sorted((d, tuple(t)) for d, _, t in rows)


def _got(dec) -> list[tuple]:
    out = dec.collect()
    assert all(r["n_tok"] == len(r["tokens"]) for r in out)
    return sorted((r["doc_id"], tuple(r["tokens"])) for r in out)


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def _props(table: str) -> dict:
    return iceberg._load_metadata(table).get("properties", {})


@pytest.fixture(scope="module")
def rows():
    return _rows(1200)


@pytest.fixture(scope="module")
def certified(spark, rows, tmp_path_factory):
    """A split table written by export_encoded: certified at seq 1."""
    table = str(tmp_path_factory.mktemp("whole_runs") / "t")
    iceberg.export_encoded(_encoded(spark, rows), table)
    return table


def test_certified_split_table_decodes_in_one_job(spark, rows, certified):
    """decode(read_table(t)) over a writer-made split table has no
    Exchange in its executed plan, runs as exactly one Spark job and
    returns the input documents exactly."""
    assert _props(certified)[PROP] == "1"
    dec = engine.decode(iceberg.read_table(spark, certified))
    assert not _has_exchange(dec)
    sc = spark.sparkContext
    gid = "whole-runs-one-job"
    sc.setJobGroup(gid, "certified decode")
    try:
        got = _got(dec)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 1
    assert got == _want(rows)


def test_certified_read_survives_many_scan_splits(spark, rows, certified):
    """With 64 KiB scan splits and no open cost Spark cuts each data file
    into several splits; each row group still goes to exactly one of
    them, so the no-exchange stitch stays exact."""
    files = len(iceberg.data_files(certified))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        scan = iceberg.read_table(spark, certified)
        assert scan.rdd.getNumPartitions() > files
        dec = engine.decode(scan)
        assert not _has_exchange(dec)
        assert _got(dec) == _want(rows)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")


def _plain_pyarrow_writer(df, out_dir, schema, spec):
    """Stand-in for a writer without the run check: one parquet file
    written by plain pyarrow, rows reversed, reported unchecked."""
    ids = {f["name"]: (f["id"], f["type"].get("element-id")
                       if isinstance(f["type"], dict) else None)
           for f in schema["fields"]}
    tbl = df.toArrow()
    tbl = tbl.take(pa.array(np.arange(tbl.num_rows)[::-1]))
    Path(out_dir).mkdir(parents=True)
    path = str(Path(out_dir) / "plain.parquet")
    pq.write_table(tbl.cast(iceberg._with_field_ids(tbl.schema, ids)), path)
    md = pq.read_metadata(path)
    return [{"path": path, "rows": md.num_rows,
             "bytes": Path(path).stat().st_size,
             "bounds": iceberg._footer_stats(md), "partition": {},
             "whole_runs": False}]


@pytest.mark.parametrize("case", ["salted", "salted_append", "plain_file",
                                  "derived", "parquet"])
def test_uncertified_reads_keep_the_exchange(spark, tmp_path, monkeypatch,
                                             rows, certified, case):
    """Frames the certificate does not cover decode exactly through the
    exchange: a salted export, a certified table plus a salted append, a
    table with a data file no run check saw, a frame derived from
    read_table, and a plain parquet scan."""
    small = rows[:300]
    enc = _encoded(spark, small, split_threshold=32)
    table = str(tmp_path / "t")
    want = _want(small)
    if case == "salted":
        iceberg.export_encoded(engine.salt_encoded(enc, 4), table)
        assert PROP not in _props(table)
    elif case in ("salted_append", "plain_file"):
        iceberg.export_encoded(enc.where("doc_id < 'd0150'"), table)
        rest = enc.where("doc_id >= 'd0150'")
        if case == "plain_file":
            monkeypatch.setattr(iceberg, "_write_data_files",
                                _plain_pyarrow_writer)
        else:
            rest = engine.salt_encoded(rest, 4)
        iceberg.append(rest, table)
        assert _props(table)[PROP] == "1"     # the append is seq 2
    if case == "derived":
        src = iceberg.read_table(spark, certified).where("doc_id < 'd0300'")
    elif case == "parquet":
        src = spark.read.parquet(
            *[d["file_path"] for d in iceberg.data_files(certified)])
        want = _want(rows)
    else:
        src = iceberg.read_table(spark, table)
    dec = engine.decode(src)
    assert _has_exchange(dec)
    assert _got(dec) == want


def test_wrong_certificate_raises_naming_a_doc(spark, rows, tmp_path):
    """A salted table whose property is edited to claim certification
    takes the no-exchange plan, and the stitch's run check fails the job
    with a ValueError naming a doc_id instead of returning wrong
    tokens."""
    from pyspark.errors.exceptions.captured import PythonException
    table = str(tmp_path / "t")
    iceberg.export_encoded(
        engine.salt_encoded(_encoded(spark, rows[:300], 32), 4), table)
    mdir = Path(table) / "metadata"
    meta_path = mdir / f"v{iceberg._current_version(table)}.metadata.json"
    meta = json.loads(meta_path.read_text())
    meta["properties"][PROP] = str(meta["last-sequence-number"])
    meta_path.write_text(json.dumps(meta))
    dec = engine.decode(iceberg.read_table(spark, table))
    assert not _has_exchange(dec)
    with pytest.raises(PythonException,
                       match=r"ValueError: .*doc_id 'd\d{4}' has seg_id"):
        dec.collect()


def test_duplicated_document_decodes_as_two_rows(spark, tmp_path):
    """A doc_id stored twice as two whole runs (the input held it twice)
    decodes as two rows over a certified table: each run is stitched on
    its own."""
    dup = [("a", "s", list(range(10))), ("a", "s", list(range(100, 107))),
           ("b", "s", [1, 2, 3])]
    table = str(tmp_path / "t")
    iceberg.export_encoded(
        _encoded(spark, dup, split_threshold=4).coalesce(1), table)
    assert _props(table)[PROP] == "1"
    assert _got(engine.decode(iceberg.read_table(spark, table))) \
        == _want(dup)


def test_compaction_recertifies_after_deletes(spark, rows, tmp_path):
    """Deleting whole documents keeps the certificate in step (a delete
    commit adds no data file) but the snapshot's delete files keep the
    exchange; compact_files rewrites the dirtied files, its run check
    passes, and the table reads without an exchange again."""
    small = rows[:300]
    table = str(tmp_path / "t")
    iceberg.export_encoded(_encoded(spark, small, 32), table)
    iceberg.delete_where(spark, table, "doc_id < 'd0100'")
    assert _props(table)[PROP] == "2"
    want = _want([r for r in small if r[0] >= "d0100"])
    dec = engine.decode(iceberg.read_table(spark, table))
    assert _has_exchange(dec)
    assert _got(dec) == want
    assert iceberg.compact_files(spark, table)["rewritten_files"] > 0
    assert _props(table)[PROP] == "3"
    dec = engine.decode(iceberg.read_table(spark, table))
    assert not _has_exchange(dec)
    assert _got(dec) == want


def _batch(ids, segs) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {"doc_id": ids, "seg_id": pa.array(segs, pa.int32())})


@pytest.mark.parametrize("feeds, ok", [
    # whole runs, one continuing across an Arrow batch
    ([(["a", "a", "b"], [0, 1, 0]), (["b", "c"], [1, 0])], True),
    # a run starting at seg 1
    ([(["a", "b", "b"], [0, 1, 2])], False),
    # a non-consecutive seg
    ([(["a", "a", "a"], [0, 1, 3])], False),
    # a run straddling a row-group flush
    ([(["a", "a"], [0, 1]), "flush", (["a", "b"], [2, 0])], False),
    # the same document restarting after a flush: two whole runs
    ([(["a", "a"], [0, 1]), "flush", (["a"], [0])], True),
    # an adjacent duplicated run: two whole runs
    ([(["a", "a", "a", "a"], [0, 1, 0, 1])], True),
    # a null seg_id
    ([(["a", "a"], [0, None])], False),
])
def test_writer_run_check(feeds, ok):
    """The writer's run check, fed batch by batch with row-group flushes
    between them, as iceberg._write_task feeds it."""
    check = iceberg._RunCheck()
    for f in feeds:
        if f == "flush":
            check.flush()
        else:
            check.feed(_batch(*f))
    assert check.ok is ok


def test_writer_run_check_needs_the_role_columns():
    check = iceberg._RunCheck()
    check.feed(pa.RecordBatch.from_pydict({"k": ["x"]}))
    assert not check.ok


@pytest.mark.parametrize("prev, seq, whole_runs, want", [
    (None, 1, True, "1"),                       # new table, checked
    (None, 1, False, None),                     # new table, unchecked
    ({"p": "4", "last": 4}, 5, True, "5"),      # in sync: advances
    ({"p": "4", "last": 4}, 5, False, "4"),     # unchecked file: stays
    ({"p": "3", "last": 4}, 5, True, "3"),      # lagging: never catches up
    ({"p": None, "last": 4}, 5, True, None),    # table from another writer
])
def test_property_rule(prev, seq, whole_runs, want):
    """``_WHOLE_RUNS_PROP`` after a commit at ``seq``: raised to ``seq``
    only when the commit's files and every earlier file passed the
    check, otherwise at most ``seq - 1``."""
    meta = None
    if prev is not None:
        props = {} if prev["p"] is None else {PROP: prev["p"]}
        meta = {"properties": props, "last-sequence-number": prev["last"]}
    assert iceberg._with_whole_runs({}, meta, seq, whole_runs).get(PROP) \
        == want
