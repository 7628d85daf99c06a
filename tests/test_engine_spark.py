"""Spark pipeline tests: round-trip identity through the full DataFrame
path (split → encode UDF → parquet → decode UDF → reassembly), resumable
Iceberg ingest, metrics."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from simdcomp_spark import engine, fixtures, iceberg, manifest
from simdcomp_spark import kernels as K


def _ingested(table: str) -> set[str]:
    """The input files the table's resume lineage records as ingested."""
    return iceberg._lineage(
        iceberg._metadata_or_none(table))["simdcomp-input-files"]


@pytest.fixture(scope="module")
def unit_df(spark):
    return fixtures.unit_table(spark).cache()


@pytest.mark.parametrize("codec", ["bitpack", "for", "d1", "rle", "dict", "auto"])
def test_spark_roundtrip_all_codecs(spark, unit_df, codec):
    enc = engine.encode(unit_df, codec=codec, split_threshold=1 << 14)
    dec = engine.decode(enc, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0


def test_skew_split_segments(spark, unit_df):
    enc = engine.encode(unit_df, codec="bitpack", split_threshold=1 << 14)
    huge = enc.where(F.col("doc_id") == "doc_tokenish_huge_00000000")
    segs = huge.select("seg_id", "n_tok").orderBy("seg_id").collect()
    assert len(segs) == (70000 + (1 << 14) - 1) // (1 << 14)
    assert [r["seg_id"] for r in segs] == list(range(len(segs)))
    assert [r["n_tok"] for r in segs] == [1 << 14] * 4 + [70000 - (4 << 14)]
    assert sum(r["n_tok"] for r in segs) == 70000


@pytest.mark.parametrize("via", ["encode", "encode_files"])
def test_worker_split_edge_cases(spark, tmp_path, via):
    """The encoder's worker split (_split_flat), through both encoders:
    a document of 0 tokens, of exactly ``threshold`` and of
    ``threshold + 1`` is 1, 1 and 2 segments; ``split_threshold=None``
    keeps every document whole as seg_id 0.  A document of null tokens
    raises, naming it (an encoded row cannot tell null from [])."""
    from pyspark.errors.exceptions.captured import PythonException
    t = 256
    schema = "doc_id string, source string, tokens array<int>"
    rows = [("empty", "s", []), ("exact", "s", list(range(t))),
            ("over", "s", list(range(t + 1)))]

    def encode(rows, name, **kw):
        df = spark.createDataFrame(rows, schema)
        if via == "encode":
            return engine.encode(df, codec="bitpack", **kw)
        src = str(tmp_path / name)
        df.coalesce(1).write.parquet(src)
        return engine.encode_files(spark, src, codec="bitpack", **kw)

    enc = encode(rows, "toks", split_threshold=t)
    segs: dict = {}
    for r in enc.select("doc_id", "seg_id", "n_tok").collect():
        segs.setdefault(r["doc_id"], []).append((r["seg_id"], r["n_tok"]))
    assert {d: sorted(v) for d, v in segs.items()} == {
        "empty": [(0, 0)], "exact": [(0, t)], "over": [(0, t), (1, 1)]}
    dec = {r["doc_id"]: r["tokens"]
           for r in engine.decode(enc).collect()}
    assert dec["over"] == list(range(t + 1)) and dec["exact"] == \
        list(range(t))
    if via == "encode":
        whole = engine.encode(spark.createDataFrame(rows, schema),
                              codec="bitpack", split_threshold=None)
        assert sorted((r["doc_id"], r["seg_id"], r["n_tok"])
                      for r in whole.collect()) == [
            ("empty", 0, 0), ("exact", 0, t), ("over", 0, t + 1)]
    with pytest.raises(PythonException, match="'null' has null tokens"):
        encode(rows + [("null", "s", None)], "nulls",
               split_threshold=t).collect()


def test_compressed_size_bound_on_spark(spark, unit_df):
    """north rule: payload ≤ reference bits(max)-per-block packing, per row
    (equality for bitpack)."""
    enc = engine.encode(unit_df, codec="bitpack", split_threshold=None)
    rows = enc.select("doc_id", "n_tok", "widths", "payload").collect()
    assert rows
    for r in rows:
        wid = np.frombuffer(r["widths"], dtype=np.uint8)
        n = r["n_tok"]
        expect = sum(
            K.compressed_bytes(min(128, n - 128 * i), int(b))
            for i, b in enumerate(wid))
        assert len(r["payload"]) == expect


def test_parquet_write_read_roundtrip(spark, unit_df, tmp_path):
    out = str(tmp_path / "enc.parquet")
    engine.encode(unit_df, codec="auto").write.parquet(out)
    enc = spark.read.parquet(out)
    dec = engine.decode(enc, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0


def test_partition_metrics_shape(spark, unit_df):
    m = engine.partition_metrics(engine.encode(unit_df, codec="auto"))
    rows = m.collect()
    assert rows
    total_tokens = sum(r["tokens"] for r in rows)
    assert total_tokens == unit_df.agg(F.sum("n_tok")).first()[0]
    for r in rows:
        assert r["bits_per_token"] > 0 and r["tokens_per_sec"] > 0


def test_distributed_fixture_deterministic(spark):
    a = fixtures.tokenish_table(spark, 200, parts=4)
    b = fixtures.tokenish_table(spark, 200, parts=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 200
    # skew row present
    assert a.where(F.col("n_tok") == 80000).count() == 1


def test_encode_files_fused_path(spark, unit_df, tmp_path):
    src = str(tmp_path / "toks")
    unit_df.write.parquet(src)
    enc = engine.encode_files(spark, src, codec="auto",
                              split_threshold=1 << 14)
    dec = engine.decode(enc, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0
    # fused path must also byte-match the mapInArrow-over-scan path
    enc2 = engine.encode(unit_df, codec="bitpack", split_threshold=1 << 14)
    enc1 = engine.encode_files(spark, src, codec="bitpack",
                               split_threshold=1 << 14)
    a = {(r["doc_id"], r["seg_id"]): (bytes(r["widths"]), bytes(r["payload"]))
         for r in enc1.collect()}
    b = {(r["doc_id"], r["seg_id"]): (bytes(r["widths"]), bytes(r["payload"]))
         for r in enc2.collect()}
    assert a == b


def test_decode_plain_dirs(spark, unit_df, tmp_path):
    """Plain encoded directories decode through spark.read.parquet →
    decode: segments (reassemble=False) carry seg_id + n_tok, and a
    length-split table round-trips to the input rows."""
    enc_dir = str(tmp_path / "enc")
    enc = engine.encode(unit_df, codec="auto", split_threshold=1 << 14)
    enc.write.parquet(enc_dir)
    segs = engine.decode(spark.read.parquet(enc_dir), reassemble=False)
    assert {"seg_id", "n_tok"} <= set(segs.columns)
    truth = {r["doc_id"]: r["tokens"] for r in unit_df.collect()}
    parts: dict = {}
    for r in segs.collect():
        assert r["n_tok"] == len(r["tokens"]) <= 1 << 14
        parts.setdefault(r["doc_id"], []).append((r["seg_id"], r["tokens"]))
    assert {d: [t for _, s in sorted(v) for t in s]
            for d, v in parts.items()} == truth
    dec = engine.decode(spark.read.parquet(enc_dir), reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0


def test_encode_files_resumable_iceberg_crash_resume(spark, unit_df,
                                                     tmp_path, monkeypatch):
    """Fused resumable ingest: INPUT FILES are the resume unit.  First
    batch commits; the second dies mid-publish; the re-run ingests
    exactly the unrecorded files and the table round-trips clean."""
    from pathlib import Path

    from simdcomp_spark import iceberg
    src = str(tmp_path / "tok")
    unit_df.repartition(6).write.parquet(src)
    n_files = len(list(Path(src).glob("*.parquet")))
    assert n_files == 6
    table = str(tmp_path / "tbl")

    orig = iceberg._avro_write
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] >= 3:
            raise RuntimeError("simulated crash before commit")
        return orig(*a, **k)

    monkeypatch.setattr(iceberg, "_avro_write", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        manifest.encode_files_resumable_iceberg(
            spark, src, table, codec="bitpack", batch_files=3)
    monkeypatch.setattr(iceberg, "_avro_write", orig)

    assert len(_ingested(table)) == 3
    s2 = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack", batch_files=3)
    assert s2["skipped"] == 3 and s2["encoded_files"] == 3
    s3 = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack")
    assert s3["encoded_files"] == 0 and s3["skipped"] == 6

    enc = iceberg.read_table(spark, table)
    assert enc.groupBy("doc_id", "seg_id").count() \
        .where(F.col("count") > 1).count() == 0
    dec = engine.decode(enc, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0

    # pointing the table at a different input is a loud lineage error
    other = str(tmp_path / "tok2")
    unit_df.limit(5).repartition(1).write.parquet(other)
    with pytest.raises(ValueError, match="refusing to mix"):
        manifest.encode_files_resumable_iceberg(spark, other, table)


def test_read_table_between_decodes_pruned_subset(spark, unit_df,
                                                  tmp_path):
    """read_table(between=) → decode: a metadata-planned range decode
    scans ONLY the files whose doc_id bounds overlap the range and
    round-trips exactly the rows inside it."""
    from simdcomp_spark import iceberg
    table = str(tmp_path / "tbl")
    enc = engine.encode(unit_df.orderBy("doc_id").repartitionByRange(
        4, "doc_id"), codec="bitpack", split_threshold=None)
    iceberg.export_encoded(enc, table)
    import pyarrow.parquet as pq
    files = iceberg.data_files(table)
    lo, hi = min((min(ids), max(ids)) for ids in (
        pq.read_table(d["file_path"], columns=["doc_id"])
        .column(0).to_pylist() for d in files))
    pruned = iceberg.prune_files(table, "doc_id", lo, hi)
    assert len(pruned) < len(files)
    df = iceberg.read_table(spark, table, between=("doc_id", lo, hi))
    assert len(df.inputFiles()) == len(pruned)
    dec = engine.decode(df, reassemble=False)
    got = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    truth = {r["doc_id"]: r["tokens"] for r in unit_df.collect()}
    assert got == {k: v for k, v in truth.items() if lo <= k <= hi}


def test_expire_snapshots_and_orphan_cleanup_preserve_resume(
        spark, unit_df, tmp_path):
    """Maintenance must not corrupt either the data or the resume state:
    expiring snapshots keeps the current table intact (append manifest
    lists carry prior manifests forward), folds the expired snapshots'
    ingest lineage into table properties so a resume is STILL a no-op,
    and remove_orphan_files sweeps only unreferenced bytes."""
    import shutil
    from pathlib import Path

    from simdcomp_spark import iceberg
    src = str(tmp_path / "tok")
    unit_df.repartition(6).write.parquet(src)
    table = str(tmp_path / "tbl")
    s = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack", batch_files=2)
    assert len(s["snapshots"]) == 3
    n = iceberg.read_table(spark, table).count()
    old_snap = s["snapshots"][0]

    r = iceberg.expire_snapshots(table, keep_last=1)
    assert r == {"expired": 2, "retained": 1}
    assert iceberg.read_table(spark, table).count() == n      # data intact
    with pytest.raises(ValueError, match="not found"):        # travel ends
        iceberg.read_table(spark, table, snapshot_id=old_snap)
    # resume after expiry is still a no-op (lineage moved to properties)
    s2 = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack")
    assert s2["encoded_files"] == 0 and s2["skipped"] == 6

    # orphan sweep: plant a crashed-run leftover, keep live files
    live = [d["file_path"] for d in iceberg.data_files(table)]
    orphan_dir = Path(table) / "data" / "snap-9999"
    orphan_dir.mkdir()
    orphan = str(orphan_dir / "leftover.parquet")
    shutil.copy(live[0], orphan)
    got = iceberg.remove_orphan_files(table, older_than_s=0,
                                      dry_run=True)
    assert orphan in got
    # the expired snapshots' manifest-list/manifest avros are orphans
    # too now; nothing else may be swept
    assert all(g == orphan or g.endswith(".avro") for g in got)
    assert Path(orphan).exists()                               # dry run
    # age guard: fresh files survive the default threshold
    assert iceberg.remove_orphan_files(table) == []
    got = iceberg.remove_orphan_files(table, older_than_s=0)
    assert orphan in got
    assert not orphan_dir.exists()
    assert iceberg.read_table(spark, table).count() == n
    assert all(Path(f).exists() for f in live)
    with pytest.raises(ValueError, match="keep_last"):
        iceberg.expire_snapshots(table, keep_last=0)


def _read_units(plan) -> list[tuple[str, int]]:
    """Every (file, row group) the planned tasks read, in plan order."""
    import pyarrow.parquet as pq
    return [(f, g) for task in plan for f, j, m in task
            for g in range(j, pq.ParquetFile(f).num_row_groups, m)]


def test_rowgroup_units_many_small_files_no_driver_io(spark, unit_df,
                                                      tmp_path, monkeypatch):
    """At 100 TB the fused paths face 10^5-10^6 files; work-unit planning
    must not open parquet footers on the driver (the old sequential loop
    serialized all of them before any task ran).  The driver only LISTS
    the files and their sizes (_plan_units); the footers are read by the
    tasks.  Proven by poisoning pq.ParquetFile in the driver process
    (executors are separate processes, so the job itself is unaffected)
    over a many-small-files layout, planned as whole files and, with the
    sizes mocked at 1 GiB, as row-group slices."""
    import unittest.mock as mock

    import pyarrow.parquet as pq
    src = str(tmp_path / "many")
    # 40 single-row-group files
    unit_df.repartition(40).write.parquet(src)
    files = engine._input_files(src)
    assert len(files) >= 30
    par = spark.sparkContext.defaultParallelism
    plan = engine._plan_units(list(files), list(files.values()), par)
    assert sorted(_read_units(plan)) == sorted((f, 0) for f in files)

    def _boom(*a, **k):
        raise AssertionError("driver-side parquet footer read in fused path")
    monkeypatch.setattr(pq, "ParquetFile", _boom)

    enc = engine.encode_files(spark, src, codec="bitpack",
                              split_threshold=1 << 14)
    with mock.patch.object(engine.os.path, "getsize",
                           return_value=1 << 30):
        sliced = engine.encode_files(spark, src, codec="bitpack",
                                     split_threshold=1 << 14)
    assert sliced.rdd.getNumPartitions() == 4 * par
    for e in (enc, sliced):
        dec = engine.decode(e, reassemble=True)
        assert engine.verify_roundtrip(unit_df, dec) == 0


def test_rowgroup_units_exceed_partitions(spark, tmp_path):
    """A file past the whole-file size limit is read as strided row-group
    slices, m = ceil(size / 128 MiB) of them, in at most 4x default
    parallelism tasks: every row group is read exactly once, and the plan
    is one Python stage over a bare range, with no exchange."""
    import unittest.mock as mock

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "manyrg"
    src.mkdir()
    n_rows, rg_rows = 8000, 50          # 160 row groups
    tokens = [[(7 * i + j) % 1000 for j in range(8)] for i in range(n_rows)]
    tbl = pa.table({
        "doc_id": [f"d{i:05d}" for i in range(n_rows)],
        "source": ["t"] * n_rows,
        "n_tok": pa.array([8] * n_rows, pa.int32()),
        "tokens": pa.array(tokens, pa.list_(pa.int32()))})
    f = str(src / "part-0.parquet")
    pq.write_table(tbl, f, row_group_size=rg_rows)
    par = spark.sparkContext.defaultParallelism

    # small input: one whole-file unit; the task reads its row groups in
    # file order
    assert engine._plan_units([f], [os.path.getsize(f)], par) == \
        [[(f, 0, 1)]]
    # 40 GiB: 320 slices, more than the 4 * par task cap
    plan = engine._plan_units([f], [40 << 30], par)
    assert len(plan) == 4 * par
    assert {u for task in plan for u in task} == \
        {(f, j, 320) for j in range(320)}
    assert sorted(_read_units(plan)) == \
        [(f, g) for g in range(n_rows // rg_rows)]

    with mock.patch.object(engine.os.path, "getsize",
                           return_value=1 << 30):
        enc = engine.encode_files(spark, str(src), codec="bitpack")
    assert enc.rdd.getNumPartitions() == 8     # 1 GiB / 128 MiB slices
    physical = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in physical, physical
    assert physical.count("MapInArrow") == 1, physical
    assert enc.agg(F.sum("n_tok")).first()[0] == n_rows * 8
    dec = engine.decode(enc, reassemble=False)
    assert dec.where(F.col("doc_id") == "d00042").first()["tokens"] == \
        tokens[42]


def test_ingest_pass_is_one_job(spark, tmp_path):
    """encode_files over a few small files plus export_encoded is ONE
    Spark job of at most one task per core: whole-file units are planned
    in the driver over a bare range (no Exchange), and each task writes
    its own data files, so no second job re-reads footers.  Counted
    through a job group and statusTracker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simdcomp_spark import iceberg

    src = tmp_path / "in"
    src.mkdir()
    for i in range(4):
        n = 50 + 30 * i
        pq.write_table(pa.table({
            "doc_id": [f"f{i}d{j}" for j in range(n)],
            "source": ["t"] * n,
            "tokens": pa.array([[j, i, j * 7 % 500] for j in range(n)],
                               pa.list_(pa.int32()))}),
            src / f"part-{i}.parquet")
    enc = engine.encode_files(spark, str(src))
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    sc = spark.sparkContext
    gid = f"one-job-{tmp_path.name}"
    sc.setJobGroup(gid, "ingest pass")
    try:
        iceberg.export_encoded(enc, str(tmp_path / "t"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    assert len(jobs) == 1
    tasks = sum(st.getStageInfo(s).numCompletedTasks
                for s in st.getJobInfo(jobs[0]).stageIds)
    assert 0 < tasks <= sc.defaultParallelism
    assert iceberg.read_table(spark, str(tmp_path / "t")).count() == \
        50 + 80 + 110 + 140


def test_whole_file_units_balance_largest_first(spark, tmp_path):
    """Whole-file units: k = min(files, defaultParallelism) tasks, files
    assigned largest-first to the least-loaded task, every file once;
    encode_files runs one task per planned list."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    par = spark.sparkContext.defaultParallelism
    sizes = [5000, 4000, 3000, 1000] + [100] * (par + 2)
    files = [f"f{i:03d}.parquet" for i in range(len(sizes))]
    plan = engine._plan_units(files, sizes, par)
    assert len(plan) == par
    assert sorted(f for task in plan for f, _, _ in task) == files
    assert all((j, m) == (0, 1) for task in plan for _, j, m in task)
    size_of = dict(zip(files, sizes))
    loads = sorted(sum(size_of[f] for f, _, _ in task) for task in plan)
    # the four big files sit alone; the small ones spread evenly over
    # the other tasks
    assert loads[-4:] == [1000, 3000, 4000, 5000]
    assert sum(loads[:-4]) == 100 * (par + 2)
    assert loads[-5] - loads[0] <= 100 and loads[0] > 0

    src = tmp_path / "bal"
    src.mkdir()
    truth = {}
    for i, n in enumerate([400, 300, 200] + [20] * (par + 2)):
        ids = [f"f{i}-{j}" for j in range(n)]
        toks = [[j, i, j % 7] for j in range(n)]
        truth.update(zip(ids, toks))
        pq.write_table(pa.table({
            "doc_id": ids, "source": ["t"] * n,
            "tokens": pa.array(toks, pa.list_(pa.int32()))}),
            src / f"f{i:03d}.parquet")
    enc = engine.encode_files(spark, str(src), codec="bitpack")
    assert enc.rdd.getNumPartitions() == par
    assert {r["doc_id"]: r["tokens"]
            for r in engine.decode(enc).collect()} == truth


def test_input_files_skip_hidden_and_temporary(spark, tmp_path):
    """The input listing skips what spark.read.parquet skips: a path
    component starting with '.', or with '_' and holding no '=' (a failed
    job's _temporary attempt files, hidden files) — and keeps Hive-style
    key=value subdirectories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    live = ["part-0.parquet", "source=a/part-2.parquet",
            "_c=1/part-3.parquet"]
    dead = ["_temporary/0/task_1/part-0.parquet", ".hidden/x.parquet",
            ".part-1.parquet", "_SUCCESS.parquet"]
    truth = {}
    for i, rel in enumerate(live + dead):
        (src / rel).parent.mkdir(parents=True, exist_ok=True)
        ids = [f"{rel}-{j}" for j in range(3)]
        toks = [[i, j] for j in range(3)]
        if rel in live:
            truth.update(zip(ids, toks))
        pq.write_table(pa.table({
            "doc_id": ids, "source": ["s"] * 3,
            "tokens": pa.array(toks, pa.list_(pa.int32()))}), src / rel)
    (src / "_SUCCESS").write_bytes(b"")
    files = engine._input_files(str(src))
    assert list(files) == sorted(str(src / rel) for rel in live)
    assert files[str(src / "part-0.parquet")] == \
        os.path.getsize(src / "part-0.parquet")
    got = engine.decode(engine.encode_files(spark, str(src)))
    assert {r["doc_id"]: r["tokens"] for r in got.collect()} == truth


def test_encode_files_int64_tokens_roundtrip(spark, tmp_path):
    """pyarrow writes Python-int token lists as list<int64>; encode_files
    over such a file decodes to exactly the values written, not to their
    int32 halves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "in"
    src.mkdir()
    rng = np.random.default_rng(3)
    truth = {f"d{i}": [int(x) for x in rng.integers(
        -2**31, 2**31, int(rng.integers(0, 400)))] for i in range(40)}
    truth["big"] = list(range(70_000))
    pq.write_table(pa.table({"doc_id": list(truth), "source": ["s"] * 41,
                             "tokens": list(truth.values())}),
                   src / "part-0.parquet")
    assert pq.read_schema(src / "part-0.parquet").field("tokens").type == \
        pa.list_(pa.int64())
    dec = engine.decode(engine.encode_files(spark, str(src)))
    assert {r["doc_id"]: r["tokens"] for r in dec.collect()} == truth


def test_encode_files_refuses_missing_or_empty_input(spark, unit_df,
                                                     tmp_path):
    """A path that does not exist, or a directory with no data file,
    raises (as spark.read.parquet does) instead of encoding nothing; an
    Iceberg snapshot with no live file is a legal empty input."""
    missing = str(tmp_path / "no_such_dir")
    with pytest.raises(FileNotFoundError, match="no_such_dir"):
        engine.encode_files(spark, missing)
    empty = tmp_path / "empty"
    (empty / "_temporary").mkdir(parents=True)
    (empty / "_temporary" / "part-0.parquet").write_bytes(b"")
    (empty / "notes.txt").write_text("no data here")
    with pytest.raises(ValueError, match="directory holding parquet"):
        engine.encode_files(spark, str(empty))
    table = str(tmp_path / "tok_table")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols).limit(0), table)
    assert iceberg.data_files(table) == []
    assert engine.encode_files(spark, table).count() == 0


def test_point_lookup_all_codecs(spark, unit_df):
    """Compressed-domain point lookup agrees with the raw arrays for every
    codec, including multi-block rows and the 70k-token skew row."""
    truth = {r["doc_id"]: r["tokens"] for r in unit_df.collect()}
    for codec in ("bitpack", "for", "d1", "rle", "dict"):
        enc = engine.encode(unit_df.where(F.col("n_tok") > 0),
                            codec=codec, split_threshold=None)
        enc = enc.withColumn(
            "lookup_idx",
            F.pmod(F.xxhash64("doc_id"), F.col("n_tok")).cast("int"))
        rows = engine.point_lookup(enc).collect()
        assert rows
        for r in rows:
            assert r["val"] == truth[r["doc_id"]][r["idx"]], (codec, r)


def test_minmax_sorted_compressed_domain(spark, unit_df):
    """Zone-map min/max without decode matches array_min/array_max on the
    raw data, for both sorted-row families, incl. multi-block rows."""
    sdf = unit_df.where(F.col("n_tok") > 0) \
        .withColumn("tokens", F.array_sort("tokens"))
    truth = {r["doc_id"]: (min(r["tokens"]), max(r["tokens"]))
             for r in sdf.collect()}
    for codec in ("d1", "for"):
        enc = engine.encode(sdf, codec=codec, split_threshold=None)
        rows = engine.minmax_sorted(enc).collect()
        assert len(rows) == len(truth)
        for r in rows:
            assert (r["min_tok"], r["max_tok"]) == truth[r["doc_id"]], \
                (codec, r["doc_id"])


def test_submit_job_script(spark, unit_df, tmp_path):
    """The spark-submit entry point end-to-end into an Iceberg table with
    --verify, and resume through the CLI: a second submission finds every
    input file in the snapshot log and encodes none.  A remote path is
    refused before any work."""
    import subprocess, sys, json as _json
    from pathlib import Path
    src, table = str(tmp_path / "in"), str(tmp_path / "tbl")
    unit_df.repartition(3).write.parquet(src)
    n_files = len(list(Path(src).glob("*.parquet")))
    repo = str(Path(__file__).resolve().parent.parent)

    def submit(*args):
        return subprocess.run(
            [sys.executable, "scripts/submit_encode.py", *args],
            capture_output=True, text=True, cwd=repo)

    def summary(r):
        assert r.returncode == 0, r.stderr[-2000:]
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        return _json.loads(lines[0])

    args = ("--input", src, "--publish-iceberg", table,
            "--codec", "bitpack", "--batch-files", "2", "--verify")
    s1 = summary(submit(*args))
    assert s1["encoded_files"] == n_files and s1["skipped"] == 0
    s2 = summary(submit(*args))
    assert s2["encoded_files"] == 0 and s2["skipped"] == n_files
    assert s2["snapshots"] == []
    r = submit("--input", "s3://bucket/tokens", "--publish-iceberg", table)
    assert r.returncode != 0 and "local path" in r.stderr


def test_range_count_mixed_codec_batches(spark, unit_df):
    """range_count must route mixed d1/FOR batches per codec group (a
    post-shuffle encoded table can interleave both sorted-row families);
    so must every other compressed-domain operator, on the same frame."""
    sdf = unit_df.where(F.col("n_tok") > 0) \
        .withColumn("tokens", F.array_sort("tokens")) \
        .where(F.array_min("tokens") >= 0)  # signed sort == uint32 sort
    raw = {r["doc_id"]: r["tokens"] for r in sdf.collect()}
    truth = {d: sum(2000 <= t < 60000 for t in toks)
             for d, toks in raw.items()}
    even = F.xxhash64("doc_id") % 2 == 0
    enc = (engine.encode(sdf.where(even), codec="d1", split_threshold=None)
           .unionByName(engine.encode(sdf.where(~even), codec="for",
                                      split_threshold=None))
           .repartition(2))
    rows = engine.range_count(enc, 2000, 60000).collect()
    assert len(rows) == len(truth)
    for r in rows:
        assert r["n_in_range"] == truth[r["doc_id"]], r["doc_id"]
    rows = engine.search_sorted(enc, 2000).collect()
    assert len(rows) == len(raw)
    for r in rows:
        assert r["idx"] == sum(t < 2000 for t in raw[r["doc_id"]]), r
    rows = engine.minmax_sorted(enc).collect()
    assert len(rows) == len(raw)
    for r in rows:
        assert (r["min_tok"], r["max_tok"]) == \
            (raw[r["doc_id"]][0], raw[r["doc_id"]][-1]), r["doc_id"]
    # an index column name that is not an identifier: point_lookup quotes it
    look = enc.withColumn(
        "lookup idx", F.pmod(F.xxhash64("doc_id"), F.col("n_tok")).cast("int"))
    rows = engine.point_lookup(look, "lookup idx").collect()
    assert len(rows) == len(raw)
    for r in rows:
        assert r["val"] == raw[r["doc_id"]][r["idx"]], r
    probes = sorted({toks[len(toks) // 2] for toks in raw.values()})[:3]
    got = {r["doc_id"] for r in
           engine.contains_token(enc, probes, assume_sorted=True).collect()}
    assert got and got == {d for d, toks in raw.items()
                           if set(probes) & set(toks)}


def test_salt_encoded_mixed_codec_decode(spark, unit_df):
    """The bench/gate sentinel shape: salt the ENCODED table (compressed
    bytes shuffled, not raw tokens), then decode the shuffled, guaranteed
    mixed-codec batches.  Asserts both that >1 codec is present after the
    salt (so the per-codec grouping of engine._EncodedBatch.decode is
    genuinely exercised) and that the round-trip stays bit-identical."""
    even = F.xxhash64("doc_id") % 2 == 0
    enc = (engine.encode(unit_df.where(even), codec="bitpack",
                         split_threshold=1 << 14)
           .unionByName(engine.encode(unit_df.where(~even), codec="d1",
                                      split_threshold=1 << 14)))
    salted = engine.salt_encoded(enc, shards=4)
    assert salted.select("codec").distinct().count() == 2
    dec = engine.decode(salted, reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0


def test_encoded_dedup_codec_invariant(spark):
    """Identical docs encoded by DIFFERENT codecs (auto picking per
    partition, or explicit per-half codecs) must still collapse: the
    content_hash stamped at encode time is computed from the raw token
    stream, not the compressed bytes."""
    rows = []
    for i in range(40):
        toks = [int(x) for x in np.arange(20) * 3 + (i % 10)]
        rows.append((f"doc_{i:03d}", "t", len(toks), toks))
    df = spark.createDataFrame(
        rows, "doc_id string, source string, n_tok int, tokens array<int>")
    # 10 distinct sequences, each duplicated 4x; halves get different codecs
    even = F.xxhash64("doc_id") % 2 == 0
    enc = (engine.encode(df.where(even), codec="d1", split_threshold=None)
           .unionByName(engine.encode(df.where(~even), codec="bitpack",
                                      split_threshold=None)))
    assert enc.select("codec").distinct().count() == 2
    groups = engine.encoded_dedup(enc).collect()
    assert len(groups) == 10
    assert all(g["n_docs"] == 4 for g in groups)
    # auto-encoded path end-to-end too (whatever codecs auto picks)
    enc_auto = engine.encode(df.repartition(8), codec="auto",
                             split_threshold=None)
    groups2 = engine.encoded_dedup(enc_auto).collect()
    assert len(groups2) == 10 and all(g["n_docs"] == 4 for g in groups2)


def test_range_count_rejects_unsorted_family(spark, unit_df):
    """range_count, search_sorted and minmax_sorted raise the same typed
    error, naming the operator and the codec, on every non-sorted family."""
    from pyspark.errors.exceptions.captured import PythonException
    for codec in ("bitpack", "rle", "dict"):
        enc = engine.encode(unit_df.where(F.col("n_tok") > 0),
                            codec=codec, split_threshold=None)
        for op, out in (("range_count", engine.range_count(enc, 0, 10)),
                        ("search_sorted", engine.search_sorted(enc, 10)),
                        ("minmax_sorted", engine.minmax_sorted(enc))):
            with pytest.raises(PythonException, match=(
                    rf"{op} requires a sorted-row family \(d1/for\), "
                    rf"got codec\(s\) \['{codec}'\]")):
                out.collect()


def test_encoded_dedup_rejects_null_content_hash(spark, unit_df):
    """Legacy rows unioned into a hash-stamped table carry NULL
    content_hash; grouping them would collapse into one fake duplicate
    group — must raise.  The guard is folded into the single aggregation
    scan (raise_error in-plan, no separate probe job), so it surfaces at
    execution time as a Spark exception.  A frame without the column
    raises at once."""
    import pytest
    enc = engine.encode(unit_df.limit(20), codec="bitpack",
                        split_threshold=None)
    legacy = enc.drop("content_hash").limit(5)
    mixed = enc.unionByName(legacy, allowMissingColumns=True)
    with pytest.raises(Exception, match="content_hash contains NULL"):
        engine.encoded_dedup(mixed).collect()
    with pytest.raises(ValueError, match="no content_hash column"):
        engine.encoded_dedup(legacy)


def test_encoded_dedup_verify_splits_forged_collision(spark):
    """The stamped content_hash is a fast polynomial hash — adversarially
    malleable.  Simulate a forged collision by forcing DIFFERENT token
    rows to share a content_hash: the sha256 confirmation must split
    them.  Every group's seq_hash carries the confirmation's ``:``
    suffix behind ONE fast signature, so the fast path alone would have
    merged all three."""
    df = spark.createDataFrame(
        [("a", "t", 4, [1, 2, 3, 4]), ("b", "t", 4, [9, 9, 9, 9]),
         ("c", "t", 4, [1, 2, 3, 4])],
        "doc_id string, source string, n_tok int, tokens array<int>")
    enc = engine.encode(df, codec="bitpack", split_threshold=None)
    forged = enc.withColumn("content_hash", F.lit(b"\x00" * 16))
    groups = engine.encoded_dedup(forged).collect()
    assert sorted(g["n_docs"] for g in groups) == [1, 2]
    dup = next(g for g in groups if g["n_docs"] == 2)
    assert dup["first_doc"] == "a" and ":" in dup["seq_hash"]
    assert len({g["seq_hash"].split(":")[0] for g in groups}) == 1


def test_dedup_compares_whole_split_documents(spark, tmp_path):
    """Documents split into several segments are compared as wholes: A
    and A2 (identical, 70,000 tokens, so 2 segments) are one group of 2;
    B shares A's first segment (65,536 tokens) but not its tail, and is a
    group of its own — not a duplicate of A, and its segments not counted
    as documents."""
    from simdcomp_spark import iceberg
    a = [int(x) for x in np.arange(70000) % 50000]
    b = a[:1 << 16] + [7] * (70000 - (1 << 16))
    df = spark.createDataFrame(
        [("A", "t", a), ("A2", "t", a), ("B", "t", b)],
        "doc_id string, source string, tokens array<int>")
    enc = engine.encode(df, codec="bitpack")
    assert enc.count() == 6
    assert sorted((g["n_docs"], g["first_doc"])
                  for g in engine.encoded_dedup(enc).collect()) == \
        [(1, "B"), (2, "A")]
    table = str(tmp_path / "t")
    iceberg.export_encoded(enc, table)
    assert engine.dedup_delete_iceberg(spark, table) is not None
    assert {r["doc_id"] for r in iceberg.read_table(spark, table)
            .select("doc_id").distinct().collect()} == {"A", "B"}


def test_list_to_flat_handles_large_list(spark):
    """Fused scans read user parquet whose Arrow schema may restore
    large_list (int64 offsets); reading those as int32 corrupts every
    row length."""
    import numpy as np
    import pyarrow as pa
    arr = pa.array([[1, 2, 3], [], [4, 5]],
                   type=pa.large_list(pa.int32()))
    flat, lens = engine._list_to_flat(arr)
    assert lens.tolist() == [3, 0, 2]
    assert np.asarray(flat).tolist() == [1, 2, 3, 4, 5]
    # sliced large_list keeps correct offsets
    flat2, lens2 = engine._list_to_flat(arr.slice(1))
    assert lens2.tolist() == [0, 2] and np.asarray(flat2).tolist() == [4, 5]


def test_encode_files_large_list_parquet(spark, tmp_path):
    """End-to-end fused encode over a parquet file whose Arrow schema is
    large_list<int32> (int64 offsets) — the offset-width path of
    _list_to_flat driven through the real scan."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    rows = [[int(x) for x in np.arange(i, i + 40)] for i in range(50)]
    t = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(50)]),
        "tokens": pa.array(rows, type=pa.large_list(pa.int32())),
        "source": pa.array(["s"] * 50),
    })
    d = str(tmp_path / "ll")
    import os
    os.makedirs(d)
    pq.write_table(t, f"{d}/part-0.parquet")
    enc = engine.encode_files(spark, d, codec="bitpack")
    assert enc.agg(F.sum("n_tok")).first()[0] == 50 * 40
    dec = engine.decode(enc, reassemble=True)
    got = {r["doc_id"]: r["tokens"] for r in dec.collect()}
    assert got == {f"d{i}": rows[i] for i in range(50)}


def test_resumable_iceberg_duplication_guards(spark, unit_df, tmp_path):
    """The silent-duplication path is refused loudly: resuming into a
    non-empty table that carries no resumable lineage at all (published
    by export_encoded — every row would be re-appended)."""
    from simdcomp_spark import iceberg
    t2 = str(tmp_path / "nolineage")
    iceberg.export_encoded(
        engine.encode(unit_df, codec="bitpack", split_threshold=None), t2)
    src = str(tmp_path / "tok")
    unit_df.repartition(2).write.parquet(src)
    with pytest.raises(ValueError, match="no resumable lineage"):
        manifest.encode_files_resumable_iceberg(spark, src, t2)


def test_verify_rolls_back_corrupt_batch(spark, unit_df, tmp_path,
                                         monkeypatch):
    """verify=True gates each batch: a failing round-trip rolls back that
    snapshot (corrupt data never stays current), its lineage vanishes
    with it, and the fixed re-run re-encodes exactly the failed batch."""
    from simdcomp_spark import iceberg
    src = str(tmp_path / "tok")
    unit_df.repartition(4).write.parquet(src)
    table = str(tmp_path / "tbl")

    real = engine.verify_roundtrip
    calls = {"n": 0}

    def flaky(a, b):
        calls["n"] += 1
        return 7 if calls["n"] == 2 else real(a, b)

    monkeypatch.setattr(engine, "verify_roundtrip", flaky)
    with pytest.raises(manifest.RolledBack, match="rolled back"):
        manifest.encode_files_resumable_iceberg(
            spark, src, table, codec="bitpack", batch_files=2, verify=True)
    monkeypatch.setattr(engine, "verify_roundtrip", real)

    # batch 1 committed and verified; batch 2 rolled back with its lineage
    assert len(_ingested(table)) == 2
    n_after_rollback = iceberg.read_table(spark, table).count()
    s = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack", verify=True)
    assert s["skipped"] == 2 and s["encoded_files"] == 2
    enc = iceberg.read_table(spark, table)
    assert enc.count() > n_after_rollback
    assert engine.verify_roundtrip(
        unit_df, engine.decode(enc, reassemble=True)) == 0


def test_rollback_last_snapshot_to_empty(spark, unit_df, tmp_path):
    """Rolling back the only snapshot leaves a valid EMPTY table (spec:
    current-snapshot-id -1), not a broken one."""
    from simdcomp_spark import iceberg
    table = str(tmp_path / "tbl")
    cols = ["doc_id", "source", "n_tok", "tokens"]
    iceberg.export_encoded(unit_df.select(*cols), table)
    iceberg.rollback_last_snapshot(table)
    assert iceberg.data_files(table) == []
    assert iceberg.read_table(spark, table).count() == 0
    assert iceberg.delete_where(spark, table, "true") is None
    with pytest.raises(ValueError, match="no snapshot"):
        iceberg.rollback_last_snapshot(table)
    # the table is still appendable afterwards
    iceberg.append(unit_df.select(*cols).limit(5), table)
    assert iceberg.read_table(spark, table).count() == 5


def test_resumable_verify_names_duplicate_doc_ids(spark, tmp_path):
    """verify=True on a batch whose input files share doc_ids: the round
    trip cannot pair those documents, so the batch is rolled back with a
    ValueError naming the duplicated ids and their input files instead of
    blaming a corrupt batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simdcomp_spark import iceberg
    rows = fixtures.unit_rows()
    schema = pa.schema([("doc_id", pa.string()),
                        ("tokens", pa.list_(pa.int32())),
                        ("n_tok", pa.int32()), ("source", pa.string())])
    src = tmp_path / "in"
    src.mkdir()
    for k, (lo, hi) in enumerate([(0, 20), (15, 40), (40, 60)]):
        part = rows[lo:hi]
        pq.write_table(pa.table(
            {c: [r[j] for r in part] for j, c in enumerate(schema.names)},
            schema=schema), src / f"part-{k}.parquet")
    table = str(tmp_path / "t")
    first = min(r[0] for r in rows[15:20])
    with pytest.raises(ValueError, match=(
            r"batch 0 holds 5 doc_id\(s\) more than once.*rolled back; "
            rf"e\.g\. '{first}' in \['part-0\.parquet', "
            r"'part-1\.parquet'\]")):
        manifest.encode_files_resumable_iceberg(
            spark, str(src), table, codec="bitpack", verify=True)
    assert iceberg.read_table(spark, table).count() == 0


def test_resumable_ingest_final_manifest_rewrite(spark, unit_df, tmp_path):
    """rewrite_manifests=True consolidates the one-manifest-per-batch
    chain after the last batch; resume lineage survives (a later run is
    still a no-op) and the table decodes identically."""
    from simdcomp_spark import iceberg
    src = str(tmp_path / "tok")
    unit_df.repartition(6).write.parquet(src)
    table = str(tmp_path / "tbl")
    s = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack", batch_files=2,
        rewrite_manifests=True)
    assert len(s["snapshots"]) == 3
    assert s["manifests_after_rewrite"] == 1
    data_manifests = [r for r in iceberg._prev_manifest_records(
        iceberg._load_metadata(table)) if r.get("content", 0) == 0]
    assert len(data_manifests) == 1
    # resume after the rewrite: lineage intact, no-op
    s2 = manifest.encode_files_resumable_iceberg(
        spark, src, table, codec="bitpack")
    assert s2["encoded_files"] == 0 and s2["skipped"] == 6
    dec = engine.decode(iceberg.read_table(spark, table), reassemble=True)
    assert engine.verify_roundtrip(unit_df, dec) == 0


def test_decode_reassembles_single_and_split_tables(spark, tmp_path):
    """decode(reassemble=True) runs the one reassembly plan (compressed
    segment exchange → sort → stitch) whether or not any document was
    split; both tables reproduce the input rows exactly."""
    rows = [(f"d{i}", "s", list(range(i % 9 + 1))) for i in range(300)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens"))
    norm = lambda d: sorted((r["doc_id"], r["source"], tuple(r["tokens"]),
                             r["n_tok"]) for r in d.collect())
    want = norm(df.select("doc_id", "source", "tokens", "n_tok"))

    enc = engine.encode(df, codec="auto", split_threshold=None)
    p = str(tmp_path / "enc.parquet")
    enc.write.parquet(p)
    assert norm(engine.decode(spark.read.parquet(p), reassemble=True)) \
        == want

    # split table: segments stitch back exactly through the exchange
    enc_s = engine.encode(df, codec="auto", split_threshold=4)
    ps = str(tmp_path / "enc_s.parquet")
    enc_s.write.parquet(ps)
    dec_s = engine.decode(spark.read.parquet(ps), reassemble=True)
    assert "Exchange" in dec_s._jdf.queryExecution() \
        .executedPlan().toString()
    assert norm(dec_s) == want


def test_decode_is_lazy(spark, tmp_path):
    """engine.decode(reassemble=True) over a bare Iceberg scan of a split
    table starts no Spark job until its result is consumed, and the read
    itself is exactly one job: the writer certified the table's segment
    runs, so the stitch runs over the scan with no exchange.  Counted
    through a job group and statusTracker, as in
    test_ingest_pass_is_one_job."""
    from simdcomp_spark import iceberg

    rows = [(f"d{i}", "s", list(range(i % 50 + 1))) for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens"))
    table = str(tmp_path / "t")
    iceberg.export_encoded(
        engine.encode(df, codec="bitpack", split_threshold=8), table)
    scan = iceberg.read_table(spark, table)

    sc = spark.sparkContext
    st = sc.statusTracker()
    gid = f"lazy-decode-{tmp_path.name}"
    sc.setJobGroup(gid, "decode")
    try:
        dec = engine.decode(scan, reassemble=True)
        assert list(st.getJobIdsForGroup(gid)) == []
        got = sorted((r["doc_id"], tuple(r["tokens"])) for r in dec.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(st.getJobIdsForGroup(gid)) == 1
    assert got == sorted((d, tuple(t)) for d, _, t in rows)


def test_decode_reassemble_rejects_null_doc_id(spark):
    """A null doc_id names no document to stitch into: reassemble=True
    raises a ValueError naming it instead of merging the next document
    into the null row; reassemble=False passes every segment through."""
    from pyspark.errors.exceptions.captured import PythonException
    df = spark.createDataFrame(
        [(None, "s", [7, 7, 7]), ("a", "s", [1, 2, 3]), ("b", "s", [4, 5])],
        "doc_id string, source string, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens"))
    enc = engine.encode(df, codec="bitpack", split_threshold=None)
    with pytest.raises(PythonException, match=r"ValueError: .*null doc_id"):
        engine.decode(enc, reassemble=True).collect()
    got = engine.decode(enc, reassemble=False).collect()
    assert len(got) == 3
    assert {r["doc_id"]: r["tokens"] for r in got} == \
        {None: [7, 7, 7], "a": [1, 2, 3], "b": [4, 5]}
