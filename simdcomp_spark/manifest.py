"""Checkpoint-resume of partially encoded Iceberg tables (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Resume state and table state are one mechanism, the snapshot log: each
batch of input files commits as one append snapshot whose summary records
the batch's files (:func:`encode_files_resumable_iceberg`).  A crashed
run commits no snapshot, so a re-run encodes exactly the files no
committed snapshot claims; its orphan data files are invisible to
metadata-planned readers.  The lineage format and its survival of
snapshot expiry live in :func:`iceberg._lineage`.  At 100 TB scale this
is the difference between re-running a 12-hour job and re-running the 3
batches that failed.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from . import engine, iceberg


class RolledBack(RuntimeError):
    """A verified batch failed its round trip, and its snapshot was
    rolled back: the table's current state excludes it."""


def _require_resumable_lineage(meta: dict | None, table_dir: str) -> None:
    """Refuse to resume into a NON-EMPTY table that carries no resumable
    lineage: with an empty done-set, every row would be re-encoded and
    APPENDED — a silent full duplication of a table that was published by
    a non-resumable path (export_encoded / overwrite)."""
    if meta is None or not meta["snapshots"]:
        return
    if not iceberg._lineage(meta)["simdcomp-input-files"]:
        raise ValueError(
            f"{table_dir} is a non-empty Iceberg table with no resumable "
            "lineage in any snapshot summary — it was not written by "
            "encode_files_resumable_iceberg; appending would silently "
            "duplicate every row. "
            "Use iceberg.append/overwrite explicitly, or target a fresh "
            "table dir")


def _read_roles(spark, input_path: str, files: list[str]) -> DataFrame:
    """``files`` of the ingest input with their ``doc_id`` and ``tokens``
    columns under those role names, resolved as
    :func:`engine.encode_files` resolves them: by name in a plain
    directory, by field id in an Iceberg table (renamed roles read back
    under their role names)."""
    if not iceberg.is_iceberg_table(input_path):
        return spark.read.parquet(*files)
    meta = iceberg._load_metadata(input_path)
    fids = iceberg.fused_role_columns(input_path, ["doc_id", "tokens"])
    name = {f["id"]: f["name"]
            for f in iceberg._current_schema(meta)["fields"]}
    return (iceberg._schema_reader(spark, meta).parquet(*files)
            .select(*[F.col(name[fid]).alias(r) for r, fid in fids.items()]))


def _duplicate_ids(spark, input_path: str, files: list[str]
                   ) -> tuple[int, list[tuple[str, list[str]]]] | None:
    """(number of doc_ids stored more than once across ``files``, up to 5
    of them with the input files holding each, paths relative to
    ``input_path``), or None when every doc_id is unique."""
    rows = (_read_roles(spark, input_path, files)
            .select("doc_id", F.regexp_replace(
                F.input_file_name(), "^file:/+", "/").alias("file"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"),
                 F.sort_array(F.collect_set("file")).alias("files"))
            .where("n > 1").orderBy("doc_id"))
    n = rows.count()
    if not n:
        return None
    return n, [(r["doc_id"],
                [os.path.relpath(f, input_path) for f in r["files"]])
               for r in rows.limit(5).collect()]


def encode_files_resumable_iceberg(spark, input_path: str, table_dir: str,
                                   codec: str = "auto",
                                   split_threshold: int =
                                   engine.DEFAULT_SPLIT_THRESHOLD,
                                   batch_files: int | None = None,
                                   snapshot_id: int | None = None,
                                   verify: bool = False,
                                   rewrite_manifests: bool = False
                                   ) -> dict:
    """FUSED resumable ingest (the 100 TB path): INPUT FILES are the
    resume unit, and the Iceberg snapshot log is the resume state.

    Each batch of ``batch_files`` input parquet files is encoded via the
    fused :func:`engine.encode_files` (pyarrow in-worker, no JVM row
    format) and committed as ONE append snapshot whose summary records
    the batch's input files (paths relative to ``input_path``, so the
    summary stays bounded by the batch size — size the batch, not the
    table).  A crashed run commits nothing; the re-run ingests exactly
    the unrecorded input files.  This is the natural resume unit for
    ingest: the input's file listing is already the planning primitive,
    and no doc-hash shuffle is needed at all (the whole pipeline stays
    scan-aligned and narrow).

    ``verify=True`` round-trips EACH batch right after its commit
    (decode of the batch's data files vs the batch's input files, read
    the way the encode read them: :func:`_read_roles`) and on
    mismatch ROLLS BACK that snapshot (iceberg.rollback_last_snapshot)
    before raising :class:`RolledBack` — corrupt data never stays
    current, and the dropped snapshot's lineage vanishes with it, so the
    re-run (with the fixed encoder) re-encodes exactly the failed batch.  When the batch's input
    holds a doc_id more than once (the check pairs documents by doc_id),
    the rollback raises a ``ValueError`` naming up to 5 such ids and
    their input files instead.

    ``rewrite_manifests=True`` consolidates the one-manifest-per-batch
    chain after the last batch lands (:func:`iceberg.rewrite_manifests`
    — metadata-only; resume lineage lives in the append snapshots'
    summaries, which a rewrite preserves in history, so a later resume
    is still a no-op)."""
    meta0 = iceberg._metadata_or_none(table_dir)
    _require_resumable_lineage(meta0, table_dir)
    all_files = engine._input_files(input_path, snapshot_id)
    rel = {f: os.path.relpath(f, input_path) for f in all_files}
    done = iceberg._lineage(meta0)["simdcomp-input-files"]
    stale = done - set(rel.values())
    if stale:
        raise ValueError(
            f"table {table_dir} records {len(stale)} ingested input "
            f"files absent from {input_path} (e.g. {sorted(stale)[:3]}) — "
            "wrong input path, or the input was rewritten under the "
            "table; refusing to mix lineages")
    todo = [f for f in all_files if rel[f] not in done]
    summary = {"input_files": len(all_files), "skipped": len(done),
               "encoded_files": 0, "rows": 0, "snapshots": []}
    if not todo:
        return summary

    step = batch_files or len(todo)
    for i in range(0, len(todo), step):
        batch = todo[i:i + step]
        enc = engine.encode_files(spark, input_path, codec=codec,
                                  split_threshold=split_threshold,
                                  files=batch)
        extra = {"simdcomp-input-files":
                 json.dumps([rel[f] for f in batch]),
                 "simdcomp-input-path": str(input_path)}
        meta = iceberg._append_or_create(enc, table_dir, extra)
        snap = meta["snapshots"][-1]
        if verify:
            # ignore_deletes: the ingest may target a table that already
            # carries row-level deletes (they cannot touch this batch's
            # just-appended files under the v2 sequence rule); the path
            # match needs the full /snap-<id>/ segment — snapshot ids
            # are variable-length, so a bare prefix can collide
            new_files = [d["file_path"] for d in iceberg.data_files(
                table_dir, ignore_deletes=True)
                if f"{os.sep}snap-{snap['snapshot-id']}{os.sep}"
                in d["file_path"]]
            dec = engine.decode(spark.read.parquet(*new_files),
                                reassemble=True)
            bad = engine.verify_roundtrip(
                _read_roles(spark, input_path, batch), dec)
            if bad:
                # pin the snapshot being reverted: a concurrent append
                # landing between this batch's commit and the rollback
                # must fail the rollback, not be silently destroyed
                iceberg.rollback_last_snapshot(
                    table_dir, expected_id=snap["snapshot-id"])
                dups = _duplicate_ids(spark, input_path, batch)
                if dups:
                    raise ValueError(
                        f"batch {i // step} holds {dups[0]} doc_id(s) "
                        "more than once, so its round trip cannot pair "
                        "documents — snapshot "
                        f"{snap['snapshot-id']} rolled back; e.g. "
                        + "; ".join(f"{d!r} in {fs}" for d, fs in dups[1]))
                raise RolledBack(
                    f"round-trip verification failed for {bad} rows in "
                    f"batch {i // step} — snapshot "
                    f"{snap['snapshot-id']} rolled back; the table's "
                    "current state excludes the corrupt batch")
        summary["encoded_files"] += len(batch)
        summary["rows"] += int(snap["summary"]["added-records"])
        summary["snapshots"].append(snap["snapshot-id"])
    if rewrite_manifests:
        res = iceberg.rewrite_manifests(table_dir)
        summary["manifests_after_rewrite"] = (
            res["manifests_after"])
    return summary
