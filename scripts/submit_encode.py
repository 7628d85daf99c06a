#!/usr/bin/env python
"""Cluster job entry point (north rule: "run via spark-submit --py-files").

Package and launch from the repository root:

    zip -r /tmp/simdcomp_spark.zip simdcomp_spark
    spark-submit --master local[8] --py-files /tmp/simdcomp_spark.zip \
        scripts/submit_encode.py \
        --input  /data/tokens_table \
        --publish-iceberg /data/encoded_table \
        --codec auto --batch-files 512 --split-threshold 65536 --verify

The output is an Iceberg v2 table, and the table is also the resume
state: each batch of ``--batch-files`` INPUT FILES commits as one append
snapshot whose summary records those files
(manifest.encode_files_resumable_iceberg, the fused ingest).  A crashed
run commits nothing (orphan data files are invisible to metadata-planned
readers), and re-submitting encodes exactly the files no snapshot
records; no full-table re-export.  With ``--verify``, each batch is
round-tripped right after its commit and ROLLED BACK on mismatch, so
corrupt data never stays current.

The session is engine.get_spark(): under spark-submit the submitted
``--master`` and ``--driver-memory`` stand and get_spark adds the engine's
other settings; run as a plain script it starts ``local[<usable CPUs>]``
(or ``local[$SPARK_GRAFT_CPUS]``).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _is_local(path: str) -> bool:
    """Both paths go through plain file I/O: the input's files are listed
    with a local directory walk (engine._input_files), and the
    self-contained Iceberg layer (simdcomp_spark/iceberg.py) writes its
    metadata tree with plain file I/O.  A URI (``scheme://``) is not a
    local path."""
    return "://" not in path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="tokens table (parquet dir or local Iceberg "
                         "table dir)")
    ap.add_argument("--publish-iceberg", metavar="DIR", required=True,
                    help="encode INTO an Iceberg v2 table at DIR via the "
                         "FUSED ingest: incremental append snapshots (one "
                         "per input-file batch, the batch's input files "
                         "recorded in the snapshot summary), resumable "
                         "from the snapshot log itself")
    ap.add_argument("--batch-files", type=int, default=None,
                    help="input files per Iceberg commit (default: all "
                         "missing files in one snapshot)")
    ap.add_argument("--codec", default="auto")
    ap.add_argument("--split-threshold", type=int, default=1 << 16)
    ap.add_argument("--rewrite-manifests", action="store_true",
                    help="after the last batch lands, consolidate the "
                         "one-manifest-per-batch chain (metadata-only; "
                         "keeps planning cost flat in batch count)")
    ap.add_argument("--verify", action="store_true",
                    help="decode + compare each batch against its input "
                         "files right after its commit; a mismatch ROLLS "
                         "BACK that snapshot (it never stays current) "
                         "and exits 1")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from simdcomp_spark import engine, iceberg, manifest

    for flag, path in (("--input", args.input),
                       ("--publish-iceberg", args.publish_iceberg)):
        if not _is_local(path):
            raise ValueError(
                f"{flag} requires a local path, got {path!r}: input files "
                "are listed and the Iceberg metadata tree is written with "
                "plain file I/O")

    spark = SparkSession.getActiveSession() or engine.get_spark("encode-job")
    try:
        summary = manifest.encode_files_resumable_iceberg(
            spark, args.input, args.publish_iceberg, codec=args.codec,
            split_threshold=args.split_threshold,
            batch_files=args.batch_files, verify=args.verify,
            rewrite_manifests=args.rewrite_manifests)
    except manifest.RolledBack as e:
        print(json.dumps({"verify_failed": str(e), "rolled_back": True}))
        return 1
    enc = iceberg.read_table(spark, args.publish_iceberg)
    metrics = engine.partition_metrics(enc)
    metrics.write.mode("overwrite").parquet(
        f"{args.publish_iceberg}/_metrics")
    print(json.dumps(summary))
    meta = iceberg._load_metadata(args.publish_iceberg)
    print(json.dumps({
        "iceberg_snapshot": meta["current-snapshot-id"],
        "iceberg_table": args.publish_iceberg,
        "verified_per_batch": bool(args.verify),
        "snapshots_committed_this_run": summary["snapshots"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
