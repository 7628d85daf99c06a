"""Corpus source formats beyond parquet/Iceberg: JSONL ingestion.

Raw text corpora commonly arrive as JSON-lines drops.  Two rules make
them safe at 100 TB:

* **Explicit schema, never inference** — ``inferSchema`` is a full extra
  pass over the data before the real job starts; at 10^5-10^6 files that
  doubles ingest I/O.  Readers here take (or default) a hard schema.
* **Malformed rows are quarantined, not silently dropped** — PERMISSIVE
  mode routes unparseable lines into a ``_corrupt_record`` column;
  :func:`split_corrupt` separates them so the pipeline can count/inspect
  rejects instead of losing them (a 0.1% silent loss on a crawl is a
  bias nobody can debug later).

JSONL round-trips the documents shape byte-exactly (JSON escapes
embedded quotes/newlines) — pinned by tests with adversarial strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DOCUMENTS_SCHEMA = ("doc_id long, text string, lang string, "
                    "source string")
_CORRUPT = "_corrupt_record"


def _permissive(reader, schema: str):
    return (reader.schema(f"{schema}, {_CORRUPT} string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", _CORRUPT))


def read_documents_jsonl(spark: SparkSession, path: str,
                         schema: str = DOCUMENTS_SCHEMA) -> DataFrame:
    """JSONL corpus reader: explicit schema, malformed lines quarantined
    into ``_corrupt_record`` (use :func:`split_corrupt`)."""
    return _permissive(spark.read, schema).json(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the quarantine column, quarantined rows WITH
    it) — callers count/inspect the second instead of silently losing
    it.  NOTE: Spark refuses raw-file queries whose referenced columns
    prune down to ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — so an
    action on the corrupt side (``bad.count()``) requires the parsed
    DataFrame to be cached or already materialized; an ingest that
    persists ``clean`` first (the normal shape) can inspect ``bad``
    freely afterwards."""
    clean = df.where(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    bad = df.where(F.col(_CORRUPT).isNotNull())
    return clean, bad


def write_documents_jsonl(df: DataFrame, path: str) -> None:
    """Deterministic JSONL export (JSON escaping handles embedded
    quotes/newlines/unicode)."""
    df.write.mode("error").json(path)
