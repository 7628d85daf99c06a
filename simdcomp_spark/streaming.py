"""Structured Streaming operators.

The reference is batch-only; SURVEY.md §1.4 scopes streaming as an
engine-level extension.  Three shapes:

* :func:`start_encode_stream_iceberg` — continuously compress appended
  token sequences into an Iceberg table, exactly once: the SAME encode
  pipeline (split → encode UDF) applied per micro-batch via
  ``foreachBatch``, each batch committed as one snapshot stamped with its
  batch id (a replayed batch is a no-op), so batch and streaming paths
  cannot drift;
* :func:`start_dedup_stream` — CUSTOM STATEFUL operator
  (``applyInPandasWithState``): streaming exact dedup that emits only the
  first occurrence of each distinct text across the whole stream; state is
  a per-bucket set of content hashes, keyed by ``xxhash64(text) % buckets``
  so state shards evenly across executors at 100 TB;
* :func:`windowed_token_rate` — watermarked event-time windowed
  aggregation (late data beyond the watermark is dropped, state is evicted
  — the standard unbounded-stream memory bound).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import engine
from .fixtures import TOKENS_SCHEMA


# ---------------------------------------------------------------------------
# exactly-once streaming ingest into an Iceberg table
# ---------------------------------------------------------------------------

def committed_stream_batches(table_dir: str) -> tuple[set[int], str | None]:
    """(micro-batch ids already committed to the table, the checkpoint
    query id that committed them) — read from snapshot summaries, plus
    the lineage that :func:`iceberg.expire_snapshots` folded into table
    properties, so a replay after snapshot expiry is still a no-op."""
    from . import iceberg
    lineage = iceberg._lineage(iceberg._metadata_or_none(table_dir))
    qids = lineage["simdcomp-stream-query"]
    return lineage["simdcomp-stream-batches"], (qids[-1] if qids else None)


def commit_encoded_stream_batch(batch_df: DataFrame, batch_id: int,
                                table_dir: str, query_id: str,
                                codec: str = "auto",
                                split_threshold: int | None = None
                                ) -> dict | None:
    """Idempotently encode ONE micro-batch and commit it as an Iceberg
    snapshot stamped with (query_id, batch_id).

    foreachBatch is at-least-once: a crash between the table commit and
    the checkpoint commit replays the batch.  The Iceberg metadata swap
    is the atomic unit here, so the replay finds its batch id in the
    snapshot summaries and returns without writing a byte — the TABLE is
    exactly-once even though the callback is not.  A query_id mismatch
    (stream restarted against a FRESH checkpoint, whose batch ids
    restart at 0 and no longer name the same input) refuses loudly
    instead of silently skipping or duplicating data."""
    import json
    from . import iceberg
    done, committed_qid = committed_stream_batches(table_dir)
    if committed_qid is not None and committed_qid != query_id:
        raise ValueError(
            f"{table_dir}: table was fed by streaming query "
            f"{committed_qid}, this checkpoint is {query_id} — batch ids "
            "from a fresh checkpoint do not name the same input, so "
            "skip/commit decisions would be wrong. Resume with the "
            "original checkpoint, or ingest into a new table.")
    if batch_id in done:
        return None
    enc = engine.encode(batch_df, codec=codec,
                        split_threshold=split_threshold)
    summ = {"simdcomp-stream-batches": json.dumps([batch_id]),
            "simdcomp-stream-query": query_id}
    return iceberg._append_or_create(enc, table_dir, summ)


def start_encode_stream_iceberg(spark: SparkSession, in_dir: str,
                                table_dir: str, codec: str = "auto",
                                checkpoint: str | None = None,
                                split_threshold: int | None = None,
                                trigger_once: bool = True,
                                rewrite_every: int | None = None):
    """Watch ``in_dir`` for appended tokens parquet and ingest each
    micro-batch into an Iceberg table with EXACTLY-ONCE table contents
    (one snapshot per micro-batch, idempotent on replay — see
    :func:`commit_encoded_stream_batch`).  Unifies the streaming path
    with the table stack: the result is an ordinary Iceberg table —
    time travel across triggers, decode, dedup-delete, compaction
    and expiry all apply.  ``rewrite_every=N`` folds manifest
    maintenance into the sink: after every Nth batch commit the
    accumulated one-manifest-per-snapshot chain is consolidated
    (:func:`iceberg.rewrite_manifests`), bounding the metadata tree a
    long-running stream leaves behind — without it, planning cost grows
    linearly in trigger count.  Returns the StreamingQuery."""
    import json
    checkpoint = checkpoint or str(Path(table_dir) / "_checkpoint")
    stream = (spark.readStream.schema(TOKENS_SCHEMA)
              .parquet(in_dir))

    def process(batch_df, batch_id: int):
        # the checkpoint's stable query id (survives restarts; fresh
        # checkpoint => fresh id), written by the engine at query start
        from . import iceberg
        qid = json.loads(
            (Path(checkpoint) / "metadata").read_text())["id"]
        commit_encoded_stream_batch(batch_df, batch_id, table_dir, qid,
                                    codec=codec,
                                    split_threshold=split_threshold)
        if rewrite_every and batch_id % rewrite_every == rewrite_every - 1:
            # maintenance, not correctness: a replayed batch that
            # re-runs this is just a (possibly no-op) extra rewrite
            iceberg.rewrite_manifests(table_dir)

    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_first_fn(key, pdfs, state):
    """Per-content-hash stateful dedup kernel: the grouping key IS the
    content hash, the state a one-boolean marker.

    Why keyed-by-hash and not hash-bucket sets: with a marker per distinct
    hash the state store touches only the keys PRESENT in the trigger, so
    per-trigger state I/O is O(batch) — flat in stream history — and an
    existing key is read-only (no ``state.update`` at all).  A bucketed
    seen-set would rewrite the whole (growing) set blob on every trigger
    that touches the bucket.  Sharding across executors falls out of the
    state store's own key partitioning.  Total state size is identical:
    one entry per distinct document, the minimum for exact dedup.

    Emits the minimum doc_id among the trigger's rows for a NEW hash
    (deterministic under any partitioning); duplicates emit nothing and
    write nothing."""
    import pandas as pd
    if state.exists:                 # seen before: no emit, NO state write
        yield pd.DataFrame({"doc_id": [], "text": []})
        return
    best_doc, text = None, None
    for pdf in pdfs:
        if len(pdf):
            m = pdf["doc_id"].min()
            if best_doc is None or m < best_doc:
                best_doc = m
                text = pdf.loc[pdf["doc_id"] == m, "text"].iloc[0]
    state.update((True,))
    yield pd.DataFrame({"doc_id": [best_doc], "text": [text]})


def start_dedup_stream(spark: SparkSession, in_dir: str, out_dir: str,
                       checkpoint: str | None = None,
                       max_files_per_trigger: int = 1,
                       schema: str = "doc_id string, text string"):
    """Streaming exact dedup: emit each distinct text's FIRST occurrence,
    across micro-batches, via ``applyInPandasWithState`` keyed by content
    hash (see :func:`dedup_first_fn` for the state-cost argument)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    checkpoint = checkpoint or str(Path(out_dir) / "_checkpoint")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(in_dir))
    hashed = stream.select(
        "doc_id", "text",
        F.md5(F.col("text").cast("binary")).alias("h"))

    out = (hashed.groupBy("h").applyInPandasWithState(
        dedup_first_fn, outputStructType="doc_id string, text string",
        stateStructType="seen boolean", outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout))
    return (out.writeStream.format("parquet")
            .option("path", str(Path(out_dir) / "data"))
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def windowed_token_rate(stream_df: DataFrame, ts_col: str = "ts",
                        window: str = "1 minute",
                        watermark: str = "2 minutes") -> DataFrame:
    """Watermarked event-time windowed aggregation over a token stream:
    tokens/docs per window per source.  The watermark bounds state (windows
    older than it are finalized and evicted) and drops later-than-watermark
    data — the standard correctness/memory trade for unbounded streams."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"), "source")
            .agg(F.sum("n_tok").alias("tokens"),
                 F.count("*").alias("docs"))
            .select(F.col("win.start").alias("win_start"), "source",
                    "tokens", "docs"))
