"""Sequence packing: fold a token corpus into fixed-length training
examples.

The last stage of a pretraining-data pipeline concatenates documents in
a deterministic order and slices the stream into context-length chunks
("sequence packing").  Semantics here are the simple deterministic
variant every trainer can replay: documents concatenated in ``order_col``
order, stream cut every ``chunk_len`` tokens (chunks may span document
boundaries; the final chunk may be short).  Greedy bin-packing variants
trade determinism for fewer boundary crossings — this one is exactly
reproducible in ANY engine (the DuckDB oracle replays it in pure SQL),
which is what a 100 TB rerun needs.  ``partition_col`` packs each
domain/source as its OWN stream (chunks never mix domains — the usual
shape when domains are trained with different weights), adding
domain-parallelism on top of the shapes below.

Scale shape (up to three shuffles — one skinny range exchange plus at
most two array-moving exchanges — all keyed and skew-free):

1. **Skinny distributed cumsum** — the running token offset needs a
   total order, but only over ``(order, n_tok)`` (≈12 bytes/row): the
   offset stage never touches token arrays.  It is a TWO-LEVEL cumsum,
   fully distributed — ``repartitionByRange`` on the (group, order) key
   (range partitioner assigns ascending key ranges to ascending
   partition ids, so groups stay contiguous), a per-partition running
   sum (window PARTITIONed BY the range partition id + group — every
   frame is one partition's slice of one group, no global sort), and
   per-(partition, group) token totals (one tiny row each)
   prefix-summed into base offsets and broadcast back.  No
   single-partition stage over data anywhere.
2. **Array-moving shuffles, at most two** — each doc joins its start
   offset with a SHUFFLED HASH join building on the skinny side (the
   offsets can never be broadcast at corpus scale, and letting AQE
   guess invites it to broadcast the unestimatable array side — seen
   collecting the corpus to the driver on the 4B-token soak), is
   sliced IN PLACE into per-chunk pieces (``slice`` on the array
   column — no token explode), and then shuffles on the chunk key for
   reassembly.  A corpus already hash-partitioned by the order key
   skips the join-side array move, leaving the single chunk-keyed
   exchange.  Chunk keys are dense integers — uniform by construction,
   no salting needed.

Reference analog: the d1 block layout chops a sorted stream into
128-value blocks with per-block inits (reference/src/simdcomp.c,
simdpackd1 framing); pack_chunks is the same fixed-width reframing at
corpus scope, with documents instead of deltas as the unit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def pack_chunks(df_tokens: DataFrame, chunk_len: int,
                order_col: str | list[str] = "doc_id",
                with_boundaries: bool = False,
                partition_col: str | None = None,
                skinny: DataFrame | None = None) -> DataFrame:
    """Pack ``(doc_id, tokens)`` rows into fixed-``chunk_len`` examples.

    Returns ``(chunk_id long, tokens array<int>, n_tok int)`` where
    chunk ``c`` holds tokens ``[c*L, (c+1)*L)`` of the corpus stream in
    ``order_col`` order.  Every chunk except possibly the last has
    exactly ``chunk_len`` tokens; empty documents contribute nothing.
    ``with_boundaries=True`` adds ``doc_starts array<int>`` — the
    in-chunk positions where a DOCUMENT begins (sorted; empty when the
    whole chunk continues a document begun earlier) — what a trainer
    needs to build cross-document attention masks over packed examples.
    ``partition_col`` packs every value of that column as an
    independent stream: the output carries the column plus a per-group
    ``chunk_id`` (each group's final chunk may be short).
    ``order_col`` may be one column name or a list (composite keys —
    e.g. ``["doc_id", "seg_id"]`` for segment-split engine tables,
    ordered lexicographically as a struct) and must be duplicate-free
    (within a group when ``partition_col`` is set — it defines THE
    stream order); ties would make the packing nondeterministic, so a
    duplicated order key raises in-plan.  If the input carries an ``n_tok`` column it is trusted as
    ``size(tokens)`` (engine tables stamp it at encode) so the skinny
    pass never reads the arrays; pass a frame without it if yours is
    not authoritative.

    ``skinny`` (optional) supplies the stage-1 offset pass its
    ``(partition_col?, order cols, n_tok)`` rows from a CHEAPER plan than
    ``df_tokens``: when the token arrays come out of an opaque stage
    (mapInArrow decode, a tokenizer UDF), the offset pass — **and the
    range partitioner's sampling job, which re-executes its child** —
    would otherwise re-run that whole stage once or twice just to read
    lengths Spark cannot prune through the UDF (guide §2.3/§4.1).  The
    caller asserts ``skinny`` is row-aligned with ``df_tokens``: same
    key set, and ``n_tok == size(tokens)`` row-for-row — a mismatch
    mis-slices chunks (lengths drive the slicing; sizes come from the
    real arrays).
    """
    if chunk_len <= 0:
        raise ValueError(f"chunk_len must be positive, got {chunk_len}")
    L = F.lit(int(chunk_len)).cast("long")
    skinny_src = skinny if skinny is not None else df_tokens
    # prefer a pre-stamped n_tok (engine decode/encode tables carry one):
    # the skinny stage-1 scan then prunes to (order, n_tok) ≈ 12 B/row
    # and never touches the array column at all on that pass
    n_tok = (F.coalesce(F.col("n_tok").cast("long"), F.lit(0))
             if "n_tok" in skinny_src.columns
             else F.coalesce(F.size("tokens").cast("long"), F.lit(0)))
    # NULL group values would vanish at the offs equi-join (null keys
    # never match) — refuse them loudly instead of silently dropping docs
    grp = (F.when(F.col(partition_col).isNull(),
                  F.raise_error(F.lit(
                      f"pack_chunks: {partition_col} contains NULL — "
                      "assign every doc a group before packing")))
           .otherwise(F.col(partition_col))
           if partition_col is not None else F.lit(0))

    # stage 1: skinny two-level cumsum — (group, order, n_tok) only,
    # arrays untouched, no single-partition stage over data (see module
    # docstring).  repartitionByRange keys equal (_grp, _ord) values
    # into one partition, so the lag-based duplicate guard cannot miss
    # a boundary-straddling pair.
    spark = df_tokens.sparkSession
    # explicit partition count so AQE never re-coalesces the range
    # exchange; both consumers below share the SAME exchange within one
    # query (canonical-plan stage reuse), so partition ids agree by
    # construction — a separate driver job over a re-executed exchange
    # would not be guaranteed the same range cuts
    if spark.conf.get("spark.sql.exchange.reuse",
                      "true").lower() != "true":
        raise ValueError(
            "pack_chunks requires spark.sql.exchange.reuse=true: the "
            "offset stage's two consumers must read ONE execution of "
            "the range exchange — re-executions may sample different "
            "range bounds and silently corrupt offsets")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ord_cols = ([order_col] if isinstance(order_col, str)
                else list(order_col))
    if not ord_cols:
        raise ValueError("order_col must name at least one column")
    ord_expr = (F.col(ord_cols[0]) if len(ord_cols) == 1
                else F.struct(*[F.col(c) for c in ord_cols]))
    # a NULL order key would inflate stage-1 offsets then vanish at the
    # stage-2 equi-join (and NULL==NULL defeats the lag guard): refuse.
    # For composite keys, any NULL member makes the struct equality
    # three-valued at the join — guard each member.
    null_any = None
    for c in ord_cols:
        cond = F.col(c).isNull()
        null_any = cond if null_any is None else (null_any | cond)
    ord_guard = F.when(
        null_any,
        F.raise_error(F.lit(
            f"pack_chunks: {ord_cols} contains NULL — every doc needs "
            "an order key"))).otherwise(ord_expr)
    skinny = (skinny_src
              .select(grp.alias("_grp"),
                      ord_guard.alias("_ord"), n_tok.alias("_n"))
              .where(F.col("_n") > 0)
              .repartitionByRange(n_parts, "_grp", "_ord")
              .withColumn("_pid", F.spark_partition_id()))
    w_local = Window.partitionBy("_pid", "_grp").orderBy("_ord")
    dup_guard = F.when(
        F.lag("_ord").over(w_local) == F.col("_ord"),
        F.raise_error(F.lit(
            "pack_chunks: duplicate order key — stream order would be "
            "nondeterministic"))).otherwise(F.lit(0))
    local = skinny.withColumn(
        "_local", F.sum("_n").over(w_local) - F.col("_n")
        + dup_guard)
    # per-(partition, group) totals prefix-summed into base offsets —
    # contiguous ranges mean ≤ n_parts + n_groups such rows; the only
    # single-partition work is the window over THOSE rows, never data
    pbase = (skinny.groupBy("_pid", "_grp").agg(F.sum("_n").alias("_t"))
             .withColumn("_base", F.sum("_t").over(
                 Window.partitionBy("_grp").orderBy("_pid")) - F.col("_t"))
             .select("_pid", "_grp", "_base"))
    offs = (local.join(F.broadcast(pbase), ["_pid", "_grp"])
            .select("_grp", "_ord", "_n",
                    (F.col("_base") + F.col("_local")).alias("_start")))

    # stage 2: join offsets back (skinny side carries 3 longs), slice
    # docs into per-chunk pieces in place, reassemble keyed by chunk.
    # shuffle_hash with the SKINNY side as build: AQE cannot size a
    # mapInArrow/decode input and has been observed electing to
    # broadcast the ARRAY side of this join (collecting the corpus to
    # the driver — maxResultSize abort on the 4B-token soak); a
    # shuffled hash join is the only shape that survives any input size
    docs = (df_tokens.select(grp.alias("_grp"),
                             ord_expr.alias("_ord"), "tokens")
            .join(offs.hint("shuffle_hash"), ["_grp", "_ord"]))
    # integer division, NOT `/` (double): past ~2^53 cumulative tokens a
    # double-rounded quotient silently shifts chunk ids by one — `div`
    # keeps chunk assignment exact at any stream offset
    first_c = F.expr(f"_start div {int(chunk_len)}")
    last_c = F.expr(f"(_start + _n - 1) div {int(chunk_len)}")
    pieces = (docs
              .select("_grp", "tokens", "_start", "_n",
                      F.explode(F.sequence(first_c, last_c))
                      .alias("chunk_id"))
              .select(
                  "_grp", "chunk_id",
                  F.col("_start").alias("_doc_start"),
                  F.slice(
                      "tokens",
                      # F.slice is 1-based; piece covers the overlap of
                      # [start, start+n) with [cL, (c+1)L)
                      (F.greatest(F.col("chunk_id") * L, F.col("_start"))
                       - F.col("_start") + 1).cast("int"),
                      (F.least((F.col("chunk_id") + 1) * L,
                               F.col("_start") + F.col("_n"))
                       - F.greatest(F.col("chunk_id") * L,
                                    F.col("_start"))).cast("int"))
                  .alias("piece")))
    aggs = [F.flatten(F.transform(
        F.array_sort(F.collect_list(
            F.struct(F.col("_doc_start").alias("s"),
                     F.col("piece").alias("p")))),
        lambda x: x.p)).alias("tokens")]
    out_key = ([F.col("_grp").alias(partition_col)]
               if partition_col is not None else [])
    cols = out_key + ["chunk_id", "tokens",
                      F.size("tokens").alias("n_tok")]
    if with_boundaries:
        # a piece that begins its document (doc start >= chunk start)
        # marks a boundary at the doc's in-chunk offset; collect_list
        # drops the NULLs of continuation pieces
        aggs.append(F.sort_array(F.collect_list(
            F.when(F.col("_doc_start") >= F.col("chunk_id") * L,
                   (F.col("_doc_start") - F.col("chunk_id") * L)
                   .cast("int")))).alias("doc_starts"))
        cols.append("doc_starts")
    return pieces.groupBy("_grp", "chunk_id").agg(*aggs).select(*cols)

def pack_greedy(df_tokens: DataFrame, chunk_len: int,
                id_col: str = "doc_id", buckets: int = 1024,
                skinny: DataFrame | None = None,
                max_bucket_docs: int = 10_000_000) -> DataFrame:
    """Boundary-respecting sequence packing: documents are NEVER cut
    mid-document — each chunk holds whole docs, so chunks carry
    ``n_tok ≤ chunk_len`` (padding fills the gap at train time) and no
    attention mask ever straddles a truncated document.  The price vs
    :func:`pack_chunks` is fill waste (reported in BENCH.md) instead of
    boundary cuts.

    Determinism without a global sequential pass: docs are assigned to
    ``buckets`` fixed hash buckets (``pmod(xxhash64(id), B)`` — content
    stable, engine-reproducible), and NEXT-FIT packing runs per bucket
    over docs in ``id_col`` order: keep appending docs to the open chunk
    while they fit, open a new chunk otherwise.  Output chunk identity is
    ``(bucket, chunk_id)`` — reruns, engines, and partitionings all
    produce identical chunks (the DuckDB oracle replays the whole thing:
    hash in generated SQL, next-fit as a recursive CTE).

    Scale shape: next-fit is inherently sequential, but only WITHIN a
    bucket, over a SKINNY (id, n_tok) frame — ~12 B/doc, never the
    arrays.  ``applyInPandas`` runs one python loop per bucket
    (~1M docs/s/core; size ``buckets`` so docs/bucket stays ~10^6), then
    the chunk assignment joins back to the arrays with the same
    shuffle_hash discipline as pack_chunks and ONE chunk-keyed exchange
    reassembles.  Docs longer than ``chunk_len`` cannot be packed uncut —
    they are refused loudly (split them upstream with pack_chunks, or
    take the segments of ``engine.decode(..., reassemble=False)`` over a
    split encode; silently truncating a document corrupts training
    data).

    ``skinny`` (optional) supplies the assignment pass its
    ``(id_col, n_tok)`` rows from a cheaper plan than ``df_tokens``
    (same contract as :func:`pack_chunks`: row-aligned, authoritative
    ``n_tok``) — without it, an opaque array-producing stage (decode,
    tokenizer) is re-executed just to read lengths.  ``max_bucket_docs``
    bounds the per-bucket sequential next-fit loop: a pathological id
    distribution (or too few ``buckets`` for the corpus) raises loudly
    instead of serializing one giant task (docs/bucket ~10^6 is the
    sizing guidance — the guard, not a docstring, now enforces the
    order of magnitude).
    """
    if chunk_len <= 0:
        raise ValueError(f"chunk_len must be positive, got {chunk_len}")
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")
    skinny_src = skinny if skinny is not None else df_tokens
    n_tok = (F.coalesce(F.col("n_tok").cast("long"), F.lit(0))
             if "n_tok" in skinny_src.columns
             else F.coalesce(F.size("tokens").cast("long"), F.lit(0)))
    oversize_guard = F.when(
        n_tok > chunk_len,
        F.raise_error(F.lit(
            f"pack_greedy: a document exceeds chunk_len={chunk_len} — "
            "boundary-respecting packing cannot cut it; split oversized "
            "docs upstream"))).otherwise(n_tok)
    null_guard = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"pack_greedy: {id_col} contains NULL — every doc needs an "
            "id"))).otherwise(F.col(id_col))
    skinny = (skinny_src
              .select(null_guard.alias("_id"), oversize_guard.alias("_n"))
              .where(F.col("_n") > 0)
              .withColumn("_bkt", F.pmod(F.xxhash64("_id"),
                                         F.lit(buckets)).cast("int")))

    L = int(chunk_len)
    bucket_cap = int(max_bucket_docs)

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        from .. import native
        if len(pdf) > bucket_cap:
            raise ValueError(
                f"pack_greedy: bucket {int(pdf['_bkt'].iloc[0])} holds "
                f"{len(pdf)} docs > max_bucket_docs={bucket_cap} — the "
                "sequential next-fit task would straggle; raise `buckets` "
                "(docs/bucket ~10^6) or max_bucket_docs")
        pdf = pdf.sort_values("_id", kind="mergesort")
        if pdf["_id"].duplicated().any():
            dup = pdf["_id"][pdf["_id"].duplicated()].iloc[0]
            raise ValueError(
                f"pack_greedy: duplicate {id_col} {dup!r} — one chunk "
                "assignment per doc requires unique ids (duplicates "
                "would cross-multiply at the array join and silently "
                "corrupt chunks)")
        ns = pdf["_n"].to_numpy(dtype="int64")
        chunk = native.next_fit(ns, L)   # C loop: ~100M docs/s/core
        return pd.DataFrame({"_id": pdf["_id"], "_bkt": pdf["_bkt"],
                             "_chunk": chunk})

    id_type = df_tokens.schema[id_col].dataType.simpleString()
    asg = skinny.groupBy("_bkt").applyInPandas(
        assign, schema=f"_id {id_type}, _bkt int, _chunk long")

    # the NULL-id guard must also ride the ARRAY side: the equi-join's
    # inferred isnotnull(_id) can empty this side first, and AQE's
    # empty-relation propagation then skips the skinny branch (and its
    # guard) entirely — a NULL id would silently drop instead of raising
    docs = (df_tokens.select(null_guard.alias("_id"), "tokens")
            .join(asg.hint("shuffle_hash"), "_id"))
    return (docs.groupBy("_bkt", "_chunk")
            .agg(F.flatten(F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("_id").alias("i"),
                             F.col("tokens").alias("t")))),
                lambda x: x.t)).alias("tokens"),
                F.count("*").alias("n_docs"))
            .select(F.col("_bkt").alias("bucket"),
                    F.col("_chunk").alias("chunk_id"), "tokens",
                    F.size("tokens").alias("n_tok"),
                    F.col("n_docs").cast("int").alias("n_docs")))
