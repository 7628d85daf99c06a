"""Driver-facing query surface: every operator from SURVEY.md §2 plus the
training-pipeline operators, each as a (spark, sf_dir) → DataFrame callable
with (where SQL-expressible) a matching DuckDB oracle.

Design note: the oracle checks END-TO-END identity through OUR engine — the
Spark side routes token arrays through encode→(parquet-able binary)→decode
(or compressed-domain kernels), while the oracle recomputes the expected
answer from the raw tables in pure SQL.  Column names and types are aligned
pair-by-pair (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import engine, fixtures, kernels as K, oracles_xxh, strings
from .functions import dedup, similarity, text as textfn


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def tokens_table(spark, sf_dir, table, key, order_col, val_col, source
                 ) -> DataFrame:
    """Group ``table`` by ``key``; tokens = val_col as int32, ordered by
    (order_col, val_col) — the canonical array-building step.

    Shuffle-width discipline (guide §2.3 "narrower types"): the groupBy
    exchange carries the collect_list partial aggregates, so element width
    IS the shuffle width.  The generic shape is a 16-byte
    ``struct(order long, val long)``; when both columns are integral the
    same (order, val) sort key packs losslessly into ONE 8-byte long
    (``order * 2^32 + val`` — ordering preserved for 0 ≤ order < 2^31,
    0 ≤ val < 2^32), and when order_col == val_col the sort key is the
    value itself, carried as a bare 4-byte int.  Both fast paths guard
    their range (and NULLs, which collect_list would otherwise silently
    drop where the struct path kept them) with an in-plan raise, so data
    outside the packable range fails loudly instead of mis-sorting —
    non-integral order columns (timestamps, doubles) keep the struct
    path.  All three paths produce bit-identical arrays: val is cast to
    long then truncated to int32 exactly as before."""
    df = _t(spark, sf_dir, table)
    types = dict(df.dtypes)
    o_int = types.get(order_col) in _INT_TYPES
    v_int = types.get(val_col) in _INT_TYPES
    o, v = F.col(order_col).cast("long"), F.col(val_col).cast("long")
    if o_int and v_int and order_col == val_col:
        bad = v.isNull() | (v < 0) | (v > 0x7FFFFFFF)
        elem = F.when(bad, F.raise_error(F.lit(
            f"tokens_table: {val_col} outside [0, 2^31) int-sort range"))
        ).otherwise(v.cast("int"))
        arr = F.array_sort(F.collect_list(elem))
    elif o_int and v_int:
        bad = (o.isNull() | v.isNull() | (o < 0) | (o > 0x7FFFFFFF)
               | (v < 0) | (v > 0xFFFFFFFF))
        packed = F.when(bad, F.raise_error(F.lit(
            f"tokens_table: ({order_col}, {val_col}) outside the "
            "packed-long sort range"))
        ).otherwise(F.shiftleft(o, 32) + v)
        arr = F.transform(
            F.array_sort(F.collect_list(packed)),
            lambda x: x.bitwiseAND(F.lit(0xFFFFFFFF)).cast("int"))
    else:
        arr = F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col(order_col).alias("o"), v.alias("v")))),
            lambda s: s.v.cast("int"))
    return (df.groupBy(key)
            .agg(arr.alias("tokens"))
            .select(F.col(key).cast("string").alias("doc_id"),
                    "tokens",
                    F.size("tokens").alias("n_tok"),
                    F.lit(source).alias("source")))


def _flatten_batch(batch):
    """(lens, flat uint32 buffer, row starts, int64 doc ids) for an Arrow
    batch with (doc_id, tokens) — zero-copy buffer views via the engine's
    helpers, no per-row Python at all."""
    import pyarrow.compute as pc
    import pyarrow as pa_
    flat_i32, lens = engine._list_to_flat(batch.column(1))
    flat = flat_i32.view(np.uint32)
    starts = np.cumsum(lens) - lens
    uids = pc.cast(batch.column(0), pa_.int64()).to_numpy(
        zero_copy_only=False)
    return lens, flat, starts, uids


def _explode_batch(key_name, uids, lens, starts, vals):
    """(key, pos, tok) Arrow batch from per-row lengths + flat values — the
    vectorized replacement for per-row extend loops."""
    import pyarrow as pa_
    n = int(lens.sum())
    pos = np.arange(n, dtype=np.int64) - np.repeat(starts, lens)
    return pa_.RecordBatch.from_arrays(
        [pa_.array(np.repeat(uids, lens), type=pa_.int64()),
         pa_.array(pos.astype(np.int32), type=pa_.int32()),
         pa_.array(np.ascontiguousarray(vals[:n]).view(np.int32),
                   type=pa_.int32())],
        names=[key_name, "pos", "tok"])


def _seg_cumsum_u32(vals: np.ndarray, lens: np.ndarray,
                    starts: np.ndarray) -> np.ndarray:
    """Per-row prefix sum (mod 2^32) over a flat buffer, vectorized: one
    global cumsum, then subtract each row's incoming offset."""
    cum = np.cumsum(vals.astype(np.uint64))
    nz = lens > 0                   # empty-row starts would index OOB
    base_row = np.zeros(lens.size, np.uint64)
    base_row[nz] = cum[starts[nz]] - vals[starts[nz]].astype(np.uint64)
    return (cum - np.repeat(base_row, lens)).astype(np.uint32)


def _roundtrip_exploded(tok_df: DataFrame, codec: str, key_name: str,
                        salt: bool = False) -> DataFrame:
    """Narrow (zero-shuffle) encode→decode by default — the plan the engine
    ships at 100 TB.  ``salt=True`` keeps gate coverage on the explicit
    salt-repartition + post-shuffle decode path, but salts the ENCODED
    table (engine.salt_encoded): the shuffle moves ~2-16 bits/token of
    compressed bytes instead of raw 32-bit token arrays, which is both the
    plan a real job would run and ~10x less sensitive to the sandbox's
    shuffle-I/O weather (the old pre-encode raw-token salt made this the
    dominant, window-sensitive line of every bench).  The gate decodes
    through the public decoder, ``engine.decode(reassemble=False)`` —
    every document is one segment here — then posexplodes, so it checks
    ``engine.decode`` itself; Catalyst column pruning keeps
    pid/enc_ns/content_hash off the salt exchange."""
    enc = engine.encode(tok_df, codec=codec, split_threshold=None)
    if salt:
        enc = engine.salt_encoded(enc)
    dec = engine.decode(enc, reassemble=False)
    return dec.select(F.col("doc_id").cast("long").alias(key_name),
                      F.posexplode("tokens").alias("pos", "tok"))


_RT_ORACLE = """
SELECT CAST({key} AS BIGINT) AS {key},
       CAST(row_number() OVER (PARTITION BY {key} ORDER BY {order}, {val}) - 1 AS INT) AS pos,
       CAST({val} AS INT) AS tok
FROM {table}
"""


# ---------------------------------------------------------------------------
# block-codec round-trips (reference §2.2-§2.4 + north-rule codecs)
# ---------------------------------------------------------------------------

def q_bitpack_roundtrip(spark, sf_dir):
    """simdpackwithoutmask/simdunpack round-trip (SURVEY §2.2 #9-#10)."""
    tok = tokens_table(spark, sf_dir, "lineitem", "l_orderkey",
                       "l_linenumber", "l_partkey", "lineitem")
    return _roundtrip_exploded(tok, "bitpack", "l_orderkey", salt=True)


def q_for_roundtrip(spark, sf_dir):
    """simdpackFOR/simdunpackFOR round-trip (SURVEY §2.3 #15-#16)."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    return _roundtrip_exploded(tok, "for", "user_id")


def q_d1_roundtrip(spark, sf_dir):
    """simdpackwithoutmaskd1/simdunpackd1 round-trip on sorted runs
    (SURVEY §2.4 #23-#24)."""
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    return _roundtrip_exploded(tok, "d1", "o_custkey")


def q_rle_roundtrip(spark, sf_dir):
    """RLE codec round-trip (north rule, SURVEY §2.6) on run-heavy sorted
    quantities."""
    tok = tokens_table(spark, sf_dir, "lineitem", "l_orderkey",
                       "l_quantity", "l_quantity", "lineitem")
    return _roundtrip_exploded(tok, "rle", "l_orderkey")


def q_dict_roundtrip(spark, sf_dir):
    """Dictionary codec round-trip (north rule, SURVEY §2.6)."""
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderdate", "o_orderkey", "orders")
    return _roundtrip_exploded(tok, "dict", "o_custkey")


def q_auto_roundtrip(spark, sf_dir):
    """Cost-model auto-selector round-trip (north rule): whatever codec the
    selector picks per partition must still decode bit-identically."""
    df = _t(spark, sf_dir, "events")
    # same packed-long sort-key discipline as tokens_table (guide §2.3):
    # (event_id, round(value*100)) packs into one 8-byte long for the
    # collect_list exchange; range/NULL guarded with an in-plan raise
    o = F.col("event_id").cast("long")
    v = F.round(F.col("value") * 100, 0).cast("long")
    bad = (o.isNull() | v.isNull() | (o < 0) | (o > 0x7FFFFFFF)
           | (v < 0) | (v > 0xFFFFFFFF))
    packed = F.when(bad, F.raise_error(F.lit(
        "auto_roundtrip: (event_id, round(value*100)) outside the "
        "packed-long sort range"))).otherwise(F.shiftleft(o, 32) + v)
    arr = F.transform(
        F.array_sort(F.collect_list(packed)),
        lambda x: x.bitwiseAND(F.lit(0xFFFFFFFF)).cast("int"))
    tok = (df.groupBy("user_id").agg(arr.alias("tokens"))
           .select(F.col("user_id").cast("string").alias("doc_id"), "tokens",
                   F.size("tokens").alias("n_tok"), F.lit("ev").alias("source")))
    # salted post-encode: when auto picks different codecs per partition,
    # the shuffled batches interleave them — keeps the mixed-codec decode
    # routing (engine._EncodedBatch.decode) covered by a gate query
    return _roundtrip_exploded(tok, "auto", "user_id", salt=True)


# ---------------------------------------------------------------------------
# analyzers + size formula (reference §2.1, #11)
# ---------------------------------------------------------------------------

def _maxbits_of_widths(enc: DataFrame, key_name: str,
                       out_name: str) -> DataFrame:
    """Per-row max over the encoded per-block widths column — fully
    vectorized: one flat-buffer view + one ``np.maximum.reduceat`` per
    Arrow batch, no Python loop over rows."""
    import pyarrow as pa_
    import pyarrow.compute as pc
    src = enc.selectExpr(*engine.ENCODED_COLS)

    def f(it):
        for batch in it:
            eb = engine._EncodedBatch.from_columns(*batch.columns[2:7])
            wl = eb.widths_lens
            mb = np.zeros(wl.size, dtype=np.int64)
            nz = wl > 0
            if eb.widths.size:
                starts = (np.cumsum(wl) - wl)[nz]
                mb[nz] = np.maximum.reduceat(eb.widths, starts)
            yield pa_.RecordBatch.from_arrays(
                [pc.cast(batch.column(0), pa_.int64()),
                 pa_.array(mb.astype(np.int32), type=pa_.int32())],
                names=[key_name, out_name])

    return src.mapInArrow(f, schema=f"{key_name} long, {out_name} int")


def q_maxbits(spark, sf_dir):
    """maxbits_length (SURVEY §2.1 #2-#3) via the encoded widths column:
    bits(OR of values) == max over per-block widths."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    return _maxbits_of_widths(enc, "user_id", "maxbits")


def q_maxbits_d1(spark, sf_dir):
    """simdmaxbitsd1_length (SURVEY §2.1 #6-#7) via d1 widths."""
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    return _maxbits_of_widths(enc, "o_custkey", "maxbits_d1")


def q_compressed_size(spark, sf_dir):
    """simdpack_compressedbytes (SURVEY §2.2 #11): actual payload bytes of
    the bitpack codec must equal the reference size formula, per row."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    return enc.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("n_tok").cast("int").alias("n_tok"),
                      F.length("payload").cast("long").alias("payload_bytes"))


def q_minmax_decoded(spark, sf_dir):
    """simdmaxmin (SURVEY §2.1 #4-#5) through a full FOR encode→decode."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    dec = engine.decode(engine.encode(tok, codec="for", split_threshold=None),
                        reassemble=False)
    return dec.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.array_min("tokens").cast("int").alias("min_tok"),
                      F.array_max("tokens").cast("int").alias("max_tok"),
                      F.col("n_tok").cast("int").alias("n_tok"))


# ---------------------------------------------------------------------------
# compressed-domain point ops (reference §2.3 #19-20, §2.4 #26)
# ---------------------------------------------------------------------------

def q_select_for(spark, sf_dir):
    """simdselectFOR (SURVEY §2.3 #19): random access into block 0 of the
    FOR-packed stream WITHOUT decoding it — routed through the batched
    engine op (engine.point_lookup → blocks.select_flat, grouped one-block
    probes, no per-row Python)."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="for", split_threshold=None)
    enc = enc.where(F.col("n_tok") > 0).withColumn(
        "lookup_idx", F.least(F.lit(64), F.col("n_tok") - 1).cast("int"))
    out = engine.point_lookup(enc)
    return out.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("idx").cast("int").alias("slot"),
                      F.col("val").cast("int").alias("val"))


def q_point_lookup(spark, sf_dir):
    """Compressed-domain random access across blocks (simdselectFOR +
    zone-map offset math; engine.point_lookup): token at position
    min(200, n-1) of each user's FOR-encoded event stream — block 1+ for
    large groups, never a full decode."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="for", split_threshold=None)
    enc = enc.withColumn("lookup_idx",
                         F.least(F.lit(200), F.col("n_tok") - 1))
    out = engine.point_lookup(enc)
    return out.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("idx").cast("int").alias("idx"),
                      F.col("val").cast("int").alias("val"))


def q_search_d1(spark, sf_dir):
    """simdsearchwithlengthd1 (SURVEY §2.4 #26): lower-bound probe for a
    constant key over d1-packed sorted order keys (block 0; groups ≤128)."""
    KEY = 7500
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    tok = tok.where(F.col("n_tok").between(1, 128))
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    out = engine.search_sorted(enc, KEY)
    return out.select(F.col("doc_id").cast("long").alias("o_custkey"),
                      F.col("n_tok").cast("int").alias("n"),
                      F.col("idx").cast("int").alias("idx"))


def q_search_for(spark, sf_dir):
    """simdsearchwithlengthFOR (SURVEY §2.3 #20, src/simdfor.c:15016-15032,
    exercised by tests/unit.c:775-813): lower-bound probe via select_for
    bisection over FOR-packed sorted order keys (block 0; groups ≤128)."""
    KEY = 7500
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    tok = tok.where(F.col("n_tok").between(1, 128))
    enc = engine.encode(tok, codec="for", split_threshold=None)
    out = engine.search_sorted(enc, KEY)
    return out.select(F.col("doc_id").cast("long").alias("o_custkey"),
                      F.col("n_tok").cast("int").alias("n"),
                      F.col("idx").cast("int").alias("idx"))


def q_masked_pack(spark, sf_dir):
    """simdpack — the MASKED pack variant (SURVEY §2.2 #8,
    src/simdbitpacking.c:14052-14188): values wider than b are truncated to
    their low b bits before packing, so decode returns ``v & (2^b - 1)``."""
    B = 13
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")

    def f(it):
        for batch in it:
            lens, flat, starts, uids = _flatten_batch(batch)
            # ONE masked pack+unpack for the whole batch: the mask
            # round-trip (out == v & (2^B - 1)) is elementwise, so block
            # boundaries shifting across row joins cannot change it
            packed = K.simdpack_length(flat, B, mask=True)
            back = K.simdunpack_length(packed, flat.size, B)
            yield _explode_batch("user_id", uids, lens, starts, back)

    return tok.select("doc_id", "tokens").mapInArrow(
        f, schema="user_id long, pos int, tok int")


def q_avx_roundtrip(spark, sf_dir):
    """AVX2 + AVX-512 block families (SURVEY §2.5 #30-#31): each user's
    event stream, zero-padded to the block size, packed in BOTH the 8-lane
    (256-int) and 16-lane (512-int) wire layouts at the row's maxbits and
    unpacked — both must reproduce the input (identity oracle).  Formats
    are pinned bit-identical to the compiled reference in
    tests/test_avx_golden.py; this query proves them end-to-end on real
    table data."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")

    def f(it):
        for batch in it:
            lens, flat, starts, uids = _flatten_batch(batch)
            # per-row maxbits via one reduceat (rows are non-empty here)
            row_or = np.bitwise_or.reduceat(flat, starts) \
                if flat.size else np.zeros(0, np.uint32)
            row_b = K.bits_u32(row_or)
            out = np.empty_like(flat)
            # group rows by width; per group ONE batched pack+unpack in
            # each lane layout over a zero-padded dense matrix
            for b in np.unique(row_b):
                b = int(b)
                sel = np.nonzero(row_b == b)[0]
                lmax = int(lens[sel].max())
                gpos = K.multi_arange(starts[sel], lens[sel])
                backs = []
                for blk_n, lanes in ((K.AVX_BLOCK, 8), (K.AVX512_BLOCK, 16)):
                    width = -(-lmax // blk_n) * blk_n
                    mat = np.zeros((sel.size, width), dtype=np.uint32)
                    inmask = np.arange(width) < lens[sel][:, None]
                    mat[inmask] = np.take(flat, gpos)
                    if b == 0:
                        back = np.zeros_like(mat)
                    elif b == 32:
                        back = mat.copy()
                    else:
                        blocks3 = np.ascontiguousarray(
                            mat.reshape(-1, blk_n // lanes, lanes))
                        words = K.pack_lanes(blocks3, b)
                        back = K.unpack_lanes(words, blk_n // lanes, b) \
                            .reshape(sel.size, width)
                    backs.append(back[inmask])   # valid region only
                assert (backs[0] == backs[1]).all()
                out[gpos] = backs[0]
            yield _explode_batch("user_id", uids, lens, starts, out)

    return tok.select("doc_id", "tokens").mapInArrow(
        f, schema="user_id long, pos int, tok int")


def _fastset_shim(enc, last_element: bool = False):
    """Shared batched shape of the three fastset gate queries: one
    kernels.fastset_rows in-place write over the batch's concatenated
    payloads (stored value 0 — each variant's semantics reduce to a zero
    delta/offset write), then ONE flat decode for the whole batch.
    Rows are single-block by construction (n_tok ≤ 128).  Arrow-native:
    the encoded columns are read through the engine's encoded-batch view
    (engine._EncodedBatch), no per-row bytes materialization."""
    import pyarrow as pa_
    import pyarrow.compute as pc
    src = enc.selectExpr(*engine.ENCODED_COLS)

    def f(it):
        for batch in it:
            eb = engine._EncodedBatch.from_columns(*batch.columns[2:7])
            n = eb.n_tok
            eb.payload = eb.payload.copy()        # in-place write target
            starts = np.cumsum(eb.payload_lens) - eb.payload_lens
            idxs = (n - 1) if last_element else np.minimum(50, n - 1)
            K.fastset_rows(eb.payload, starts, eb.widths.astype(np.int64),
                           np.zeros(n.size, np.uint64), idxs)
            back, _ = eb.decode()
            uids = pc.cast(batch.column(0), pa_.int64()) \
                .to_numpy(zero_copy_only=False)
            tot = int(n.sum())
            pos = (np.arange(tot, dtype=np.int64)
                   - np.repeat(np.cumsum(n) - n, n)).astype(np.int32)
            yield pa_.RecordBatch.from_arrays(
                [pa_.array(np.repeat(uids, n), type=pa_.int64()),
                 pa_.array(pos, type=pa_.int32()),
                 pa_.array(back[:tot].view(np.int32), type=pa_.int32())],
                names=["o_custkey", "pos", "tok"])

    return src.mapInArrow(f, schema="o_custkey long, pos int, tok int")


def q_fastset(spark, sf_dir):
    """simdfastset (SURVEY §2.2 #14, src/simdbitpacking.c:14338-14368):
    in-place point write into the packed block — set position min(50, n-1)
    to 0, then a full decode must show exactly that one change.  Batched:
    kernels.fastset_rows + one decode_flat per Arrow batch."""
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    tok = tok.where(F.col("n_tok").between(1, 128))
    enc = engine.encode(tok, codec="bitpack", split_threshold=None)
    return _fastset_shim(enc)


def q_search_sorted(spark, sf_dir):
    """Block-skipping lower-bound search over multi-block d1 rows
    (simdsearchd1/simdscand1 lifted to the zone-map level — SURVEY §2.4
    #25/#28): first position with event_id >= 5000 per user's sorted
    stream, probing exactly one block per row."""
    KEY = 5000
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    out = engine.search_sorted(enc, KEY)
    return out.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("n_tok").cast("int").alias("n"),
                      F.col("idx").cast("int").alias("idx"))


def q_fastset_for(spark, sf_dir):
    """simdfastsetFOR (SURVEY §2.3 #21, src/simdfor.c:15197-15200): in-place
    point write into a FOR-packed block — set position min(50, n-1) to the
    block base (the row min for these single-block rows); a full decode must
    show exactly that change."""
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    tok = tok.where(F.col("n_tok").between(1, 128))
    enc = engine.encode(tok, codec="for", split_threshold=None)
    # fastset_for stores value - init; writing the block base is a 0 write
    return _fastset_shim(enc)


def q_masked_d1(spark, sf_dir):
    """simdpackd1 — the MASKED delta pack (SURVEY §2.4 #22,
    src/simdintegratedbitpacking.c:25198): deltas are truncated to b bits
    before packing, so decode returns the prefix sum of (delta mod 2^b)."""
    B = 8
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")

    def f(it):
        for batch in it:
            lens, flat, starts, uids = _flatten_batch(batch)
            # per-row deltas = one global diff + row-start fixup (init 0)
            deltas = np.empty_like(flat)
            if flat.size:
                np.subtract(flat[1:], flat[:-1], out=deltas[1:])
                rs = starts[lens > 0]
                deltas[rs] = np.take(flat, rs)
            # ONE masked pack+unpack (elementwise property, see masked_pack)
            packed = K.simdpack_length(deltas, B, mask=True)
            masked = K.simdunpack_length(packed, flat.size, B)
            back = _seg_cumsum_u32(masked, lens, starts)
            yield _explode_batch("o_custkey", uids, lens, starts, back)

    return tok.select("doc_id", "tokens").mapInArrow(
        f, schema="o_custkey long, pos int, tok int")


def q_fastset_d1(spark, sf_dir):
    """simdfastsetd1 (SURVEY §2.4 #29,
    src/simdintegratedbitpacking.c:25339-25357): in-place point write into a
    d1 block, adjusting the target delta (and the following one when it
    exists).  Setting the LAST element to its predecessor's value makes the
    new delta 0 — always within any width — so the write is exercised on
    every row; the full decode must show exactly that one change."""
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    tok = tok.where(F.col("n_tok").between(1, 128))
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    # setting the LAST element to its predecessor == writing delta 0 at
    # n-1, with no following delta to adjust — a pure fastset_rows write
    return _fastset_shim(enc, last_element=True)


def q_search_sorted_for(spark, sf_dir):
    """Multi-block FOR lower-bound search (engine-level
    simdsearchwithlengthFOR, SURVEY §2.3 #20 across blocks): zone map =
    per-block minima (= block firsts on sorted rows), one block probed per
    row."""
    KEY = 5000
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="for", split_threshold=None)
    out = engine.search_sorted(enc, KEY)
    return out.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("n_tok").cast("int").alias("n"),
                      F.col("idx").cast("int").alias("idx"))


def q_minmax_encoded(spark, sf_dir):
    """Compressed-domain min/max (engine-level simdmaxmin on zone-map
    probes): element 0 and element n-1 of each sorted d1 row via
    single-block selects — no row is ever decoded."""
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    out = engine.minmax_sorted(enc)
    return out.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("min_tok").cast("int").alias("min_tok"),
                      F.col("max_tok").cast("int").alias("max_tok"),
                      F.col("n_tok").cast("int").alias("n_tok"))


def q_range_count(spark, sf_dir):
    """Compressed-domain range count: events per user with id in
    [2000, 6000), answered by two zone-map lower-bound probes per row —
    no decode, one narrow pass.  Runs over a deliberately MIXED-codec
    encoded table (half d1, half FOR, repartitioned so every batch mixes
    both) to keep the post-shuffle per-codec routing covered."""
    LO, HI = 2000, 6000
    tok = tokens_table(spark, sf_dir, "events", "user_id",
                       "event_id", "event_id", "events")
    even = F.xxhash64("doc_id") % 2 == 0
    enc = (engine.encode(tok.where(even), codec="d1", split_threshold=None)
           .unionByName(engine.encode(tok.where(~even), codec="for",
                                      split_threshold=None))
           .repartition(8))
    out = engine.range_count(enc, LO, HI)
    return out.select(F.col("doc_id").cast("long").alias("user_id"),
                      F.col("n_tok").cast("int").alias("n"),
                      F.col("n_in_range").cast("int").alias("n_in_range"))


def q_encoded_dedup(spark, sf_dir):
    """Exact dedup in the COMPRESSED domain (only duplicate candidates
    are decoded, to confirm them), CODEC-INVARIANT: the table is split by
    doc-id hash and the halves encoded with two different codecs
    (duplicate quantity sequences routinely land in both halves), so
    duplicates must collapse ACROSS codecs — the encoder's raw-content
    hash (engine.encoded_dedup) is what makes that exact.  Histogram of
    duplicate-group sizes of per-order sorted quantity sequences; the
    oracle groups the raw arrays, so equality proves exactness."""
    tok = tokens_table(spark, sf_dir, "lineitem", "l_orderkey",
                       "l_quantity", "l_quantity", "lineitem")
    even = F.xxhash64("doc_id") % 2 == 0
    enc = (engine.encode(tok.where(even), codec="bitpack",
                         split_threshold=None)
           .unionByName(engine.encode(tok.where(~even), codec="rle",
                                      split_threshold=None)))
    groups = engine.encoded_dedup(enc)
    return (groups.groupBy("n_docs")
            .agg(F.count("*").alias("n_groups"))
            .select(F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_groups").cast("long").alias("n_groups")))


# ---------------------------------------------------------------------------
# FSST string codec (north rule)
# ---------------------------------------------------------------------------

def q_fsst_roundtrip(spark, sf_dir):
    # one symbol table per PARTITION, not per Arrow batch: the fixture's
    # documents arrive as a single-row-group scan (one partition), and
    # per-batch retraining put ~25 sequential 90 ms pure-Python train()
    # calls on that one core — the gate's subject is the byte-exact
    # round trip (identical under any table), so it trains once and the
    # C encode/decode kernels do the rest.  The drift-tracking per-batch
    # retrain stays the operator default and keeps its pytest coverage.
    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    enc = strings.fsst_encode(df, "text", retrain_batches=1 << 30)
    dec = strings.fsst_decode(enc, "text_fsst", "text")
    return dec.select("doc_id", "text")


# ---------------------------------------------------------------------------
# training-pipeline operators
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", textfn.ws_token_count("text"))


def q_bpe_token_count(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", textfn.bpe_token_count("text"))


def q_stopwords(spark, sf_dir):
    return textfn.stopword_stats(_t(spark, sf_dir, "documents"))


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: documents with doc_id % 97 == 0 play
    the eval suite (probe set); every other document sharing ANY word
    trigram with a probe is flagged with its distinct-hit count.  The
    probe shingle set broadcasts (no corpus shuffle); oracle spells the
    same shingling + join in SQL."""
    docs = _t(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.decontaminate(corpus, probes)


def q_contains_token(spark, sf_dir):
    """Compressed-domain membership predicate over the ENCODED table:
    which docs contain a given token id — per-block zone maps
    (widths+inits, no payload) prescreen, only admitted rows decode
    (engine.contains_token; pruning itself is proven by the
    poisoned-payload pytest).  The probe is the smallest o_orderkey in
    the upper half of the key range, computed identically in the
    oracle."""
    tok_tbl = tokens_table(spark, sf_dir, "orders", "o_custkey",
                           "o_orderkey", "o_orderkey", "orders")
    enc = engine.encode(tok_tbl, codec="auto", split_threshold=None)
    orders = _t(spark, sf_dir, "orders")
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    probe = orders.where(F.col("o_orderkey") >= max_key // 2) \
        .agg(F.min("o_orderkey")).first()[0]
    hits = engine.contains_token(enc, int(probe))
    return hits.select(F.col("doc_id").cast("long").alias("o_custkey")) \
        .distinct()


MIX_RATES = {f"src{i}": (i * 17 + 5) % 100 for i in range(20)}


def q_training_mix(spark, sf_dir):
    """Deterministic training-mix sampling: each source kept at its
    MIX_RATES percent via the content-stable coin
    pmod(xxhash64(doc_id), 100) < rate — a pure rowwise predicate (no
    shuffle, reproducible across runs/engines/partitionings).  Oracle
    replays Spark's XXH64.hashLong in generated DuckDB SQL."""
    from .functions import mix
    return mix.training_mix(_t(spark, sf_dir, "documents"), MIX_RATES) \
        .select("doc_id", "source")


SPLIT_FRACTIONS = {"train": 0.96, "val": 0.03, "test": 0.01}
SHUFFLE_SEED = 20260818


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic seeded global shuffle: the per-doc shuffle key
    (xxhash64(seed, doc_id)) the corpus is range-sorted by — the oracle
    replays the chained XXH64 bit-exactly, pinning the order any engine
    would reproduce.  The sort itself is Spark's distributed range
    exchange (no single-partition stage)."""
    from .functions import mix
    return (mix.corpus_shuffle(_t(spark, sf_dir, "documents"),
                               seed=SHUFFLE_SEED)
            .select("doc_id", "shuffle_key"))


def q_stratified_sample(spark, sf_dir):
    """Seeded exact-k-per-source subset: k smallest docs per source by
    the content-stable hash order, skew-safe via the shuffle-free hash
    prefilter (the window runs on ≈8k rows per source, never the whole
    source); the oracle recomputes the exact per-source top-k."""
    from .functions import mix
    return (mix.stratified_sample(_t(spark, sf_dir, "documents"), k=7,
                                  seed=SHUFFLE_SEED)
            .select("doc_id", "source"))


def q_split_corpus(spark, sf_dir):
    """Hash-based train/val/test assignment (96/3/1): shuffle-free
    rowwise coin, stable under repartitioning and corpus growth; the
    oracle replays the coin and thresholds exactly."""
    from .functions import mix
    return (mix.split_corpus(_t(spark, sf_dir, "documents"),
                             SPLIT_FRACTIONS, seed=SHUFFLE_SEED)
            .select("doc_id", "split"))


def q_line_dedup(spark, sf_dir):
    """C4/RefinedWeb-style line-level boilerplate removal: every doc gets
    a shared footer line and a per-language line appended (the synthetic
    texts are single-line, so the boilerplate is constructed IDENTICALLY
    in the oracle); lines in more than one distinct doc are stripped,
    the rest rejoin in order.  The footer (df = all docs) and every
    multi-doc language line must vanish; each doc's original text
    survives."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("\n", F.col("text"),
                    F.lit("footer: all rights reserved"),
                    F.concat(F.lit("lang: "), F.col("lang")))
        .alias("text"))
    return dedup.line_dedup(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


def q_jsonl_ingest(spark, sf_dir):
    """JSONL source format end-to-end: documents exported as JSON-lines
    (escaping exercises quotes/unicode), re-ingested through the
    schema-enforced PERMISSIVE reader (sources.read_documents_jsonl, no
    schema inference, corrupt-line quarantine empty on clean data), and
    reduced to per-doc token counts — values must match the oracle
    computed straight from the raw table, proving the JSONL round trip
    byte-preserving."""
    import os
    from . import sources
    base = _stream_tmp(sf_dir, "jsonl")
    path = os.path.join(base, "docs.jsonl")
    sources.write_documents_jsonl(_t(spark, sf_dir, "documents"), path)
    # cache: Spark disallows raw-file actions whose plan prunes to only
    # the corrupt-record column (see sources.split_corrupt) — and a
    # downstream .count() on the CLEAN side prunes the projection away,
    # leaving just the corrupt-IS-NULL filter column, which trips the
    # same rule.  So: quarantine-check under a cache, unpersist (don't
    # pin a corpus-sized parse for the rest of the session), and return
    # a plan with NO corrupt reference at all — sound because the check
    # just proved the corrupt side is empty.
    parsed = sources.read_documents_jsonl(spark, path).cache()
    try:
        _, bad = sources.split_corrupt(parsed)
        if bad.count() != 0:
            raise AssertionError("clean corpus produced corrupt records")
    finally:
        parsed.unpersist()
    return (sources.read_documents_jsonl(spark, path)
            .drop(sources._CORRUPT)
            .select("doc_id", textfn.ws_token_count("text"),
                    "lang", "source"))



def _tok_sum():
    """Content checksum: sum of token ids of an array column."""
    return F.expr("aggregate(tokens, CAST(0 AS BIGINT),"
                  " (a, x) -> a + x)").alias("tok_sum")


def _tok_wsum():
    """Order checksum: sum of id * in-array position — any reorder or
    substitution moves it (shared by every chunk/roundtrip gate)."""
    return F.expr("aggregate(zip_with(tokens,"
                  " sequence(0, size(tokens) - 1),"
                  " (t, i) -> CAST(t AS BIGINT) * i),"
                  " CAST(0 AS BIGINT), (a, x) -> a + x)").alias("tok_wsum")


def _engine_roundtrip(toks):
    """Cast a (doc_id, tokens, n_tok) frame to the engine schema and run
    the auto-codec encode -> decode (single segment per doc, so
    reassemble=False is row-for-row)."""
    toks = toks.select(F.col("doc_id").cast("string").alias("doc_id"),
                       "tokens", "n_tok",
                       F.lit("documents").alias("source"))
    enc = engine.encode(toks, codec="auto", split_threshold=None)
    return engine.decode(enc, reassemble=False)


def q_pack_chunks(spark, sf_dir):
    """Sequence packing end-to-end THROUGH the engine: lineitem token
    arrays are encoded (auto codec), decoded, and packed into
    512-token training chunks in doc_id order; the oracle recomputes
    the chunk stream straight from the raw table in pure SQL
    (row_number over the global order // 512).  Per-chunk n_tok +
    order-weighted checksums pin both content and intra-chunk order."""
    from .functions import pack
    tok = tokens_table(spark, sf_dir, "lineitem", "l_orderkey",
                       "l_linenumber", "l_partkey", "lineitem")
    enc = engine.encode(tok, codec="auto", split_threshold=None)
    dec = engine.decode(enc, reassemble=False)
    # skinny offset pass from the RAW table (count(*) per order ==
    # size(tokens) by construction): without it, stage 1 AND the range
    # partitioner's sampling job would each re-run the whole
    # groupBy→encode→decode subtree just to read lengths (guide §2.3) —
    # the opaque decode now executes exactly once, on the array branch
    skinny = (_t(spark, sf_dir, "lineitem")
              .groupBy("l_orderkey")
              .agg(F.count("*").alias("n_tok"))
              .select(F.col("l_orderkey").cast("long").alias("doc_id"),
                      "n_tok"))
    packed = pack.pack_chunks(
        dec.select(F.col("doc_id").cast("long").alias("doc_id"),
                   "tokens"), 512, with_boundaries=True, skinny=skinny)
    return packed.select(
        "chunk_id",
        F.col("n_tok").cast("int").alias("n_tok"),
        _tok_sum(),
        _tok_wsum(),
        F.size("doc_starts").alias("n_docs_started"),
        F.expr("aggregate(doc_starts, CAST(0 AS BIGINT),"
               " (a, x) -> a + x)").alias("starts_sum"))


def q_tokenize(spark, sf_dir):
    """Raw text → token ids → ENGINE round-trip: documents tokenized by
    the greedy longest-match subword tokenizer (Arrow-batched UDF with
    per-batch word memo), encoded with the auto codec, decoded, and
    reduced to per-doc count + order-weighted checksums.  The oracle
    replays the tokenizer exactly with a recursive CTE over the same
    vocabulary — the full text→tokens→encode→decode chain is pinned
    end-to-end."""
    from .functions import tokenize
    dec = _engine_roundtrip(
        tokenize.wordpiece_tokenize(_t(spark, sf_dir, "documents"))
        .where(F.col("n_tok") > 0))
    return dec.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size("tokens").alias("n_tokens"),
        _tok_sum(),
        _tok_wsum())


def q_corpus_build(spark, sf_dir):
    """The FULL corpus-construction pipeline as one gate: raw documents
    → exact dedup (keep lowest doc_id per text) → training-mix rate
    sampling (content-stable hash coin) → subword tokenize → auto-codec
    ENCODE → DECODE → pack into 512-token training chunks.  Every stage
    is an operator with its own oracle-paired gate; this one pins their
    COMPOSITION — the DuckDB oracle replays dedup, mix coin, tokenizer
    recursion, and chunking in a single composed query."""
    from .functions import dedup, mix, pack, tokenize
    docs = _t(spark, sf_dir, "documents")
    kept = dedup.dedup_keep_first(docs)
    mixed = mix.training_mix(kept, MIX_RATES)
    toks = tokenize.wordpiece_tokenize(mixed).where(F.col("n_tok") > 0)
    dec = _engine_roundtrip(toks)
    # skinny offset pass reads lengths from the TOKENIZER output (n_tok
    # is preserved bit-for-bit by the encode→decode round trip), so the
    # offset stage and the range sampler skip the engine round trip —
    # encode+decode now run exactly once, on the array branch
    skinny = toks.select(F.col("doc_id").cast("long").alias("doc_id"),
                         "n_tok")
    packed = pack.pack_chunks(
        dec.select(F.col("doc_id").cast("long").alias("doc_id"),
                   "tokens"), 512, skinny=skinny)
    return packed.select(
        "chunk_id",
        F.col("n_tok").cast("int").alias("n_tok"),
        _tok_sum(),
        _tok_wsum())


def q_pack_greedy(spark, sf_dir):
    """Boundary-respecting greedy packing (no mid-document cuts):
    lineitem token arrays hash-bucketed and NEXT-FIT packed into
    ≤64-token chunks; the oracle replays the bucket hash in generated
    SQL and the next-fit recurrence as a recursive CTE.  Per-chunk
    n_tok/n_docs + content/order checksums pin chunk membership AND
    intra-chunk order."""
    from .functions import pack
    tok = tokens_table(spark, sf_dir, "lineitem", "l_orderkey",
                       "l_linenumber", "l_partkey", "lineitem")
    # skinny assignment pass from the RAW table (count(*) per order ==
    # size(tokens)): the per-bucket next-fit reads lengths only — without
    # this, the whole groupBy+collect_list subtree ran a second time
    # behind the applyInPandas exchange just to size the docs
    skinny = (_t(spark, sf_dir, "lineitem")
              .groupBy("l_orderkey")
              .agg(F.count("*").alias("n_tok"))
              .select(F.col("l_orderkey").cast("long").alias("doc_id"),
                      "n_tok"))
    packed = pack.pack_greedy(
        tok.select(F.col("doc_id").cast("long").alias("doc_id"),
                   "tokens", "n_tok"), 64, buckets=32, skinny=skinny)
    return packed.select(
        "bucket", "chunk_id",
        F.col("n_tok").cast("int").alias("n_tok"), "n_docs",
        _tok_sum(), _tok_wsum())


def q_intersect_postings(spark, sf_dir):
    """Compressed-domain inverted-index intersection (SvS) — the query
    simdcomp's packed search/select symbols exist to serve
    (/root/reference/src/simdpackedsearch.c): posting lists (event_type
    → sorted distinct user_ids) are d1-encoded, then every type pair is
    intersected WITHOUT decompressing the large side — side B decodes
    only blocks whose [init, next-init] zone envelopes admit a probe
    value (payload skipping proven by the poisoned-payload pytest).
    Plan: tiny probe side broadcast, one mapInArrow, no other exchange.
    Oracle: plain self-join on the distinct (type, user) pairs."""
    ev = _t(spark, sf_dir, "events")
    # collect_set folds the old distinct + collect_list into ONE
    # aggregation: per-type distinct user sets in a single exchange
    # instead of two (guide §2.4) — identical sorted posting lists
    posting = (
        ev.select("event_type", F.col("user_id").cast("int").alias("u"))
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_set("u")).alias("tokens")))
    tok = posting.select(
        F.col("event_type").alias("doc_id"), "tokens",
        F.size("tokens").alias("n_tok"), F.lit("events").alias("source"))
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    quint = ["n_tok", "codec", "widths", "inits", "payload"]
    a = enc.select(F.col("doc_id").alias("type_a"),
                   *[F.col(c).alias(f"a_{c}") for c in quint])
    b = enc.select(F.col("doc_id").alias("type_b"),
                   *[F.col(c).alias(f"b_{c}") for c in quint])
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    out = engine.intersect_encoded(pairs, ["type_a", "type_b"])
    return (out.select("type_a", "type_b",
                       F.explode("common").alias("u"))
            .select("type_a", "type_b",
                    F.col("u").cast("long").alias("user_id")))


def q_pack_by_source(spark, sf_dir):
    """Per-domain sequence packing: each group (l_orderkey % 4 as a
    synthetic domain) packs as its own stream — chunks never mix
    domains, each domain's last chunk may be short.  Oracle replays the
    per-group chunking with a partitioned row_number."""
    from .functions import pack
    tok = tokens_table(spark, sf_dir, "lineitem", "l_orderkey",
                       "l_linenumber", "l_partkey", "lineitem")
    tok = tok.withColumn(
        "grp", (F.col("doc_id").cast("long") % 4))
    # raw-table skinny for the offset pass (same discipline as
    # pack_chunks/pack_greedy: count(*) per order == size(tokens))
    skinny = (_t(spark, sf_dir, "lineitem")
              .groupBy("l_orderkey")
              .agg(F.count("*").alias("n_tok"))
              .select(F.col("l_orderkey").cast("long").alias("doc_id"),
                      (F.col("l_orderkey") % 4).alias("grp"), "n_tok"))
    packed = pack.pack_chunks(
        tok.select(F.col("doc_id").cast("long").alias("doc_id"),
                   "tokens", "grp"),
        256, partition_col="grp", skinny=skinny)
    return packed.select(
        F.col("grp").cast("long").alias("grp"), "chunk_id",
        F.col("n_tok").cast("int").alias("n_tok"),
        _tok_sum(),
        _tok_wsum())


def q_pii_scrub(spark, sf_dir):
    """PII redaction gate: emails + long digit runs injected
    deterministically into every doc (the synthetic corpus has none),
    then scrubbed by pure-JVM regexp_replace; the oracle injects and
    scrubs with the identical ASCII-class patterns in DuckDB."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact doc"),
                 F.col("doc_id").cast("string"),
                 F.lit("@example.com ref 123456789012 end"))
        .alias("text"))
    return textfn.pii_scrub(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition measurement: total vs distinct word
    trigrams per doc (integer counts; quality rules threshold the
    ratio)."""
    return textfn.repetition_stats(_t(spark, sf_dir, "documents")) \
        .select(F.col("doc_id").cast("long").alias("doc_id"),
                "n_grams", "n_distinct_grams")


def q_vocab_topk(spark, sf_dir):
    """Corpus-level vocabulary frequency (exact top-100 tokens by count,
    ties by token) — one map-side-combinable shuffle keyed by token;
    the MG-sketch variant (bounded shuffle for unbounded vocabularies)
    is property-tested against this exact path in pytest."""
    return textfn.vocab_topk(_t(spark, sf_dir, "documents"), k=100)


def q_multimodal_features(spark, sf_dir):
    """Multimodal image path end-to-end on REAL PNG bytes: each document's
    UTF-8 bytes become the pixels of an actual 16-wide grayscale PNG
    (multimodal.encode_gray_png — stored zlib blocks, so the file size is
    a pure function of the text length) and the REGISTERED image decoder
    (Pillow when importable, else the stdlib zlib+unfilter PNG decoder)
    decodes it inside extract_features.  n_bytes pins the exact PNG byte
    length, frames pins the decoded pixel count — both recomputed by the
    SQL oracle from octet_length(text) alone; pixel-level content
    correctness is pinned in tests/test_functions.py with known images."""
    from .functions import multimodal as mm

    @F.pandas_udf("binary")
    def to_png(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: mm.encode_gray_png((t or "").encode("utf-8")))

    df = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        to_png("text").alias("payload"),
        F.lit("image/png").alias("mime"),
        F.lit(16).alias("width"), F.lit(0).alias("height"),
        F.lit(0).alias("duration_ms"))
    # resolve the REAL decoder explicitly (not via the mutable module
    # registry, which tests may repoint at the deterministic fake)
    dec = mm.pillow_image_decoder() or mm.stdlib_png_decoder()
    feats = mm.extract_features(df, decoders={"image": dec})
    return feats.select("media_id", "kind", "n_bytes", "frames")


def q_quality(spark, sf_dir):
    return textfn.quality_signals(_t(spark, sf_dir, "documents"))


def q_source_overlap(spark, sf_dir):
    """Cross-SOURCE shingle overlap (mix-design analytics): every doc
    gets a deterministic shared suffix so all sources overlap on its
    shingles plus whatever they share naturally; exact integer counts
    per source pair, replayed verbatim by the oracle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" the shared benchmark suffix sentence"))
        .alias("text"), "source")
    return dedup.source_overlap(docs)


def q_ngram_jaccard(spark, sf_dir):
    # max_df bounds hot-shingle join fan-out (exact over the df≤50 subset;
    # the oracle applies the identical cap)
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"),
                                     k=3, min_pct=15, max_df=50)


def q_ann_topk(spark, sf_dir):
    df = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            df.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return similarity.ann_topk_bruteforce(df, qvec, k=10)


# no-oracle (non-SQL-expressible) operators — driver records rows-only checks
def q_lang_id(spark, sf_dir):
    return textfn.lang_id(_t(spark, sf_dir, "documents"))


def q_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_candidates(_t(spark, sf_dir, "documents"),
                                        num_hashes=16, bands=8)


def q_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"))


def q_simhash_neardup(spark, sf_dir):
    return dedup.simhash_neardup_pairs(_t(spark, sf_dir, "documents"),
                                       max_hamming=3, bands=4)


def q_fingerprint(spark, sf_dir):
    return textfn.fingerprint(_t(spark, sf_dir, "documents"))


def q_ann_lsh(spark, sf_dir):
    df = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            df.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return similarity.ann_topk_lsh(df, qvec, k=10, bits=12, probe_hamming=2)


def q_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN over a prebuilt index: ivf_build writes the table
    partitioned by ivf_cell under the run's own scratch directory (cleared
    first, so every run builds it); the query path reads only the nprobe
    nearest cells — the probe filter is storage-level partition pruning,
    no per-query full-table work."""
    import os
    df = _t(spark, sf_dir, "embeddings")
    path = os.path.join(_stream_tmp(sf_dir, "ivf"), "index")
    similarity.ivf_build(df, path, n_clusters=16)
    qvec = [float(x) for x in
            df.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    # quantify the approximation instead of emitting an unmeasured top-k:
    # recall@10 vs the exact answer rides along as a column, averaged
    # over 16 query vectors (a single query's recall has 0.1 granularity
    # and is mostly noise)
    qrows = df.orderBy("vec_id").limit(16).select("embedding").collect()
    qvecs = [[float(x) for x in r["embedding"]] for r in qrows]
    rec = round(float(similarity.ivf_recall_at_k(
        spark, df, path, qvecs, k=10, nprobe=6)), 4)
    # the fixture's embeddings are near-isotropic, so the number above is
    # honest but weakly informative (recall ≈ scanned fraction however
    # cells are assigned).  A second recall on PLANTED cluster structure
    # (fixtures.clustered_embeddings) rides along: ≥0.9 probing 2/16
    # cells for a working IVF, ≈ nprobe/K for a shuffled cell assignment
    # — this one would FAIL if the quantizer broke.
    cemb = fixtures.clustered_embeddings(
        spark, 4096, n_clusters=16).drop("cluster")
    cpath = path + "_clustered"
    similarity.ivf_build(cemb, cpath, n_clusters=16)
    cqs = [[float(x) for x in r["embedding"]] for r in
           cemb.orderBy("vec_id").limit(16).collect()]
    crec = round(float(similarity.ivf_recall_at_k(
        spark, cemb, cpath, cqs, k=10, nprobe=2)), 4)
    res = similarity.ann_topk_ivf_indexed(spark, path, qvec, k=10, nprobe=6)
    return (res.withColumn("recall_at_10", F.lit(rec))
            .withColumn("recall_clustered_nprobe2", F.lit(crec)))


def q_ann_ivf_exhaustive(spark, sf_dir):
    """IVF plumbing with ``nprobe == n_clusters``: every cell is probed, so
    the result equals exact brute-force top-k STRUCTURALLY (pytest proves
    the same identity at toy scale; this gate proves it on the fixture
    against the SQL oracle) — the quantize/assign/prune/rerank machinery is
    exercised end-to-end with zero recall luck."""
    df = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            df.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return similarity.ann_topk_ivf(df, qvec, k=10, n_clusters=16, nprobe=16)


def q_minhash_verified(spark, sf_dir):
    """Two-stage near-dup: LSH candidates + exact shingle-Jaccard verify on
    only the candidate pairs (the corpus-scale dedup plan)."""
    return dedup.minhash_neardup_pairs(_t(spark, sf_dir, "documents"),
                                       num_hashes=16, bands=8, min_pct=15,
                                       max_bucket=64)


def q_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: banded hyperplane-LSH bucket
    join (vec_id-only shuffle, bucket cap), exact cosine rerank.

    The raw fixture has no pairs above 0.9, so the query PLANTS them
    deterministically: every 25th vector gets a jittered copy (vec_id +
    10^6, x_i + 0.02·sin(vec_id + i)) with cosine ≈ 0.99 to its source —
    a non-vacuous gate that actually exercises recall.  The jitter is
    applied in a select of its own so ``vec_id`` inside the transform
    unambiguously binds the SOURCE id (Spark's lateral-column-alias
    resolution would otherwise capture the shifted alias), keeping the
    plant reproducible by the pure-SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = (emb.where(F.col("vec_id") % 25 == 0)
               .select("vec_id",
                       F.transform(
                           "embedding",
                           lambda x, i: (x + F.lit(0.02) *
                                         F.sin(F.col("vec_id") + i))
                           .cast("float")).alias("embedding"),
                       "label")
               .select((F.col("vec_id") + 1000000).alias("vec_id"),
                       "embedding", "label"))
    return (similarity.cosine_neardup_pairs(
        emb.unionByName(planted), threshold=0.9, bands=6, rbits=6,
        max_bucket=64)
        .select("vec_a", "vec_b",
                F.round("sim", 4).alias("sim")))


def _stream_tmp(sf_dir: str, name: str) -> str:
    import hashlib
    import os
    import shutil
    import tempfile
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(),
                        f"simdcomp_{name}_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    return base


def q_iceberg_roundtrip(spark, sf_dir):
    """The encoded table published as an Iceberg v2 table (iceberg.py:
    version-hint → metadata json → manifest-list avro → manifest avro →
    data files, all written from the public spec), read back through the
    snapshot walk, decoded and exploded — the north rule's 'Iceberg
    tables' storage layer proven byte-preserving end-to-end against the
    SQL oracle."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "iceberg")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    enc = engine.encode(tok, codec="d1", split_threshold=None)
    iceberg.export_encoded(enc, os.path.join(base, "table"))
    back = iceberg.read_table(spark, os.path.join(base, "table"))
    dec = engine.decode(back, reassemble=False)
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_prune(spark, sf_dir):
    """Metadata-level file pruning through Iceberg manifest column bounds
    (spec fields 125/128): orders is published range-clustered on
    o_orderkey, then a range read plans ONLY the overlapping data files
    from the manifest bounds (no data I/O for the rest) and applies the
    exact filter on top.  The query raises if pruning did not actually
    drop files, so the gate cannot pass on a full scan."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icebergprune")
    table = os.path.join(base, "table")
    orders = _t(spark, sf_dir, "orders") \
        .repartitionByRange(8, "o_orderkey") \
        .sortWithinPartitions("o_orderkey")
    iceberg.export_encoded(orders, table)
    # sf-independent range: [max/4, 2*max/5] in integer arithmetic,
    # mirrored exactly in the oracle SQL
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    lo, hi = max_key // 4, (2 * max_key) // 5
    live = iceberg.data_files(table)
    pruned = iceberg.prune_files(table, "o_orderkey", lo, hi)
    if not 0 < len(pruned) < len(live):
        raise AssertionError(
            f"manifest bounds pruned {len(live)}->{len(pruned)} files; "
            "expected a strict reduction")
    return (iceberg.read_table(spark, table,
                               between=("o_orderkey", lo, hi))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


def q_iceberg_partition_prune(spark, sf_dir):
    """All three partition transforms end-to-end — identity, bucket[8]
    (spec murmur3, Appendix-B-pinned), truncate[2] — each on its own
    customer table: manifests carry the transformed partition value per
    file and each probe must STRICTLY reduce the live file set from the
    spec alone before the exact row filter runs (raises otherwise, so
    the gate cannot pass on a full scan).  Identity additionally asserts
    the partition column carries NO manifest bounds (spec-level pruning
    is the only possible source)."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icebergpart")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    parts = []
    for mode, pby, probe in (
            ("identity", "c_mktsegment",
             ("c_mktsegment", "BUILDING", "BUILDING")),
            ("bucket", "bucket(8, c_custkey)", ("c_custkey", 7, 7)),
            ("truncate", "truncate(2, c_mktsegment)",
             ("c_mktsegment", "MACHINERY", "MACHINERY"))):
        table = os.path.join(base, mode)
        meta = iceberg.export_encoded(cust, table, partition_by=pby)
        live = iceberg.data_files(table)
        if mode == "identity":
            seg_fid = next(f["id"] for f in meta["schemas"][0]["fields"]
                           if f["name"] == "c_mktsegment")
            for d in live:
                if seg_fid in {e["key"]
                               for e in (d.get("lower_bounds") or [])}:
                    raise AssertionError(
                        "partition column carries manifest bounds — the "
                        "prune below would not prove spec-level pruning")
        pruned = iceberg.prune_files(table, *probe)
        if not 0 < len(pruned) < len(live):
            raise AssertionError(
                f"{mode}: partition spec pruned {len(live)}->"
                f"{len(pruned)} files; expected a strict reduction")
        parts.append(iceberg.read_table(spark, table, between=probe)
                     .select(F.lit(mode).alias("mode"), "c_custkey",
                             "c_mktsegment", "c_acctbal"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_iceberg_pos_delete(spark, sf_dir):
    """v2 POSITION DELETES end-to-end: orders tokens encoded into an
    Iceberg table, then every doc with custkey % 5 == 2 is deleted via
    iceberg.delete_where — committed as (file, row-ordinal) delete files
    with NO data-file rewrite (asserted: the live data-file set is
    byte-for-byte the pre-delete set), applied by the read-path
    anti-join, while time travel to the pre-delete snapshot still sees
    every row (asserted).  Decode + explode matches the SQL oracle with
    the complementary predicate."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icedel")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    enc = engine.encode(tok, codec="auto", split_threshold=None)
    iceberg.export_encoded(enc, table)
    before = {d["file_path"] for d in iceberg.data_files(table)}
    meta = iceberg.delete_where(
        spark, table, "cast(doc_id as bigint) % 5 = 2")
    if meta is None:
        raise AssertionError("delete predicate matched nothing")
    after = {d["file_path"]
             for d in iceberg.data_files(table, ignore_deletes=True)}
    if after != before:
        raise AssertionError("position delete rewrote data files")
    pre = meta["snapshots"][-2]["snapshot-id"]
    if not (iceberg.read_table(spark, table).count()
            < iceberg.read_table(spark, table, snapshot_id=pre).count()):
        raise AssertionError("time travel does not predate the delete")
    dec = engine.decode(iceberg.read_table(spark, table),
                        reassemble=False)
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_incremental(spark, sf_dir):
    """Incremental snapshot-range consumption: the orders tokens table is
    published in TWO appends (even-custkey docs, then odd), and the query
    decodes ONLY the files added after the first append's snapshot —
    iceberg.read_table(since_snapshot_id=) (a metadata-only cursor walk
    over incremental_files) feeding engine.decode.  This is
    the per-run unit of a recurring 100 TB ingest: run cost scales with
    what LANDED since the saved cursor, not with the table.  Raises if
    the incremental plan failed to skip the first batch's files, so the
    gate cannot pass on a full scan.  Oracle: the second batch spelled
    out over raw orders."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "iceinc")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    even = tok.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = tok.where(F.col("doc_id").cast("long") % 2 == 1)
    iceberg.export_encoded(
        engine.encode(even, codec="d1", split_threshold=None), table)
    cursor = iceberg.snapshots(table)[-1]["snapshot-id"]
    iceberg.append(
        engine.encode(odd, codec="d1", split_threshold=None), table)
    inc = iceberg.incremental_files(table, cursor)
    n_all = len(iceberg.data_files(table))
    if not inc or len(inc) >= n_all:
        raise AssertionError(
            f"incremental plan did not skip the first batch "
            f"({len(inc)} of {n_all} files)")
    dec = engine.decode(
        iceberg.read_table(spark, table, since_snapshot_id=cursor))
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_tag(spark, sf_dir):
    """Named tag refs pin training-run inputs: the even-custkey batch is
    published and tagged 'run-a', the odd batch appended, and
    expire_snapshots(keep_last=1) run — the gate asserts the tag
    PROTECTED its snapshot from expiry (expired == 0) and reads the
    table back through ref='run-a', which must reproduce exactly the
    first batch however many commits follow.  Oracle: the even-custkey
    rows spelled out over raw orders."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icetag")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    even = tok.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = tok.where(F.col("doc_id").cast("long") % 2 == 1)
    iceberg.export_encoded(
        engine.encode(even, codec="d1", split_threshold=None), table)
    iceberg.create_tag(table, "run-a")
    iceberg.append(
        engine.encode(odd, codec="d1", split_threshold=None), table)
    report = iceberg.expire_snapshots(table, keep_last=1)
    if report["expired"] != 0:
        raise AssertionError(
            f"tagged snapshot was expired: {report}")
    back = iceberg.read_table(spark, table, ref="run-a")
    dec = engine.decode(back, reassemble=False)
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_wap(spark, sf_dir):
    """Write-audit-publish: the odd-custkey batch is STAGED on a branch
    (the gate asserts main still serves only the even batch while the
    audit ref already sees both), then fast_forward publishes it in one
    metadata swap and the decode of main must reproduce the full
    table.  Oracle: all orders rows."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icewap")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    even = tok.where(F.col("doc_id").cast("long") % 2 == 0)
    odd = tok.where(F.col("doc_id").cast("long") % 2 == 1)
    iceberg.export_encoded(
        engine.encode(even, codec="d1", split_threshold=None), table)
    n_main = iceberg.read_table(spark, table).count()
    iceberg.create_branch(table, "audit")
    iceberg.append(engine.encode(odd, codec="d1", split_threshold=None),
                   table, branch="audit")
    if iceberg.read_table(spark, table).count() != n_main:
        raise AssertionError("staged append leaked into main")
    if iceberg.read_table(spark, table, ref="audit").count() <= n_main:
        raise AssertionError("audit ref does not see the staged batch")
    iceberg.fast_forward(table, "audit")
    dec = engine.decode(iceberg.read_table(spark, table))
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_maintenance(spark, sf_dir):
    """The full table-maintenance chain is data-preserving: orders tokens
    published in THREE appends (custkey % 3 buckets), then
    rewrite_manifests (one-manifest-per-append chain → 1, asserted),
    expire_snapshots (history trimmed to the rewrite snapshot), and
    remove_orphan_files(age 0) (replaced manifests + expired manifest
    lists swept from metadata/, asserted) — after all of which the
    decode must still match the SQL oracle over raw orders exactly."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icemaint")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    for b in range(3):
        part = tok.where(F.col("doc_id").cast("long") % 3 == b)
        enc = engine.encode(part, codec="d1", split_threshold=None)
        if b == 0:
            iceberg.export_encoded(enc, table)
        else:
            iceberg.append(enc, table)
    res = iceberg.rewrite_manifests(table)
    if res["manifests_before"] != 3 or res["manifests_after"] != 1:
        raise AssertionError(f"rewrite did not consolidate: {res}")
    iceberg.expire_snapshots(table, keep_last=1)
    swept = iceberg.remove_orphan_files(table, older_than_s=0)
    if not any(s.endswith(".avro") for s in swept):
        raise AssertionError("orphan sweep reclaimed no metadata avros")
    dec = engine.decode(iceberg.read_table(spark, table))
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_eq_delete(spark, sf_dir):
    """v2 EQUALITY DELETES end-to-end: orders tokens encoded into an
    Iceberg table, every doc with custkey % 5 == 2 deleted by KEY VALUE
    (iceberg.write_equality_deletes on doc_id — no row coordinates, the
    writer never reads the table) with NO data-file rewrite (asserted),
    then a subset (custkey % 10 == 2) RE-APPENDED — the v2 sequence rule
    says equality deletes apply only to data files with a strictly
    smaller sequence number, so the re-appended docs must survive
    (asserted).  The result is read_table (which anti-joins the
    equality-deleted keys under the sequence rule) → engine.decode, and
    must match the SQL oracle's complementary predicate."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "iceeqdel")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    enc = engine.encode(tok, codec="auto", split_threshold=None)
    iceberg.export_encoded(enc, table)
    before = {d["file_path"] for d in iceberg.data_files(table)}
    keys = tok.where("cast(doc_id as bigint) % 5 = 2").select("doc_id")
    meta = iceberg.write_equality_deletes(spark, table, keys)
    if meta is None:
        raise AssertionError("equality delete matched no keys")
    if {d["file_path"]
            for d in iceberg.data_files(table, ignore_deletes=True)} \
            != before:
        raise AssertionError("equality delete rewrote data files")
    re_tok = tok.where("cast(doc_id as bigint) % 10 = 2")
    iceberg.append(engine.encode(re_tok, codec="auto",
                                 split_threshold=None), table)
    if iceberg.read_table(spark, table).where(
            "cast(doc_id as bigint) % 10 = 2").count() == 0:
        raise AssertionError(
            "sequence rule violated: re-appended docs were deleted")
    dec = engine.decode(iceberg.read_table(spark, table))
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_dedup_delete(spark, sf_dir):
    """Delete-driven document dedup at table granularity
    (engine.dedup_delete_iceberg): the orders tokens table plus a full
    duplicate copy (doc_ids prefixed 'z') is encoded (length-split, so
    docs span multiple segments) and published; dedup groups docs on the
    stamped per-segment content_hash, CONFIRMS candidates on a sha256 of
    the decoded tokens, and deletes every loser via position-delete
    files — no data-file rewrite (asserted).  The surviving table is
    exactly the original corpus (min doc_id wins), proven against the
    SQL oracle over orders alone."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icededup")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    dups = tok.withColumn("doc_id", F.concat(F.lit("z"), "doc_id"))
    enc = engine.encode(tok.unionByName(dups), codec="auto",
                        split_threshold=8)
    iceberg.export_encoded(enc, table)
    before = {d["file_path"] for d in iceberg.data_files(table)}
    meta = engine.dedup_delete_iceberg(spark, table)
    if meta is None:
        raise AssertionError("planted duplicate docs not found")
    if {d["file_path"]
            for d in iceberg.data_files(table, ignore_deletes=True)} \
            != before:
        raise AssertionError("dedup delete rewrote data files")
    dec = engine.decode(iceberg.read_table(spark, table),
                        reassemble=True)
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_iceberg_schema_evolution(spark, sf_dir):
    """Schema evolution end-to-end (iceberg.rename_column /
    promote_column / drop_column / add_column — all metadata-only
    commits resolved through parquet FIELD IDS): customer is published,
    then c_name is RENAMED (old files must serve the renamed column's
    values by id), c_nationkey is PROMOTED int->long (old int32 files
    widen on read), and c_acctbal is DROPPED then RE-ADDED (the fresh
    field id must NOT resurrect the old physical column — all NULL).
    Asserts every evolution left the data files byte-identical, then
    reads the evolved table against the SQL oracle that spells out the
    same semantics over raw customer."""
    import os
    from . import iceberg
    base = _stream_tmp(sf_dir, "icevolve")
    table = os.path.join(base, "table")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_nationkey").cast("int")
        .alias("c_nationkey"), "c_acctbal")
    iceberg.export_encoded(cust, table)
    before = {d["file_path"] for d in iceberg.data_files(table)}
    iceberg.rename_column(table, "c_name", "cust_name")
    iceberg.promote_column(table, "c_nationkey", "long")
    iceberg.drop_column(table, "c_acctbal")
    iceberg.add_column(table, "c_acctbal", "double")
    if {d["file_path"] for d in iceberg.data_files(table)} != before:
        raise AssertionError("schema evolution rewrote data files")
    out = iceberg.read_table(spark, table)
    if dict(out.dtypes)["c_nationkey"] != "bigint":
        raise AssertionError("promotion did not widen the read type")
    return out.select("c_custkey", "cust_name", "c_nationkey",
                      "c_acctbal")


def q_streaming_dedup(spark, sf_dir):
    """Stateful streaming exact dedup (applyInPandasWithState, content-hash
    keyed marker state) driven end-to-end: phase 1 streams the documents
    (prefixed a_), phase 2 RESTARTS the stream from its checkpoint with the
    same texts again (b_, all duplicates — must be suppressed by state
    recovered from the checkpoint) plus modified texts (c_, all new).
    Emits min(doc_id) per distinct text, deterministically."""
    import os
    from . import streaming
    base = _stream_tmp(sf_dir, "sdedup")
    in_dir, out_dir = os.path.join(base, "in"), os.path.join(base, "out")
    docs = _t(spark, sf_dir, "documents")
    p1 = docs.select(
        F.concat(F.lit("a_"), F.col("doc_id").cast("string"))
        .alias("doc_id"), "text")
    p1.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.start_dedup_stream(
        spark, in_dir, out_dir,
        max_files_per_trigger=64).awaitTermination()
    p2 = docs.select(
        F.concat(F.lit("b_"), F.col("doc_id").cast("string"))
        .alias("doc_id"), "text").unionByName(docs.select(
            F.concat(F.lit("c_"), F.col("doc_id").cast("string"))
            .alias("doc_id"),
            F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    p2.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.start_dedup_stream(
        spark, in_dir, out_dir,
        max_files_per_trigger=64).awaitTermination()
    return spark.read.parquet(os.path.join(out_dir, "data")) \
        .select("doc_id", "text")


def q_streaming_encode(spark, sf_dir):
    """Structured-Streaming encode path driven end-to-end: the orders
    tokens table is written to a watched directory,
    `start_encode_stream_iceberg` (foreachBatch → the same engine.encode
    pipeline, one snapshot per micro-batch) consumes it with
    availableNow, and the table is read back through read_table →
    engine.decode(reassemble=False) and exploded — proving the streaming
    sink's bytes decode bit-identically to the batch oracle."""
    import os
    from . import iceberg, streaming
    base = _stream_tmp(sf_dir, "senc")
    in_dir, table = os.path.join(base, "in"), os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    tok.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.start_encode_stream_iceberg(spark, in_dir, table,
                                          codec="d1").awaitTermination()
    dec = engine.decode(iceberg.read_table(spark, table), reassemble=False)
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_streaming_iceberg_ingest(spark, sf_dir):
    """Exactly-once streaming ingest into an Iceberg TABLE: the orders
    tokens are streamed in TWO phases (second phase restarts the stream
    from its checkpoint), each micro-batch committed as one Iceberg
    snapshot stamped with its (query-id, batch-id); a deliberate replay
    of an already-committed batch is asserted in-query to be a no-op
    (no new snapshot).  The final table is read through
    read_table → engine.decode and must match the batch SQL oracle — proving the
    streaming sink, the idempotence guard, and the table stack compose
    bit-identically."""
    import os
    from . import iceberg, streaming
    base = _stream_tmp(sf_dir, "sice")
    in_dir = os.path.join(base, "in")
    table = os.path.join(base, "table")
    tok = tokens_table(spark, sf_dir, "orders", "o_custkey",
                       "o_orderkey", "o_orderkey", "orders")
    p1 = tok.where("cast(doc_id as bigint) % 2 = 0")
    p2 = tok.where("cast(doc_id as bigint) % 2 = 1")
    p1.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.start_encode_stream_iceberg(
        spark, in_dir, table, codec="auto").awaitTermination()
    p2.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.start_encode_stream_iceberg(
        spark, in_dir, table, codec="auto").awaitTermination()
    done, qid = streaming.committed_stream_batches(table)
    if done != {0, 1}:
        raise AssertionError(f"expected batches {{0, 1}}, got {done}")
    n_snaps = len(iceberg.snapshots(table))
    if streaming.commit_encoded_stream_batch(
            p1, 0, table, qid, codec="auto") is not None \
            or len(iceberg.snapshots(table)) != n_snaps:
        raise AssertionError("replayed batch was not a no-op")
    dec = engine.decode(iceberg.read_table(spark, table))
    ex = dec.select(F.col("doc_id").cast("long").alias("o_custkey"),
                    F.posexplode("tokens").alias("pos", "tok"))
    return ex.select("o_custkey", F.col("pos").cast("int").alias("pos"),
                     F.col("tok").cast("int").alias("tok"))


def q_streaming_window(spark, sf_dir):
    """Watermarked event-time windowed aggregation over a file stream of
    the events table: tokens (sum of user_id) and docs per 1-hour window
    per event_type, run with availableNow and a complete-mode memory sink
    so every finalized window is captured deterministically."""
    import os
    import uuid
    from . import streaming
    base = _stream_tmp(sf_dir, "swin")
    in_dir = os.path.join(base, "in")
    ev = _t(spark, sf_dir, "events").select(
        "ts", F.col("event_type").alias("source"),
        F.col("user_id").cast("int").alias("n_tok"))
    ev.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(
        "ts timestamp, source string, n_tok int").parquet(in_dir)
    agg = streaming.windowed_token_rate(stream, "ts", "1 hour", "2 hours")
    name = f"swin_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm").alias("win_start"),
        "source", "tokens", "docs")


def q_fastset_family(spark, sf_dir):
    """All three in-place point-write families in one gate (SURVEY §2.2 #14,
    §2.3 #21, §2.4 #29): simdfastset / simdfastsetFOR / simdfastsetd1, each
    a point write into the packed block followed by a full decode, unioned
    with a ``mode`` discriminator.  Folds the former ``fastset`` /
    ``fastset_for`` / ``fastset_d1`` micro-gates (same oracles, composed) so
    the driver window covers more distinct operators per round."""
    parts = []
    for mode, fn in (("plain", q_fastset), ("for", q_fastset_for),
                     ("d1", q_fastset_d1)):
        parts.append(fn(spark, sf_dir).select(
            F.col("o_custkey").alias("key"), F.lit(mode).alias("mode"),
            "pos", "tok"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_masked_family(spark, sf_dir):
    """Both MASKED pack variants in one gate (SURVEY §2.2 #8, §2.4 #22):
    simdpack truncates values to b bits; simdpackd1 truncates deltas.  Folds
    the former ``masked_pack`` / ``masked_d1`` micro-gates."""
    a = q_masked_pack(spark, sf_dir).select(
        F.col("user_id").alias("key"), F.lit("plain").alias("mode"),
        "pos", "tok")
    b = q_masked_d1(spark, sf_dir).select(
        F.col("o_custkey").alias("key"), F.lit("d1").alias("mode"),
        "pos", "tok")
    return a.unionByName(b)


# Driver-window ordering contract: the correctness driver runs the FIRST 50
# entries of this dict each round.  Order is therefore a verification
# posture, not cosmetics (VERDICT r6 "Next round" #1):
#   1. the 24 gates whose last driver-green row is r5 (they sat out the r6
#      window) come FIRST, so their verification currency refreshes,
#   2. then the 26 gates whose code paths CHANGED in round 7 (tokens_table
#      packed sort key, fused decode-explode, pack skinny frames,
#      whole-file fused-scan units) — all r6-green, re-verified on the
#      new plans,
#   3. the tail (>50) holds only gates with a green CORRECTNESS_r06 row
#      and round-7-untouched query shapes, so r6 ∪ r7 covers all 74.
# COVERAGE.md records per-gate "last driver-green" so window gaps stay
# visible in-repo.
QUERIES = {
    # --- 1. last driver-green r5 (sat out the r6 window) ---
    "vocab_topk": q_vocab_topk,
    "maxbits": q_maxbits,
    "maxbits_d1": q_maxbits_d1,
    "compressed_size": q_compressed_size,
    "minmax_decoded": q_minmax_decoded,
    "minmax_encoded": q_minmax_encoded,
    "select_for": q_select_for,
    "point_lookup": q_point_lookup,
    "search_d1": q_search_d1,
    "search_for": q_search_for,
    "search_sorted": q_search_sorted,
    "search_sorted_for": q_search_sorted_for,
    "range_count": q_range_count,
    "token_count": q_token_count,
    "bpe_token_count": q_bpe_token_count,
    "stopwords": q_stopwords,
    "quality": q_quality,
    "pii_scrub": q_pii_scrub,
    "repetition": q_repetition,
    "jsonl_ingest": q_jsonl_ingest,
    "ngram_jaccard": q_ngram_jaccard,
    "source_overlap": q_source_overlap,
    "ann_topk": q_ann_topk,
    "lang_id": q_lang_id,
    # --- 2. r6-green gates whose code paths changed in round 7 ---
    "bitpack_roundtrip": q_bitpack_roundtrip,
    "for_roundtrip": q_for_roundtrip,
    "d1_roundtrip": q_d1_roundtrip,
    "rle_roundtrip": q_rle_roundtrip,
    "dict_roundtrip": q_dict_roundtrip,
    "auto_roundtrip": q_auto_roundtrip,
    "fsst_roundtrip": q_fsst_roundtrip,
    "tokenize": q_tokenize,
    "corpus_build": q_corpus_build,
    "pack_chunks": q_pack_chunks,
    "pack_by_source": q_pack_by_source,
    "pack_greedy": q_pack_greedy,
    "intersect_postings": q_intersect_postings,
    "masked_family": q_masked_family,
    "fastset_family": q_fastset_family,
    "avx_roundtrip": q_avx_roundtrip,
    "encoded_dedup": q_encoded_dedup,
    "contains_token": q_contains_token,
    # iceberg_dedup_delete (not exact_dedup, whose shape is untouched)
    # sits in the window: its split documents go through the one
    # reassembly plan of decode(reassemble=True)
    "iceberg_dedup_delete": q_iceberg_dedup_delete,
    "iceberg_roundtrip": q_iceberg_roundtrip,
    "iceberg_pos_delete": q_iceberg_pos_delete,
    "iceberg_eq_delete": q_iceberg_eq_delete,
    "iceberg_incremental": q_iceberg_incremental,
    "iceberg_maintenance": q_iceberg_maintenance,
    "streaming_encode": q_streaming_encode,
    "streaming_iceberg_ingest": q_streaming_iceberg_ingest,
    # --- 3. tail (>50): r6-green, query shape untouched in round 7 ---
    "minhash_lsh": q_minhash_lsh,
    "simhash": q_simhash,
    "simhash_neardup": q_simhash_neardup,
    "fingerprint": q_fingerprint,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_exhaustive": q_ann_ivf_exhaustive,
    "minhash_verified": q_minhash_verified,
    "cosine_neardup": q_cosine_neardup,
    "multimodal_features": q_multimodal_features,
    "iceberg_prune": q_iceberg_prune,
    "iceberg_partition_prune": q_iceberg_partition_prune,
    "iceberg_tag": q_iceberg_tag,
    "iceberg_wap": q_iceberg_wap,
    "exact_dedup": q_exact_dedup,
    "iceberg_schema_evolution": q_iceberg_schema_evolution,
    "streaming_dedup": q_streaming_dedup,
    "streaming_window": q_streaming_window,
    "stratified_sample": q_stratified_sample,
    "training_mix": q_training_mix,
    "corpus_shuffle": q_corpus_shuffle,
    "split_corpus": q_split_corpus,
    "line_dedup": q_line_dedup,
    "decontaminate": q_decontaminate,
}

_SIZE_FORMULA = ("CASE WHEN w = 0 THEN 0 WHEN w = 32 THEN n * 4 "
                 "ELSE ((((n + 3) // 4) * w + 31) // 32) * 16 END")

ORACLES = {
    "bitpack_roundtrip": _RT_ORACLE.format(
        key="l_orderkey", order="l_linenumber", val="l_partkey",
        table="lineitem"),
    "for_roundtrip": _RT_ORACLE.format(
        key="user_id", order="event_id", val="event_id", table="events"),
    "d1_roundtrip": _RT_ORACLE.format(
        key="o_custkey", order="o_orderkey", val="o_orderkey", table="orders"),
    "rle_roundtrip": _RT_ORACLE.format(
        key="l_orderkey", order="l_quantity", val="l_quantity",
        table="lineitem"),
    "dict_roundtrip": _RT_ORACLE.format(
        key="o_custkey", order="o_orderdate", val="o_orderkey",
        table="orders"),
    "auto_roundtrip": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY event_id, CAST(round(value * 100, 0) AS BIGINT)) - 1 AS INT) AS pos,
       CAST(round(value * 100, 0) AS INT) AS tok
FROM events
""",
    "maxbits": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(CASE WHEN bit_or(event_id) = 0 THEN 0
            ELSE length(bin(bit_or(event_id))) END AS INT) AS maxbits
FROM events GROUP BY user_id
""",
    "maxbits_d1": """
WITH t AS (
  SELECT o_custkey,
         o_orderkey - lag(o_orderkey, 1, 0)
             OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS d
  FROM orders)
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(CASE WHEN bit_or(d) = 0 THEN 0
            ELSE length(bin(bit_or(d))) END AS INT) AS maxbits_d1
FROM t GROUP BY o_custkey
""",
    "compressed_size": f"""
WITH t AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn
  FROM events),
b AS (
  SELECT user_id, rn // 128 AS blk, CAST(count(*) AS BIGINT) AS n,
         CASE WHEN bit_or(event_id) = 0 THEN 0
              ELSE length(bin(bit_or(event_id))) END AS w
  FROM t GROUP BY user_id, rn // 128)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(sum(n) AS INT) AS n_tok,
       CAST(sum({_SIZE_FORMULA}) AS BIGINT) AS payload_bytes
FROM b GROUP BY user_id
""",
    "minmax_decoded": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(min(event_id) AS INT) AS min_tok,
       CAST(max(event_id) AS INT) AS max_tok,
       CAST(count(*) AS INT) AS n_tok
FROM events GROUP BY user_id
""",
    "minmax_encoded": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(min(event_id) AS INT) AS min_tok,
       CAST(max(event_id) AS INT) AS max_tok,
       CAST(count(*) AS INT) AS n_tok
FROM events GROUP BY user_id
""",
    "select_for": """
WITH t AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY user_id) AS c
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(LEAST(c - 1, 64) AS INT) AS slot,
       CAST(event_id AS INT) AS val
FROM t WHERE rn = LEAST(c - 1, 64)
""",
    "point_lookup": """
WITH t AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS rn,
         count(*) OVER (PARTITION BY user_id) AS c
  FROM events)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(LEAST(200, c - 1) AS INT) AS idx,
       CAST(event_id AS INT) AS val
FROM t WHERE rn = LEAST(200, c - 1)
""",
    "search_d1": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(count(*) AS INT) AS n,
       CAST(count(*) FILTER (WHERE o_orderkey < 7500) AS INT) AS idx
FROM orders GROUP BY o_custkey HAVING count(*) BETWEEN 1 AND 128
""",
    "search_for": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(count(*) AS INT) AS n,
       CAST(count(*) FILTER (WHERE o_orderkey < 7500) AS INT) AS idx
FROM orders GROUP BY o_custkey HAVING count(*) BETWEEN 1 AND 128
""",
    "avx_roundtrip": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY event_id, event_id) - 1 AS INT) AS pos,
       CAST(event_id AS INT) AS tok
FROM events
""",
    "masked_family": """
SELECT CAST(user_id AS BIGINT) AS key, 'plain' AS mode,
       CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY event_id, event_id) - 1 AS INT) AS pos,
       CAST(event_id % 8192 AS INT) AS tok
FROM events
UNION ALL
SELECT * FROM (
  WITH t AS (
    SELECT o_custkey,
           row_number() OVER w - 1 AS pos,
           (o_orderkey - lag(o_orderkey, 1, 0) OVER w) % 256 AS dm
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey))
  SELECT CAST(o_custkey AS BIGINT) AS key, 'd1' AS mode,
         CAST(pos AS INT) AS pos,
         CAST(sum(dm) OVER (PARTITION BY o_custkey ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS INT) AS tok
  FROM t)
""",
    "fastset_family": """
WITH t AS (
  SELECT o_custkey, o_orderkey,
         row_number() OVER w - 1 AS pos,
         count(*) OVER (PARTITION BY o_custkey) AS c,
         min(o_orderkey) OVER (PARTITION BY o_custkey) AS mn,
         lag(o_orderkey, 1, 0) OVER w AS prev
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey, o_orderkey))
SELECT CAST(o_custkey AS BIGINT) AS key, 'plain' AS mode,
       CAST(pos AS INT) AS pos,
       CAST(CASE WHEN pos = LEAST(50, c - 1) THEN 0
            ELSE o_orderkey END AS INT) AS tok
FROM t WHERE c BETWEEN 1 AND 128
UNION ALL
SELECT CAST(o_custkey AS BIGINT) AS key, 'for' AS mode,
       CAST(pos AS INT) AS pos,
       CAST(CASE WHEN pos = LEAST(50, c - 1) THEN mn
            ELSE o_orderkey END AS INT) AS tok
FROM t WHERE c BETWEEN 1 AND 128
UNION ALL
SELECT CAST(o_custkey AS BIGINT) AS key, 'd1' AS mode,
       CAST(pos AS INT) AS pos,
       CAST(CASE WHEN pos = c - 1 THEN prev ELSE o_orderkey END AS INT) AS tok
FROM t WHERE c BETWEEN 1 AND 128
""",
    "search_sorted": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS INT) AS n,
       CAST(count(*) FILTER (WHERE event_id < 5000) AS INT) AS idx
FROM events GROUP BY user_id
""",
    "search_sorted_for": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS INT) AS n,
       CAST(count(*) FILTER (WHERE event_id < 5000) AS INT) AS idx
FROM events GROUP BY user_id
""",
    "range_count": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) AS INT) AS n,
       CAST(count(*) FILTER (WHERE event_id >= 2000 AND event_id < 6000)
            AS INT) AS n_in_range
FROM events GROUP BY user_id
""",
    "encoded_dedup": """
WITH arrs AS (
  SELECT l_orderkey,
         list(CAST(l_quantity AS INT) ORDER BY l_quantity, l_quantity) AS arr
  FROM lineitem GROUP BY l_orderkey),
g AS (SELECT arr, CAST(count(*) AS BIGINT) AS n_docs FROM arrs GROUP BY arr)
SELECT n_docs, CAST(count(*) AS BIGINT) AS n_groups FROM g GROUP BY n_docs
""",
    "fsst_roundtrip": "SELECT doc_id, text FROM documents",
    "exact_dedup": """
SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM documents GROUP BY md5(text)
""",
    "token_count": """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens
FROM documents
""",
    "vocab_topk": """
SELECT token, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM documents) t
GROUP BY token
ORDER BY cnt DESC, token
LIMIT 100
""",
    "jsonl_ingest": """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       lang, source
FROM documents
""",
    "pack_chunks": """
WITH t AS (
  SELECT CAST(l_partkey AS BIGINT) AS tok,
         row_number() OVER (
             ORDER BY l_orderkey, l_linenumber, l_partkey) - 1 AS gp
  FROM lineitem),
chunks AS (
  SELECT CAST(gp // 512 AS BIGINT) AS chunk_id,
         CAST(count(*) AS INT) AS n_tok,
         CAST(sum(tok) AS BIGINT) AS tok_sum,
         CAST(sum(tok * (gp % 512)) AS BIGINT) AS tok_wsum
  FROM t GROUP BY gp // 512),
doc_starts AS (
  SELECT CAST(s // 512 AS BIGINT) AS chunk_id,
         CAST(count(*) AS INT) AS n_docs_started,
         CAST(sum(s % 512) AS BIGINT) AS starts_sum
  FROM (SELECT sum(n) OVER (ORDER BY doc) - n AS s
        FROM (SELECT l_orderkey AS doc, count(*) AS n
              FROM lineitem GROUP BY l_orderkey))
  GROUP BY s // 512)
SELECT c.chunk_id, c.n_tok, c.tok_sum, c.tok_wsum,
       CAST(coalesce(d.n_docs_started, 0) AS INT) AS n_docs_started,
       CAST(coalesce(d.starts_sum, 0) AS BIGINT) AS starts_sum
FROM chunks c LEFT JOIN doc_starts d USING (chunk_id)
""",
    "pack_by_source": """
WITH t AS (
  SELECT CAST(l_orderkey % 4 AS BIGINT) AS grp,
         CAST(l_partkey AS BIGINT) AS tok,
         row_number() OVER (PARTITION BY l_orderkey % 4
             ORDER BY l_orderkey, l_linenumber, l_partkey) - 1 AS gp
  FROM lineitem)
SELECT grp,
       CAST(gp // 256 AS BIGINT) AS chunk_id,
       CAST(count(*) AS INT) AS n_tok,
       CAST(sum(tok) AS BIGINT) AS tok_sum,
       CAST(sum(tok * (gp % 256)) AS BIGINT) AS tok_wsum
FROM t GROUP BY grp, gp // 256
""",
    "pii_scrub": r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       regexp_replace(
         regexp_replace(
           text || ' contact doc' || CAST(doc_id AS VARCHAR)
                || '@example.com ref 123456789012 end',
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
           '<EMAIL>', 'g'),
         '[0-9]{9,}', '<NUM>', 'g') AS text
FROM documents
""",
    "repetition": """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(generate_series(1, len(w) - 2),
                                  i -> array_to_string(w[i:i+2], ' '))
              ELSE [array_to_string(w, ' ')] END AS g
  FROM words)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(g) AS INT) AS n_grams,
       CAST(len(list_distinct(g)) AS INT) AS n_distinct_grams
FROM grams
""",
    "line_dedup": """
WITH docs AS (
  SELECT doc_id,
         text || chr(10) || 'footer: all rights reserved' ||
         chr(10) || 'lang: ' || lang AS text
  FROM documents),
lines AS (
  SELECT doc_id, i AS pos, l[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM docs),
       LATERAL (SELECT unnest(generate_series(1, len(l))) AS i)),
hot AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
  GROUP BY line HAVING COUNT(*) > 1),
kept AS (
  SELECT doc_id, pos, line FROM lines
  WHERE line NOT IN (SELECT line FROM hot))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       string_agg(line, chr(10) ORDER BY pos) AS text
FROM kept GROUP BY doc_id
""",
    "intersect_postings": """
WITH p AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(a.user_id AS BIGINT) AS user_id
FROM p a JOIN p b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
""",
    "contains_token": """
WITH tok AS (
  SELECT MIN(o_orderkey) AS t FROM orders
  WHERE o_orderkey >= (SELECT MAX(o_orderkey) FROM orders) // 2)
SELECT DISTINCT CAST(o_custkey AS BIGINT) AS o_custkey
FROM orders, tok
WHERE o_orderkey = tok.t
""",
    "decontaminate": """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
              ELSE array_to_string(w, ' ') END AS sh
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i)),
probe AS (SELECT DISTINCT sh FROM sh_all WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, sh FROM sh_all WHERE doc_id % 97 <> 0)
SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM corpus JOIN probe USING (sh)
GROUP BY corpus.doc_id
""",
    "bpe_token_count": r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens
FROM documents
""",
    "stopwords": """
SELECT doc_id,
       CAST(len(string_split(lower(text), ' ')) AS INT) AS n_words,
       CAST(len(list_filter(string_split(lower(text), ' '),
            x -> x IN ('the','and','of','to','in','is','it','for','with',
                       'on','that','this','was','are','be','as','at','by',
                       'from','not','have','has','but','they','you')))
            AS INT) AS n_stop
FROM documents
""",
    "multimodal_features": """
WITH g AS (
  SELECT doc_id,
         GREATEST(1, CAST(CEIL(octet_length(encode(text)) / 16.0)
                     AS BIGINT)) AS h
  FROM documents),
s AS (SELECT doc_id, h, h * 17 AS raw FROM g)
SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS kind,
       -- 57 fixed bytes (sig + IHDR + IDAT/IEND framing) + stored-zlib
       -- stream: 2 hdr + 5 per stored block + raw + 4 adler
       CAST(57 + 2 + 5 * CAST(CEIL(raw / 65535.0) AS BIGINT) + raw + 4
            AS BIGINT) AS n_bytes,
       CAST(16 * h AS INT) AS frames
FROM s
""",
    "quality": """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_q,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
       CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INT) AS n_upper
FROM documents
""",
    "source_overlap": """
WITH docs AS (
  SELECT source, coalesce(text, '')
             || ' the shared benchmark suffix sentence' AS text
  FROM documents),
words AS (SELECT source, string_split(text, ' ') AS w FROM docs),
sh AS (
  SELECT DISTINCT source AS src,
         CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
              ELSE array_to_string(w, ' ') END AS sh
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i)),
sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY src),
pairs AS (
  SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b USING (sh)
  WHERE a.src < b.src
  GROUP BY a.src, b.src)
SELECT src_a, src_b, inter, na.n AS n_a, nb.n AS n_b
FROM pairs
JOIN sizes na ON na.src = src_a
JOIN sizes nb ON nb.src = src_b
""",
    "ngram_jaccard": """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
              ELSE array_to_string(w, ' ') END AS sh
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i)),
keep AS (SELECT sh FROM sh_all GROUP BY sh HAVING count(*) <= 50),
sh AS (SELECT s.doc_id, s.sh FROM sh_all s JOIN keep USING (sh)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, inter,
       sa.sz + sb.sz - inter AS union_sz
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 100 >= 15 * (sa.sz + sb.sz - inter)
""",
    "ann_topk": """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qe AS DOUBLE[])) AS sim
  FROM embeddings e, q),
r AS (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM s)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
    "streaming_dedup": """
SELECT min('a_' || CAST(doc_id AS VARCHAR)) AS doc_id, text
FROM documents GROUP BY text
UNION ALL
SELECT min('c_' || CAST(doc_id AS VARCHAR)) AS doc_id,
       text || ' v2' AS text
FROM documents GROUP BY text
""",
    "iceberg_prune": """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey BETWEEN (SELECT MAX(o_orderkey) // 4 FROM orders)
                     AND (SELECT (2 * MAX(o_orderkey)) // 5 FROM orders)
""",
    "iceberg_partition_prune": """
SELECT 'identity' AS mode, c_custkey, c_mktsegment, c_acctbal
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT 'bucket' AS mode, c_custkey, c_mktsegment, c_acctbal
FROM customer WHERE c_custkey = 7
UNION ALL
SELECT 'truncate' AS mode, c_custkey, c_mktsegment, c_acctbal
FROM customer WHERE c_mktsegment = 'MACHINERY'
""",
    "iceberg_roundtrip": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
""",
    "iceberg_incremental": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
WHERE o_custkey % 2 = 1
""",
    "iceberg_tag": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
WHERE o_custkey % 2 = 0
""",
    "iceberg_wap": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
""",
    "iceberg_maintenance": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
""",
    "iceberg_pos_delete": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
WHERE CAST(o_custkey AS BIGINT) % 5 <> 2
""",
    "iceberg_eq_delete": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
WHERE CAST(o_custkey AS BIGINT) % 5 <> 2
   OR CAST(o_custkey AS BIGINT) % 10 = 2
""",
    "iceberg_schema_evolution": """
SELECT c_custkey,
       c_name AS cust_name,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(NULL AS DOUBLE) AS c_acctbal
FROM customer
""",
    "iceberg_dedup_delete": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
""",
    "streaming_encode": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
""",
    "streaming_iceberg_ingest": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderkey, o_orderkey) - 1 AS INT) AS pos,
       CAST(o_orderkey AS INT) AS tok
FROM orders
""",
    "streaming_window": """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M') AS win_start,
       event_type AS source,
       CAST(sum(user_id) AS BIGINT) AS tokens,
       CAST(count(*) AS BIGINT) AS docs
FROM events GROUP BY 1, 2
""",
    # cosine_neardup: exact all-pairs cosine over the fixture plus the SAME
    # deterministically planted jittered copies the Spark query creates.
    # Pairing the banded-LSH pipeline against the exhaustive answer asserts
    # 100% recall AND precision at gate scale (planted pairs sit at ~0.994,
    # where 6x6-bit banded recall is 1 - (1-p^6)^6 ≈ 0.9999).
    "cosine_neardup": """
WITH planted AS (
  SELECT e.vec_id + 1000000 AS pid,
         list_transform(generate_series(0, len(e.embedding) - 1),
            i -> CAST(e.embedding[i + 1] + 0.02 * sin(e.vec_id + i) AS FLOAT)) AS emb
  FROM embeddings e WHERE e.vec_id % 25 = 0),
allv AS (
  SELECT vec_id, embedding AS emb FROM embeddings
  UNION ALL SELECT pid AS vec_id, emb FROM planted),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_cosine_similarity(CAST(a.emb AS DOUBLE[]),
                                CAST(b.emb AS DOUBLE[])) AS sim
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, round(sim, 4) AS sim FROM pairs WHERE sim >= 0.9
""",
    # minhash_verified: the two-stage LSH+verify pipeline against the
    # EXHAUSTIVE exact-Jaccard answer (threshold 15%, no df cap) — equality
    # asserts the LSH candidate stage achieved 100% recall on the fixture's
    # true near-dup pairs (precision is structural: the verify stage is
    # exact).
    "minhash_verified": """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
              ELSE array_to_string(w, ' ') END AS sh
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, inter, sa.sz + sb.sz - inter AS union_sz
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 100 >= 15 * (sa.sz + sb.sz - inter)
""",
    # ann_ivf_exhaustive: nprobe == n_clusters probes every cell, so the
    # IVF machinery must reproduce exact top-k STRUCTURALLY — the oracle is
    # plain exhaustive cosine top-k (same SQL as ann_topk).
    "ann_ivf_exhaustive": """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(q.qe AS DOUBLE[])) AS sim
  FROM embeddings e, q),
r AS (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM s)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
}


def _fmt_vec(v) -> str:
    """Full-precision SQL list literal (repr round-trips doubles)."""
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _ann_lsh_oracle(dim: int = 64, bits: int = 12, probe_hamming: int = 2,
                    k: int = 10, seed: int = 7) -> str:
    """Full SQL replication of ``ann_topk_lsh`` with the SAME hyperplanes
    inlined as literals: signature computation, hamming-ball bucket filter,
    exact rerank, top-k.  The oracle mirrors the approximate pipeline
    structurally, so the gate holds for WHATEVER recall the signature
    filter achieves — no data luck involved (unlike pairing against
    exhaustive top-k, which would depend on the filter recalling 10/10)."""
    planes = similarity._hyperplanes(dim, bits, seed)

    def sig(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_inner_product({col}, {_fmt_vec(planes[i])}) > 0"
            f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits))

    return f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id = 0),
qs AS (SELECT ({sig('qe')}) AS qsig FROM q),
sigs AS (
  SELECT vec_id, emb, ({sig('emb')}) AS sig
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)),
cand AS (
  SELECT s.vec_id, list_cosine_similarity(s.emb, q.qe) AS sim
  FROM sigs s, qs, q
  WHERE bit_count(xor(s.sig, qs.qsig)) <= {probe_hamming}),
r AS (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
      FROM cand)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}
"""


def _lang_id_oracle() -> str:
    """Full SQL replication of :func:`text.lang_id`: occurrence-weighted
    stopword voting (list_max over (score, lang) structs == Spark's
    array_max tie-break) with dominant-Unicode-script override applied in
    the same first-match-wins order."""
    structs = []
    for lang, sw in textfn._STOPWORDS.items():
        inlist = ", ".join("'" + w + "'" for w in sw)
        structs.append(
            "{'score': CAST(len(list_filter(string_split(lower(text), ' '),"
            f" x -> x IN ({inlist}))) AS INT), 'lang': '{lang}'}}")
    best = "list_max([" + ", ".join(structs) + "])"
    clauses = " ".join(
        f"WHEN length(text) - length(regexp_replace(text, '{pattern}', '', 'g'))"
        f" > GREATEST(length(text), 1) * {frac} THEN '{lang}'"
        for lang, pattern, frac in textfn._SCRIPTS)
    return f"""
SELECT doc_id,
       CASE {clauses}
            WHEN ({best}).score > 0 THEN ({best}).lang
            ELSE 'und' END AS lang_pred
FROM documents
"""


ORACLES["ann_lsh"] = _ann_lsh_oracle()
ORACLES["lang_id"] = _lang_id_oracle()

# the hash-seeded operators, previously rows-only: their pipelines build on
# Spark's xxhash64, which oracles_xxh replicates bit-exactly in generated
# DuckDB SQL (HUGEINT mod-2^64 arithmetic; pinned against Spark in
# tests/test_oracles_xxh.py).  simhash/fingerprint are full replications;
# simhash_neardup's oracle is the EXHAUSTIVE hamming≤3 answer (the banded
# Spark plan equals it structurally: pigeonhole recall for
# max_hamming ≤ bands-1 + exact bit_count verify); minhash_lsh is a full
# replication of the banded bucket join.
ORACLES["training_mix"] = oracles_xxh.training_mix_oracle(MIX_RATES)


def _tokenize_oracle() -> str:
    from .functions import tokenize
    return tokenize.tokenize_oracle_sql("documents")


def _corpus_build_oracle() -> str:
    """Compose the stage oracles: dedup keep-min-doc-per-text, the mix
    coin (training_mix_oracle restricted to kept docs), the tokenizer
    recursion over the surviving corpus, then global 512-chunking."""
    from .functions import tokenize
    mix_sql = oracles_xxh.training_mix_oracle(MIX_RATES)
    return f"""
WITH RECURSIVE
keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
mixsel AS (SELECT doc_id FROM ({mix_sql})),
corpus AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN keep USING (doc_id) JOIN mixsel USING (doc_id)),
{tokenize.tokenize_oracle_ctes("corpus")},
toks AS (
  SELECT CAST(tid AS BIGINT) AS tid,
         row_number() OVER (ORDER BY doc_id, wi, ord) - 1 AS gp
  FROM step WHERE tid IS NOT NULL)
SELECT CAST(gp // 512 AS BIGINT) AS chunk_id,
       CAST(count(*) AS INT) AS n_tok,
       CAST(sum(tid) AS BIGINT) AS tok_sum,
       CAST(sum(tid * (gp % 512)) AS BIGINT) AS tok_wsum
FROM toks GROUP BY gp // 512
"""


ORACLES["pack_greedy"] = oracles_xxh.pack_greedy_oracle(64, 32)
ORACLES["tokenize"] = _tokenize_oracle()
ORACLES["corpus_build"] = _corpus_build_oracle()
ORACLES["corpus_shuffle"] = oracles_xxh.corpus_shuffle_oracle(SHUFFLE_SEED)
ORACLES["stratified_sample"] = oracles_xxh.stratified_sample_oracle(
    SHUFFLE_SEED, 7)
ORACLES["split_corpus"] = oracles_xxh.split_corpus_oracle(
    SHUFFLE_SEED,
    [("train", 9600), ("val", 9900), ("test", 10000)], 10000)
ORACLES["simhash"] = oracles_xxh.simhash_oracle()
ORACLES["simhash_neardup"] = oracles_xxh.simhash_neardup_oracle()
ORACLES["fingerprint"] = oracles_xxh.fingerprint_oracle()
ORACLES["minhash_lsh"] = oracles_xxh.minhash_lsh_oracle()
