"""Batched multi-row block codec: ragged rows of uint32 tokens ⇄ per-row
(widths, inits, payload) triples in the simdcomp wire format.

This is the layer between the Arrow batch a Spark UDF receives and the
kernels that pack and unpack blocks.  Design:

* every row is segmented into full 128-int blocks + one short tail block,
  exactly like ``simdpack_length`` (/root/reference/src/simdbitpacking.c:14379);
* each block gets its own width ``b`` (the reference's per-block ``maxbits``
  adaptive width, /root/reference/example.c:143-145) stored as one uint8 in a
  per-row ``widths`` binary column — Spark columns replace the demo format's
  1-byte stream header (/root/reference/example.c:68);
* FOR blocks store a per-block uint32 base (block min, as in
  /root/reference/tests/unit.c:659-666); d1 blocks store the per-block chain
  init (previous element), making every block independently decodable — the
  reference chains offsets sequentially (/root/reference/example.c:71), we
  trade 4 bytes/block for embarrassing parallelism (SURVEY.md §3.2);
* encode and decode run the fused C kernels of :mod:`simdcomp_spark.native`
  (analyze, pack, unpack) over the whole batch — no per-row numpy calls,
  no per-value Python; only the point ops below decode through grouped
  (block length, width) numpy matrices, because they touch one block per
  row;
* the native interface is FLAT (one values buffer + row lengths, one payload
  buffer + row payload lengths) so the Spark ``mapInArrow`` path moves
  Arrow list/binary columns in and out with zero per-row materialization.

Wire-format invariants (verified bit-identical in tests/test_kernels.py):
full blocks match ``simdpackwithoutmask``/``simdpackFOR``/
``simdpackwithoutmaskd1``; tails match ``simdpack_shortlength`` semantics
(d1 tails are an engine extension: short-layout over deltas).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from . import kernels as K, native

U32 = np.uint32
MODES = ("plain", "for", "d1")


@dataclass
class EncodedFlat:
    """Flat encode result for a batch of rows, in (row, block-seq) order."""
    nblocks: np.ndarray       # int64 per row
    widths: np.ndarray        # uint8 per block
    inits: np.ndarray         # uint32 per block ('' families: size 0)
    payload: np.ndarray       # uint8, concatenated per-block packed bytes
    payload_lens: np.ndarray  # int64 per row


def _block_table(lens: np.ndarray):
    """Vectorized block table for a batch of row lengths.

    Returns (row_id, blk_start_in_flat, blk_len, nblocks-per-row) for every
    block, in (row, seq) order.
    """
    lens = np.asarray(lens, dtype=np.int64)
    nblocks = (lens + K.FULL_BLOCK - 1) // K.FULL_BLOCK
    total = int(nblocks.sum())
    row_id = np.repeat(np.arange(lens.size, dtype=np.int64), nblocks)
    ends = np.cumsum(nblocks)
    seq = np.arange(total, dtype=np.int64) - np.repeat(ends - nblocks, nblocks)
    row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    blk_start = row_starts[row_id] + seq * K.FULL_BLOCK
    blk_len = np.minimum(lens[row_id] - seq * K.FULL_BLOCK, K.FULL_BLOCK)
    return row_id, blk_start, blk_len, nblocks


def _gather_rows(flat: np.ndarray, starts: np.ndarray, length: int) -> np.ndarray:
    """(len(starts), length) matrix gathered from flat at given starts."""
    if starts.size == 0:
        return np.empty((0, length), dtype=flat.dtype)
    idx = starts[:, None] + np.arange(length, dtype=np.int64)[None, :]
    return np.take(flat, idx)  # ~100x faster than flat[idx] on this numpy


def _analyze(flat: np.ndarray, lens: np.ndarray, mode: str):
    """The analyze pass shared by :func:`encode_flat` and
    :func:`encoded_sizes_flat`: block table, the mode's source values
    (deltas for d1), per-block widths and inits, and packed bytes per
    block.  Returns (row_id, blk_start, blk_len int32, src, widths, inits,
    sizes, nblocks)."""
    row_id, blk_start, blk_len, nblocks = _block_table(lens)
    src = flat
    if mode == "d1":
        row_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        first_of_row = blk_start == row_starts[row_id]
        safe_prev = np.where(first_of_row, 0, blk_start - 1)
        inits = np.where(first_of_row, U32(0),
                         np.take(flat, safe_prev)).astype(U32)
        # fused delta pass: per-block init == previous element, so every
        # within-row delta is just the GLOBAL adjacent diff (one contiguous
        # SIMD subtract) — only row firsts need init-0 fixup
        src = np.empty_like(flat)
        np.subtract(flat[1:], flat[:-1], out=src[1:])
        # row firsts (of NON-EMPTY rows only: an empty trailing row's start
        # is one past the buffer): init is 0, delta == the value itself
        rs = row_starts[lens > 0]
        src[rs] = np.take(flat, rs)
    else:
        # FOR inits are written by the kernel; plain inits stay empty (the
        # kernels never touch inits in plain mode)
        inits = np.empty(row_id.size if mode == "for" else 0, dtype=U32)
    blk_len32 = blk_len.astype(np.int32)
    widths = native.analyze_blocks(src, blk_start, blk_len32, mode, inits)
    sizes = K.compressed_bytes_arr(blk_len, widths.astype(np.int64))
    return row_id, blk_start, blk_len32, src, widths, inits, sizes, nblocks


def encode_flat(flat: np.ndarray, lens: np.ndarray, mode: str) -> EncodedFlat:
    """Encode a batch given as one flat uint32 buffer + per-row lengths."""
    assert mode in MODES
    flat = np.ascontiguousarray(flat, dtype=U32)
    lens = np.asarray(lens, dtype=np.int64)
    nrows = lens.size
    if flat.size == 0:
        z = np.zeros(nrows, dtype=np.int64)
        return EncodedFlat((lens + 127) // 128, np.zeros(0, np.uint8),
                           np.zeros(0, U32), np.zeros(0, np.uint8), z)
    (row_id, blk_start, blk_len32, src, widths, inits, sizes,
     nblocks) = _analyze(flat, lens, mode)
    dst = np.cumsum(sizes) - sizes
    payload = np.empty(int(sizes.sum()), dtype=np.uint8)
    native.pack_blocks_flat(src, flat, blk_start, blk_len32, widths, inits,
                            dst, mode, payload)
    payload_lens = np.zeros(nrows, dtype=np.int64)
    np.add.at(payload_lens, row_id, sizes)
    return EncodedFlat(nblocks, widths, inits, payload, payload_lens)


def decode_flat(lens: np.ndarray, widths: np.ndarray, inits: np.ndarray,
                payload: np.ndarray, payload_lens: np.ndarray, mode: str
                ) -> np.ndarray:
    """Inverse of :func:`encode_flat`: returns the flat uint32 token buffer
    (row offsets = cumsum of ``lens``)."""
    assert mode in MODES
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    out = np.empty(total, dtype=U32)
    if total == 0:
        return out
    row_id, blk_start, blk_len, nblocks = _block_table(lens)
    total_blocks = row_id.size
    widths = np.ascontiguousarray(widths, dtype=np.uint8)
    assert widths.size == total_blocks, (widths.size, total_blocks)
    inits = np.ascontiguousarray(inits, dtype=U32)

    sizes = K.compressed_bytes_arr(blk_len, widths.astype(np.int64))
    # per-block source offset: exclusive cumsum restarted per row, plus the
    # row's payload start
    excl = np.cumsum(sizes) - sizes
    row_first_block = np.cumsum(nblocks) - nblocks
    row_base = excl[np.minimum(row_first_block, total_blocks - 1)]
    row_pl_starts = np.concatenate(([0], np.cumsum(payload_lens)[:-1]))
    src_start = row_pl_starts[row_id] + (excl - row_base[row_id])
    payload = np.ascontiguousarray(payload, dtype=np.uint8)
    # one fused pass, codec semantics applied in-block
    native.unpack_blocks_flat(payload, src_start, blk_start,
                              blk_len.astype(np.int32), widths, inits, mode,
                              out)
    return out


# ---------------------------------------------------------------------------
# Batched compressed-domain point ops — the vectorized forms of
# ``simdselectFOR``/``simdselectd1`` (/root/reference/src/simdfor.c:14987,
# src/simdpackedselect.c:8096) and ``simdsearchd1``+``simdscand1`` lifted to
# the zone-map level (src/simdpackedsearch.c).  One row batch → one pass of
# grouped unpacks; NO per-row Python.
# ---------------------------------------------------------------------------

def _block_geometry(lens: np.ndarray, widths: np.ndarray):
    """Shared offset math: per-block sizes + per-row payload byte offsets."""
    row_id, blk_start, blk_len, nblocks = _block_table(lens)
    widths = np.ascontiguousarray(widths, dtype=np.uint8)
    assert widths.size == row_id.size, (widths.size, row_id.size)
    sizes = K.compressed_bytes_arr(blk_len, widths.astype(np.int64))
    excl = np.cumsum(sizes) - sizes            # global exclusive cumsum
    row_first_block = np.cumsum(nblocks) - nblocks
    return row_id, blk_len, nblocks, widths, sizes, excl, row_first_block


def _decode_block_group(payload, src, blen, b, mode, inits_grp):
    """Decode one (width, block-length) group of target blocks into a dense
    (g, blen) uint32 matrix with codec semantics applied."""
    g = src.size
    if b == 0:
        # plain: zeros; FOR/d1: every value equals the block init
        base = inits_grp if mode != "plain" else np.zeros(g, U32)
        return np.broadcast_to(base[:, None], (g, blen))
    nb = int(K.compressed_bytes(blen, b))
    seg = _gather_rows(payload, src, nb)
    if b == 32:  # raw ORIGINAL values in all families
        return np.ascontiguousarray(seg).view(U32).reshape(g, blen)
    words = np.ascontiguousarray(seg).view(U32).reshape(g, -1, 4)
    vals = K.unpack_lanes(words, (blen + 3) // 4, b).reshape(g, -1)[:, :blen]
    if mode == "for":
        return vals + inits_grp[:, None]
    if mode == "d1":
        acc = np.cumsum(vals, axis=1, dtype=np.uint64) \
            + inits_grp[:, None].astype(np.uint64)
        return acc.astype(U32)
    return vals


def select_flat(lens: np.ndarray, widths: np.ndarray, inits: np.ndarray,
                payload: np.ndarray, payload_lens: np.ndarray,
                idxs: np.ndarray, mode: str) -> np.ndarray:
    """Value at position ``idxs[r]`` of every row — decoding AT MOST ONE
    block per row.  All indices must satisfy ``0 <= idx < len`` (callers
    filter first).  Returns uint32 per row."""
    assert mode in MODES
    lens = np.asarray(lens, dtype=np.int64)
    idxs = np.asarray(idxs, dtype=np.int64)
    out = np.zeros(lens.size, dtype=U32)
    if lens.size == 0 or int(lens.sum()) == 0:
        return out
    (row_id, blk_len, _nb, widths, _sizes, excl,
     row_first_block) = _block_geometry(lens, widths)
    payload = np.ascontiguousarray(payload, dtype=np.uint8)
    inits = np.ascontiguousarray(inits, dtype=U32) if mode != "plain" \
        else np.zeros(0, U32)
    row_pl_starts = np.concatenate(([0], np.cumsum(payload_lens)[:-1]))

    tb = row_first_block + idxs // K.FULL_BLOCK      # target block per row
    slot = (idxs % K.FULL_BLOCK).astype(np.int64)
    b_t = widths[tb].astype(np.int64)
    blen_t = blk_len[tb]
    src = row_pl_starts + (excl[tb] - excl[row_first_block])
    init_t = inits[tb] if mode != "plain" else np.zeros(tb.size, U32)

    keys = blen_t * 64 + b_t
    for key in np.unique(keys):
        blen, b = int(key) // 64, int(key) % 64
        sel = np.nonzero(keys == key)[0]
        vals = _decode_block_group(payload, src[sel], blen, b, mode,
                                   init_t[sel])
        out[sel] = vals[np.arange(sel.size), slot[sel]]
    return out


def _lower_bound_flat(lens: np.ndarray, widths: np.ndarray,
                      inits: np.ndarray, payload: np.ndarray,
                      payload_lens: np.ndarray, key: int,
                      mode: str) -> np.ndarray:
    """Lower-bound index of ``key`` in every SORTED row of a d1 or FOR
    batch, decoding exactly one block per row.  Returns int64 per row;
    idx == n when every value < key.

    Zone map: for sorted rows each non-first block's init is a bound on
    the values before it — FOR stores the block's min, its FIRST value;
    d1 chains from the previous block's LAST value.  Either way, the
    count j of non-first blocks whose init is < key is the target block:
    every block before j ends at or below block j's init, which is < key,
    and block j+1 (if any) starts at or above its init, which is ≥ key.  The answer is
    ``min(j·128 + #(block j's values < key), n)``."""
    lens = np.asarray(lens, dtype=np.int64)
    out = np.zeros(lens.size, dtype=np.int64)
    if lens.size == 0 or int(lens.sum()) == 0:
        return out
    (row_id, blk_len, nblocks, widths, _sizes, excl,
     row_first_block) = _block_geometry(lens, widths)
    payload = np.ascontiguousarray(payload, dtype=np.uint8)
    inits = np.ascontiguousarray(inits, dtype=U32)
    row_pl_starts = np.concatenate(([0], np.cumsum(payload_lens)[:-1]))
    k32 = U32(key & 0xFFFFFFFF)

    ne = np.nonzero(nblocks > 0)[0]
    not_first = np.ones(row_id.size, dtype=bool)
    # rows with 0 blocks have row_first_block == the NEXT row's first block
    # (or one past the end for a trailing empty row) — only mark rows that
    # actually own a first block, else a trailing empty row indexes OOB
    not_first[row_first_block[ne]] = False
    lt = (inits < k32) & not_first
    j = np.add.reduceat(lt.astype(np.int64), row_first_block[ne])

    tb = row_first_block[ne] + j
    src = row_pl_starts[ne] + (excl[tb] - excl[row_first_block[ne]])
    b_t = widths[tb].astype(np.int64)
    blen_t = blk_len[tb]
    keys_t = blen_t * 64 + b_t
    within = np.empty(ne.size, dtype=np.int64)
    for kk in np.unique(keys_t):
        blen, b = int(kk) // 64, int(kk) % 64
        sel = np.nonzero(keys_t == kk)[0]
        vals = _decode_block_group(payload, src[sel], blen, b, mode,
                                   inits[tb[sel]])
        within[sel] = (vals < k32).sum(axis=1)
    # within == blen ⇒ answer is the start of the next block (or n)
    out[ne] = np.minimum(j * K.FULL_BLOCK + within, lens[ne])
    return out


def search_sorted_flat(lens: np.ndarray, widths: np.ndarray,
                       inits: np.ndarray, payload: np.ndarray,
                       payload_lens: np.ndarray, key: int) -> np.ndarray:
    """Lower-bound index of ``key`` in every d1-encoded SORTED row
    (``simdsearchd1`` lifted across blocks, src/simdpackedsearch.c):
    one block decoded per row (:func:`_lower_bound_flat`)."""
    return _lower_bound_flat(lens, widths, inits, payload, payload_lens,
                             key, "d1")


def search_sorted_for_flat(lens: np.ndarray, widths: np.ndarray,
                           inits: np.ndarray, payload: np.ndarray,
                           payload_lens: np.ndarray, key: int) -> np.ndarray:
    """Lower-bound index of ``key`` in every FOR-encoded SORTED row
    (``simdsearchwithlengthFOR``, src/simdfor.c:15016-15032, lifted
    across blocks): one block decoded per row (:func:`_lower_bound_flat`)."""
    return _lower_bound_flat(lens, widths, inits, payload, payload_lens,
                             key, "for")


def intersect_sorted_flat(lens_a: np.ndarray, widths_a: np.ndarray,
                          inits_a: np.ndarray, payload_a: np.ndarray,
                          plens_a: np.ndarray,
                          lens_b: np.ndarray, widths_b: np.ndarray,
                          inits_b: np.ndarray, payload_b: np.ndarray,
                          plens_b: np.ndarray
                          ) -> tuple[np.ndarray, np.ndarray]:
    """Rowwise sorted-set intersection of two d1-encoded batches — the
    inverted-index SvS kernel the reference's search/select symbols exist
    to serve (``simdsearchd1``'s per-block init zone map,
    /root/reference/src/simdpackedsearch.c, applied list-vs-list).

    Per row r: values common to A[r] and B[r], both SORTED ascending
    (the d1 contract :func:`search_sorted_flat` already assumes).  Side A
    (callers pass the smaller/probe side) decodes fully — one batched
    pass; side B is ZONE-SKIPPED: a B block decodes only when some A
    value of the same row falls inside its [init_b, next_init_b]
    envelope, so probe lists touching few blocks leave most of B's
    payload bytes unread.  With strictly increasing rows this is set
    intersection; if B carries duplicates the output keeps B's
    multiplicity for matched values.

    Everything is batch-vectorized — the per-row membership tests ride on
    ONE global ``searchsorted`` over (row_index << 32 | value) uint64
    keys, monotone because rows are concatenated in order and sorted
    within.  Returns (flat uint32 matches, int64 match count per row).
    """
    lens_a = np.asarray(lens_a, dtype=np.int64)
    lens_b = np.asarray(lens_b, dtype=np.int64)
    nrows = lens_a.size
    assert lens_b.size == nrows, (lens_a.size, lens_b.size)
    out_lens = np.zeros(nrows, dtype=np.int64)
    if nrows == 0 or int(lens_a.sum()) == 0 or int(lens_b.sum()) == 0:
        return np.zeros(0, dtype=U32), out_lens

    # side A: full batched decode → global monotone uint64 keys
    flat_a = decode_flat(lens_a, widths_a, inits_a, payload_a, plens_a,
                         "d1")
    row_of_a = np.repeat(np.arange(nrows, dtype=np.uint64),
                         lens_a).astype(np.uint64)
    keyed_a = (row_of_a << np.uint64(32)) | flat_a.astype(np.uint64)

    # side B geometry + per-block sorted-d1 envelopes (same zone math as
    # engine.contains_token's assume_sorted path: block b's values lie in
    # [init_b, init_{b+1}], each row's LAST block bounded by its own
    # cumulative-delta span)
    (row_id, blk_len, nblocks, widths_b, sizes, excl,
     row_first_block) = _block_geometry(lens_b, widths_b)
    total_blocks = row_id.size
    inits_b = np.ascontiguousarray(inits_b, dtype=U32)
    payload_b = np.ascontiguousarray(payload_b, dtype=np.uint8)
    row_pl_starts = np.concatenate(([0], np.cumsum(plens_b)[:-1]))
    row_base = excl[np.minimum(row_first_block, total_blocks - 1)]
    src_start = row_pl_starts[row_id] + (excl - row_base[row_id])

    span = np.where(widths_b >= 32, np.int64(0xFFFFFFFF),
                    (np.int64(1) << widths_b.astype(np.int64)) - 1)
    lb = inits_b.astype(np.int64)
    ub = np.empty(total_blocks, dtype=np.int64)
    ub[:-1] = lb[1:]
    ne = np.nonzero(nblocks > 0)[0]
    last_blk = row_first_block[ne] + nblocks[ne] - 1
    blen_last = lens_b[ne] - K.FULL_BLOCK * (nblocks[ne] - 1)
    ub[last_blk] = np.minimum(lb[last_blk] + blen_last * span[last_blk],
                              0xFFFFFFFF)

    rk = row_id.astype(np.uint64) << np.uint64(32)
    g_lb = rk | lb.astype(np.uint64)
    g_ub = rk | ub.astype(np.uint64)
    surv = np.nonzero(np.searchsorted(keyed_a, g_lb, side="left")
                      < np.searchsorted(keyed_a, g_ub, side="right"))[0]
    if surv.size == 0:
        return np.zeros(0, dtype=U32), out_lens

    # decode ONLY surviving blocks, grouped by (block length, width)
    cand_lens = blk_len[surv]
    cand_off = np.cumsum(cand_lens) - cand_lens
    cand_flat = np.empty(int(cand_lens.sum()), dtype=U32)
    keys = cand_lens * 64 + widths_b[surv].astype(np.int64)
    for key in np.unique(keys):
        blen, b = int(key) // 64, int(key) % 64
        sel = np.nonzero(keys == key)[0]
        vals = _decode_block_group(payload_b, src_start[surv[sel]], blen,
                                   b, "d1", inits_b[surv[sel]])
        idx = cand_off[sel][:, None] + np.arange(blen, dtype=np.int64)
        cand_flat[idx] = vals

    cand_row = np.repeat(row_id[surv], cand_lens).astype(np.uint64)
    keyed_c = (cand_row << np.uint64(32)) | cand_flat.astype(np.uint64)
    pos = np.searchsorted(keyed_a, keyed_c, side="left")
    hit = pos < keyed_a.size
    hit[hit] = keyed_a[pos[hit]] == keyed_c[hit]
    out_lens = np.bincount(cand_row[hit].astype(np.int64),
                           minlength=nrows).astype(np.int64)
    return cand_flat[hit], out_lens


# ---------------------------------------------------------------------------
# size bookkeeping (cost model, decode side)
# ---------------------------------------------------------------------------

def encoded_sizes_flat(flat: np.ndarray, lens: np.ndarray, mode: str
                       ) -> np.ndarray:
    """Exact payload bytes per row for ``mode`` WITHOUT materializing the
    payload — the analyze pass only (used by the codec auto-selector)."""
    flat = np.ascontiguousarray(flat, dtype=U32)
    lens = np.asarray(lens, dtype=np.int64)
    per_row = np.zeros(lens.size, dtype=np.int64)
    if flat.size == 0:
        return per_row
    row_id, *_, sizes, _nblocks = _analyze(flat, lens, mode)
    np.add.at(per_row, row_id, sizes)
    return per_row


def payload_bytes_from_widths(lens: np.ndarray, widths_flat: np.ndarray
                              ) -> np.ndarray:
    """Per-row payload byte counts reconstructed from row lengths + the flat
    per-block widths stream (decode-side bookkeeping; pure formula)."""
    lens = np.asarray(lens, dtype=np.int64)
    if widths_flat.size == 0:
        return np.zeros(lens.size, dtype=np.int64)
    row_id, _bs, blk_len, _nb = _block_table(lens)
    sizes = K.compressed_bytes_arr(blk_len, widths_flat.astype(np.int64))
    out = np.zeros(lens.size, dtype=np.int64)
    np.add.at(out, row_id, sizes)
    return out
