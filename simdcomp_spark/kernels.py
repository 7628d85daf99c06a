"""Vectorized numpy codec core — bit-identical to lemire/simdcomp's SSE wire
format.

This module is the numpy statement of the wire format (no Spark): the
tests check the engine's C block codec (:mod:`simdcomp_spark.native`,
driven by :mod:`simdcomp_spark.blocks`) against it, and the golden
vectors pin it to the compiled reference.  The wire format is the
reference's 4-lane vertically interleaved layout (sources cited below):

* lane ``l = i % 4``, position-in-lane ``k = i // 4``
  (``src/simdfor.c:14996`` — "we have 4 interleaved lanes");
* value ``i`` occupies bits ``[k*b, (k+1)*b)`` of lane ``l``'s little-endian
  bitstream, materialized 32 bits at a time, 4 lanes side by side per 128-bit
  word; a value crossing a 32-bit boundary spills its high bits into the same
  lane of the next 128-bit word (``src/simdfor.c:15006-15012``);
* compressed size = ``ceil(ceil(n/4)*b/32)*16`` bytes for ``0 < b < 32``,
  ``0`` for ``b == 0``, ``4*n`` for ``b == 32``
  (``src/simdbitpacking.c:14370-14377``, ``src/simdfor.c:15034-15041``);
* ``b == 32`` stores the RAW ORIGINAL values for all three families —
  plain (``src/simdbitpacking.c:14198-14201``), FOR (``ipackFOR32``,
  ``src/simdfor.c:6954``) and d1 (``ipackwithoutmask32``,
  ``src/simdintegratedbitpacking.c:15978``) — no subtraction, no delta;
* plain short-block tail pads with 0 (``src/simdbitpacking.c:14216-14224``),
  FOR pads with ``initvalue`` so the packed residual is 0
  (``src/simdfor.c:15072-15080``);
* d1 deltas wrap mod 2**32 (``Delta`` macro,
  ``src/simdintegratedbitpacking.c:7-12``).

All kernels are batched: they take a *matrix of blocks* ``(nblk, rows, 4)``
and produce ``(nblk, nwords, 4)`` words, so one call packs every same-width
block of an Arrow batch at once.  ``rows == 32`` is a full 128-int block;
``rows < 32`` is the streaming short-length layout (identical recurrence,
``src/simdbitpacking.c:14190-14240``).
"""

from __future__ import annotations

import numpy as np

U32 = np.uint32
FULL_BLOCK = 128  # SIMDBlockSize, include/simdcomputil.h:22


# ---------------------------------------------------------------------------
# Width / statistics primitives (reference §2.1: bits, maxbits, simdmaxmin,
# simdmaxbitsd1 — src/simdcomputil.c)
# ---------------------------------------------------------------------------

def bits_u32(arr: np.ndarray) -> np.ndarray:
    """Per-element integer log: bits(v) = v==0 ? 0 : 32 - clz(v).

    Mirrors ``bits()`` (src/simdcomputil.c:16-29).  uint32 < 2**53 is exact
    in float64, so frexp's exponent IS the bit length.
    """
    arr = np.ascontiguousarray(arr, dtype=U32)
    _, exp = np.frexp(arr.astype(np.float64))
    return exp.astype(np.int64)


def maxbits(arr: np.ndarray) -> int:
    """bits(OR-reduction) — ``maxbits``/``maxbits_length``
    (src/simdcomputil.c:42-51, 160-178)."""
    arr = np.ascontiguousarray(arr, dtype=U32)
    if arr.size == 0:
        return 0
    acc = np.bitwise_or.reduce(arr.reshape(-1))
    return int(bits_u32(np.asarray([acc]))[0])


def minmax(arr: np.ndarray) -> tuple[int, int]:
    """``simdmaxmin``/``simdmaxmin_length`` (src/simdcomputil.c:95-156)."""
    arr = np.ascontiguousarray(arr, dtype=U32)
    return int(arr.min()), int(arr.max())


def deltas_u32(arr: np.ndarray, init: int) -> np.ndarray:
    """Wrapping successive differences, delta[0] = arr[0] - init (mod 2**32).

    Mirrors the ``Delta`` macro semantics
    (src/simdintegratedbitpacking.c:7-12): plain uint32 subtraction wraps.
    """
    arr = np.ascontiguousarray(arr, dtype=U32)
    out = np.empty_like(arr)
    if arr.size == 0:
        return out
    out[0] = U32((int(arr[0]) - init) & 0xFFFFFFFF)
    np.subtract(arr[1:], arr[:-1], out=out[1:])
    return out


def prefix_sum_u32(deltas: np.ndarray, init: int) -> np.ndarray:
    """Inverse of :func:`deltas_u32` — ``PrefixSum`` macro semantics
    (src/simdintegratedbitpacking.c:14-19), wrapping mod 2**32."""
    d = np.ascontiguousarray(deltas, dtype=U32)
    # uint64 cumsum is exact for < 2**32 elements, then wrap back.
    acc = np.cumsum(d, dtype=np.uint64) + np.uint64(init & 0xFFFFFFFF)
    return acc.astype(U32)


def maxbits_d1(arr: np.ndarray, init: int) -> int:
    """``simdmaxbitsd1``/``simdmaxbitsd1_length``
    (src/simdcomputil.c:181-248): bits(OR of wrapping deltas)."""
    return maxbits(deltas_u32(arr, init))


def compressed_bytes(length: int, bit: int) -> int:
    """``simdpack_compressedbytes`` (src/simdbitpacking.c:14370-14377) ==
    ``simdpackFOR_compressedbytes`` (src/simdfor.c:15034-15041)."""
    if bit == 0:
        return 0
    if bit == 32:
        return length * 4
    return (((length + 3) // 4) * bit + 31) // 32 * 16


def compressed_bytes_arr(lengths: np.ndarray, bit: np.ndarray) -> np.ndarray:
    """Vectorized :func:`compressed_bytes` over parallel arrays."""
    lengths = np.asarray(lengths, dtype=np.int64)
    bit = np.asarray(bit, dtype=np.int64)
    norm = (((lengths + 3) // 4) * bit + 31) // 32 * 16
    out = np.where(bit == 0, 0, np.where(bit == 32, lengths * 4, norm))
    return out


# ---------------------------------------------------------------------------
# Core pack/unpack recurrence (reference §2.2: simdpack / simdunpack and the
# streaming shortlength variants — one kernel covers both since rows=32
# reproduces the full-block layout word for word)
# ---------------------------------------------------------------------------

def pack_lanes(vals: np.ndarray, bit: int, mask: bool = False) -> np.ndarray:
    """Pack ``vals`` of shape (nblk, rows, 4) at width ``bit`` into
    ``(nblk, nwords, 4)`` uint32 words, nwords = ceil(rows*bit/32).

    ``rows == 32`` reproduces ``simdpackwithoutmask``
    (src/simdbitpacking.c:13913-14050); ``rows < 32`` reproduces
    ``simdpack_shortlength`` (src/simdbitpacking.c:14190-14240) for inputs
    pre-padded to a multiple of 4.  ``mask=True`` is the ``simdpack`` variant
    (inputs masked to ``bit`` bits first, src/simdbitpacking.c:14052).

    Callers handle bit==0 (no bytes) and bit==32 (raw copy) themselves.
    """
    assert 0 < bit < 32, bit
    vals = np.ascontiguousarray(vals, dtype=U32)
    assert vals.shape[2] in (4, 8, 16)  # SSE / AVX2 / AVX-512 widths
    from . import native
    return native.pack_lanes(vals, bit, mask)


def unpack_lanes(words: np.ndarray, rows: int, bit: int) -> np.ndarray:
    """Inverse of :func:`pack_lanes`: (nblk, nwords, 4) → (nblk, rows, 4).

    Mirrors ``simdunpack`` (src/simdbitpacking.c:13773-13911) /
    ``simdunpack_shortlength`` (src/simdbitpacking.c:14242-14336).
    """
    assert 0 < bit < 32, bit
    words = np.ascontiguousarray(words, dtype=U32)
    from . import native
    return native.unpack_lanes(words, rows, bit)


def _to_lanes(blocks: np.ndarray) -> np.ndarray:
    """(nblk, n) with n % 4 == 0 → (nblk, n//4, 4) lane view (i%4 = lane)."""
    nblk, n = blocks.shape
    return blocks.reshape(nblk, n // 4, 4)


def pack_blocks(blocks: np.ndarray, bit: int, mask: bool = False) -> np.ndarray:
    """Pack (nblk, n) uint32 blocks (n multiple of 4, n<=128) at one width.

    Returns (nblk, nbytes) uint8.  bit==0 → (nblk, 0); bit==32 → raw copy
    (b==32 raw-copy semantics, src/simdbitpacking.c:14198-14201).
    """
    blocks = np.ascontiguousarray(blocks, dtype=U32)
    nblk, n = blocks.shape
    if bit == 0:
        return np.empty((nblk, 0), dtype=np.uint8)
    if bit == 32:
        return blocks.view(np.uint8).reshape(nblk, n * 4)
    words = pack_lanes(_to_lanes(blocks), bit, mask=mask)
    return words.reshape(nblk, -1).view(np.uint8)


def unpack_blocks(packed: np.ndarray, n: int, bit: int) -> np.ndarray:
    """Inverse of :func:`pack_blocks`: (nblk, nbytes) uint8 → (nblk, n) uint32."""
    packed = np.ascontiguousarray(packed, dtype=np.uint8)
    nblk = packed.shape[0]
    if bit == 0:
        return np.zeros((nblk, n), dtype=U32)
    if bit == 32:
        return packed.view(U32).reshape(nblk, n)
    words = packed.view(U32).reshape(nblk, -1, 4)
    return unpack_lanes(words, (n + 3) // 4, bit)[:, :, :].reshape(nblk, -1)[:, :n]


# ---------------------------------------------------------------------------
# AVX2 / AVX-512 block families (reference §2.5 #30-#31): the SAME pack
# recurrence over 8 / 16 interleaved lanes instead of 4 — a DIFFERENT wire
# format from the SSE layout (include/avxbitpacking.h:20-31,
# include/avx512bitpacking.h:20-33; generators scripts/avxpacking.py,
# scripts/avx512packing.py).  The engine standardizes on the SSE format;
# these exist for full export-surface parity and are pinned bit-identical
# to the compiled reference via tests/golden/golden_avx.jsonl.
# ---------------------------------------------------------------------------

AVX_BLOCK = 256       # include/avxbitpacking.h:20
AVX512_BLOCK = 512    # include/avx512bitpacking.h:20


def _lane_pack(arr: np.ndarray, bit: int, lanes: int, mask: bool) -> bytes:
    n = arr.size
    if bit == 0:
        return b""
    if bit == 32:
        return np.ascontiguousarray(arr, dtype=U32).tobytes()
    vals = np.ascontiguousarray(arr, dtype=U32).reshape(1, n // lanes, lanes)
    return pack_lanes(vals, bit, mask=mask).tobytes()


def _lane_unpack(data: bytes, n: int, bit: int, lanes: int) -> np.ndarray:
    if bit == 0:
        return np.zeros(n, dtype=U32)
    if bit == 32:
        return np.frombuffer(data, dtype=U32, count=n).copy()
    words = np.frombuffer(data, dtype=U32).reshape(1, -1, lanes)
    return unpack_lanes(words, n // lanes, bit).reshape(-1)


def avxmaxbits(block: np.ndarray) -> int:
    """``avxmaxbits`` (src/avxbitpacking.c): maxbits over a 256-int block."""
    assert block.size == AVX_BLOCK
    return maxbits(block)


def avxpack(block: np.ndarray, bit: int, mask: bool = False) -> bytes:
    """``avxpackwithoutmask``/``avxpack`` (include/avxbitpacking.h:25-29):
    one 256-int block at width ``bit`` in the 8-lane AVX2 wire layout."""
    assert block.size == AVX_BLOCK
    return _lane_pack(block, bit, 8, mask)


def avxunpack(data: bytes, bit: int) -> np.ndarray:
    """``avxunpack`` (include/avxbitpacking.h:31)."""
    return _lane_unpack(data, AVX_BLOCK, bit, 8)


def avx512maxbits(block: np.ndarray) -> int:
    """``avx512maxbits`` (include/avx512bitpacking.h:21)."""
    assert block.size == AVX512_BLOCK
    return maxbits(block)


def avx512pack(block: np.ndarray, bit: int, mask: bool = False) -> bytes:
    """``avx512packwithoutmask``/``avx512pack``
    (include/avx512bitpacking.h:23-30): 512-int block, 16-lane layout."""
    assert block.size == AVX512_BLOCK
    return _lane_pack(block, bit, 16, mask)


def avx512unpack(data: bytes, bit: int) -> np.ndarray:
    """``avx512unpack`` (include/avx512bitpacking.h:32)."""
    return _lane_unpack(data, AVX512_BLOCK, bit, 16)


# ---------------------------------------------------------------------------
# Single-array convenience wrappers (the reference's *_length entry points) —
# used by tests and by the compressed-domain point ops.  The Spark engine
# uses the batched matrix forms above instead.
# ---------------------------------------------------------------------------

def _pad_to_lane_multiple(arr: np.ndarray, pad_value: int) -> np.ndarray:
    n = arr.size
    padded_n = ((n + 3) // 4) * 4
    if padded_n == n:
        return arr
    out = np.full(padded_n, pad_value, dtype=U32)
    out[:n] = arr
    return out


def simdpack_length(arr: np.ndarray, bit: int, mask: bool = False) -> bytes:
    """``simdpack_length`` (src/simdbitpacking.c:14379-14399): full 128-blocks
    then a zero-padded short tail, single width ``bit``."""
    arr = np.ascontiguousarray(arr, dtype=U32)
    n = arr.size
    if bit == 0:
        return b""
    if bit == 32:
        return arr.tobytes()
    nfull = n // FULL_BLOCK
    chunks = []
    if nfull:
        full = arr[: nfull * FULL_BLOCK].reshape(nfull, FULL_BLOCK)
        chunks.append(pack_blocks(full, bit, mask=mask).tobytes())
    tail = arr[nfull * FULL_BLOCK:]
    if tail.size:
        tail = _pad_to_lane_multiple(tail, 0)
        chunks.append(pack_blocks(tail.reshape(1, -1), bit, mask=mask).tobytes())
    return b"".join(chunks)


def simdunpack_length(data: bytes, n: int, bit: int) -> np.ndarray:
    """Inverse of :func:`simdpack_length`."""
    if bit == 0:
        return np.zeros(n, dtype=U32)
    if bit == 32:
        return np.frombuffer(data, dtype=U32, count=n).copy()
    nfull = n // FULL_BLOCK
    out = np.empty(n, dtype=U32)
    pos = 0
    if nfull:
        nb = compressed_bytes(FULL_BLOCK, bit)
        buf = np.frombuffer(data, dtype=np.uint8, count=nfull * nb).reshape(nfull, nb)
        out[: nfull * FULL_BLOCK] = unpack_blocks(buf, FULL_BLOCK, bit).reshape(-1)
        pos = nfull * nb
    ntail = n - nfull * FULL_BLOCK
    if ntail:
        nb = compressed_bytes(ntail, bit)
        buf = np.frombuffer(data, dtype=np.uint8, count=nb, offset=pos).reshape(1, nb)
        out[nfull * FULL_BLOCK:] = unpack_blocks(buf, ntail, bit).reshape(-1)[:ntail]
    return out


def simdpackFOR_length(init: int, arr: np.ndarray, bit: int) -> bytes:
    """``simdpackFOR_length`` (src/simdfor.c:15043-15096): packs (v - init)
    wrapping; tail padded with ``init`` (residual 0); b==32 → raw values."""
    arr = np.ascontiguousarray(arr, dtype=U32)
    if bit == 0:
        return b""
    if bit == 32:
        return arr.tobytes()
    resid = (arr - U32(init & 0xFFFFFFFF))
    padded = _pad_to_lane_multiple(resid, 0)
    # FOR has no per-128-block framing in the _length variant: one stream.
    return pack_lanes(padded.reshape(1, -1, 4), bit).tobytes()


def simdunpackFOR_length(init: int, data: bytes, n: int, bit: int) -> np.ndarray:
    """Inverse of :func:`simdpackFOR_length` (src/simdfor.c:15098-15195)."""
    if bit == 0:
        return np.full(n, U32(init & 0xFFFFFFFF), dtype=U32)
    if bit == 32:
        return np.frombuffer(data, dtype=U32, count=n).copy()
    rows = (n + 3) // 4
    words = np.frombuffer(data, dtype=U32).reshape(1, -1, 4)
    vals = unpack_lanes(words, rows, bit).reshape(-1)[:n]
    return vals + U32(init & 0xFFFFFFFF)


# ---------------------------------------------------------------------------
# Compressed-domain point operations (reference §2.3 #19-20, §2.4 #25-28)
# ---------------------------------------------------------------------------

def select_for(init: int, packed: bytes, bit: int, slot: int) -> int:
    """``simdselectFOR`` (src/simdfor.c:14987-15014): random access to one
    element of a FOR-packed stream without decoding the block."""
    if bit == 0:
        return init & 0xFFFFFFFF
    words = np.frombuffer(packed, dtype=U32)
    if bit == 32:
        return int(words[slot])
    lane = slot % 4
    bitsinlane = (slot // 4) * bit
    w1 = bitsinlane // 32
    w2 = (bitsinlane + bit - 1) // 32
    first = int(words[4 * w1 + lane]) >> (bitsinlane % 32)
    m = (1 << bit) - 1
    if w1 == w2:
        v = first & m
    else:
        second = int(words[4 * w1 + 4 + lane])
        v = (first | (second << (32 - (bitsinlane % 32)))) & m
    return (v + init) & 0xFFFFFFFF


def search_for(init: int, packed: bytes, bit: int, length: int, key: int
               ) -> tuple[int, int]:
    """``simdsearchwithlengthFOR`` (src/simdfor.c:15016-15032): lower-bound
    binary search over a FOR-packed sorted stream via :func:`select_for`.
    Returns (index, value-at-index)."""
    count, begin = length, 0
    while count > 0:
        step = count // 2
        val = select_for(init, packed, bit, begin + step)
        if val < key:
            begin += step + 1
            count -= step + 1
        else:
            count = step
    value = select_for(init, packed, bit, begin) if begin < length else 0
    return begin, value


def select_d1(init: int, packed: bytes, bit: int, slot: int,
              length: int = FULL_BLOCK) -> int:
    """``simdselectd1`` (src/simdpackedselect.c:8096-15214) semantics:
    value at ``slot`` of a d1-packed block.  Decodes the minimal prefix
    (lane-partial cumsum) rather than per-width unrolled kernels.
    ``length < 128`` handles the engine's short tail blocks."""
    slot &= 127
    if bit == 0:
        return init & 0xFFFFFFFF
    if bit == 32:
        return int(np.frombuffer(packed, dtype=U32)[slot])
    rows = (length + 3) // 4
    words = np.frombuffer(packed, dtype=U32).reshape(1, -1, 4)
    deltas = unpack_lanes(words, rows, bit).reshape(-1)[: slot + 1]
    return int((np.sum(deltas, dtype=np.uint64) + np.uint64(init & 0xFFFFFFFF))
               & np.uint64(0xFFFFFFFF))


def search_d1(init: int, packed: bytes, bit: int, length: int, key: int
              ) -> tuple[int, int]:
    """``simdsearchwithlengthd1`` (src/simdpackedsearch.c:8284-8400)
    semantics: first index i<length with value[i] >= key over a d1-packed
    block; returns (length, last+?) convention — here (index, value) with
    index==length when no element qualifies (value then undefined = 0)."""
    if length == 0:
        return 0, 0
    if bit == 0:
        v = init & 0xFFFFFFFF
        return (0, v) if v >= key else (length, 0)
    if bit == 32:
        vals = np.frombuffer(packed, dtype=U32, count=length)
    else:
        words = np.frombuffer(packed, dtype=U32).reshape(1, -1, 4)
        deltas = unpack_lanes(words, (length + 3) // 4, bit).reshape(-1)[:length]
        vals = prefix_sum_u32(deltas, init)
    idx = int(np.searchsorted(vals, U32(key & 0xFFFFFFFF), side="left"))
    if idx >= length:
        return length, 0
    return idx, int(vals[idx])


class SearchCursorD1:
    """Progressive ``simdsearchd1`` call shape
    (include/simdintegratedbitpacking.h:45, src/simdpackedsearch.c:16583-
    16691, exercised by tests/unit.c:736-773): the reference API takes an
    ``initOffset`` vector holding the last decoded values, searches ONE
    d1-packed 128-block for the first value >= key, stores the found value
    through ``presult``, returns the index (block length when no element
    qualifies), and UPDATES ``initOffset`` so the next call continues
    seamlessly on the following block.

    This cursor mirrors that protocol exactly for the multi-block
    lower-bound scan (call per block until found; on not-found the cursor
    advances to the block's last value, the state the reference leaves for
    the next call).  The engine's zone-map ``search_sorted`` answers the
    same queries with ONE block probe per row (stored per-block inits) and
    is the path used at scale — strictly better for parallel decode; the
    cursor exists for exact call-shape parity and manifest-side tooling."""

    def __init__(self, init: int = 0):
        self.init = init & 0xFFFFFFFF

    def search(self, packed: bytes, bit: int, key: int,
               length: int = FULL_BLOCK) -> tuple[int, int]:
        """Search one block; returns (index, value) with index == length
        when no element >= key (value then 0).  Advances the cursor to the
        block's last decoded value."""
        idx, val = search_d1(self.init, packed, bit, length, key)
        if length:
            self.init = select_d1(self.init, packed, bit, length - 1, length)
        return idx, val


def scan_search_d1(blocks_: list[tuple[bytes, int, int]], key: int,
                   init: int = 0) -> tuple[int, int]:
    """Multi-block lower bound via the progressive cursor — the reference's
    repeated-call usage pattern over a stream of (payload, width, length)
    blocks.  Returns (global_index, value); index == total length when no
    element >= key."""
    cur = SearchCursorD1(init)
    base = 0
    for packed, bit, length in blocks_:
        idx, val = cur.search(packed, bit, key, length)
        if idx < length:
            return base + idx, val
        base += length
    return base, 0


# ---------------------------------------------------------------------------
# In-place point updates (reference §2.2 #14, §2.3 #21, §2.4 #29).  Spark
# tables are immutable, so these exist for API parity and for manifest-side
# tooling; the engine's documented path is decode→set→re-encode.
# ---------------------------------------------------------------------------

def fastset(packed: bytearray, bit: int, value: int, index: int) -> None:
    """``simdfastset`` (src/simdbitpacking.c:14338-14368): overwrite element
    ``index`` of a packed 128-block in place.  ``value`` must fit ``bit``."""
    if bit == 0:
        return
    lane = index % 4
    bitsinlane = (index // 4) * bit
    w1 = bitsinlane // 32
    w2 = (bitsinlane + bit - 1) // 32
    pos = 4 * (4 * w1 + lane)

    def rd(p):
        return int.from_bytes(packed[p:p + 4], "little")

    def wr(p, v):
        packed[p:p + 4] = (v & 0xFFFFFFFF).to_bytes(4, "little")

    if bit == 32:
        wr(pos, value)
        return
    mask = (1 << bit) - 1
    s = bitsinlane % 32
    wr(pos, (rd(pos) & ~((mask << s) & 0xFFFFFFFF)) | ((value << s) & 0xFFFFFFFF))
    if w1 != w2:
        pos2 = pos + 16
        firstbits = 32 - s
        mask2 = (1 << (bit - firstbits)) - 1
        wr(pos2, (rd(pos2) & ~mask2) | (value >> firstbits))


def fastset_for(packed: bytearray, init: int, bit: int, value: int,
                index: int) -> None:
    """``simdfastsetFOR`` (src/simdfor.c:15197-15200): stores value - init."""
    fastset(packed, bit, (value - init) & 0xFFFFFFFF, index)


def fastset_d1(packed: bytearray, init: int, bit: int, value: int,
               index: int, length: int = FULL_BLOCK) -> None:
    """``simdfastsetd1`` semantics
    (src/simdintegratedbitpacking.c:25339-25357): set element ``index`` of a
    d1 block to ``value`` by adjusting its delta AND the following delta so
    later values are unchanged.  Requires both adjusted deltas to still fit
    ``bit`` (the reference has the same constraint)."""
    prev = select_d1(init, bytes(packed), bit, index - 1, length) \
        if index > 0 else (init & 0xFFFFFFFF)
    new_delta = (value - prev) & 0xFFFFFFFF
    if bit < 32:
        assert new_delta < (1 << bit), "delta overflow: re-encode the block"
    if index + 1 < length:
        nxt = select_d1(init, bytes(packed), bit, index + 1, length)
        next_delta = (nxt - value) & 0xFFFFFFFF
        if bit < 32:
            assert next_delta < (1 << bit), "delta overflow: re-encode"
        fastset(packed, bit, next_delta, index + 1)
    fastset(packed, bit, new_delta, index)


def fastset_rows(payload: np.ndarray, starts: np.ndarray, bits: np.ndarray,
                 values: np.ndarray, indices: np.ndarray) -> None:
    """Batched ``simdfastset`` across MANY single-block rows, in place.

    ``payload`` is the concatenated uint8 payload buffer; row r's packed
    block starts at byte ``starts[r]`` (always 16-aligned: block payload
    sizes are multiples of 16), has width ``bits[r]``, and gets element
    ``indices[r]`` overwritten with ``values[r]`` (must fit the width).
    Same wire math as :func:`fastset` (src/simdbitpacking.c:14338-14368),
    vectorized: grouped by width, two masked read-modify-write passes on
    the uint32 view — no per-row Python."""
    starts = np.asarray(starts, dtype=np.int64)
    bits = np.asarray(bits, dtype=np.int64)
    values = np.asarray(values, dtype=np.uint64)
    indices = np.asarray(indices, dtype=np.int64)
    if starts.size == 0:
        return
    pad = (-payload.size) % 4
    u32 = (payload if not pad else
           np.concatenate((payload, np.zeros(pad, np.uint8))))
    u32 = u32.view(np.uint32) if not pad else u32.view(np.uint32)
    # (pad only happens for a trailing b==0 row group, which writes nothing)
    lane = indices % 4
    bil = (indices // 4) * bits
    w1 = bil // 32
    s = bil % 32
    widx = starts // 4 + 4 * w1 + lane
    for b in np.unique(bits):
        b = int(b)
        g = np.nonzero(bits == b)[0]
        if b == 0:
            continue
        if b == 32:
            u32[widx[g]] = values[g].astype(np.uint32)
            continue
        mask = np.uint64((1 << b) - 1)
        sg = s[g].astype(np.uint64)
        cur = np.take(u32, widx[g]).astype(np.uint64)
        cleared = cur & ~((mask << sg) & np.uint64(0xFFFFFFFF))
        u32[widx[g]] = (cleared |
                        ((values[g] << sg) & np.uint64(0xFFFFFFFF))) \
            .astype(np.uint32)
        cross = g[(bil[g] % 32) + b > 32]
        if cross.size:
            firstbits = (np.uint64(32) - s[cross].astype(np.uint64))
            mask2 = (np.uint64(1) << (np.uint64(b) - firstbits)) - np.uint64(1)
            w2idx = widx[cross] + 4
            cur2 = np.take(u32, w2idx).astype(np.uint64)
            u32[w2idx] = ((cur2 & ~mask2) |
                          (values[cross] >> firstbits)).astype(np.uint32)
    if pad:
        payload[:] = u32.view(np.uint8)[:payload.size]


def scan_d1(init: int, packed: bytes, bit: int, length: int = FULL_BLOCK
            ) -> int:
    """``simdscand1`` (src/simdpackedselect.c:15216+): advance the running
    offset past a block without materializing it — returns the block's last
    value.  (In the Spark engine this is manifest-level: per-block inits are
    stored, so skipping is free; this kernel exists for API parity.)"""
    return select_d1(init, packed, bit, length - 1, length)


# ---------------------------------------------------------------------------
# Vectorized segment scatter/gather — the glue that lets the Spark UDFs stay
# numpy-only while rows have ragged block layouts.
# ---------------------------------------------------------------------------

def multi_arange(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated [s, s+len) ranges, fully vectorized.

    repeat+take formulation: for output position i in segment s,
    idx[i] = i + (starts[s] - excl_cumsum[s]) — one repeat, one gather, one
    add (the previous searchsorted-per-element form was ~4x slower)."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    shift = starts - (np.cumsum(lens) - lens)
    seg_id = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    return np.arange(total, dtype=np.int64) + np.take(shift, seg_id)


# ---------------------------------------------------------------------------
# Canonical per-row content hash (codec-invariant dedup key)
# ---------------------------------------------------------------------------

def content_hash_flat(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """128-bit content hash of each row's raw token stream.

    The dedup key the engine stamps on every encoded row: it is computed
    from the RAW tokens before any codec runs, so equal token arrays hash
    equal no matter which codec a partition's auto-selector picked (the
    compressed representation is NOT codec-invariant).  Tokens are read
    in the uint32 domain (Arrow's int32 -1 is 0xFFFFFFFF).  Two
    independent 64-bit polynomial hashes H_p = sum_i (v_i + C) * p^(n-1-i)
    mod 2^64 with (p, C) = (0x9E3779B97F4A7C15, 0x9AE16A3B2F90404F) and
    (0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9); each is XORed with n * p and
    passed through the splitmix64 finalizer.  Empty rows are well-defined.
    Computed by the C kernel ``native.content_hash`` (a block-Horner
    loop).  Returns uint8 of shape (16 * nrows,) — 16 little-endian bytes
    per row, H_p1 then H_p2."""
    from . import native
    return native.content_hash(flat, np.asarray(lens, dtype=np.int64))
