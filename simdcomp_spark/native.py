"""The C kernels behind the engine's per-core hot loops.

Self-written generic loops (NOT derived from the reference's
machine-generated per-width unrolled C), compiled with the system gcc on
first use and loaded via ctypes:

* ``pack_lanes``/``unpack_lanes`` — the lane-interleaved bit-pack
  recurrence, width- and lane-parameterized (SSE/AVX2/AVX-512 layouts);
* ``analyze_blocks``/``pack_blocks_flat``/``unpack_blocks_flat`` — the
  FUSED flat-buffer block codec: per-block maxbits/min-max, pack, and
  unpack-with-codec-semantics (FOR base add, d1 prefix sum) in one pass
  over the batch with no intermediate matrices;
* ``dict_streams``/``dict_gather``/``rle_runs``/``gather_rows`` — the
  dict and RLE stream builders and the wire-format row copies;
* ``content_hash``, ``next_fit``, ``tokenize_greedy`` — the per-row dedup
  hash, pack_greedy's next-fit loop and the byte-trie tokenizer;
* ``fsst_encode``/``fsst_decode`` — the FSST tokenizer, the one loop that
  is inherently sequential per row (the next match position depends on the
  previous match length).

The kernels are REQUIRED: each loop has this one implementation, so gcc
must be on the PATH of every host that runs the engine (driver and
executors).  :func:`_load` raises :class:`NativeBuildError`, carrying the
compiler's stderr, when the library cannot be built or loaded, and every
wrapper returns its result or raises.  The library is cached in
``SIMDCOMP_NATIVE_DIR`` (default: a directory under the system temp dir)
under a name derived from a hash of the C source and the compile flags,
so an edited source never loads a stale build.  The golden tests pin the
kernels to vectors dumped from the compiled reference.
"""

from __future__ import annotations

import contextlib
import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <string.h>

/* The flat-codec hot loops have two builds: a 4-lane SSE2 one (x86-64
 * always has SSE2; the 4-lane wire layout IS the SSE layout, so one
 * 128-bit op per row replaces 4 scalar ops and the per-element address
 * math) and the original scalar loops for any other architecture.  Both
 * produce byte-identical payloads (the compiled-reference golden vectors
 * pin the wire format). */
#if defined(__SSE2__) || defined(__x86_64__)
#include <emmintrin.h>
#define SIMDCOMP_SSE2 1
#endif

#ifdef SIMDCOMP_SSE2
/* ---- constant-width instantiation of the SAME parameterized loops ----
 * The switch dispatchers below hand the compiler a compile-time width, so
 * it fully unrolls the 32-row period of a 128-value block and resolves
 * every word index, shift count, and straddle branch at compile time
 * (measured 2.5-3x over the variable-width loop on this host; see
 * BENCH.md).  This is still ONE parameterized recurrence — the per-width
 * unrolling is done by the compiler at -O3, not emitted as source the way
 * the reference's scripts/*.py code generators do. */

static inline __attribute__((always_inline)) void
unpack128_w(const uint32_t *w, uint32_t *o, const int B)
{
    __m128i vm = _mm_set1_epi32((int)((1u << B) - 1u));
#pragma GCC unroll 32
    for (int kr = 0; kr < 32; kr++) {
        int off = kr * B, wi = off >> 5, s = off & 31;
        __m128i x = _mm_srli_epi32(
            _mm_loadu_si128((const __m128i *)(w + wi * 4)), s);
        if (s + B > 32)
            x = _mm_or_si128(x, _mm_slli_epi32(
                _mm_loadu_si128((const __m128i *)(w + wi * 4 + 4)), 32 - s));
        _mm_storeu_si128((__m128i *)(o + kr * 4), _mm_and_si128(x, vm));
    }
}

static void unpack128_c(const uint32_t *w, uint32_t *o, int b)
{
    switch (b) {
#define SC_U(B) case B: unpack128_w(w, o, B); break;
    SC_U(1) SC_U(2) SC_U(3) SC_U(4) SC_U(5) SC_U(6) SC_U(7) SC_U(8)
    SC_U(9) SC_U(10) SC_U(11) SC_U(12) SC_U(13) SC_U(14) SC_U(15) SC_U(16)
    SC_U(17) SC_U(18) SC_U(19) SC_U(20) SC_U(21) SC_U(22) SC_U(23) SC_U(24)
    SC_U(25) SC_U(26) SC_U(27) SC_U(28) SC_U(29) SC_U(30) SC_U(31)
#undef SC_U
    }
}

/* Write-once constant-width pack of one full 128-block: each output word
 * is accumulated in-register and stored exactly once (the last row of the
 * period always ends on a word boundary: 32*B bits), so the variable-width
 * path's memset + read-modify-write |= chain disappears entirely.
 * M masks values to B bits (the masked simdpack variant); base is the FOR
 * subtrahend (0 elsewhere). */
static inline __attribute__((always_inline)) void
pack128_w(const uint32_t *v, uint32_t base, uint32_t *o, const int B,
          const int M)
{
    __m128i vbase = _mm_set1_epi32((int)base);
    __m128i vm = _mm_set1_epi32((int)((1u << B) - 1u));
    __m128i acc = _mm_setzero_si128();
#pragma GCC unroll 32
    for (int kr = 0; kr < 32; kr++) {
        int off = kr * B, s = off & 31;
        __m128i x = _mm_sub_epi32(
            _mm_loadu_si128((const __m128i *)(v + kr * 4)), vbase);
        if (M) x = _mm_and_si128(x, vm);
        acc = _mm_or_si128(acc, _mm_slli_epi32(x, s));
        if (s + B >= 32) {
            _mm_storeu_si128((__m128i *)(o + (off >> 5) * 4), acc);
            acc = (s + B == 32) ? _mm_setzero_si128()
                                : _mm_srli_epi32(x, 32 - s);
        }
    }
}

static void pack128_c(const uint32_t *v, uint32_t base, uint32_t *o,
                      int b, int mask)
{
    switch (b) {
#define SC_P(B) case B: if (mask) pack128_w(v, base, o, B, 1); \
                        else pack128_w(v, base, o, B, 0); break;
    SC_P(1) SC_P(2) SC_P(3) SC_P(4) SC_P(5) SC_P(6) SC_P(7) SC_P(8)
    SC_P(9) SC_P(10) SC_P(11) SC_P(12) SC_P(13) SC_P(14) SC_P(15) SC_P(16)
    SC_P(17) SC_P(18) SC_P(19) SC_P(20) SC_P(21) SC_P(22) SC_P(23) SC_P(24)
    SC_P(25) SC_P(26) SC_P(27) SC_P(28) SC_P(29) SC_P(30) SC_P(31)
#undef SC_P
    }
}
#endif /* SIMDCOMP_SSE2 */

/* Generic lane-interleaved bit-pack: vals (nblk, rows, lanes) u32 ->
 * out (nblk, nwords, lanes) u32, nwords = ceil(rows*bit/32).  One
 * width-parameterized loop (gcc auto-vectorizes the lane dimension) —
 * the same recurrence as the numpy kernel, NOT the reference's
 * machine-generated per-width unrolled functions.  0 < bit < 32. */
void pack_lanes(const uint32_t *vals, int64_t nblk, int rows, int lanes,
                int bit, int mask, uint32_t *out)
{
    int nwords = (rows * bit + 31) / 32;
    uint32_t m = (1u << bit) - 1u;
    for (int64_t blk = 0; blk < nblk; blk++) {
        const uint32_t *v = vals + blk * (int64_t)rows * lanes;
        uint32_t *o = out + blk * (int64_t)nwords * lanes;
#ifdef SIMDCOMP_SSE2
        if (rows == 32 && lanes == 4) {          /* full 128-block */
            pack128_c(v, 0, o, bit, mask);
            continue;
        }
#endif
        memset(o, 0, (size_t)nwords * lanes * 4);
        for (int k = 0; k < rows; k++) {
            int off = k * bit, w = off >> 5, s = off & 31;
            if (s + bit > 32) {
                for (int l = 0; l < lanes; l++) {
                    uint32_t x = v[k * lanes + l];
                    if (mask) x &= m;
                    o[w * lanes + l] |= x << s;
                    o[(w + 1) * lanes + l] |= x >> (32 - s);
                }
            } else {
                for (int l = 0; l < lanes; l++) {
                    uint32_t x = v[k * lanes + l];
                    if (mask) x &= m;
                    o[w * lanes + l] |= x << s;
                }
            }
        }
    }
}

/* Inverse of pack_lanes: words (nblk, nwords, lanes) -> (nblk, rows, lanes).
 * mode 0 = plain deltas; the caller applies FOR/d1 semantics. */
void unpack_lanes(const uint32_t *words, int64_t nblk, int rows, int lanes,
                  int bit, uint32_t *out)
{
    int nwords = (rows * bit + 31) / 32;
    uint32_t m = (1u << bit) - 1u;
    for (int64_t blk = 0; blk < nblk; blk++) {
        const uint32_t *w = words + blk * (int64_t)nwords * lanes;
        uint32_t *o = out + blk * (int64_t)rows * lanes;
#ifdef SIMDCOMP_SSE2
        if (rows == 32 && lanes == 4) {          /* full 128-block */
            unpack128_c(w, o, bit);
            continue;
        }
#endif
        for (int k = 0; k < rows; k++) {
            int off = k * bit, wi = off >> 5, s = off & 31;
            if (s + bit > 32) {
                for (int l = 0; l < lanes; l++) {
                    uint32_t x = (w[wi * lanes + l] >> s) |
                                 (w[(wi + 1) * lanes + l] << (32 - s));
                    o[k * lanes + l] = x & m;
                }
            } else {
                for (int l = 0; l < lanes; l++)
                    o[k * lanes + l] = (w[wi * lanes + l] >> s) & m;
            }
        }
    }
}

/* ---- fused flat-buffer block codec (SSE 4-lane layout, lanes == 4) ----
 * One pass over the batch per stage, no intermediate matrices.
 * mode: 0 = plain, 1 = FOR, 2 = d1 (src already holds deltas; b==32
 * blocks pack the RAW ORIGINAL values from orig in every family). */

static inline int bits32(uint32_t v)
{
    return v ? 32 - __builtin_clz(v) : 0;
}

/* widths (+ FOR inits) per block.  src = mode-transformed values
 * (deltas for d1), orig unused here. */
void analyze_blocks(const uint32_t *src, const int64_t *blk_start,
                    const int32_t *blk_len, int64_t nblk, int mode,
                    uint8_t *widths, uint32_t *inits)
{
    for (int64_t i = 0; i < nblk; i++) {
        const uint32_t *v = src + blk_start[i];
        int n = blk_len[i];
        if (mode == 1) {
            uint32_t mn = v[0], mx = v[0];
            for (int k = 1; k < n; k++) {
                if (v[k] < mn) mn = v[k];
                if (v[k] > mx) mx = v[k];
            }
            inits[i] = mn;
            widths[i] = (uint8_t)bits32(mx - mn);
        } else {
            uint32_t acc = 0;
            for (int k = 0; k < n; k++) acc |= v[k];
            widths[i] = (uint8_t)bits32(acc);
        }
    }
}

/* pack every block at its own width into payload at dst[i].
 * FOR subtracts inits[i]; blocks with b==32 copy raw orig values;
 * tails are padded to a lane multiple with value 0 (FOR: init).
 * Full 4-lane rows go through one 128-bit shift/or per row (SSE2);
 * the last partial row (and non-x86 builds) uses the scalar loop. */
void pack_blocks_flat(const uint32_t *src, const uint32_t *orig,
                      const int64_t *blk_start, const int32_t *blk_len,
                      const uint8_t *widths, const uint32_t *inits,
                      const int64_t *dst, int64_t nblk, int mode,
                      uint8_t *payload)
{
    for (int64_t i = 0; i < nblk; i++) {
        int b = widths[i], n = blk_len[i];
        if (b == 0) continue;
        if (b == 32) {
            memcpy(payload + dst[i], orig + blk_start[i], (size_t)n * 4);
            continue;
        }
        const uint32_t *v = src + blk_start[i];
        uint32_t base = (mode == 1) ? inits[i] : 0;
        int rows = (n + 3) / 4;
        int nwords = (rows * b + 31) / 32;
        uint32_t *o = (uint32_t *)(payload + dst[i]);
#ifdef SIMDCOMP_SSE2
        if (n == 128) {                          /* full block: write-once */
            pack128_c(v, base, o, b, 0);
            continue;
        }
#endif
        memset(o, 0, (size_t)nwords * 16);
        int j0 = 0;
#ifdef SIMDCOMP_SSE2
        {
            int full = n >> 2;
            __m128i vbase = _mm_set1_epi32((int)base);
            for (int kr = 0; kr < full; kr++) {
                int off = kr * b, w = off >> 5, s = off & 31;
                __m128i x = _mm_sub_epi32(
                    _mm_loadu_si128((const __m128i *)(v + kr * 4)), vbase);
                __m128i lo = _mm_loadu_si128((const __m128i *)(o + w * 4));
                _mm_storeu_si128((__m128i *)(o + w * 4),
                                 _mm_or_si128(lo, _mm_slli_epi32(x, s)));
                if (s + b > 32) {
                    __m128i hi =
                        _mm_loadu_si128((const __m128i *)(o + w * 4 + 4));
                    _mm_storeu_si128((__m128i *)(o + w * 4 + 4),
                                     _mm_or_si128(hi,
                                                  _mm_srli_epi32(x, 32 - s)));
                }
            }
            j0 = full * 4;
        }
#endif
        for (int j = j0; j < n; j++) {
            int k = j >> 2, l = j & 3;
            int off = k * b, w = off >> 5, s = off & 31;
            uint32_t x = v[j] - base;
            o[w * 4 + l] |= x << s;
            if (s + b > 32)
                o[(w + 1) * 4 + l] |= x >> (32 - s);
        }
    }
}

/* unpack every block into out at blk_start[i], applying codec semantics:
 * FOR adds inits[i]; d1 prefix-sums from inits[i]; b==0 broadcasts the
 * init (plain: 0); b==32 copies raw values. */
void unpack_blocks_flat(const uint8_t *payload, const int64_t *src_off,
                        const int64_t *blk_start, const int32_t *blk_len,
                        const uint8_t *widths, const uint32_t *inits,
                        int64_t nblk, int mode, uint32_t *out)
{
    for (int64_t i = 0; i < nblk; i++) {
        int b = widths[i], n = blk_len[i];
        uint32_t *o = out + blk_start[i];
        if (b == 0) {
            uint32_t fill = (mode == 0) ? 0 : inits[i];
            for (int k = 0; k < n; k++) o[k] = fill;
            continue;
        }
        if (b == 32) {
            memcpy(o, payload + src_off[i], (size_t)n * 4);
            continue;
        }
        const uint32_t *w = (const uint32_t *)(payload + src_off[i]);
        uint32_t m = (1u << b) - 1u;
        int k0 = 0;
#ifdef SIMDCOMP_SSE2
        if (n == 128) {                          /* full block */
            unpack128_c(w, o, b);
            k0 = 128;
        } else {
            int full = n >> 2;
            __m128i vm = _mm_set1_epi32((int)m);
            for (int kr = 0; kr < full; kr++) {
                int off = kr * b, wi = off >> 5, s = off & 31;
                __m128i lo = _mm_loadu_si128((const __m128i *)(w + wi * 4));
                __m128i x = _mm_srli_epi32(lo, s);
                if (s + b > 32) {
                    __m128i hi =
                        _mm_loadu_si128((const __m128i *)(w + wi * 4 + 4));
                    x = _mm_or_si128(x, _mm_slli_epi32(hi, 32 - s));
                }
                _mm_storeu_si128((__m128i *)(o + kr * 4),
                                 _mm_and_si128(x, vm));
            }
            k0 = full * 4;
        }
#endif
        for (int k = k0; k < n; k++) {
            int off = (k >> 2) * b, wi = off >> 5, s = off & 31;
            uint32_t x = w[wi * 4 + (k & 3)] >> s;
            if (s + b > 32)
                x |= w[(wi + 1) * 4 + (k & 3)] << (32 - s);
            o[k] = x & m;
        }
        if (mode == 1) {
            uint32_t base = inits[i];
            int k = 0;
#ifdef SIMDCOMP_SSE2
            __m128i vb = _mm_set1_epi32((int)base);
            for (; k + 4 <= n; k += 4)
                _mm_storeu_si128(
                    (__m128i *)(o + k),
                    _mm_add_epi32(_mm_loadu_si128((const __m128i *)(o + k)),
                                  vb));
#endif
            for (; k < n; k++) o[k] += base;
        } else if (mode == 2) {
            uint32_t acc = inits[i];
            int k = 0;
#ifdef SIMDCOMP_SSE2
            /* in-register prefix scan (shift+add, log2 steps) with the
             * running total broadcast from the previous vector's lane 3 */
            __m128i vacc = _mm_set1_epi32((int)acc);
            for (; k + 4 <= n; k += 4) {
                __m128i x = _mm_loadu_si128((const __m128i *)(o + k));
                x = _mm_add_epi32(x, _mm_slli_si128(x, 4));
                x = _mm_add_epi32(x, _mm_slli_si128(x, 8));
                x = _mm_add_epi32(x, vacc);
                _mm_storeu_si128((__m128i *)(o + k), x);
                vacc = _mm_shuffle_epi32(x, 0xFF);
            }
            acc = (uint32_t)_mm_cvtsi128_si32(vacc);
#endif
            for (; k < n; k++) { acc += o[k]; o[k] = acc; }
        }
    }
}

/* Segmented memcpy: for each row copy lens[i] bytes from src+src_off[i]
 * to dst+dst_off[i] — the codec wire-format assembly/parsing (a straight
 * memcpy per row instead of an int64 index per BYTE). */
void gather_rows(const uint8_t *src, const int64_t *src_off,
                 const int64_t *lens, int64_t n, uint8_t *dst,
                 const int64_t *dst_off)
{
    for (int64_t i = 0; i < n; i++)
        memcpy(dst + dst_off[i], src + src_off[i], (size_t)lens[i]);
}

/* Per-row dictionary streams (dict codec hot loop): for each row emit its
 * sorted distinct values (uniq, packed contiguously across rows), the
 * per-row distinct count, and for every original token its rank in the
 * row's sorted distinct set.  Per row: LSB-radix sort of (value<<32|pos)
 * pairs, with passes skipped for value bytes that don't vary inside the
 * row (token ids are typically < 2^16-2^24 → 2-3 passes), then one scan.
 * scratch must hold 2*max_row_len uint64.  Returns the total uniq count. */
int64_t dict_streams(const uint32_t *flat, const int64_t *row_off,
                     int64_t nrows, uint64_t *scratch,
                     uint32_t *uniq, int64_t *n_dict, uint32_t *codes)
{
    int64_t u = 0;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t s = row_off[r], n = row_off[r + 1] - s;
        if (n <= 0) { n_dict[r] = 0; continue; }
        const uint32_t *v = flat + s;
        uint64_t *a = scratch, *tmp = scratch + n;
        uint32_t orv = 0;
        int64_t hist[4][256];
        memset(hist, 0, sizeof hist);
        for (int64_t k = 0; k < n; k++) {   /* build + all histograms, 1 pass */
            uint32_t x = v[k];
            orv |= x;
            hist[0][x & 255]++;
            hist[1][(x >> 8) & 255]++;
            hist[2][(x >> 16) & 255]++;
            hist[3][x >> 24]++;
            a[k] = ((uint64_t)x << 32) | (uint64_t)k;
        }
        int nbytes = orv ? (bits32(orv) + 7) / 8 : 0;
        for (int byte = 0; byte < nbytes; byte++) {
            const int64_t *cnt = hist[byte];
            int shift = 32 + 8 * byte;
            if (cnt[(a[0] >> shift) & 255] == n)
                continue;                    /* byte constant in this row */
            int64_t pos[256], run = 0;
            for (int i = 0; i < 256; i++) { pos[i] = run; run += cnt[i]; }
            for (int64_t k = 0; k < n; k++)
                tmp[pos[(a[k] >> shift) & 255]++] = a[k];
            uint64_t *sw = a; a = tmp; tmp = sw;
        }
        int64_t u0 = u;
        uint32_t prev = (uint32_t)(a[0] >> 32);
        uniq[u++] = prev;
        codes[s + (uint32_t)a[0]] = 0;
        for (int64_t k = 1; k < n; k++) {
            uint32_t val = (uint32_t)(a[k] >> 32);
            if (val != prev) { uniq[u++] = val; prev = val; }
            codes[s + (uint32_t)a[k]] = (uint32_t)(u - u0 - 1);
        }
        n_dict[r] = u - u0;
    }
    return u;
}

/* Bounded-vocab fast path for the dict streams: a direct-address
 * epoch-tagged table (tag/rank sized max_val+1, tag zeroed by the caller
 * once per batch) replaces the per-row pair radix sort.  The probe loop is
 * BRANCHLESS (always store, conditionally advance the count) because the
 * new-vs-seen branch is ~50/50 on zipf token data and the misprediction
 * was the dominant cost; only the distinct set (typically ~40% of tokens)
 * goes through the radix passes, and codes come from one rank lookup per
 * token.  ~2x the pair-radix path on 50k-vocab zipf data; the caller
 * gates on max_val so unbounded values fall back to dict_streams. */
int64_t dict_streams_table(const uint32_t *flat, const int64_t *row_off,
                           int64_t nrows, uint32_t *tag, uint32_t *rank,
                           uint32_t *tmp, uint32_t *tmp2,
                           uint32_t *uniq, int64_t *n_dict, uint32_t *codes)
{
    int64_t u = 0;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t s = row_off[r], n = row_off[r + 1] - s;
        if (n <= 0) { n_dict[r] = 0; continue; }
        const uint32_t *v = flat + s;
        uint32_t epoch = (uint32_t)r + 1u;
        int64_t cnt = 0;
        uint32_t orv = 0;
        for (int64_t k = 0; k < n; k++) {
            uint32_t x = v[k];
            uint32_t isnew = (tag[x] != epoch);
            tag[x] = epoch;
            tmp[cnt] = x;
            cnt += isnew;
            orv |= x;
        }
        int nbytes = orv ? (bits32(orv) + 7) / 8 : 0;
        uint32_t *a = tmp, *b = tmp2;
        for (int byte = 0; byte < nbytes; byte++) {
            int shift = 8 * byte;
            int64_t hist[256];
            memset(hist, 0, sizeof hist);
            for (int64_t k = 0; k < cnt; k++) hist[(a[k] >> shift) & 255]++;
            if (hist[(a[0] >> shift) & 255] == cnt)
                continue;                    /* byte constant in this row */
            int64_t pos[256], run = 0;
            for (int i = 0; i < 256; i++) { pos[i] = run; run += hist[i]; }
            for (int64_t k = 0; k < cnt; k++)
                b[pos[(a[k] >> shift) & 255]++] = a[k];
            uint32_t *sw = a; a = b; b = sw;
        }
        for (int64_t k = 0; k < cnt; k++) {
            uniq[u + k] = a[k];
            rank[a[k]] = (uint32_t)k;
        }
        for (int64_t k = 0; k < n; k++) codes[s + k] = rank[v[k]];
        n_dict[r] = cnt;
        u += cnt;
    }
    return u;
}

/* Run detection over concatenated rows (rle codec): one pass emitting
 * run values, run lengths, and runs-per-row; runs never cross row
 * boundaries.  run_vals/run_lens must have capacity row_off[nrows].
 * Returns the total run count. */
int64_t rle_runs(const uint32_t *flat, const int64_t *row_off, int64_t nrows,
                 uint32_t *run_vals, int64_t *run_lens, int64_t *rpr)
{
    int64_t nr = 0;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t s = row_off[r], e = row_off[r + 1];
        int64_t r0 = nr;
        if (s < e) {
            uint32_t cur = flat[s];
            int64_t cnt = 1;
            for (int64_t k = s + 1; k < e; k++) {
                if (flat[k] == cur) cnt++;
                else {
                    run_vals[nr] = cur;
                    run_lens[nr++] = cnt;
                    cur = flat[k];
                    cnt = 1;
                }
            }
            run_vals[nr] = cur;
            run_lens[nr++] = cnt;
        }
        rpr[r] = nr - r0;
    }
    return nr;
}

/* Dict decode final gather: out[k] = uniq[dict_off[row]+codes[k]] in one
 * pass (no repeat + add + take full-size temporaries). */
void dict_gather(const uint32_t *uniq, const uint32_t *codes,
                 const int64_t *row_off, const int64_t *dict_off,
                 int64_t nrows, uint32_t *out)
{
    for (int64_t r = 0; r < nrows; r++) {
        const uint32_t *u = uniq + dict_off[r];
        for (int64_t k = row_off[r]; k < row_off[r + 1]; k++)
            out[k] = u[codes[k]];
    }
}

/* Greedy FSST tokenizer over concatenated rows.
 * buf MUST be padded with >=8 zero bytes past position n.
 * Tables: lut1[256]/lut2[65536] hold a symbol code or 255 (escape);
 * hash slots (1<<hbits) hold one candidate symbol of length 3..8 as a
 * little-endian masked 8-byte value.  Returns total output bytes.
 * out must have capacity 2*n (worst case: all escapes). */
int64_t fsst_encode(const uint8_t *buf, int64_t n,
                    const int64_t *bounds, int64_t nrows,
                    const uint8_t *lut1, const uint8_t *lut2,
                    const uint8_t *slot_len, const uint8_t *slot_code,
                    const uint64_t *slot_val, const uint64_t *slot_mask,
                    int hbits, uint8_t *out, int64_t *out_lens)
{
    int64_t o = 0;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t pos = bounds[r], end = bounds[r + 1];
        int64_t o0 = o;
        while (pos < end) {
            int64_t rem = end - pos;
            uint64_t w;
            memcpy(&w, buf + pos, 8);       /* LE on all target platforms */
            uint32_t key3 = (uint32_t)(w & 0xFFFFFF);
            uint32_t h = (key3 * 2654435761u) >> (32 - hbits);
            int L = slot_len[h];
            if (L >= 3 && L <= rem && (w & slot_mask[h]) == slot_val[h]) {
                out[o++] = slot_code[h];
                pos += L;
                continue;
            }
            if (rem >= 2) {
                uint8_t c2 = lut2[(uint16_t)(w & 0xFFFF)];
                if (c2 != 255) { out[o++] = c2; pos += 2; continue; }
            }
            uint8_t c1 = lut1[buf[pos]];
            out[o++] = c1;
            if (c1 == 255) out[o++] = buf[pos];   /* escape pair */
            pos += 1;
        }
        out_lens[r] = o - o0;
    }
    return o;
}

/* FSST decode: codes -> bytes.  sym_mat is (256 x 8) padded symbol bytes
 * (row 255 unused), sym_len[256] with sym_len[255] == 0 sentinel.
 * Returns total output bytes.  out must have capacity 8*n. */
int64_t fsst_decode(const uint8_t *codes, int64_t n,
                    const int64_t *bounds, int64_t nrows,
                    const uint8_t *sym_mat, const uint8_t *sym_len,
                    uint8_t *out, int64_t *out_lens)
{
    int64_t o = 0;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t pos = bounds[r], end = bounds[r + 1];
        int64_t o0 = o;
        while (pos < end) {
            uint8_t c = codes[pos];
            if (c == 255) {                 /* escape: next byte literal */
                out[o++] = codes[pos + 1];
                pos += 2;
            } else {
                memcpy(out + o, sym_mat + ((size_t)c << 3), 8);
                o += sym_len[c];
                pos += 1;
            }
        }
        out_lens[r] = o - o0;
    }
    return o;
}

/* Per-row 128-bit content hash (codec-invariant dedup key): two
 * independent 64-bit polynomial hashes via forward Horner
 * (h = h*p + (v + c)), then a length fold + splitmix64 finalizer; Horner
 * of p equals sum (v_i+c)*p^(n-1-i) mod 2^64, the definition documented
 * in kernels.content_hash_flat.  The two Horner chains are independent so
 * they pipeline.  out receives 2 u64 words per row. */
void content_hash(const uint32_t *flat, const int64_t *row_off,
                  int64_t nrows, uint64_t *out)
{
    const uint64_t P1 = 0x9E3779B97F4A7C15ULL, C1 = 0x9AE16A3B2F90404FULL;
    const uint64_t P2 = 0xC2B2AE3D27D4EB4FULL, C2 = 0x165667B19E3779F9ULL;
    /* 4-way block-Horner: h = h*p^4 + a0*p^3 + a1*p^2 + a2*p + a3 is the
     * SAME polynomial (bit-identical mod 2^64), but the four products are
     * independent, breaking the one-imul-per-token latency chain. */
    const uint64_t P1_2 = P1 * P1, P1_3 = P1_2 * P1, P1_4 = P1_2 * P1_2;
    const uint64_t P2_2 = P2 * P2, P2_3 = P2_2 * P2, P2_4 = P2_2 * P2_2;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t s = row_off[r], e = row_off[r + 1];
        uint64_t h1 = 0, h2 = 0, len = (uint64_t)(e - s);
        int64_t k = s;
        for (; k + 4 <= e; k += 4) {
            uint64_t v0 = flat[k], v1 = flat[k + 1];
            uint64_t v2 = flat[k + 2], v3 = flat[k + 3];
            h1 = h1 * P1_4 + (v0 + C1) * P1_3 + (v1 + C1) * P1_2
               + (v2 + C1) * P1 + (v3 + C1);
            h2 = h2 * P2_4 + (v0 + C2) * P2_3 + (v1 + C2) * P2_2
               + (v2 + C2) * P2 + (v3 + C2);
        }
        for (; k < e; k++) {
            uint64_t v = flat[k];
            h1 = h1 * P1 + (v + C1);
            h2 = h2 * P2 + (v + C2);
        }
        h1 ^= len * P1;
        h2 ^= len * P2;
        h1 ^= h1 >> 30; h1 *= 0xBF58476D1CE4E5B9ULL;
        h1 ^= h1 >> 27; h1 *= 0x94D049BB133111EBULL;
        h1 ^= h1 >> 31;
        h2 ^= h2 >> 30; h2 *= 0xBF58476D1CE4E5B9ULL;
        h2 ^= h2 >> 27; h2 *= 0x94D049BB133111EBULL;
        h2 ^= h2 >> 31;
        out[2 * r] = h1;
        out[2 * r + 1] = h2;
    }
}

/* Next-fit bin packing over one bucket's doc sizes: chunk[i] is the
 * 1-based running chunk id; a doc opens a new chunk when it no longer
 * fits.  Sequential by definition (each decision depends on the running
 * fill) — the distribution axis is the BUCKET, this loop is per bucket. */
void next_fit(const int64_t *ns, int64_t n, int64_t cap, int64_t *chunk)
{
    int64_t cid = 0, fill = cap;
    for (int64_t i = 0; i < n; i++) {
        int64_t v = ns[i];
        if (fill + v <= cap) fill += v;
        else { cid += 1; fill = v; }
        chunk[i] = cid;
    }
}

/* Greedy longest-match subword tokenizer over a byte-trie DFA.
 *
 * The trie is vocabulary-agnostic, built caller-side as numpy arrays:
 * trans[node*256 + byte] = next node or -1, accept[node] = token id or -1
 * (node 0 = root).  Semantics replicate functions/tokenize.tokenize_word
 * exactly: 0x20 is a hard separator (no vocab entry may contain it —
 * guarded at trie build), maximal munch restarts at the cursor after each
 * emit, and the no-match fallback emits unk_id and advances ONE UTF-8
 * CHARACTER (skip continuation bytes), matching the str-domain Python
 * loop on multibyte input.  buf is the Arrow string buffer itself;
 * starts/ends are absolute slot offsets (null slots: end == start).
 * out must hold (sum of slot byte lengths) int32s — one token consumes
 * at least one byte, so that bound is exact-worst-case. */
void tokenize_greedy(const uint8_t *buf, const int64_t *starts,
                     const int64_t *ends, int64_t nrows,
                     const int32_t *trans, const int32_t *accept,
                     int32_t unk_id, int32_t *out, int64_t *out_lens)
{
    int64_t k = 0;
    for (int64_t r = 0; r < nrows; r++) {
        int64_t i = starts[r], e = ends[r], k0 = k;
        while (i < e) {
            uint8_t b = buf[i];
            if (b == 0x20) { i++; continue; }
            int32_t node = 0, best_id = -1;
            int64_t j = i, best_end = i;
            do {
                int32_t nxt = trans[((int64_t)node << 8) | buf[j]];
                if (nxt < 0) break;
                node = nxt; j++;
                int32_t a = accept[node];
                if (a >= 0) { best_id = a; best_end = j; }
            } while (j < e);
            if (best_id >= 0) { out[k++] = best_id; i = best_end; }
            else {
                out[k++] = unk_id;
                i++;
                while (i < e && (buf[i] & 0xC0) == 0x80) i++;
            }
        }
        out_lens[r] = k - k0;
    }
}
"""

# x86-64-v2 (SSE4.2) lets gcc vectorize the unsigned min/max analyze loops
# (pminud is not in baseline SSE2); the second flag set serves toolchains
# without it (non-x86 hosts)
_FLAGS = (("-O3", "-march=x86-64-v2", "-shared", "-fPIC"),
          ("-O3", "-shared", "-fPIC"))
_TAG = hashlib.sha256(
    (_C_SRC + repr(_FLAGS)).encode()).hexdigest()[:16]


class NativeBuildError(RuntimeError):
    """The C kernels could not be compiled or loaded on this host."""


_lock = threading.Lock()
_lib: ctypes.CDLL | None = None
_error: NativeBuildError | None = None


def _build_dir() -> str:
    d = os.environ.get("SIMDCOMP_NATIVE_DIR") or os.path.join(
        tempfile.gettempdir(), "simdcomp_spark_native")
    os.makedirs(d, exist_ok=True)
    return d


def _compile() -> str:
    """Path of the shared library for this source, compiled on first use.
    Concurrent builders write pid-unique files and publish them with an
    atomic rename, so racing processes are fine."""
    base = os.path.join(_build_dir(), f"simdcomp_kernels_{_TAG}")
    so = base + ".so"
    if os.path.exists(so):
        return so
    tmp_src, tmp = f"{base}.{os.getpid()}.c", f"{base}.{os.getpid()}.so"
    with open(tmp_src, "w") as f:
        f.write(_C_SRC)
    failures = []
    try:
        for flags in _FLAGS:
            cmd = ["gcc", *flags, "-o", tmp, tmp_src]
            try:
                r = subprocess.run(cmd, capture_output=True, text=True,
                                   timeout=60)
            except (OSError, subprocess.TimeoutExpired) as e:
                failures.append(f"$ {' '.join(cmd)}\n{e}")
                break                   # no gcc: other flags cannot help
            if r.returncode == 0:
                os.replace(tmp, so)
                os.replace(tmp_src, base + ".c")    # kept for inspection
                return so
            failures.append(f"$ {' '.join(cmd)}\n{r.stderr.strip()}")
    finally:
        for leftover in (tmp_src, tmp):
            with contextlib.suppress(FileNotFoundError):
                os.remove(leftover)
    raise NativeBuildError(
        "could not compile the simdcomp_spark C kernels; gcc is required "
        "on every host that runs the engine:\n" + "\n".join(failures))


def _load() -> ctypes.CDLL:
    """Compile (once per machine) and load the kernels.  Raises
    :class:`NativeBuildError` on failure; the failure is remembered, so
    later calls re-raise it without compiling again."""
    global _lib, _error
    if _lib is not None:
        return _lib
    with _lock:
        if _lib is None:
            if _error is None:
                try:
                    _lib = _bind(ctypes.CDLL(_compile()))
                except NativeBuildError as e:
                    _error = e
                except OSError as e:
                    _error = NativeBuildError(
                        f"could not load the simdcomp_spark C kernels: {e}")
            if _error is not None:
                raise _error.with_traceback(None)
    return _lib


def _bind(lib: ctypes.CDLL) -> ctypes.CDLL:
    """Declare every kernel's C signature on the loaded library."""
    i64, u8p, i64p = (ctypes.c_int64, ctypes.POINTER(ctypes.c_uint8),
                      ctypes.POINTER(ctypes.c_int64))
    u64p = ctypes.POINTER(ctypes.c_uint64)
    lib.fsst_encode.restype = i64
    lib.fsst_encode.argtypes = [u8p, i64, i64p, i64, u8p, u8p, u8p,
                                u8p, u64p, u64p, ctypes.c_int, u8p,
                                i64p]
    lib.fsst_decode.restype = i64
    lib.fsst_decode.argtypes = [u8p, i64, i64p, i64, u8p, u8p, u8p,
                                i64p]
    u32p = ctypes.POINTER(ctypes.c_uint32)
    i32p = ctypes.POINTER(ctypes.c_int32)
    ci = ctypes.c_int
    lib.pack_lanes.restype = None
    lib.pack_lanes.argtypes = [u32p, i64, ci, ci, ci, ci, u32p]
    lib.unpack_lanes.restype = None
    lib.unpack_lanes.argtypes = [u32p, i64, ci, ci, ci, u32p]
    lib.analyze_blocks.restype = None
    lib.analyze_blocks.argtypes = [u32p, i64p, i32p, i64, ci, u8p,
                                   u32p]
    lib.pack_blocks_flat.restype = None
    lib.pack_blocks_flat.argtypes = [u32p, u32p, i64p, i32p, u8p,
                                     u32p, i64p, i64, ci, u8p]
    lib.unpack_blocks_flat.restype = None
    lib.unpack_blocks_flat.argtypes = [u8p, i64p, i64p, i32p, u8p,
                                       u32p, i64, ci, u32p]
    lib.dict_streams.restype = i64
    lib.dict_streams.argtypes = [u32p, i64p, i64, u64p, u32p, i64p,
                                 u32p]
    lib.dict_streams_table.restype = i64
    lib.dict_streams_table.argtypes = [u32p, i64p, i64, u32p, u32p,
                                       u32p, u32p, u32p, i64p, u32p]
    lib.gather_rows.restype = None
    lib.gather_rows.argtypes = [u8p, i64p, i64p, i64, u8p, i64p]
    lib.dict_gather.restype = None
    lib.dict_gather.argtypes = [u32p, u32p, i64p, i64p, i64, u32p]
    lib.rle_runs.restype = i64
    lib.rle_runs.argtypes = [u32p, i64p, i64, u32p, i64p, i64p]
    lib.content_hash.restype = None
    lib.content_hash.argtypes = [u32p, i64p, i64, u64p]
    lib.next_fit.restype = None
    lib.next_fit.argtypes = [i64p, i64, i64, i64p]
    lib.tokenize_greedy.restype = None
    lib.tokenize_greedy.argtypes = [u8p, i64p, i64p, i64, i32p,
                                    i32p, ctypes.c_int32, i32p,
                                    i64p]
    return lib


def _p8(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8))


def _p64(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int64))


def _pu64(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64))


def encode_flat(table, buf: np.ndarray, bounds: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
    """C fsst encode; returns (out, out_lens)."""
    lib = _load()
    n = int(bounds[-1])
    padded = np.zeros(n + 8, dtype=np.uint8)
    padded[:n] = buf
    out = np.empty(max(2 * n, 1), dtype=np.uint8)
    out_lens = np.empty(bounds.size - 1, dtype=np.int64)
    total = lib.fsst_encode(
        _p8(padded), n, _p64(bounds), bounds.size - 1,
        _p8(table._lut1), _p8(table._lut2), _p8(table._slot_len),
        _p8(table._slot_code), _pu64(table._slot_val64),
        _pu64(table._slot_mask64), table._hbits, _p8(out), _p64(out_lens))
    return out[:total].copy(), out_lens


def decode_flat(table, codes: np.ndarray, bounds: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
    """C fsst decode; returns (out, out_lens)."""
    lib = _load()
    n = int(bounds[-1])
    padded = np.zeros(n + 1, dtype=np.uint8)      # escape reads pos+1
    padded[:n] = codes
    out = np.empty(max(8 * n, 1), dtype=np.uint8)
    out_lens = np.empty(bounds.size - 1, dtype=np.int64)
    total = lib.fsst_decode(
        _p8(padded), n, _p64(bounds), bounds.size - 1,
        _p8(table._dec_mat256), _p8(table._dec_len256),
        _p8(out), _p64(out_lens))
    return out[:total].copy(), out_lens


def _pu32(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_uint32))


def pack_lanes(vals: np.ndarray, bit: int, mask: bool) -> np.ndarray:
    """C pack_lanes; (nblk, rows, lanes) u32 → (nblk, nwords, lanes) u32."""
    lib = _load()
    nblk, rows, lanes = vals.shape
    nwords = (rows * bit + 31) // 32
    out = np.empty((nblk, nwords, lanes), dtype=np.uint32)
    lib.pack_lanes(_pu32(vals), nblk, rows, lanes, bit,
                   1 if mask else 0, _pu32(out))
    return out


def unpack_lanes(words: np.ndarray, rows: int, bit: int) -> np.ndarray:
    """C unpack_lanes; (nblk, nwords, lanes) u32 → (nblk, rows, lanes)."""
    lib = _load()
    nblk, _nw, lanes = words.shape
    out = np.empty((nblk, rows, lanes), dtype=np.uint32)
    lib.unpack_lanes(_pu32(words), nblk, rows, lanes, bit, _pu32(out))
    return out


def gather_rows(src: np.ndarray, src_off: np.ndarray, lens: np.ndarray,
                dst: np.ndarray, dst_off: np.ndarray) -> None:
    """C segmented memcpy:
    dst[dst_off[i]:+lens[i]] = src[src_off[i]:+lens[i]]."""
    lib = _load()
    lib.gather_rows(_p8(src), _p64(src_off), _p64(lens), lens.size,
                    _p8(dst), _p64(dst_off))


def rle_runs(flat: np.ndarray, lens: np.ndarray
             ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """C one-pass run detection; returns (run_vals, run_lens, runs_per_row).
    Runs never cross row boundaries."""
    lib = _load()
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    row_off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=row_off[1:])
    total = int(row_off[-1])
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    run_vals = np.empty(max(total, 1), dtype=np.uint32)
    run_lens = np.empty(max(total, 1), dtype=np.int64)
    rpr = np.empty(lens.size, dtype=np.int64)
    nr = lib.rle_runs(_pu32(flat), _p64(row_off), lens.size,
                      _pu32(run_vals), _p64(run_lens), _p64(rpr))
    return run_vals[:nr], run_lens[:nr], rpr


def dict_gather(uniq: np.ndarray, codes: np.ndarray, lens: np.ndarray,
                n_dict: np.ndarray) -> np.ndarray:
    """C one-pass dict gather out[k] = uniq[dict_off[row]+codes[k]]."""
    lib = _load()
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    n_dict = np.ascontiguousarray(n_dict, dtype=np.int64)
    row_off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=row_off[1:])
    dict_off = np.cumsum(n_dict) - n_dict
    uniq = np.ascontiguousarray(uniq, dtype=np.uint32)
    codes = np.ascontiguousarray(codes, dtype=np.uint32)
    out = np.empty(max(int(row_off[-1]), 1), dtype=np.uint32)
    lib.dict_gather(_pu32(uniq), _pu32(codes), _p64(row_off),
                    _p64(dict_off), lens.size, _pu32(out))
    return out[:int(row_off[-1])]


# direct-address table path cap: tag+rank are (max_val+1) u32 each, so
# 2^22 caps the per-call scratch at 32 MB — plenty for token vocabularies
# (50k-256k ids), while arbitrary u32 values fall back to the pair radix
_DICT_TABLE_MAX = 1 << 22


def dict_streams(flat: np.ndarray, lens: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """C per-row dict streams; returns (uniq, n_dict, codes): each row's
    sorted distinct values (concatenated across rows), their count per
    row, and every token's rank in its row's distinct set.  Bounded-vocab
    batches go through the branchless direct-address table kernel;
    unbounded values use the per-row pair radix sort."""
    lib = _load()
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    row_off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=row_off[1:])
    total = int(row_off[-1])
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    max_len = int(lens.max()) if lens.size else 0
    uniq = np.empty(max(total, 1), dtype=np.uint32)
    n_dict = np.empty(lens.size, dtype=np.int64)
    codes = np.empty(max(total, 1), dtype=np.uint32)
    max_val = int(flat.max()) if total else 0
    # epoch tags are (uint32_t)r + 1: a batch of >= 2^32-1 rows would wrap
    # the tag back to the zero-initialized value and silently corrupt the
    # streams — route such (unrealistic but possible) batches to the
    # epoch-free pair-radix kernel instead
    if total and max_val < _DICT_TABLE_MAX and lens.size < 0xFFFFFFFF:
        tag = np.zeros(max_val + 1, dtype=np.uint32)
        rank = np.empty(max_val + 1, dtype=np.uint32)
        tmp = np.empty(max_len + 1, dtype=np.uint32)
        tmp2 = np.empty(max_len + 1, dtype=np.uint32)
        nuniq = lib.dict_streams_table(
            _pu32(flat), _p64(row_off), lens.size, _pu32(tag), _pu32(rank),
            _pu32(tmp), _pu32(tmp2), _pu32(uniq), _p64(n_dict), _pu32(codes))
        return uniq[:nuniq], n_dict, codes[:total]
    scratch = np.empty(max(2 * max_len, 1), dtype=np.uint64)
    nuniq = lib.dict_streams(_pu32(flat), _p64(row_off), lens.size,
                             _pu64(scratch), _pu32(uniq), _p64(n_dict),
                             _pu32(codes))
    return uniq[:nuniq], n_dict, codes[:total]


def _pi32(a: np.ndarray):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int32))


_MODE = {"plain": 0, "for": 1, "d1": 2}


def analyze_blocks(src: np.ndarray, blk_start: np.ndarray,
                   blk_len: np.ndarray, mode: str,
                   inits: np.ndarray) -> np.ndarray:
    """Per-block widths (and FOR inits, written into ``inits``)."""
    lib = _load()
    nblk = blk_start.size
    widths = np.empty(nblk, dtype=np.uint8)
    lib.analyze_blocks(_pu32(src), _p64(blk_start), _pi32(blk_len), nblk,
                       _MODE[mode], _p8(widths), _pu32(inits))
    return widths


def pack_blocks_flat(src: np.ndarray, orig: np.ndarray,
                     blk_start: np.ndarray, blk_len: np.ndarray,
                     widths: np.ndarray, inits: np.ndarray,
                     dst: np.ndarray, mode: str,
                     payload: np.ndarray) -> None:
    """Pack every block at its width into ``payload`` at ``dst``."""
    lib = _load()
    lib.pack_blocks_flat(_pu32(src), _pu32(orig), _p64(blk_start),
                         _pi32(blk_len), _p8(widths), _pu32(inits),
                         _p64(dst), blk_start.size, _MODE[mode],
                         _p8(payload))


def unpack_blocks_flat(payload: np.ndarray, src_off: np.ndarray,
                       blk_start: np.ndarray, blk_len: np.ndarray,
                       widths: np.ndarray, inits: np.ndarray, mode: str,
                       out: np.ndarray) -> None:
    """Unpack every block into ``out`` with the mode's codec semantics."""
    lib = _load()
    lib.unpack_blocks_flat(_p8(payload), _p64(src_off), _p64(blk_start),
                           _pi32(blk_len), _p8(widths), _pu32(inits),
                           blk_start.size, _MODE[mode], _pu32(out))


def content_hash(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """C per-row 128-bit content hash (see kernels.content_hash_flat for
    the definition); returns uint8 of shape (16*nrows,)."""
    lib = _load()
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    row_off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=row_off[1:])
    flat = np.ascontiguousarray(flat, dtype=np.uint32)
    out = np.empty(2 * max(lens.size, 1), dtype=np.uint64)
    lib.content_hash(_pu32(flat), _p64(row_off), lens.size, _pu64(out))
    return out[:2 * lens.size].view(np.uint8)


def tokenize_greedy(buf: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                    trans: np.ndarray, accept: np.ndarray, unk_id: int
                    ) -> tuple[np.ndarray, np.ndarray]:
    """C greedy longest-match tokenizer over a byte-trie DFA; returns
    (flat int32 token ids, per-row int64 counts).  Same ids as
    functions/tokenize.tokenize_word (asserted in tests/test_functions.py)."""
    lib = _load()
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    ends = np.ascontiguousarray(ends, dtype=np.int64)
    nrows = starts.size
    cap = int((ends - starts).sum())
    out = np.empty(max(cap, 1), dtype=np.int32)
    out_lens = np.empty(max(nrows, 1), dtype=np.int64)
    lib.tokenize_greedy(_p8(buf), _p64(starts), _p64(ends), nrows,
                        _pi32(trans), _pi32(accept),
                        ctypes.c_int32(unk_id), _pi32(out), _p64(out_lens))
    total = int(out_lens[:nrows].sum())
    return out[:total], out_lens[:nrows]


def next_fit(ns: np.ndarray, cap: int) -> np.ndarray:
    """C next-fit chunk assignment over one bucket's doc sizes; returns
    1-based int64 chunk ids."""
    lib = _load()
    ns = np.ascontiguousarray(ns, dtype=np.int64)
    out = np.empty(max(ns.size, 1), dtype=np.int64)
    lib.next_fit(_p64(ns), ns.size, int(cap), _p64(out))
    return out[:ns.size]
