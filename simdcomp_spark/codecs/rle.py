"""Run-length codec (north-rule addition; not in the reference — see
SURVEY.md §2.6).  Good for padding/repeated tokens.

Wire format per non-empty row:
    u32 n_runs |
    widths_v: uint8 × ceil(n_runs/128) | widths_l: uint8 × ceil(n_runs/128) |
    plain-block payload of run_values | plain-block payload of (run_len - 1)

Both sub-streams reuse the reference per-block-maxbits bit-packing layout
(``blocks.encode_flat`` mode 'plain'), so RLE inherits the bit-identical
kernels AND per-block adaptive widths.  Run lengths are stored minus 1 (a
run is never empty) so all-distinct data degrades to width-0 blocks.  Runs
of the whole batch come from one C pass (``native.rle_runs``) — no per-row
Python.
"""

from __future__ import annotations

import numpy as np

from .. import blocks, native
from .base import Codec, FlatEncoded, extract_rows as _extract, \
    place_rows as _place

U32 = np.uint32
_HDR = 4


class RLECodec(Codec):
    name = "rle"
    _per_block_overhead = 0

    def encode_flat(self, flat, lens):
        flat = np.ascontiguousarray(flat, dtype=U32)
        lens = np.asarray(lens, dtype=np.int64)
        nrows = lens.size
        run_vals, run_lens, rpr = native.rle_runs(flat, lens)
        ev = blocks.encode_flat(run_vals, rpr, "plain")
        el = blocks.encode_flat((run_lens - 1).astype(U32), rpr, "plain")
        nb = ev.nblocks  # == el.nblocks
        nonempty = lens > 0
        sizes = np.where(nonempty,
                         _HDR + 2 * nb + ev.payload_lens + el.payload_lens, 0)
        out = np.empty(int(sizes.sum()), dtype=np.uint8)
        start = np.cumsum(sizes) - sizes
        # header
        hdr = np.ascontiguousarray(rpr.astype(U32)).view(np.uint8)
        ne = np.nonzero(nonempty)[0]
        _place(out, start[ne], hdr.reshape(nrows, 4)[ne].ravel(),
               np.full(ne.size, 4, np.int64))
        # components, each scattered with row-relative cursors
        cur = start + _HDR
        _place(out, cur, ev.widths, np.where(nonempty, nb, 0))
        cur = cur + nb
        _place(out, cur, el.widths, np.where(nonempty, nb, 0))
        cur = cur + nb
        _place(out, cur, ev.payload, ev.payload_lens)
        cur = cur + ev.payload_lens
        _place(out, cur, el.payload, el.payload_lens)
        z = np.zeros(nrows, dtype=np.int64)
        return FlatEncoded(np.zeros(0, np.uint8), z, np.zeros(0, np.uint8), z,
                           out, sizes)

    def decode_flat(self, lens, widths, widths_lens, inits, inits_lens,
                    payload, payload_lens):
        lens = np.asarray(lens, dtype=np.int64)
        payload = np.ascontiguousarray(payload, dtype=np.uint8)
        po = np.concatenate(([0], np.cumsum(payload_lens)[:-1]))
        nonempty = lens > 0
        n_runs = np.zeros(lens.size, dtype=np.int64)
        ne = np.nonzero(nonempty)[0]
        if ne.size:
            hdr = payload[po[ne][:, None] + np.arange(4)]
            n_runs[ne] = np.ascontiguousarray(hdr).view(U32).reshape(-1)
        nb = (n_runs + 127) // 128
        cur = po + _HDR
        wv = _extract(payload, cur, np.where(nonempty, nb, 0))
        cur = cur + nb
        wl = _extract(payload, cur, np.where(nonempty, nb, 0))
        cur = cur + nb
        pv_lens = blocks.payload_bytes_from_widths(n_runs, wv)
        pv = _extract(payload, cur, pv_lens)
        cur = cur + pv_lens
        pl_lens = blocks.payload_bytes_from_widths(n_runs, wl)
        pl = _extract(payload, cur, pl_lens)
        run_vals = blocks.decode_flat(n_runs, wv, np.zeros(0, U32), pv,
                                      pv_lens, "plain")
        run_lens1 = blocks.decode_flat(n_runs, wl, np.zeros(0, U32), pl,
                                       pl_lens, "plain")
        return np.repeat(run_vals, run_lens1.astype(np.int64) + 1)

    def payload_sizes_flat(self, flat, lens):
        flat = np.ascontiguousarray(flat, dtype=U32)
        lens = np.asarray(lens, dtype=np.int64)
        run_vals, run_lens, rpr = native.rle_runs(flat, lens)
        sv = blocks.encoded_sizes_flat(run_vals, rpr, "plain")
        sl = blocks.encoded_sizes_flat((run_lens - 1).astype(U32), rpr, "plain")
        nb = (rpr + 127) // 128
        return np.where(lens > 0, _HDR + 2 * nb + sv + sl, 0)
