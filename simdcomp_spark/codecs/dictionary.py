"""Per-row dictionary codec (north-rule addition, SURVEY.md §2.6).

Wire format per non-empty row:
    u32 n_dict |
    widths_d: uint8 × ceil(n_dict/128) | widths_c: uint8 × ceil(n_tok/128) |
    inits_d: uint32 × ceil(n_dict/128) |
    d1-block payload of sorted distinct values | plain-block payload of codes

Rows stay self-contained (decodable in isolation — the property that makes
blocks skippable at 100 TB scale); the dictionary is the row's own sorted
distinct set, codes are positions in it.  The values sub-stream is sorted
ascending, so it packs as delta+init blocks (the reference's integrated d1
layout) — on zipf token data that shrinks it from 3.5 to 2.5 bits/token at
the cost of 4 bytes/128-values-block of stored inits; the codes sub-stream
reuses the per-block-maxbits plain layout so code blocks adapt their width
to the local code range.  The streams of the whole batch come from one C
pass (``native.dict_streams``) and decode ends in one C gather
(``native.dict_gather``) — no per-row Python.
"""

from __future__ import annotations

import numpy as np

from .. import blocks, native
from .base import Codec, FlatEncoded, extract_rows as _extract, \
    place_rows as _place

U32 = np.uint32
_HDR = 4


class DictCodec(Codec):
    name = "dict"
    _per_block_overhead = 0

    def encode_flat(self, flat, lens):
        flat = np.ascontiguousarray(flat, dtype=U32)
        lens = np.asarray(lens, dtype=np.int64)
        nrows = lens.size
        uniq, n_dict, codes = native.dict_streams(flat, lens)
        ed = blocks.encode_flat(uniq, n_dict, "d1")
        ec = blocks.encode_flat(codes, lens, "plain")
        nbd, nbc = ed.nblocks, ec.nblocks
        nonempty = lens > 0
        sizes = np.where(nonempty,
                         _HDR + nbd + nbc + 4 * nbd
                         + ed.payload_lens + ec.payload_lens,
                         0)
        out = np.empty(int(sizes.sum()), dtype=np.uint8)
        start = np.cumsum(sizes) - sizes
        hdr = np.ascontiguousarray(n_dict.astype(U32)).view(np.uint8)
        ne = np.nonzero(nonempty)[0]
        _place(out, start[ne], hdr.reshape(nrows, 4)[ne].ravel(),
               np.full(ne.size, 4, np.int64))
        cur = start + _HDR
        _place(out, cur, ed.widths, np.where(nonempty, nbd, 0))
        cur = cur + nbd
        _place(out, cur, ec.widths, np.where(nonempty, nbc, 0))
        cur = cur + nbc
        _place(out, cur, np.ascontiguousarray(ed.inits).view(np.uint8),
               4 * nbd)
        cur = cur + 4 * nbd
        _place(out, cur, ed.payload, ed.payload_lens)
        cur = cur + ed.payload_lens
        _place(out, cur, ec.payload, ec.payload_lens)
        z = np.zeros(nrows, dtype=np.int64)
        return FlatEncoded(np.zeros(0, np.uint8), z, np.zeros(0, np.uint8), z,
                           out, sizes)

    def decode_flat(self, lens, widths, widths_lens, inits, inits_lens,
                    payload, payload_lens):
        lens = np.asarray(lens, dtype=np.int64)
        payload = np.ascontiguousarray(payload, dtype=np.uint8)
        po = np.concatenate(([0], np.cumsum(payload_lens)[:-1]))
        nonempty = lens > 0
        n_dict = np.zeros(lens.size, dtype=np.int64)
        ne = np.nonzero(nonempty)[0]
        if ne.size:
            hdr = payload[po[ne][:, None] + np.arange(4)]
            n_dict[ne] = np.ascontiguousarray(hdr).view(U32).reshape(-1)
        nbd = (n_dict + 127) // 128
        nbc = np.where(nonempty, (lens + 127) // 128, 0)
        cur = po + _HDR
        wd = _extract(payload, cur, np.where(nonempty, nbd, 0))
        cur = cur + nbd
        wc = _extract(payload, cur, nbc)
        cur = cur + nbc
        id_bytes = _extract(payload, cur, 4 * nbd)
        cur = cur + 4 * nbd
        pd_lens = blocks.payload_bytes_from_widths(n_dict, wd)
        pd = _extract(payload, cur, pd_lens)
        cur = cur + pd_lens
        pc_lens = blocks.payload_bytes_from_widths(lens, wc)
        pc = _extract(payload, cur, pc_lens)
        uniq = blocks.decode_flat(n_dict, wd, id_bytes.view(U32), pd,
                                  pd_lens, "d1")
        codes = blocks.decode_flat(lens, wc, np.zeros(0, U32), pc, pc_lens,
                                   "plain")
        # final gather: one C pass out[k] = uniq[dict_off[row]+codes[k]]
        return native.dict_gather(uniq, codes, lens, n_dict)

    def payload_sizes_flat(self, flat, lens):
        flat = np.ascontiguousarray(flat, dtype=U32)
        lens = np.asarray(lens, dtype=np.int64)
        uniq, n_dict, codes = native.dict_streams(flat, lens)
        sd = blocks.encoded_sizes_flat(uniq, n_dict, "d1")
        sc = blocks.encoded_sizes_flat(codes, lens, "plain")
        nbd = (n_dict + 127) // 128
        nbc = np.where(lens > 0, (lens + 127) // 128, 0)
        return np.where(lens > 0, _HDR + nbd + nbc + 4 * nbd + sd + sc, 0)
