"""Codec plugin interface.

Every codec is BATCH- and BUFFER-oriented: the primary API moves ONE flat
uint32 token buffer + per-row lengths in, and flat (widths, inits, payload)
buffers + per-row lengths out — exactly the shape of Arrow list/binary
columns, so the Spark ``mapInArrow`` hot path never materializes a per-row
Python object for any codec.  List-of-bytes wrappers exist for tests and
non-Arrow callers.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .. import native

U32 = np.uint32


@dataclass
class FlatEncoded:
    """Per-batch encode result; all arrays are row-ordered and contiguous."""
    widths: np.ndarray        # uint8 flat
    widths_lens: np.ndarray   # int64 per row
    inits: np.ndarray         # uint8 flat (uint32 LE when used)
    inits_lens: np.ndarray    # int64 per row (bytes)
    payload: np.ndarray       # uint8 flat
    payload_lens: np.ndarray  # int64 per row


def _slices(flat: np.ndarray, lens: np.ndarray) -> list[bytes]:
    off = np.concatenate(([0], np.cumsum(lens)))
    buf = flat.tobytes()
    return [buf[int(off[r]):int(off[r + 1])] for r in range(lens.size)]


class Codec:
    """Abstract lightweight-compression codec over uint32 token rows."""

    name: str = "?"
    _per_block_overhead = 1  # metadata bytes per 128-block (cost model)

    # ---- primary flat API ----

    def encode_flat(self, flat: np.ndarray, lens: np.ndarray) -> FlatEncoded:
        raise NotImplementedError

    def decode_flat(self, lens: np.ndarray,
                    widths: np.ndarray, widths_lens: np.ndarray,
                    inits: np.ndarray, inits_lens: np.ndarray,
                    payload: np.ndarray, payload_lens: np.ndarray
                    ) -> np.ndarray:
        """Returns the flat uint32 token buffer (offsets = cumsum(lens))."""
        raise NotImplementedError

    def payload_sizes_flat(self, flat: np.ndarray, lens: np.ndarray
                           ) -> np.ndarray:
        """Exact per-row payload bytes without materializing the encode
        (cost-model input).  Default: encode and measure."""
        return self.encode_flat(flat, lens).payload_lens

    # ---- list-of-bytes wrappers ----

    def encode_rows(self, arrs: list[np.ndarray]
                    ) -> tuple[list[bytes], list[bytes], list[bytes]]:
        flat, lens = concat_rows(arrs)
        e = self.encode_flat(flat, lens)
        return (_slices(e.widths, e.widths_lens),
                _slices(e.inits, e.inits_lens),
                _slices(e.payload, e.payload_lens))

    def decode_rows(self, n_toks: np.ndarray, widths: list[bytes],
                    inits: list[bytes], payloads: list[bytes]
                    ) -> list[np.ndarray]:
        lens = np.asarray(n_toks, dtype=np.int64)
        wf = np.frombuffer(b"".join(widths), dtype=np.uint8)
        inf = np.frombuffer(b"".join(inits), dtype=np.uint8)
        pf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        wl = np.fromiter(map(len, widths), dtype=np.int64, count=len(widths))
        il = np.fromiter(map(len, inits), dtype=np.int64, count=len(inits))
        pl = np.fromiter(map(len, payloads), dtype=np.int64, count=len(payloads))
        out = self.decode_flat(lens, wf, wl, inf, il, pf, pl)
        off = np.concatenate(([0], np.cumsum(lens)))
        return [out[off[r]:off[r + 1]] for r in range(lens.size)]

    def payload_sizes(self, arrs: list[np.ndarray]) -> np.ndarray:
        flat, lens = concat_rows(arrs)
        return self.payload_sizes_flat(flat, lens)


def place_rows(out: np.ndarray, dst_off: np.ndarray, src: np.ndarray,
               lens: np.ndarray) -> None:
    """out[dst_off[i]:+lens[i]] = the i-th packed slice of ``src`` (src is
    the contiguous row-order concatenation), one C segmented memcpy."""
    src = np.ascontiguousarray(src, dtype=np.uint8)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    src_off = np.cumsum(lens) - lens
    dst_off = np.ascontiguousarray(dst_off, dtype=np.int64)
    native.gather_rows(src, src_off, lens, out, dst_off)


def extract_rows(src: np.ndarray, src_off: np.ndarray, lens: np.ndarray
                 ) -> np.ndarray:
    """Packed row-order concatenation of src[src_off[i]:+lens[i]]."""
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    out = np.empty(int(lens.sum()), dtype=np.uint8)
    dst_off = np.cumsum(lens) - lens
    src_off = np.ascontiguousarray(src_off, dtype=np.int64)
    native.gather_rows(src, src_off, lens, out, dst_off)
    return out


def concat_rows(arrs: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    nrows = len(arrs)
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=nrows)
    if nrows == 0 or lens.sum() == 0:
        return np.zeros(0, dtype=U32), lens
    if nrows == 1:
        return np.ascontiguousarray(arrs[0], dtype=U32), lens
    return (np.concatenate([np.ascontiguousarray(a, dtype=U32) for a in arrs]),
            lens)
