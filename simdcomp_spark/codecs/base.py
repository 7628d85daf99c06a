"""Codec plugin interface.

Every codec is BATCH- and BUFFER-oriented: the primary API moves ONE flat
uint32 token buffer + per-row lengths in, and flat (widths, inits, payload)
buffers + per-row lengths out — exactly the shape of Arrow list/binary
columns, so the Spark ``mapInArrow`` hot path never materializes a per-row
Python object for any codec.
"""

from __future__ import annotations

import abc
from dataclasses import dataclass

import numpy as np

from .. import native


@dataclass
class FlatEncoded:
    """Per-batch encode result; all arrays are row-ordered and contiguous."""
    widths: np.ndarray        # uint8 flat
    widths_lens: np.ndarray   # int64 per row
    inits: np.ndarray         # uint8 flat (uint32 LE when used)
    inits_lens: np.ndarray    # int64 per row (bytes)
    payload: np.ndarray       # uint8 flat
    payload_lens: np.ndarray  # int64 per row


class Codec(abc.ABC):
    """Abstract lightweight-compression codec over uint32 token rows."""

    name: str = "?"
    _per_block_overhead = 1  # metadata bytes per 128-block (cost model)

    @abc.abstractmethod
    def encode_flat(self, flat: np.ndarray, lens: np.ndarray) -> FlatEncoded:
        ...

    @abc.abstractmethod
    def decode_flat(self, lens: np.ndarray,
                    widths: np.ndarray, widths_lens: np.ndarray,
                    inits: np.ndarray, inits_lens: np.ndarray,
                    payload: np.ndarray, payload_lens: np.ndarray
                    ) -> np.ndarray:
        """Returns the flat uint32 token buffer (offsets = cumsum(lens))."""

    @abc.abstractmethod
    def payload_sizes_flat(self, flat: np.ndarray, lens: np.ndarray
                           ) -> np.ndarray:
        """Exact per-row payload bytes without materializing the encode
        (cost-model input)."""


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
