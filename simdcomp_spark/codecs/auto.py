"""Per-partition cost-model codec auto-selector (north rule,
BASELINE.json — "per-partition cost-model auto-selector"; SURVEY.md §2.6).

The reference's per-block adaptive width (b = maxbits,
/root/reference/example.c:143-145) is the seed idea; we extend it across
whole codecs: on a bounded sample of each partition, compute the EXACT
encoded size each candidate codec would produce (closed-form from the
analyze pass — no trial encode for the block family) and pick the argmin of
payload + per-row metadata overhead.  The choice is recorded per partition
in the metrics stream.
"""

from __future__ import annotations

import numpy as np

from .blockfamily import BitPackCodec, DeltaFORCodec, FORCodec
from .dictionary import DictCodec
from .rle import RLECodec

SAMPLE_TOKEN_CAP = 1 << 18  # analyze at most 256k tokens per partition
SAMPLE_ROW_CAP = 512

CANDIDATES = (BitPackCodec(), FORCodec(), DeltaFORCodec(), RLECodec(),
              DictCodec())


def choose_codec_flat(flat: np.ndarray, lens: np.ndarray
                      ) -> tuple[str, dict[str, int]]:
    """Pick the cheapest codec for a partition given a flat sample of its
    rows.  Returns (codec_name, {codec: predicted_total_bytes}).

    The sample is STRATIFIED — ≤512 rows taken at even strides across the
    batch (a head-only sample mischooses on partitions whose row character
    drifts, e.g. sorted-by-source inputs), capped at ≤256k tokens."""
    lens = np.asarray(lens, dtype=np.int64)
    if lens.size == 0:
        return "bitpack", {}
    take = np.unique(np.linspace(0, lens.size - 1,
                                 min(lens.size, SAMPLE_ROW_CAP)).astype(np.int64))
    # token-cap the strided selection
    csum = np.cumsum(lens[take])
    cut = int(np.searchsorted(csum, SAMPLE_TOKEN_CAP)) + 1
    take = take[:max(1, cut)]
    offs = np.concatenate(([0], np.cumsum(lens)))
    from ..kernels import multi_arange
    sflat = np.ascontiguousarray(
        np.asarray(flat, dtype=np.uint32)[multi_arange(offs[take], lens[take])])
    slens = lens[take]
    if sflat.size == 0:
        return "bitpack", {}
    nblocks = (slens + 127) // 128
    costs: dict[str, int] = {}
    for codec in CANDIDATES:
        total = int(codec.payload_sizes_flat(sflat, slens).sum()
                    + nblocks.sum() * codec._per_block_overhead)
        costs[codec.name] = total
    best = min(costs.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return best, costs
