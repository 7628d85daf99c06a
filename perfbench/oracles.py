"""Oracles that do not use the program under test.

* :func:`reference_bytes` — simdcomp's bits(max)-per-128-block packed size
  of the input, computed in numpy: one width byte per block plus
  ``simdpack_compressedbytes(len, b)`` payload bytes (``16 * b`` for a full
  block).
* :func:`expected_hashes` / :func:`compare_hashes` — every decoded document
  against its input by ``(n_tok, Spark xxhash64(tokens))``; both sides are
  hashed by Spark's built-in expression, the input side straight from the
  generated parquet files.
* ``probe_*`` — numpy ground truth for the compressed-domain probes, built
  from the generated rows.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128
_POW2 = np.left_shift(np.uint64(1), np.arange(33, dtype=np.uint64))


def bit_width(v: np.ndarray) -> np.ndarray:
    """Bits needed for each value (0 for 0), as int64."""
    return np.searchsorted(_POW2, np.asarray(v, dtype=np.uint64),
                           side="right").astype(np.int64)


def compressed_bytes(length: np.ndarray, bit: np.ndarray) -> np.ndarray:
    """``simdpack_compressedbytes``: payload bytes of one block of
    ``length`` values packed at ``bit`` bits (0 bits -> 0 bytes, 32 bits ->
    raw words, else whole 16-byte vectors)."""
    length = np.asarray(length, dtype=np.int64)
    bit = np.asarray(bit, dtype=np.int64)
    packed = ((length + 3) // 4 * bit + 31) // 32 * 16
    return np.where(bit == 0, 0, np.where(bit == 32, length * 4, packed))


def block_table(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(start in the flat buffer, length) of every 128-value block, rows
    blocked independently."""
    lens = np.asarray(lens, dtype=np.int64)
    nblk = (lens + BLOCK - 1) // BLOCK
    row = np.repeat(np.arange(lens.size), nblk)
    first = np.cumsum(nblk) - nblk
    seq = np.arange(int(nblk.sum())) - np.repeat(first, nblk)
    row_off = np.cumsum(lens) - lens
    start = row_off[row] + seq * BLOCK
    return start, np.minimum(lens[row] - seq * BLOCK, BLOCK)


def reference_bytes(lens: np.ndarray, flat: np.ndarray) -> int:
    """Total bytes of the bits(max)-per-block packing of every row."""
    start, blen = block_table(lens)
    if start.size == 0:
        return 0
    bmax = np.maximum.reduceat(np.asarray(flat, dtype=np.uint32), start)
    return int(start.size + compressed_bytes(blen, bit_width(bmax)).sum())


# ---------------------------------------------------------------------------
# decoded-document hashes (Spark xxhash64 on both sides)
# ---------------------------------------------------------------------------

def hash_frame(df):
    """(doc_id, n_tok, h) of a tokens DataFrame."""
    from pyspark.sql import functions as F
    return df.select("doc_id", F.size("tokens").alias("n_tok"),
                     F.xxhash64("tokens").alias("h"))


def expected_hashes(spark, input_dir: str) -> dict:
    """Hashes of the generated input, read with Spark's own parquet scan."""
    return _as_arrays(hash_frame(spark.read.parquet(input_dir)).toArrow())


def _as_arrays(tbl) -> dict:
    ids = np.asarray(tbl.column("doc_id").to_pylist(), dtype=object)
    order = np.argsort(ids, kind="stable")
    return {"doc_id": ids[order],
            "n_tok": tbl.column("n_tok").to_numpy()[order].astype(np.int64),
            "h": tbl.column("h").to_numpy()[order]}


def compare_hashes(expected: dict, got_tbl) -> int:
    """Number of documents that are missing, extra or differ."""
    got = _as_arrays(got_tbl)
    n_exp, n_got = expected["doc_id"].size, got["doc_id"].size
    if n_exp != n_got or not np.array_equal(expected["doc_id"],
                                            got["doc_id"]):
        return max(n_exp, n_got, 1)      # the document set itself is wrong
    bad = (expected["n_tok"] != got["n_tok"]) | (expected["h"] != got["h"])
    return int(bad.sum())


# ---------------------------------------------------------------------------
# probe ground truth over sorted rows
# ---------------------------------------------------------------------------

def probe_lower_bound(lens, flat, key: int) -> np.ndarray:
    """Per row: number of values < key (the lower-bound index)."""
    off = np.cumsum(lens) - lens
    return np.add.reduceat((flat < np.uint32(key)).astype(np.int64), off)


def probe_range_count(lens, flat, lo: int, hi: int) -> np.ndarray:
    """Per row: number of values in [lo, hi)."""
    return probe_lower_bound(lens, flat, hi) - probe_lower_bound(lens, flat,
                                                                 lo)


def probe_contains(lens, flat, token: int) -> np.ndarray:
    """Indices of the rows that hold ``token``."""
    off = np.cumsum(lens) - lens
    hits = np.add.reduceat((flat == np.uint32(token)).astype(np.int64), off)
    return np.flatnonzero(hits)


def lookup_index(lens, k: int) -> np.ndarray:
    """The position point_lookup reads in each row: ``n_tok * k div 1000``
    (the benchmark's Spark expression computes the same)."""
    return np.asarray(lens, dtype=np.int64) * k // 1000


def probe_lookup(lens, flat, k: int) -> np.ndarray:
    """Per row: the value at :func:`lookup_index`."""
    off = np.cumsum(lens) - lens
    return flat[off + lookup_index(lens, k)]
