"""Seeded input generator for the benchmark workloads.

numpy + pyarrow only, one process, no Spark and nothing from
``simdcomp_spark``: the program under test receives only the files this
module writes.  Every workload's rows come from ``numpy.random.default_rng``
seeded with ``(workload, seed)``, so one seed always yields the same files.

Outputs are cached on disk by (workload, seed, size) under the caller's
cache directory, so generation never falls inside a timed span or inside
``setup_s``.  Each cache entry holds the input parquet files (the
``(doc_id, tokens, n_tok, source)`` table shape) and ``rows.npz`` with the
same rows as flat arrays, which the oracles read.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257              # GPT-2 vocabulary size
ZIPF_S = 1.3
SPLIT_THRESHOLD = 1 << 16  # the engine's default segment size, in tokens
SOURCES = ("web", "code", "books", "wiki")

# Sizes in tokens.  At local[4] one operation takes ~2.3 s (ingest), ~0.9 s
# (read) and ~0.5 s (probe), so a 12 s run holds 5-25 of them.
SIZES = {
    "ingest_zipf": 4_000_000,
    "read_reassemble": 8_000_000,
    "probe_sorted": 2_000_000,
}
WORKLOADS = tuple(SIZES)
# input parquet files, one Spark task each; the probe table is kept to one
# wave of tasks on four cores because every probe is its own Spark job
N_FILES = {"ingest_zipf": 8, "read_reassemble": 8, "probe_sorted": 4}


@dataclass
class Rows:
    """A workload's rows as flat arrays (row order = doc order)."""
    doc_ids: np.ndarray     # str
    sources: np.ndarray     # str
    lens: np.ndarray        # int64 per row
    flat: np.ndarray        # uint32 tokens, rows concatenated

    @property
    def offsets(self) -> np.ndarray:
        off = np.zeros(self.lens.size + 1, dtype=np.int64)
        np.cumsum(self.lens, out=off[1:])
        return off


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = WORKLOADS.index(workload)
    return np.random.default_rng([int(seed), salt])


def _zipf_tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf(ZIPF_S) over ``VOCAB`` ids, rank r -> id r: frequent tokens get
    small ids, as in byte-pair-encoded vocabularies."""
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(p)
    cdf /= cdf[-1]
    tok = np.searchsorted(cdf, rng.random(n), side="right")
    return np.minimum(tok, VOCAB - 1).astype(np.uint32)


def _lognormal_lens(rng, n: int, median: float, sigma: float,
                    lo: int, hi: int) -> np.ndarray:
    lens = rng.lognormal(np.log(median), sigma, n)
    return np.clip(lens, lo, hi).astype(np.int64)


def _fill_to(rng, total: int, median: float, sigma: float, lo: int,
             hi: int) -> np.ndarray:
    """Lognormal row lengths whose sum is exactly ``total``."""
    mean = median * np.exp(sigma * sigma / 2)
    lens = _lognormal_lens(rng, int(total / mean * 1.2) + 16, median,
                           sigma, lo, hi)
    csum = np.cumsum(lens)
    k = int(np.searchsorted(csum, total))
    lens = lens[:k + 1].copy()
    lens[-1] -= int(lens.sum()) - total
    if lens[-1] < lo:                       # fold a stub into its neighbour
        lens[-2] += lens[-1]
        lens = lens[:-1]
    return lens


def _stratified_lens(rng, k: int, lo: int, hi: int) -> np.ndarray:
    """``k`` lengths in [lo, hi), one drawn uniformly from each of ``k``
    equal strata: the set's sum and spread barely change between seeds."""
    u = (np.arange(k) + rng.random(k)) / k
    return (lo + u * (hi - lo)).astype(np.int64)


def make_rows(workload: str, seed: int) -> Rows:
    """Generate a workload's rows (no I/O)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    rng = _rng(workload, seed)
    total = SIZES[workload]
    if workload == "ingest_zipf":
        # training sequences: lognormal lengths around 700 tokens plus a
        # few documents above the split threshold
        long_lens = _stratified_lens(rng, 4, SPLIT_THRESHOLD + 1,
                                     2 * SPLIT_THRESHOLD)
        short = _fill_to(rng, total - int(long_lens.sum()), 700, 0.9, 16,
                         32_768)
        lens = np.concatenate([short, long_lens])
        rng.shuffle(lens)
        flat = _zipf_tokens(rng, int(lens.sum()))
    elif workload == "read_reassemble":
        # most tokens in 70k-300k documents (split into 2-5 segments),
        # mixed with short ones
        long_lens = _stratified_lens(rng, int(total * 0.8) // 185_000,
                                     70_000, 300_001)
        short = _fill_to(rng, total - int(long_lens.sum()), 700, 0.9, 16,
                         32_768)
        lens = np.concatenate([short, long_lens])
        rng.shuffle(lens)
        flat = _zipf_tokens(rng, int(lens.sum()))
    else:
        # posting lists: sorted distinct ids, every list below the split
        # threshold so each is stored as one row
        lens = _fill_to(rng, total, 1000, 0.9, 32, SPLIT_THRESHOLD)
        universe = 1 << 22
        parts = []
        for n in lens:
            # distinct by construction: strictly increasing gaps
            gaps = rng.geometric(min(1.0, n / universe * 1.5), int(n))
            parts.append(np.cumsum(gaps) - 1)
        flat = np.concatenate(parts).astype(np.uint32)
    n = lens.size
    prefix = {"ingest_zipf": "z", "read_reassemble": "r",
              "probe_sorted": "p"}[workload]
    doc_ids = np.array([f"{prefix}{seed}-{i:07d}" for i in range(n)])
    sources = np.array(SOURCES)[rng.integers(0, len(SOURCES), n)]
    return Rows(doc_ids, sources, lens, flat)


def _write_parquet(rows: Rows, out: Path, n_files: int) -> None:
    """Split rows into ``n_files`` contiguous, token-balanced files."""
    off = rows.offsets
    cuts = np.searchsorted(off, np.linspace(0, off[-1], n_files + 1))
    cuts[0], cuts[-1] = 0, rows.lens.size
    for f in range(n_files):
        a, b = int(cuts[f]), int(cuts[f + 1])
        if b <= a:
            continue
        rel = (off[a:b + 1] - off[a]).astype(np.int32)
        toks = pa.ListArray.from_arrays(
            pa.array(rel, pa.int32()),
            pa.array(rows.flat[off[a]:off[b]].view(np.int32), pa.int32()))
        tbl = pa.table({
            "doc_id": pa.array(rows.doc_ids[a:b], pa.string()),
            "tokens": toks,
            "n_tok": pa.array(rows.lens[a:b].astype(np.int32), pa.int32()),
            "source": pa.array(rows.sources[a:b], pa.string()),
        })
        pq.write_table(tbl, out / f"part-{f:03d}.parquet",
                       compression="snappy")


def generate(cache_dir: str | os.PathLike, workload: str, seed: int
             ) -> Path:
    """Return the cache entry for (workload, seed, size), building it on a
    miss.  The entry is complete once ``meta.json`` exists."""
    key = f"{workload}-s{int(seed)}-n{SIZES[workload]}"
    entry = Path(cache_dir) / key
    if (entry / "meta.json").exists():
        (entry / "meta.json").touch()          # most recently used
        return entry
    tmp = Path(cache_dir) / f".{key}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "input").mkdir(parents=True)
    rows = make_rows(workload, seed)
    _write_parquet(rows, tmp / "input", N_FILES[workload])
    np.savez(tmp / "rows.npz", doc_ids=rows.doc_ids, sources=rows.sources,
             lens=rows.lens, flat=rows.flat)
    (tmp / "meta.json").write_text(json.dumps({
        "workload": workload, "seed": int(seed), "rows": int(rows.lens.size),
        "tokens": int(rows.lens.sum())}))
    shutil.rmtree(entry, ignore_errors=True)
    os.replace(tmp, entry)
    return entry


def prune(cache_dir: str | os.PathLike, keep: int) -> None:
    """Delete all but the ``keep`` most recently used cache entries."""
    entries = sorted((p for p in Path(cache_dir).iterdir()
                      if (p / "meta.json").exists()),
                     key=lambda p: (p / "meta.json").stat().st_mtime)
    for p in entries[:-keep]:
        shutil.rmtree(p, ignore_errors=True)


def load_rows(entry: Path) -> Rows:
    z = np.load(entry / "rows.npz")
    return Rows(z["doc_ids"], z["sources"], z["lens"], z["flat"])
