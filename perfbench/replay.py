"""Single-process replay of the layers that run inside Spark workers.

``codecs.auto``, ``codecs``, ``blocks``, ``native`` and ``kernels`` run in
Python workers, out of reach of driver-side spans.  The traced run feeds
the workload's own input batches (read with pyarrow exactly as the fused
scan reads them: 2048-row batches, rows split at the 65536-token segment
size) through the same public calls in this process and times them.
Calls the layers make into each other (``blocks`` -> ``native``, the
block-group decoder of the probe paths) are timed and counted by wrapping
the module attribute for the duration of the replay.

Every replayed decode and probe answer is checked against the input;
mismatches are returned as failures.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import oracles

BATCH_ROWS = 2048
SPLIT = 1 << 16
CODECS = ("bitpack", "for", "d1", "rle", "dict")
N_PROBES = 16


def _flat_lens(col) -> tuple[np.ndarray, np.ndarray]:
    off = col.offsets.to_numpy().astype(np.int64)
    flat = col.values.to_numpy()[off[0]:off[-1]].view(np.uint32)
    return np.ascontiguousarray(flat), np.diff(off)


def _split(lens: np.ndarray) -> np.ndarray:
    """Row lengths after cutting every row into <= SPLIT-token segments
    (the flat buffer is unchanged: segments are contiguous)."""
    nseg = np.maximum((lens + SPLIT - 1) // SPLIT, 1)
    if int(nseg.sum()) == lens.size:
        return lens
    seg = np.arange(int(nseg.sum())) - np.repeat(np.cumsum(nseg) - nseg,
                                                 nseg)
    return np.minimum(np.repeat(lens, nseg) - seg * SPLIT, SPLIT)


def input_batches(input_dir: Path) -> list[list[tuple[np.ndarray,
                                                      np.ndarray]]]:
    """Per input file, its (flat uint32 tokens, segment lengths) batches."""
    files = []
    for p in sorted(Path(input_dir).glob("*.parquet")):
        pf = pq.ParquetFile(p)
        cols = (_flat_lens(b.column(0)) for b in pf.iter_batches(
            batch_size=BATCH_ROWS, columns=["tokens"]))
        files.append([(f, _split(ln)) for f, ln in cols])
    return files


class _Probe:
    """Seconds spent in one wrapped function and the work it was given."""

    def __init__(self):
        self.seconds = 0.0
        self.units = 0


@contextmanager
def wrapped(module, name: str, work=lambda *a: 0):
    """Time and count calls to ``module.name`` while the block runs.
    Yields None (and wraps nothing) when the attribute does not exist."""
    orig = getattr(module, name, None)
    if orig is None:
        yield None
        return
    probe = _Probe()

    def timed(*args, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kw)
        finally:
            probe.seconds += time.perf_counter() - t0
            probe.units += int(work(*args))

    setattr(module, name, timed)
    try:
        yield probe
    finally:
        setattr(module, name, orig)


def _nbytes(e) -> int:
    return int(e.widths.size + e.inits.size + e.payload.size)


def _sorted_rows(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Each row's values sorted ascending (rows stay in place)."""
    row = np.repeat(np.arange(lens.size, dtype=np.uint64), lens)
    key = np.sort((row << np.uint64(32)) | flat.astype(np.uint64))
    return (key & np.uint64(0xFFFFFFFF)).astype(np.uint32)


def replay(input_dir: Path, table_codecs: list[str | None], seed: int
           ) -> tuple[dict, int, int]:
    """Replay the workload's input through every worker-side layer.

    ``table_codecs[f]`` is the codec the stored table uses for input file
    ``f`` (None: whatever ``codecs.auto`` picks).  Returns ({name: (value,
    unit)}, attempted checks, failed checks)."""
    from simdcomp_spark import blocks, codecs, kernels, native
    from simdcomp_spark.codecs.auto import choose_codec_flat

    files = input_batches(input_dir)
    batches = [b for fb in files for b in fb]
    ntok = sum(int(f.size) for f, _ in batches)
    m: dict[str, tuple[float, str]] = {}
    attempted = failed = 0

    # kernels: the per-row content hash stamped on every encoded row
    t0 = time.perf_counter()
    for flat, lens in batches:
        kernels.content_hash_flat(flat, lens)
    m["kernels.content_hash_mtok_s"] = (
        ntok / (time.perf_counter() - t0) / 1e6, "Mtok/s")

    # codecs.auto: one choice per task, on the task's first batch
    chosen, choose_s = [], 0.0
    for fb in files:
        t0 = time.perf_counter()
        name, _ = choose_codec_flat(*fb[0])
        choose_s += time.perf_counter() - t0
        chosen.append(name)
    m["codecs.auto.choose_s"] = (choose_s, "s")
    for c in CODECS:
        m[f"codecs.auto.choice.{c}"] = (float(chosen.count(c)), "count")

    # codecs: encode + decode every batch with every codec; bytes and
    # blocks.decode_flat time are kept per (codec, file)
    nbytes = {c: [0] * len(files) for c in CODECS}
    dec_s = {c: [0.0] * len(files) for c in CODECS}
    blk_s = {c: [0.0] * len(files) for c in CODECS}
    with wrapped(native, "pack_blocks_flat",
                 lambda *a: a[3].sum()) as pack, \
            wrapped(native, "unpack_blocks_flat",
                    lambda *a: a[3].sum()) as unpack, \
            wrapped(blocks, "decode_flat") as bdec:
        for c in CODECS:
            codec = codecs.get(c)
            enc_t = dec_t = 0.0
            for fi, fb in enumerate(files):
                for flat, lens in fb:
                    t0 = time.perf_counter()
                    e = codec.encode_flat(flat, lens)
                    t1 = time.perf_counter()
                    b0 = bdec.seconds
                    out = codec.decode_flat(lens, e.widths, e.widths_lens,
                                            e.inits, e.inits_lens,
                                            e.payload, e.payload_lens)
                    t2 = time.perf_counter()
                    enc_t += t1 - t0
                    dec_t += t2 - t1
                    dec_s[c][fi] += t2 - t1
                    blk_s[c][fi] += bdec.seconds - b0
                    nbytes[c][fi] += _nbytes(e)
                    attempted += 1
                    failed += not np.array_equal(out, flat)
            m[f"codecs.{c}.encode_mtok_s"] = (ntok / enc_t / 1e6, "Mtok/s")
            m[f"codecs.{c}.decode_mtok_s"] = (ntok / dec_t / 1e6, "Mtok/s")
    for key, p in (("native.pack_mtok_s", pack),
                   ("native.unpack_mtok_s", unpack)):
        m[key] = (p.units / p.seconds / 1e6 if p and p.seconds else 0.0,
                  "Mtok/s")
    best = sum(min(nbytes[c][fi] for c in CODECS) for fi in range(len(files)))
    m["codecs.auto.regret"] = (sum(
        nbytes[c][fi] for fi, c in enumerate(chosen)) / best, "ratio")

    # the stored table's decode, as its workers would run it
    used = [tc or ch for tc, ch in zip(table_codecs, chosen)]
    m["replay.table_decode_s"] = (
        sum(dec_s[c][fi] for fi, c in enumerate(used)), "s")
    m["blocks.decode_s"] = (
        sum(blk_s[c][fi] for fi, c in enumerate(used)), "s")

    # blocks: compressed-domain probes over the rows sorted within each row
    rng = np.random.default_rng([int(seed), 7])
    enc = []
    for flat, lens in batches:
        s = _sorted_rows(flat, lens)
        enc.append((s, lens, {mode: blocks.encode_flat(s, lens, mode)
                              for mode in ("d1", "for")}))
    nblocks = sum(int(e["d1"].widths.size) for _, _, e in enc)
    search = {"d1": blocks.search_sorted_flat,
              "for": blocks.search_sorted_for_flat}
    search_s = select_s = 0.0
    with wrapped(blocks, "_decode_block_group",
                 lambda *a: a[1].size) as grp:
        for _ in range(N_PROBES):
            s0, l0, _ = enc[int(rng.integers(len(enc)))]
            key = int(s0[int(rng.integers(s0.size))])
            k = int(rng.integers(1000))
            for mode in ("d1", "for"):
                t0 = time.perf_counter()
                got = [search[mode](lens, e[mode].widths, e[mode].inits,
                                    e[mode].payload, e[mode].payload_lens,
                                    key) for _, lens, e in enc]
                t1 = time.perf_counter()
                sel = [blocks.select_flat(lens, e[mode].widths,
                                          e[mode].inits, e[mode].payload,
                                          e[mode].payload_lens,
                                          oracles.lookup_index(lens, k),
                                          mode) for _, lens, e in enc]
                t2 = time.perf_counter()
                search_s += t1 - t0
                select_s += t2 - t1
                for (s, lens, _), g, v in zip(enc, got, sel):
                    attempted += 2
                    failed += not np.array_equal(
                        g, oracles.probe_lower_bound(lens, s, key))
                    failed += not np.array_equal(
                        v, oracles.probe_lookup(lens, s, k))
    nprobe = 4 * N_PROBES            # (search + select) x (d1 + for)
    m["blocks.search_s"] = (search_s / (2 * N_PROBES), "s")
    m["blocks.select_s"] = (select_s / (2 * N_PROBES), "s")
    m["blocks.blocks_touched_ratio"] = (
        grp.units / nprobe / nblocks if grp is not None else 0.0, "ratio")
    return m, attempted, failed
