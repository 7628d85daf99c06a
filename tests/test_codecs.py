"""Codec-layer tests: batched block engine vs the single-array kernel
oracles, round-trips for every codec over the FIXTURES.md pattern corpus,
auto-selector sanity."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

from simdcomp_spark import codecs, kernels as K
from simdcomp_spark.codecs import REGISTRY
from simdcomp_spark.codecs import fsst
from simdcomp_spark.codecs.auto import choose_codec_flat

U32 = np.uint32
RNG = np.random.default_rng(42)

LENGTHS = [0, 1, 2, 3, 4, 5, 127, 128, 129, 255, 256, 257, 1000, 4096]


def corpus() -> list[np.ndarray]:
    """FIXTURES.md row patterns."""
    rows = []
    for b in (0, 1, 7, 16, 30):
        for n in (1, 127, 128, 129, 1000):
            rows.append(np.full(n, (1 << b) - 1, dtype=U32))          # const_bw
    for b in (1, 5, 11, 20, 31, 32):
        mask = 0xFFFFFFFF if b == 32 else (1 << b) - 1
        for n in LENGTHS:
            rows.append(RNG.integers(0, 2**32, size=n, dtype=U32) & U32(mask))
    for g in (1, 3, 81, 243):                                          # sorted_gap
        rows.append(np.cumsum(RNG.integers(0, g + 1, size=500, dtype=U32)).astype(U32))
    for g in (3, 19683, 387420489):                                    # lingap wrap
        rows.append((np.arange(300, dtype=np.uint64) * g).astype(U32))
    rows.append(RNG.integers(0, 50257, size=1024, dtype=U32))          # tokenish
    rows.append(np.repeat(RNG.integers(0, 100, size=30, dtype=U32),
                          RNG.integers(1, 40, size=30)))               # runs
    rows.append(np.empty(0, dtype=U32))
    return rows


EDGE_LENS = [0, 1, 5, 127, 128, 129, 300, 1000, 4096, 50, 0]


def edge_batch(kind: str) -> list[np.ndarray]:
    """One batch over EDGE_LENS — empty rows (also trailing), tail-only
    rows and multi-block rows.  'sorted': small increasing values;
    'mixed': the same with 5% full-range values, so b==32 blocks occur."""
    rng = np.random.default_rng(123)
    tot = sum(EDGE_LENS)
    base = np.cumsum(rng.integers(0, 64, size=tot, dtype=np.uint32),
                     dtype=np.uint64).astype(U32)
    wide = rng.integers(0, 2**32, size=tot, dtype=np.uint64).astype(U32)
    mixed = np.where(rng.random(tot) < 0.05, wide, base).astype(U32)
    return np.split(base if kind == "sorted" else mixed,
                    np.cumsum(EDGE_LENS)[:-1])


def _flat(arrs):
    """Rows → (flat uint32 buffer, row lengths): the codecs' input."""
    lens = np.fromiter((a.size for a in arrs), np.int64, count=len(arrs))
    if not arrs:
        return np.zeros(0, U32), lens
    return np.concatenate([np.asarray(a, U32) for a in arrs]), lens


def _rows(flat, lens):
    """A flat buffer cut back into its rows (bytes)."""
    off = np.concatenate(([0], np.cumsum(lens)))
    buf = flat.tobytes()
    return [buf[off[r]:off[r + 1]] for r in range(lens.size)]


def _encode_rows(codec, arrs):
    """(widths, inits, payload) per row, from one encode_flat call."""
    e = codec.encode_flat(*_flat(arrs))
    return (_rows(e.widths, e.widths_lens), _rows(e.inits, e.inits_lens),
            _rows(e.payload, e.payload_lens))


def _assert_roundtrip(codec, arrs):
    """decode_flat(encode_flat(rows)) gives back every row."""
    flat, lens = _flat(arrs)
    e = codec.encode_flat(flat, lens)
    np.testing.assert_array_equal(
        codec.decode_flat(lens, e.widths, e.widths_lens, e.inits,
                          e.inits_lens, e.payload, e.payload_lens), flat)


def test_block_batch_matches_single_array_kernels():
    """bitpack's encoding must byte-match simdpack_length applied per row
    with per-block maxbits — i.e. the demo format of example.c minus the
    inline headers — and decode back to the input."""
    arrs = corpus() + edge_batch("mixed")
    widths, inits, payloads = _encode_rows(codecs.get("bitpack"), arrs)
    for a, w, p in zip(arrs, widths, payloads):
        wid = np.frombuffer(w, dtype=np.uint8)
        expect = b""
        for i in range(0, a.size, 128):
            blk = a[i:i + 128]
            b = K.maxbits(blk)
            assert b == wid[i // 128]
            expect += K.simdpack_length(blk, b)
        assert p == expect
    assert 32 in b"".join(widths)
    _assert_roundtrip(codecs.get("bitpack"), arrs)


def test_block_batch_for_matches_kernel():
    arrs = [a for a in corpus() if a.size] + edge_batch("mixed")
    widths, inits, payloads = _encode_rows(codecs.get("for"), arrs)
    for a, w, ini, p in zip(arrs, widths, inits, payloads):
        wid = np.frombuffer(w, dtype=np.uint8)
        bases = np.frombuffer(ini, dtype=U32)
        expect = b""
        for j, i in enumerate(range(0, a.size, 128)):
            blk = a[i:i + 128]
            mn, mx = K.minmax(blk)
            b = int(K.bits_u32(np.asarray([mx - mn], U32))[0])
            assert b == wid[j] and mn == bases[j]
            if b == 32:
                expect += blk.tobytes()
            else:
                expect += K.simdpackFOR_length(mn, blk, b)
        assert p == expect
    assert 32 in b"".join(widths)
    _assert_roundtrip(codecs.get("for"), arrs)


def test_block_batch_d1_matches_reference_chaining():
    """d1 blocks must byte-match the reference's chained
    simdpackwithoutmaskd1 (example.c:56-75) because our stored per-block
    init IS the previous element: full blocks pack the deltas, tails use
    the short layout over deltas, b==32 blocks hold the raw values."""
    a = np.cumsum(RNG.integers(0, 100, size=512, dtype=U32)).astype(U32)
    arrs = [a] + edge_batch("sorted") + edge_batch("mixed")
    widths, inits, payloads = _encode_rows(codecs.get("d1"), arrs)
    for row, w, ini, p in zip(arrs, widths, inits, payloads):
        wid = np.frombuffer(w, np.uint8)
        ini = np.frombuffer(ini, U32)
        expect = b""
        prev = 0
        for j, i in enumerate(range(0, row.size, 128)):
            blk = row[i:i + 128]
            assert ini[j] == prev
            b = K.maxbits_d1(blk, prev)
            assert wid[j] == b
            if blk.size == 128 and 0 < b < 32:
                expect += K.pack_blocks(
                    K.deltas_u32(blk, prev).reshape(1, 128), b).tobytes()
            elif b == 32:
                expect += blk.tobytes()
            else:
                expect += K.simdpack_length(K.deltas_u32(blk, prev), b)
            prev = int(blk[-1])
        assert p == expect
    assert 32 in b"".join(widths)
    _assert_roundtrip(codecs.get("d1"), arrs)


@pytest.mark.parametrize("name", ["bitpack", "for", "d1", "rle", "dict"])
def test_codec_roundtrip_corpus(name):
    _assert_roundtrip(REGISTRY[name], corpus())


@pytest.mark.parametrize("name", ["bitpack", "for", "d1", "rle", "dict"])
def test_payload_sizes_exact(name):
    codec = REGISTRY[name]
    arrs = [a for a in corpus()]
    sizes = codec.payload_sizes_flat(*_flat(arrs))
    _, _, payloads = _encode_rows(codec, arrs)
    np.testing.assert_array_equal(sizes, [len(p) for p in payloads])


def test_bitpack_size_is_reference_bound():
    """north rule: compressed size ≤ reference bits(max)-per-block packing.
    For the bitpack codec it's exactly equal; the selector can only improve."""
    arrs = [a for a in corpus() if a.size]
    _, _, payloads = _encode_rows(codecs.get("bitpack"), arrs)
    for a, p in zip(arrs, payloads):
        bound = sum(K.compressed_bytes(min(128, a.size - i), K.maxbits(a[i:i + 128]))
                    for i in range(0, a.size, 128))
        assert len(p) == bound


def test_auto_selector_prefers_sensible_codecs():
    sorted_rows = [np.cumsum(RNG.integers(0, 4, size=1000, dtype=U32)).astype(U32)
                   for _ in range(8)]
    name, costs = choose_codec_flat(*_flat(sorted_rows))
    assert name == "d1", costs
    const_rows = [np.repeat(U32(7), 5000) for _ in range(8)]
    name, costs = choose_codec_flat(*_flat(const_rows))
    # a 1-entry dict (codes at 0 bits) is even cheaper than RLE here
    assert name in ("rle", "dict") and costs[name] < costs["bitpack"], costs
    run_rows = [np.repeat(RNG.integers(0, 2**30, size=100, dtype=U32),
                          RNG.integers(40, 60, size=100)) for _ in range(8)]
    name, costs = choose_codec_flat(*_flat(run_rows))
    assert name == "rle", costs
    shifted = [U32(1 << 30) + RNG.integers(0, 16, size=1000).astype(U32)
               for _ in range(8)]
    name, costs = choose_codec_flat(*_flat(shifted))
    assert name in ("for", "d1"), costs
    random_rows = [RNG.integers(0, 50257, size=1000, dtype=U32) for _ in range(8)]
    name, costs = choose_codec_flat(*_flat(random_rows))
    assert name in ("bitpack", "for"), costs
    # every candidate's predicted bytes must be achievable (≥ actual is a bug)
    for codec_name, predicted in costs.items():
        codec = REGISTRY[codec_name]
        w, i, p = _encode_rows(codec, random_rows)
        actual = sum(len(x) for x in p)
        assert predicted >= actual  # prediction includes metadata overhead


def test_fsst_roundtrip():
    strings = [f"doc_{i:08d}_common_prefix_{i % 7}".encode() for i in range(200)]
    strings += [b"", b"x", b"\xff\x00\xfe escape bytes \xff\xff"]
    flat = np.frombuffer(b"".join(strings), np.uint8)
    lens = np.fromiter(map(len, strings), np.int64, count=len(strings))
    table = fsst.SymbolTable(fsst.train(strings))
    codes, code_lens = table.encode_flat(flat, lens)
    encs = _rows(codes, code_lens)
    back = _rows(*table.decode_flat(codes, code_lens))
    assert back == strings
    # compresses the redundant corpus
    assert sum(map(len, encs)) < sum(map(len, strings))
    # table survives serialization
    t2 = fsst.SymbolTable.deserialize(table.serialize())
    assert _rows(*t2.decode_flat(codes, code_lens)) == strings
    assert _rows(*t2.encode_flat(flat, lens)) == encs


FSST_GOLDEN = Path(__file__).parent / "golden" / "fsst_golden.json"


def test_fsst_native_numpy_identical():
    """The C FSST encode must reproduce, byte for byte, the vectors in
    tests/golden/fsst_golden.json — dumped when the C kernel was checked
    byte-identical to an independent batched-numpy encoder on the same
    table and inputs — and decode them back to the input."""
    import hashlib
    import json
    g = json.loads(FSST_GOLDEN.read_text())
    rng = np.random.default_rng(99)
    docs = [bytes(rng.integers(97, 123, size=int(n)).astype(np.uint8))
            for n in rng.integers(0, 400, size=200)]
    docs += [b"", b"\xff" * 9, bytes(range(256)), b"\xff\xff\x00"]
    flat = np.frombuffer(b"".join(docs), np.uint8)
    lens = np.fromiter(map(len, docs), np.int64, count=len(docs))
    assert hashlib.sha256(flat.tobytes()).hexdigest() == g["input_sha256"]
    assert lens.tolist() == g["row_lens"]
    table = fsst.SymbolTable.deserialize(bytes.fromhex(g["table"]))
    out, out_lens = table.encode_flat(flat, lens)
    assert out.tobytes() == bytes.fromhex(g["encoded"])
    assert out_lens.tolist() == g["encoded_lens"]
    dec, dec_lens = table.decode_flat(out, out_lens)
    assert np.array_equal(dec, flat) and np.array_equal(dec_lens, lens)


def _split_rows(flat, lens):
    return np.split(flat, np.cumsum(lens)[:-1]) if lens.size else []


def assert_dict_rle_streams(flat, lens):
    """native.dict_streams / native.rle_runs against their definitions:
    per row, the sorted distinct values and every token's rank among them
    (np.unique with return_inverse), and the maximal runs of equal
    values (never crossing a row boundary)."""
    from simdcomp_spark import native
    uniq, n_dict, codes = native.dict_streams(flat, lens)
    run_vals, run_lens, rpr = native.rle_runs(flat, lens)
    want_u, want_n, want_c, want_v, want_l, want_r = [], [], [], [], [], []
    for row in _split_rows(flat, lens):
        u, inv = np.unique(row, return_inverse=True)
        want_u.append(u)
        want_n.append(u.size)
        want_c.append(inv.reshape(-1))
        starts = np.flatnonzero(np.diff(row, prepend=~row[:1])) \
            if row.size else np.zeros(0, np.int64)
        want_v.append(row[starts])
        want_l.append(np.diff(np.append(starts, row.size)))
        want_r.append(starts.size)
    cat = (lambda xs, dt: np.concatenate(xs).astype(dt) if xs
           else np.zeros(0, dt))
    assert np.array_equal(uniq, cat(want_u, np.uint32))
    assert np.array_equal(n_dict, np.array(want_n, np.int64))
    assert np.array_equal(codes, cat(want_c, np.uint32))
    assert np.array_equal(run_vals, cat(want_v, np.uint32))
    assert np.array_equal(run_lens, cat(want_l, np.int64))
    assert np.array_equal(rpr, np.array(want_r, np.int64))


def test_dict_rle_native_numpy_identical():
    """The C dict_streams / rle_runs kernels build the streams their
    definitions give (numpy per-row reference), on both dict kernels —
    the direct-address table (bounded values) and the pair radix sort
    (values ≥ 2^22) — across empty rows, constant rows, wide values and
    multi-block rows; the dict and rle codecs round-trip the batch."""
    from simdcomp_spark.codecs import REGISTRY

    rng = np.random.default_rng(41)
    rows = [np.zeros(0, np.uint32),
            rng.integers(0, 1 << 16, 300, dtype=np.int64).astype(np.uint32),
            np.full(400, 0xFFFFFFFF, np.uint32),
            np.repeat(rng.integers(0, 9, 40, dtype=np.int64), 13
                      ).astype(np.uint32),
            rng.integers(0, 1 << 31, 700, dtype=np.int64).astype(np.uint32),
            np.zeros(0, np.uint32)]
    bounded = [r for r in rows if r.size == 0 or int(r.max()) < 1 << 22]
    for batch in (rows, bounded):
        flat = np.concatenate(batch)
        lens = np.fromiter((r.size for r in batch), np.int64,
                           count=len(batch))
        assert_dict_rle_streams(flat, lens)
        for name in ("dict", "rle"):
            codec = REGISTRY[name]
            e = codec.encode_flat(flat, lens)
            dec = codec.decode_flat(lens, e.widths, e.widths_lens, e.inits,
                                    e.inits_lens, e.payload, e.payload_lens)
            assert np.array_equal(dec, flat), name


def py_content_hash(row) -> bytes:
    """The documented content hash (kernels.content_hash_flat), one row,
    in plain Python integers."""
    m64 = (1 << 64) - 1
    out = b""
    for p, c in ((0x9E3779B97F4A7C15, 0x9AE16A3B2F90404F),
                 (0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)):
        h = 0
        for v in row:
            h = (h * p + (int(v) & 0xFFFFFFFF) + c) & m64
        h ^= (len(row) * p) & m64
        h ^= h >> 30
        h = (h * 0xBF58476D1CE4E5B9) & m64
        h ^= h >> 27
        h = (h * 0x94D049BB133111EB) & m64
        h ^= h >> 31
        out += h.to_bytes(8, "little")
    return out


def test_content_hash_native_numpy_identical():
    """The C block-Horner content hash must equal the documented
    definition (scalar Python reference) across empty rows, tail lengths
    1-3 (the unroll remainder), wide values, and long rows; distinct
    inputs must hash apart (the dedup-key contract)."""
    rng = np.random.default_rng(43)
    rows = [np.zeros(0, np.uint32),
            rng.integers(0, 1 << 31, 1, dtype=np.int64).astype(np.uint32),
            rng.integers(0, 1 << 31, 2, dtype=np.int64).astype(np.uint32),
            rng.integers(0, 1 << 31, 3, dtype=np.int64).astype(np.uint32),
            np.full(257, 0xFFFFFFFF, np.uint32),
            rng.integers(0, 1 << 16, 5000, dtype=np.int64).astype(np.uint32),
            np.zeros(128, np.uint32)]
    flat = np.concatenate(rows)
    lens = np.fromiter((r.size for r in rows), np.int64, count=len(rows))
    got = np.asarray(K.content_hash_flat(flat, lens)).tobytes()
    assert got == b"".join(py_content_hash(r) for r in rows)
    hs = {got[16 * i:16 * (i + 1)] for i in range(lens.size)}
    assert len(hs) == lens.size               # all-distinct rows hash apart

    # NEGATIVE int32 tokens (Arrow's type) hash in the uint32 domain,
    # whether handed over as int32 or as their uint32 view
    neg = np.array([-1, 5, -2147483648, 7, 123, -42], dtype=np.int32)
    nlens = np.array([3, 3], dtype=np.int64)
    want = py_content_hash(neg[:3]) + py_content_hash(neg[3:])
    assert np.asarray(K.content_hash_flat(neg.view(np.uint32),
                                          nlens)).tobytes() == want
    assert np.asarray(K.content_hash_flat(neg, nlens)).tobytes() == want


def test_load_raises_typed_error_without_gcc(tmp_path):
    """On a host without gcc, native._load() raises NativeBuildError
    carrying the compiler failure, and a second call re-raises it without
    trying to compile again."""
    import os
    import subprocess
    import sys
    (tmp_path / "bin").mkdir()
    script = (
        "from simdcomp_spark import native\n"
        "try:\n"
        "    native._load()\n"
        "except native.NativeBuildError as e:\n"
        "    print('ERR', e)\n"
        "def compile_again():\n"
        "    raise AssertionError('compiled again')\n"
        "native._compile = compile_again\n"
        "try:\n"
        "    native._load()\n"
        "except native.NativeBuildError:\n"
        "    print('MEMOISED')\n")
    env = dict(os.environ, PATH=str(tmp_path / "bin"),
               SIMDCOMP_NATIVE_DIR=str(tmp_path / "native"),
               PYTHONPATH=str(Path(__file__).resolve().parents[1]))
    r = subprocess.run([sys.executable, "-c", script], env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "ERR could not compile the simdcomp_spark C kernels" in r.stdout
    assert "No such file or directory: 'gcc'" in r.stdout, r.stdout
    assert "MEMOISED" in r.stdout
    assert not list((tmp_path / "native").glob("*.so"))


def test_dict_d1_values_extreme_deltas():
    """The dict values sub-stream is delta-packed; full-range u32 deltas
    must route through the b==32 raw-block path and round-trip exactly."""
    from simdcomp_spark.codecs import REGISTRY
    c = REGISTRY["dict"]
    rows = [np.array([0, 2**32 - 1], np.uint32),
            np.array([2**32 - 1] * 7 + [0], np.uint32),
            np.arange(2**32 - 130, 2**32, dtype=np.uint32),
            np.array([1], np.uint32),
            np.zeros(0, np.uint32)]
    flat = np.concatenate(rows)
    lens = np.fromiter((r.size for r in rows), np.int64, count=len(rows))
    e = c.encode_flat(flat, lens)
    d = c.decode_flat(lens, e.widths, e.widths_lens, e.inits, e.inits_lens,
                      e.payload, e.payload_lens)
    assert np.array_equal(d, flat)
    assert np.array_equal(np.asarray(c.payload_sizes_flat(flat, lens)),
                          e.payload_lens)
