"""Hypothesis property tests for the codec core — randomized complements to
the fixed sweeps in test_kernels.py (the reference's own strategy is
property-based round-trip, tests/unit.c)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from simdcomp_spark import blocks, kernels as K


@st.composite
def arr_and_width(draw):
    bit = draw(st.integers(min_value=0, max_value=32))
    n = draw(st.integers(min_value=0, max_value=1200))
    seed = draw(st.integers(min_value=0, max_value=2**31))
    rng = np.random.default_rng(seed)
    mask = np.uint32(0xFFFFFFFF if bit == 32 else (1 << bit) - 1)
    return bit, rng.integers(0, 2**32, size=n, dtype=np.uint32) & mask


@settings(max_examples=60, deadline=None)
@given(arr_and_width())
def test_pack_unpack_roundtrip_property(aw):
    bit, arr = aw
    packed = K.simdpack_length(arr, bit)
    nfull, tail = arr.size // 128, arr.size % 128
    assert len(packed) == nfull * K.compressed_bytes(128, bit) \
        + (K.compressed_bytes(tail, bit) if tail else 0)
    assert (K.simdunpack_length(packed, arr.size, bit) == arr).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 900), st.integers(0, 2**32 - 1))
def test_d1_search_select_property(seed, n, key):
    rng = np.random.default_rng(seed)
    row = np.sort(rng.integers(0, 2**32, size=n, dtype=np.uint32))
    lens = np.asarray([n])
    enc = blocks.encode_flat(row, lens, "d1")
    idx = blocks.search_sorted_flat(lens, enc.widths, enc.inits,
                                    enc.payload, enc.payload_lens, key)
    assert idx[0] == np.searchsorted(row, np.uint32(key), "left")
    slot = int(rng.integers(0, n))
    val = blocks.select_flat(lens, enc.widths, enc.inits, enc.payload,
                             enc.payload_lens, np.asarray([slot]), "d1")
    assert val[0] == row[slot]


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 40),
       st.sampled_from(["bitpack", "for", "d1", "rle", "dict"]))
def test_codec_roundtrip_property(seed, nrows, name):
    from simdcomp_spark import codecs
    rng = np.random.default_rng(seed)
    lens = rng.integers(0, 400, size=nrows).astype(np.int64)
    flat = rng.integers(0, 2**32, size=int(lens.sum()), dtype=np.uint32)
    if rng.integers(0, 2):  # half the cases: low-entropy, run-heavy data
        flat %= np.uint32(17)
    c = codecs.get(name)
    e = c.encode_flat(flat, lens)
    d = c.decode_flat(lens, e.widths, e.widths_lens, e.inits, e.inits_lens,
                      e.payload, e.payload_lens)
    assert (d == flat).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 60))
def test_fsst_roundtrip_property(seed, nrows):
    from simdcomp_spark.codecs import fsst
    rng = np.random.default_rng(seed)
    docs = []
    for _ in range(nrows):
        n = int(rng.integers(0, 300))
        # random bytes incl. deliberate 0xFF runs (escape-marker collisions)
        b = rng.integers(0, 256, size=n, dtype=np.uint8)
        b[rng.random(n) < 0.05] = 255
        docs.append(bytes(b))
    table = fsst.SymbolTable(fsst.train(docs))
    codes, row_lens = table.encode_flat(
        np.frombuffer(b"".join(docs), np.uint8),
        np.fromiter(map(len, docs), np.int64, count=len(docs)))
    flat, out_lens = table.decode_flat(codes, row_lens)
    offs = np.concatenate(([0], np.cumsum(out_lens)))
    buf = flat.tobytes()
    assert [buf[offs[i]:offs[i + 1]] for i in range(len(docs))] == docs


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 900), st.integers(0, 2**32 - 1))
def test_for_search_property(seed, n, key):
    rng = np.random.default_rng(seed)
    row = np.sort(rng.integers(0, 2**32, size=n, dtype=np.uint32))
    lens = np.asarray([n])
    enc = blocks.encode_flat(row, lens, "for")
    idx = blocks.search_sorted_for_flat(lens, enc.widths, enc.inits,
                                        enc.payload, enc.payload_lens, key)
    assert idx[0] == np.searchsorted(row, np.uint32(key), "left")


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**31), st.integers(1, 8), st.integers(1, 28))
def test_dict_rle_streams_native_numpy_property(seed, nrows, maxbits):
    """Fuzz the C dict_streams / rle_runs kernels against their per-row
    numpy definitions on random ragged batches (varying vocab width so the
    radix byte-pass skipping takes every branch, and both dict kernels —
    direct-address table and pair radix — run)."""
    from tests.test_codecs import assert_dict_rle_streams

    rng = np.random.default_rng(seed)
    rows = [rng.integers(0, 2**int(maxbits), size=int(n), dtype=np.int64)
            .astype(np.uint32)
            for n in rng.integers(0, 600, size=nrows)]
    flat = (np.concatenate(rows) if rows else np.zeros(0, np.uint32))
    lens = np.fromiter((r.size for r in rows), np.int64, count=len(rows))
    assert_dict_rle_streams(flat, lens)


@settings(max_examples=200, deadline=None)
@given(st.text(min_size=0, max_size=60))
def test_tokenize_word_reconstructs_property(w):
    """Greedy longest-match is a total, lossless segmentation: mapping
    ids back through the vocabulary (UNK = the original char, which is
    exactly the chars not in the vocab) reconstructs the word, and every
    non-UNK id is the longest possible match at its position."""
    from simdcomp_spark.functions import tokenize as tk
    rev = {i: t for t, i in tk.VOCAB.items()}
    ids = tk.tokenize_word(w)
    pos, rebuilt = 0, []
    for tid in ids:
        if tid == tk.UNK_ID:
            assert w[pos] not in tk.VOCAB  # UNK only for OOV chars
            rebuilt.append(w[pos])
            pos += 1
        else:
            t = rev[tid]
            assert w[pos:pos + len(t)] == t
            # greediness: no longer vocab entry matched here
            for ln in range(len(t) + 1, tk._MAX_LEN + 1):
                assert w[pos:pos + ln] not in tk.VOCAB or \
                    pos + ln > len(w)
            rebuilt.append(t)
            pos += len(t)
    assert "".join(rebuilt) == w and pos == len(w)
