"""Tests for training-pipeline operators: dedup, text, similarity,
multimodal plumbing, streaming encode."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from simdcomp_spark import engine, fixtures, streaming
from simdcomp_spark.functions import dedup, multimodal, similarity
from simdcomp_spark.functions import text as textfn


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),
        (2, "el perro y el gato en la casa de la abuela", "es"),
        (3, "the quick brown fox jumps over the lazy dog", "en"),  # dup of 0
        (4, "completely different words here nothing shared", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_groups(spark, docs):
    out = {r["first_doc"]: r["n_docs"]
           for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2  # doc 3 is an exact dup of doc 0
    assert out[1] == 1


def test_dedup_keep_first(spark, docs):
    kept = sorted(r["doc_id"] for r in dedup.dedup_keep_first(docs).collect())
    assert kept == [0, 1, 2, 4]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"])
             for r in dedup.ngram_jaccard_pairs(docs, k=3, min_pct=50).collect()}
    assert (0, 3) in pairs  # identical docs: jaccard 1
    assert (0, 1) in pairs  # one-word difference: high overlap
    inter, union = pairs[(0, 1)]
    # 7 shingles each, 6 shared ("lazy dog" vs "lazy cat" differ in last)
    assert inter == 6 and union == 8


def test_ngram_jaccard_max_df_bounds_hot_shingles(spark):
    """A shingle present in EVERY doc (boilerplate) makes the exact inverted
    index quadratic; max_df drops it so the join fan-out stays bounded while
    genuinely similar pairs still surface."""
    boiler = "copyright acme corp all rights reserved"
    rows = [(i, f"unique words {i} alpha beta {boiler}") for i in range(200)]
    rows += [(1000, f"unique words 7 alpha beta {boiler}")]  # near-dup of 7
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, k=3, min_pct=50, max_df=20).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (7, 1000) in got
    # without the boilerplate shingles, unrelated docs share nothing ≥50%
    assert len(got) == 1


def test_minhash_lsh_recalls_exact_dup(spark, docs):
    cand = {(r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_candidates(docs).collect()}
    assert (0, 3) in cand  # identical docs always collide in every band


def test_minhash_neardup_verify_filters_false_positives(spark, docs):
    """The exact-verify stage keeps only candidate pairs whose TRUE shingle
    Jaccard clears the threshold — LSH alone can propose weaker pairs."""
    out = {(r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"])
           for r in dedup.minhash_neardup_pairs(
               docs, num_hashes=16, bands=8, min_pct=90).collect()}
    assert (0, 3) in out          # exact dup: jaccard 1 ≥ 0.9
    assert out[(0, 3)][0] == out[(0, 3)][1]
    assert (0, 1) not in out      # jaccard 6/8 = 0.75 < 0.9 → verified out
    # at a looser threshold the same pair survives with exact counts
    loose = {(r["doc_a"], r["doc_b"]): (r["inter"], r["union_sz"])
             for r in dedup.minhash_neardup_pairs(
                 docs, num_hashes=16, bands=8, min_pct=50).collect()}
    assert loose.get((0, 1)) == (6, 8)


def test_minhash_lsh_max_bucket_caps_hot_buckets(spark):
    """A mass-duplicated doc creates one giant bucket; max_bucket drops it
    so candidate count stays bounded instead of quadratic."""
    rows = [(i, "exactly the same boilerplate text everywhere")
            for i in range(100)]
    rows += [(200, "one unusual document with its own words here"),
             (201, "one unusual document with its own words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.minhash_lsh_candidates(df, max_bucket=50).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert (200, 201) in got      # small buckets still pair up
    assert len(got) < 100         # the 100-doc clone bucket (4950 pairs) is gone


def test_simhash_similar_docs_close(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sigs[0] == sigs[3]
    d01 = bin((sigs[0] ^ sigs[1]) & ((1 << 64) - 1)).count("1")
    d04 = bin((sigs[0] ^ sigs[4]) & ((1 << 64) - 1)).count("1")
    assert d01 < d04  # near-dup is closer in hamming space than unrelated


def test_simhash_neardup_pairs(spark, docs):
    """Identical docs are hamming-0 pairs; the banded join must find them,
    and unrelated docs must not appear at a tight threshold."""
    out = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in dedup.simhash_neardup_pairs(docs, max_hamming=3).collect()}
    assert out.get((0, 3)) == 0            # exact dup → identical signature
    assert (0, 4) not in out               # unrelated doc stays out
    # recall guarantee: hamming <= bands-1 pairs always share a band
    wide = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dedup.simhash_neardup_pairs(
                docs, max_hamming=63, bands=4).collect()}
    for (a, b), h in wide.items():
        if h <= 3:
            assert (a, b) in out


def test_lang_id_heuristic(spark, docs):
    out = {r["doc_id"]: r["lang_pred"] for r in textfn.lang_id(docs).collect()}
    assert out[0] == "en" and out[2] == "es"


def test_lang_id_scripts_and_latin_languages(spark):
    rows = [
        (0, "the cat sat on the mat and it was not the only one"),
        (1, "el gato se sentó en la alfombra y no era el único que había"),
        (2, "der Hund ist mit der Katze auf den Tisch und das war nicht gut"),
        (3, "le chat est sur la table et il ne veut pas partir pour le moment"),
        (4, "il gatto è sul tavolo e non vuole andare via per il momento"),
        (5, "o gato está em uma mesa e não quer sair do lugar por mais que"),
        (6, "de kat zit op de tafel en het is niet een goede dag voor hem"),
        (7, "这是一段没有空格分词的中文文本用来测试字符脚本检测是否有效"),
        (8, "これはひらがなとカタカナを含む日本語のテキストです"),
        (9, "이것은 한국어 텍스트입니다 문자 스크립트 감지를 테스트합니다"),
        (10, "это русский текст для проверки определения кириллицы"),
        (11, "zz qq xx yy ww"),  # no evidence
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in textfn.lang_id(df).collect()}
    expect = {0: "en", 1: "es", 2: "de", 3: "fr", 4: "it", 5: "pt", 6: "nl",
              7: "zh", 8: "ja", 9: "ko", 10: "ru", 11: "und"}
    assert out == expect


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, "c b a")],
                               "doc_id long, text string")
    fps = [r["fingerprint"] for r in textfn.fingerprint(df).collect()]
    assert fps[0] != fps[1]


def test_ann_bruteforce_self_is_top1(spark):
    rng = np.random.default_rng(3)
    vecs = [(i, [float(x) for x in rng.standard_normal(16)], 0)
            for i in range(100)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    q = vecs[7][1]
    top = similarity.ann_topk_bruteforce(df, q, k=5).collect()
    assert top[0]["vec_id"] == 7 and top[0]["rank"] == 1


def test_ann_lsh_recall(spark):
    rng = np.random.default_rng(4)
    base = rng.standard_normal(16)
    vecs = [(i, [float(x) for x in (base + 0.01 * rng.standard_normal(16))], 0)
            for i in range(20)]
    vecs += [(i, [float(x) for x in rng.standard_normal(16)], 0)
             for i in range(20, 200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    top = similarity.ann_topk_lsh(df, [float(x) for x in base], k=5,
                                  bits=12, probe_hamming=3).collect()
    assert len(top) == 5
    assert all(r["vec_id"] < 20 for r in top)  # all hits from the near cluster


def test_ann_ivf_recall(spark):
    """IVF with nprobe=n_clusters is exhaustive → exact top-k; with fewer
    probes it keeps high recall on the true neighbors."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0)
         .select("embedding").first()[0]]
    exact = [r["vec_id"] for r in
             similarity.ann_topk_bruteforce(emb, q, k=10).collect()]
    full = [r["vec_id"] for r in
            similarity.ann_topk_ivf(emb, q, k=10, n_clusters=8,
                                    nprobe=8).collect()]
    assert full == exact                      # all cells probed == exact
    approx = {r["vec_id"] for r in
              similarity.ann_topk_ivf(emb, q, k=10, n_clusters=8,
                                      nprobe=3).collect()}
    assert 0 in approx                        # query vector finds itself
    assert len(approx & set(exact)) >= 5      # decent recall at nprobe=3


def test_cosine_neardup_pairs(spark):
    rng = np.random.default_rng(5)
    v = rng.standard_normal(16)
    vecs = [(0, [float(x) for x in v], 0),
            (1, [float(x) for x in (v + 1e-4 * rng.standard_normal(16))], 0),
            (2, [float(x) for x in rng.standard_normal(16)], 0)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>, label int")
    pairs = similarity.cosine_neardup_pairs(df, threshold=0.99).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in pairs] == [(0, 1)]


def test_stdlib_png_decoder_pixel_exact():
    """The zero-dependency PNG decoder must reproduce pixels exactly for
    every filter type (0-4 incl. Paeth), gray/RGB/RGBA/palette color
    types, and refuse what it cannot decode.  The reference writer here
    filters FORWARD from the spec independently of the decoder's
    unfiltering (they share only RFC 2083)."""
    import struct
    import zlib

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    def write_png(px, ctype, filters, plte=None):
        h, w, nch = px.shape
        raw = bytearray()
        prev = np.zeros(w * nch, dtype=np.int32)
        for y in range(h):
            line = px[y].reshape(-1).astype(np.int32)
            ft = filters[y % len(filters)]
            raw.append(ft)
            for x in range(w * nch):
                a = int(line[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                pred = {0: 0, 1: a, 2: b, 3: (a + b) >> 1,
                        4: paeth(a, b, c)}[ft]
                raw.append((int(line[x]) - pred) & 0xFF)
            prev = line

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        if plte is not None:
            out += chunk(b"PLTE", plte.astype(np.uint8).tobytes())
        return out + chunk(b"IDAT", zlib.compress(bytes(raw), 6)) \
            + chunk(b"IEND", b"")

    dec = multimodal.stdlib_png_decoder()
    rng = np.random.default_rng(11)
    # gray, every filter type exercised
    g = rng.integers(0, 256, (7, 5, 1), dtype=np.uint8)
    got = dec(write_png(g, 0, [0, 1, 2, 3, 4]), {})
    assert np.array_equal(got, g.reshape(7, 5).astype(np.float32).ravel())
    # RGB: luma formula
    rgb = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    got = dec(write_png(rgb, 2, [4, 3, 1]), {})
    f = rgb.astype(np.float32)
    want = (.299 * f[:, :, 0] + .587 * f[:, :, 1] + .114 * f[:, :, 2])
    assert np.allclose(got, want.astype(np.float32).ravel())
    # RGBA: alpha ignored
    rgba = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    got = dec(write_png(rgba, 6, [2, 4]), {})
    f = rgba.astype(np.float32)
    want = (.299 * f[:, :, 0] + .587 * f[:, :, 1] + .114 * f[:, :, 2])
    assert np.allclose(got, want.astype(np.float32).ravel())
    # palette
    plte = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (5, 6, 1), dtype=np.uint8)
    got = dec(write_png(idx, 3, [0, 1], plte=plte), {})
    f = plte[idx[:, :, 0]].astype(np.float32)
    want = (.299 * f[:, :, 0] + .587 * f[:, :, 1] + .114 * f[:, :, 2])
    assert np.allclose(got, want.astype(np.float32).ravel())
    # the deterministic writer round-trips through the decoder
    data = bytes(range(256)) * 3
    png = multimodal.encode_gray_png(data, width=16)
    got = dec(png, {})
    assert got[:len(data)].astype(np.uint8).tobytes() == data
    assert got.size == 16 * -(-len(data) // 16)
    # refusals: bad signature, 16-bit depth
    with pytest.raises(ValueError, match="signature"):
        dec(b"JUNK" + png, {})
    deep = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0) + b"\0\0\0\0")
    with pytest.raises(NotImplementedError, match="8-bit"):
        dec(deep, {})


def test_multimodal_plumbing(spark):
    def fake_image(payload, meta):
        # deterministic content-derived signal, the same on every worker
        h = np.frombuffer(payload, dtype=np.uint8)
        return (np.cumsum(h.astype(np.float32))[-64:] % 255.0) / 255.0

    rows = [(f"m{i}", "image", bytes([i] * (100 + i)), "image/fake", 10, 10, 0)
            for i in range(20)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(
        df, decoders={"image": fake_image}).collect()
    assert len(feats) == 20
    assert all(len(r["feature"]) == 16 for r in feats)
    assert {r["n_bytes"] for r in feats} == {100 + i for i in range(20)}
    # a kind with no decoder raises the documented NotImplementedError
    bad = spark.createDataFrame([("x", "video", b"zz", "v", 0, 0, 0)],
                                multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|no 'video' decoder"):
        multimodal.extract_features(
            bad, decoders={"image": fake_image}).collect()


def test_multimodal_default_decoders(spark):
    """The image decoder the module ships (Pillow's, else the stdlib PNG
    decoder, as the gate picks it) decodes a real PNG end-to-end inside
    the Spark workers, and a garbage payload fails loudly instead of
    pretending."""
    from pyspark.errors.exceptions.captured import PythonException

    dec = {"image": multimodal.pillow_image_decoder()
           or multimodal.stdlib_png_decoder()}
    png = multimodal.encode_gray_png(bytes(range(64)), width=8)
    ok_df = spark.createDataFrame(
        [("p", "image", bytearray(png), "image/png", 8, 8, 0)],
        multimodal.MEDIA_SCHEMA)
    row = multimodal.extract_features(ok_df, decoders=dec).collect()[0]
    assert row["frames"] == 64 and row["n_bytes"] == len(png)
    img_rows = [("x", "image", bytearray(b"\x89PNG"), "image/png", 0, 0, 0)]
    img_df = spark.createDataFrame(img_rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(PythonException,
                       match="not a PNG|cannot identify image"):
        multimodal.extract_features(img_df, decoders=dec).collect()


def test_streaming_soak_state_bounded_many_triggers(spark):
    """Soak the stateful dedup over a LONG-RUNNING (non-availableNow)
    stream: a rate source feeds ~20+ real micro-batch triggers with a
    fixed 50-key content universe.  Bounded-state contract asserted on the
    engine's own progress metrics: once every key has been seen, the state
    store's row count stays EXACTLY flat (== distinct keys, never grows
    with stream history) and numRowsUpdated is 0 on every subsequent
    trigger (seen keys are read-only).  A very loose latency-flatness
    check guards against per-trigger cost growing with history without
    flaking on shared-host throttle windows."""
    import json as _json
    import time
    import uuid
    from pyspark.sql.streaming.state import GroupStateTimeout
    from simdcomp_spark.streaming import dedup_first_fn

    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", 5000).load()
              .selectExpr("cast(value as string) as doc_id",
                          "concat('text_', cast(value % 50 as string)) as text"))
    hashed = stream.select(
        "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("h"))
    out = hashed.groupBy("h").applyInPandasWithState(
        dedup_first_fn, outputStructType="doc_id string, text string",
        stateStructType="seen boolean", outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout)
    name = f"soak_{uuid.uuid4().hex[:8]}"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .trigger(processingTime="250 milliseconds").start())
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            progs = q.recentProgress
            if len(progs) >= 24:
                break
            time.sleep(1.0)
    finally:
        q.stop()
    progs = [p if isinstance(p, dict) else _json.loads(p.json)
             for p in q.recentProgress]
    with_state = [p for p in progs
                  if p.get("stateOperators") and p["numInputRows"] > 0]
    assert len(with_state) >= 20, len(with_state)
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in with_state]
    updated = [p["stateOperators"][0]["numRowsUpdated"] for p in with_state]
    # all 50 keys appear within the first trigger's thousands of rows
    steady = [i for i, t in enumerate(totals) if t == 50]
    assert steady, totals
    s0 = steady[0] + 1
    assert s0 <= 3, totals                     # warmup is immediate
    assert all(t == 50 for t in totals[s0:]), totals      # state flat
    assert all(u == 0 for u in updated[s0:]), updated     # no rewrites
    durs = [p["durationMs"].get("triggerExecution", 0) for p in with_state]
    first = sorted(durs[s0:s0 + 5])[2] if len(durs) > s0 + 5 else None
    last = sorted(durs[-5:])[2]
    if first:
        assert last <= max(10 * first, first + 5000), (first, last)


def test_fsst_drift_ordered_ratio_matches_shuffled(spark):
    """Per-batch stride-sampled symbol-table training: a corpus whose
    content drifts through the partition (all English-ish rows, then all
    hex rows — the 'sorted by source' layout) must compress within ~5% of
    the same rows shuffled.  The old first-batch-only training locked in a
    table learned from the head and lost ratio on everything after the
    drift point; round-trip exactness is asserted on the drift-ordered
    corpus too."""
    import random
    from simdcomp_spark import strings as S
    rng = random.Random(11)
    words = ["the", "quick", "brown", "fox", "jumps", "energy", "system",
             "value", "model", "train"]
    rows_a = [(f"a_{i:05d}",
               " ".join(rng.choice(words) for _ in range(30)))
              for i in range(4000)]
    rows_b = [(f"b_{i:05d}",
               " ".join(f"{rng.getrandbits(32):08x}" for _ in range(15)))
              for i in range(4000)]
    ordered = rows_a + rows_b
    shuffled = ordered[:]
    rng.shuffle(shuffled)

    def enc_bytes(rows):
        df = spark.createDataFrame(
            rows, "doc_id string, text string").coalesce(1)
        enc = S.fsst_encode(df, "text")
        return int(enc.select(F.sum(F.length("text_fsst"))).first()[0])

    b_ordered = enc_bytes(ordered)
    b_shuffled = enc_bytes(shuffled)
    assert b_ordered <= b_shuffled * 1.05, (b_ordered, b_shuffled)
    # exact round-trip on the drift-ordered corpus
    df = spark.createDataFrame(
        ordered, "doc_id string, text string").coalesce(1)
    dec = S.fsst_decode(S.fsst_encode(df, "text"), "text_fsst", "text")
    got = {r["doc_id"]: r["text"] for r in dec.collect()}
    assert got == dict(ordered)


def test_streaming_stateful_dedup(spark, tmp_path):
    """Cross-micro-batch state: a duplicate arriving in a LATER file (later
    micro-batch, maxFilesPerTrigger=1) must be suppressed by the
    applyInPandasWithState seen-hash state."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    b1 = [(str(i), f"text number {i}") for i in range(20)]
    b2 = [("100", "text number 7"),      # dup of batch-1 doc 7 (other file)
          ("101", "a brand new document")]
    spark.createDataFrame(b1, "doc_id string, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(b2, "doc_id string, text string") \
        .coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming.start_dedup_stream(spark, in_dir, out_dir)
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out_dir}/data")
    texts = [r["text"] for r in got.collect()]
    assert len(texts) == 21                      # 20 + the new one, not 22
    assert len(set(texts)) == 21
    assert "a brand new document" in texts


def test_streaming_windowed_token_rate(spark, tmp_path):
    """Watermark + event-time window over a token stream."""
    import datetime as dt
    in_dir = str(tmp_path / "winin")
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [(f"d{i}", [1, 2, 3], 3, f"src{i % 2}",
             base + dt.timedelta(seconds=30 * i)) for i in range(8)]
    schema = ("doc_id string, tokens array<int>, n_tok int, source string, "
              "ts timestamp")
    spark.createDataFrame(rows, schema).write.parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    agg = streaming.windowed_token_rate(stream, "ts", "1 minute",
                                        "2 minutes")
    q = (agg.writeStream.format("memory").queryName("win_rate")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["win_start"].isoformat(), r["source"]): (r["tokens"], r["docs"])
           for r in spark.sql("select * from win_rate").collect()}
    # 8 docs × 30s = 4 one-minute windows × 2 sources, 1 doc each
    assert len(got) == 8
    assert all(v == (3, 1) for v in got.values())


def test_cosine_neardup_recall_and_precision(spark):
    """Planted near-dup pairs (cosine ≥ 0.9): banded LSH must recover most
    of them (theory: ~0.95 recall at 6 bands × 6 bits), and the exact
    rerank guarantees precision — every returned pair really is ≥ t."""
    rng = np.random.default_rng(11)
    dim, n_planted = 32, 40
    vecs, truth = [], set()
    for i in range(n_planted):
        v = rng.standard_normal(dim)
        w = v + 0.10 * rng.standard_normal(dim)   # cosine ≈ 0.98-0.995
        cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        vecs.append((2 * i, [float(x) for x in v], 0))
        vecs.append((2 * i + 1, [float(x) for x in w], 0))
        if cos >= 0.9:
            truth.add((2 * i, 2 * i + 1))
    vecs += [(1000 + i, [float(x) for x in rng.standard_normal(dim)], 0)
             for i in range(300)]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int")
    got = {(r["vec_a"], r["vec_b"]): r["sim"]
           for r in similarity.cosine_neardup_pairs(
               df, threshold=0.9, bands=6, rbits=6, max_bucket=64).collect()}
    by_id = {v[0]: np.asarray(v[1]) for v in vecs}
    for (a, b), s in got.items():     # precision: exact rerank is exact
        va, vb = by_id[a], by_id[b]
        assert s >= 0.9
        assert abs(s - va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))) < 1e-6
    recall = len(truth & set(got)) / len(truth)
    assert recall >= 0.8, (recall, len(truth))


def test_ann_ivf_indexed_partition_pruning(spark, tmp_path):
    """ivf_build + ann_topk_ivf_indexed: exhaustive probing equals exact,
    and the query plan prunes partitions on ivf_cell at the scan — no
    full-table cell re-assignment per query."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.ivf_build(emb, path, n_clusters=8)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0)
         .select("embedding").first()[0]]
    exact = [r["vec_id"] for r in
             similarity.ann_topk_bruteforce(emb, q, k=10).collect()]
    full = similarity.ann_topk_ivf_indexed(spark, path, q, k=10, nprobe=8)
    assert [r["vec_id"] for r in full.collect()] == exact
    approx = similarity.ann_topk_ivf_indexed(spark, path, q, k=10, nprobe=3)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cell" in plan
    assert "mapInPandas" not in plan.lower()
    got = {r["vec_id"] for r in approx.collect()}
    assert 0 in got and len(got & set(exact)) >= 5


def test_ivf_recall_at_nprobe_is_measured(spark, tmp_path):
    """recall@nprobe as a NUMBER (reference analog: search-vs-linear-scan
    oracles, tests/unit.c:736-773): the default probe depths must clear
    measured floors on the fixture (observed ~0.67 at nprobe=4, ~0.73 at
    6 — floors leave margin for centroid-sample jitter), and probing every
    cell must be exactly 1.0 (no approximation left)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.ivf_build(emb, path, n_clusters=16)
    qs = [[float(x) for x in r["embedding"]] for r in
          emb.where(F.col("vec_id") % 97 == 1).limit(8).collect()]
    r4 = similarity.ivf_recall_at_k(spark, emb, path, qs, k=10, nprobe=4)
    r6 = similarity.ivf_recall_at_k(spark, emb, path, qs, k=10, nprobe=6)
    r16 = similarity.ivf_recall_at_k(spark, emb, path, qs, k=10, nprobe=16)
    assert r16 == 1.0, r16
    assert r6 >= r4 - 1e-9, (r4, r6)          # monotone in probe depth
    assert r4 >= 0.5, r4
    assert r6 >= 0.6, r6


def test_ivf_recall_separates_on_clustered_fixture(spark, tmp_path):
    """On PLANTED cluster structure the recall metric must distinguish a
    working IVF from a broken one: correct cell assignment reaches ≥0.9
    recall@10 probing 2 of 16 cells, while the SAME data with shuffled
    cells stays near nprobe/K.  (The near-isotropic driver fixture cannot
    make this separation — there recall ≈ scanned fraction regardless.)"""
    emb = fixtures.clustered_embeddings(spark, 4096, n_clusters=16) \
        .drop("cluster").cache()
    path = str(tmp_path / "civf")
    similarity.ivf_build(emb, path, n_clusters=16)
    qs = [[float(x) for x in r["embedding"]] for r in
          emb.where(F.col("vec_id") % 511 == 3).limit(8).collect()]
    r2 = similarity.ivf_recall_at_k(spark, emb, path, qs, k=10, nprobe=2)
    assert r2 >= 0.9, r2
    # control: identical rows and centroids, cells assigned by hash — a
    # broken quantizer the old fixture would have graded the same
    shuf_path = str(tmp_path / "civf_shuffled")
    idx = spark.read.parquet(path)
    (idx.withColumn("ivf_cell",
                    F.pmod(F.xxhash64("vec_id"), F.lit(16)).cast("int"))
        .write.mode("overwrite").partitionBy("ivf_cell").parquet(shuf_path))
    (spark.read.parquet(f"{path}/_ivf_meta")
        .write.parquet(f"{shuf_path}/_ivf_meta"))
    r2_shuf = similarity.ivf_recall_at_k(spark, emb, shuf_path, qs,
                                         k=10, nprobe=2)
    assert r2_shuf <= 0.5, r2_shuf
    assert r2 - r2_shuf >= 0.4, (r2, r2_shuf)


def test_streaming_dedup_state_io_is_flat():
    """An already-seen key must be read-only on the state store (no
    state.update), so per-trigger state I/O stays O(batch) however long
    the stream has run; a new key writes one boolean marker."""
    import pandas as pd

    class StubState:
        def __init__(self, exists):
            self.exists = exists
            self.updates = []

        def update(self, v):
            self.updates.append(v)

    pdfs = [pd.DataFrame({"doc_id": ["b", "a"], "text": ["t", "t"]})]
    seen = StubState(exists=True)
    out = list(streaming.dedup_first_fn(("h1",), iter(pdfs), seen))
    assert seen.updates == []                 # duplicate: nothing written
    assert sum(len(p) for p in out) == 0
    new = StubState(exists=False)
    out = list(streaming.dedup_first_fn(("h2",), iter(pdfs), new))
    assert new.updates == [(True,)]           # one marker, once
    assert [(r.doc_id, r.text) for _, r in out[0].iterrows()] == [("a", "t")]


def test_streaming_iceberg_sink_exactly_once(spark, tmp_path):
    """Exactly-once streaming ingest into an Iceberg table: two triggers
    across a checkpoint RESTART land as two snapshots with no
    duplicates; a REPLAYED batch id is a no-op; a FRESH checkpoint
    (whose batch ids restart and no longer name the same input) refuses
    loudly instead of double-ingesting."""
    from simdcomp_spark import iceberg
    in_dir = str(tmp_path / "in")
    table = str(tmp_path / "table")
    df = fixtures.unit_table(spark).limit(60).cache()
    p1 = df.where("cast(doc_id as string) < '5'")
    p2 = df.where("cast(doc_id as string) >= '5'")
    p1.coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming.start_encode_stream_iceberg(spark, in_dir, table,
                                              codec="bitpack")
    q.awaitTermination(120)
    p2.coalesce(1).write.mode("append").parquet(in_dir)
    q = streaming.start_encode_stream_iceberg(spark, in_dir, table,
                                              codec="bitpack")
    q.awaitTermination(120)
    done, qid = streaming.committed_stream_batches(table)
    assert done == {0, 1} and qid is not None
    dec = engine.decode(iceberg.read_table(spark, table), reassemble=True)
    assert engine.verify_roundtrip(df, dec) == 0
    # replay of an already-committed batch id: no snapshot, no rows
    n_snaps = len(iceberg.snapshots(table))
    assert streaming.commit_encoded_stream_batch(
        p2, 1, table, qid, codec="bitpack") is None
    assert len(iceberg.snapshots(table)) == n_snaps
    # fresh-checkpoint lineage mismatch refuses loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="fresh checkpoint|streaming query"):
        streaming.commit_encoded_stream_batch(
            p1, 0, table, "another-query-id", codec="bitpack")
    # lineage survives snapshot expiry: replay is STILL a no-op
    iceberg.expire_snapshots(table, keep_last=1)
    done2, qid2 = streaming.committed_stream_batches(table)
    assert done2 == {0, 1} and qid2 == qid
    assert streaming.commit_encoded_stream_batch(
        p1, 0, table, qid, codec="bitpack") is None


def test_streaming_iceberg_sink_rewrites_manifests(spark, tmp_path):
    """rewrite_every folds manifest maintenance into the streaming sink:
    after the Nth batch the one-manifest-per-snapshot chain collapses,
    exactly-once replay detection still works (old append snapshots stay
    in history), and the table decodes identically."""
    from simdcomp_spark import iceberg
    in_dir = str(tmp_path / "in")
    table = str(tmp_path / "table")
    df = fixtures.unit_table(spark).limit(60).cache()
    parts = [df.where(f"pmod(xxhash64(cast(doc_id as string)), 3) = {i}")
             for i in range(3)]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("append").parquet(in_dir)
        q = streaming.start_encode_stream_iceberg(
            spark, in_dir, table, codec="bitpack", rewrite_every=3)
        q.awaitTermination(120)
    data_manifests = [r for r in iceberg._prev_manifest_records(
        iceberg._load_metadata(table)) if r.get("content", 0) == 0]
    assert len(data_manifests) == 1          # 3 batches consolidated
    done, qid = streaming.committed_stream_batches(table)
    assert done == {0, 1, 2}
    dec = engine.decode(iceberg.read_table(spark, table), reassemble=True)
    assert engine.verify_roundtrip(df, dec) == 0
    # replay after the rewrite: still a no-op
    assert streaming.commit_encoded_stream_batch(
        parts[0], 0, table, qid, codec="bitpack") is None


def test_decontaminate_broadcasts_probes(spark):
    """The probe shingles broadcast (no corpus shuffle before the join)
    and only true n-gram sharers are flagged, with distinct-hit counts."""
    from simdcomp_spark.functions import dedup as ddp

    corpus = spark.createDataFrame(
        [("1", "the quick brown fox jumps over the lazy dog"),
         ("2", "completely unrelated content here today"),
         ("3", "quick brown fox seen downtown yesterday evening")],
        "doc_id string, text string")
    probes = spark.createDataFrame(
        [("p", "a quick brown fox story")], "doc_id string, text string")
    got = {r["doc_id"]: r["n_hits"]
           for r in ddp.decontaminate(corpus, probes).collect()}
    assert got == {"1": 1, "3": 1}     # share 'quick brown fox' only
    plan = ddp.decontaminate(corpus, probes) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_line_dedup_strips_boilerplate(spark):
    """Hot lines (> max_df distinct docs) vanish from every doc; order of
    surviving lines is preserved; a doc that was ALL boilerplate
    disappears entirely."""
    from simdcomp_spark.functions import dedup as ddp

    docs = spark.createDataFrame(
        [("1", "unique alpha\nCOOKIE BANNER\nunique beta"),
         ("2", "COOKIE BANNER\nother text\nFOOTER"),
         ("3", "FOOTER\nCOOKIE BANNER")],
        "doc_id string, text string")
    got = {r["doc_id"]: r["text"]
           for r in ddp.line_dedup(docs).collect()}
    assert got == {"1": "unique alpha\nunique beta",
                   "2": "other text"}


def test_pii_scrub_and_repetition_stats(spark):
    from simdcomp_spark.functions import text as tf

    docs = spark.createDataFrame(
        [("1", "mail a.b+c@x-corp.io and 123456789 but 12345678 stays"),
         ("2", "a b a b a b a b"),
         ("3", "xy")],
        "doc_id string, text string")
    got = {r["doc_id"]: r["text"] for r in tf.pii_scrub(docs).collect()}
    assert got["1"] == "mail <EMAIL> and <NUM> but 12345678 stays"
    rep = {r["doc_id"]: (r["n_grams"], r["n_distinct_grams"])
           for r in tf.repetition_stats(docs).collect()}
    assert rep["2"] == (6, 2)        # 'a b a' x3 + 'b a b' x3
    assert rep["3"] == (1, 1)        # short doc: whole text one gram


def test_line_dedup_metacharacter_separator(spark):
    """A regex-metacharacter separator must split literally (F.split
    takes a regex; unescaped '.' would match every character and shred
    the docs)."""
    from simdcomp_spark.functions import dedup as ddp

    docs = spark.createDataFrame(
        [("1", "keep me.BOILER.also keep"), ("2", "BOILER.other")],
        "doc_id string, text string")
    got = {r["doc_id"]: r["text"]
           for r in ddp.line_dedup(docs, sep=".").collect()}
    assert got == {"1": "keep me.also keep", "2": "other"}


def test_sources_jsonl_csv_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL ingestion round-trips adversarial strings (embedded quotes,
    commas, newlines, unicode) byte-exactly under the explicit schema,
    and a malformed JSONL line lands in quarantine instead of
    vanishing."""
    from simdcomp_spark import sources

    rows = [(1, 'he said "hi, there"', "en", "web"),
            (2, "line1\nline2,with,commas", "de", "book"),
            (3, "unicode éü中文", "fr", "web"),
            (4, "", "en", "web"),        # empty string must NOT become
            (5, None, "en", "web")]      # NULL (or vice versa) on a trip
    df = spark.createDataFrame(rows, sources.DOCUMENTS_SCHEMA)
    jp = str(tmp_path / "j")
    sources.write_documents_jsonl(df, jp)
    back_j, _ = sources.split_corrupt(
        sources.read_documents_jsonl(spark, jp).cache())
    want = {r[0]: r[1:] for r in rows}
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"])
           for r in back_j.collect()}
    assert got == want
    # inject a malformed JSONL line: quarantined, clean side unaffected
    # (clear the cache first: Spark would otherwise serve the NEW scan
    # from the identical pre-injection cached plan)
    spark.catalog.clearCache()
    (tmp_path / "j" / "part-junk.json").write_text(
        '{"doc_id": 9, "text": unquoted garbage}\n')
    parsed = sources.read_documents_jsonl(spark, jp).cache()
    clean, bad = sources.split_corrupt(parsed)
    assert clean.count() == len(rows)
    assert bad.count() == 1


def test_pack_chunks_stream_identity(spark):
    """Chunks concatenated in chunk order reproduce the corpus stream in
    doc order exactly; every chunk but the last is full; empty docs
    contribute nothing; a chunk spanning 3+ docs reassembles in order."""
    import numpy as np
    from simdcomp_spark.functions import pack
    rng = np.random.default_rng(11)
    docs = [(i, rng.integers(0, 1 << 20,
                             rng.integers(0, 40)).astype(int).tolist())
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, tokens array<int>")
    L = 32
    out = sorted(pack.pack_chunks(df, L, with_boundaries=True).collect(),
                 key=lambda r: r["chunk_id"])
    stream = [t for _, toks in sorted(docs) for t in toks]
    got = [t for r in out for t in r["tokens"]]
    assert got == stream
    assert [r["chunk_id"] for r in out] == list(range(len(out)))
    assert all(r["n_tok"] == L for r in out[:-1])
    assert 0 < out[-1]["n_tok"] <= L
    # doc_starts: every non-empty doc starts exactly once, at its global
    # offset mod L in chunk offset//L
    want_bounds: dict[int, list[int]] = {}
    off = 0
    for _, toks in sorted(docs):
        if toks:
            want_bounds.setdefault(off // L, []).append(off % L)
            off += len(toks)
    for r in out:
        assert r["doc_starts"] == sorted(
            want_bounds.get(r["chunk_id"], []))


def test_pack_chunks_edges(spark):
    from simdcomp_spark.functions import pack
    import pytest
    # chunk bigger than the whole corpus -> one short chunk
    df = spark.createDataFrame([(1, [1, 2]), (2, [3])],
                               "doc_id long, tokens array<int>")
    rows = pack.pack_chunks(df, 1000).collect()
    assert len(rows) == 1 and rows[0]["tokens"] == [1, 2, 3]
    # chunk_len=1: one chunk per token
    rows = sorted(pack.pack_chunks(df, 1).collect(),
                  key=lambda r: r["chunk_id"])
    assert [r["tokens"] for r in rows] == [[1], [2], [3]]
    with pytest.raises(ValueError, match="chunk_len"):
        pack.pack_chunks(df, 0)
    # one doc spanning many chunks: interior chunks have no doc start
    big = spark.createDataFrame(
        [(1, [7] * 3), (2, list(range(300))), (3, [9] * 5)],
        "doc_id long, tokens array<int>")
    rows = sorted(pack.pack_chunks(big, 32, with_boundaries=True)
                  .collect(), key=lambda r: r["chunk_id"])
    stream = [7] * 3 + list(range(300)) + [9] * 5
    assert [t for r in rows for t in r["tokens"]] == stream
    assert rows[0]["doc_starts"] == [0, 3]      # docs 1 and 2
    assert all(r["doc_starts"] == [] for r in rows[1:9])  # doc 2 interior
    assert rows[9]["doc_starts"] == [303 % 32]  # doc 3 starts in chunk 9
    # duplicate order keys raise rather than pack nondeterministically
    dup = spark.createDataFrame([(1, [1]), (1, [2])],
                                "doc_id long, tokens array<int>")
    with pytest.raises(Exception, match="duplicate order key"):
        dup2 = pack.pack_chunks(dup, 4)
        dup2.collect()


def test_corpus_shuffle_and_split_determinism(spark):
    """corpus_shuffle: same seed → identical order under any input
    partitioning; different seed → different order.  split_corpus:
    every doc lands in exactly one split, observed fractions track the
    requested ones, assignment is partitioning-invariant, and fractions
    that don't sum to 1 raise."""
    from simdcomp_spark.functions import mix
    import pytest
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    o1 = [r["doc_id"] for r in mix.corpus_shuffle(df, seed=7).collect()]
    o2 = [r["doc_id"]
          for r in mix.corpus_shuffle(df.repartition(13), seed=7).collect()]
    o3 = [r["doc_id"] for r in mix.corpus_shuffle(df, seed=8).collect()]
    assert o1 == o2 and o1 != o3 and sorted(o1) == list(range(2000))

    fr = {"train": 0.9, "val": 0.08, "test": 0.02}
    s1 = {r["doc_id"]: r["split"]
          for r in mix.split_corpus(df, fr, seed=7).collect()}
    s2 = {r["doc_id"]: r["split"]
          for r in mix.split_corpus(df.repartition(11), fr, seed=7).collect()}
    assert s1 == s2 and len(s1) == 2000
    counts = {k: sum(1 for v in s1.values() if v == k) for k in fr}
    assert abs(counts["train"] / 2000 - 0.9) < 0.05
    assert counts["train"] + counts["val"] + counts["test"] == 2000
    with pytest.raises(ValueError, match="sum to 1"):
        mix.split_corpus(df, {"train": 0.5, "val": 0.4}, seed=7)
    with pytest.raises(ValueError, match="at least one"):
        mix.split_corpus(df, {}, seed=7)
    # thirds sum to 1.0 exactly in float; cumulative rounding must
    # accept them (independent rounding would reject 3x3333)
    thirds = mix.split_corpus(df, {"a": 1 / 3, "b": 1 / 3, "c": 1 / 3},
                              seed=7).collect()
    assert len(thirds) == 2000 and all(r["split"] for r in thirds)
    # duplicate doc ids break order reproducibility: loud, not silent
    dup = spark.createDataFrame([(1,), (1,)], "doc_id long")
    with pytest.raises(Exception, match="duplicate doc_id"):
        mix.corpus_shuffle(dup, seed=7).collect()


def test_stratified_sample_exact_k_per_source(spark):
    """Exactly min(k, n_source) docs per source, deterministic under
    repartitioning, different seed -> different subset; the prefilter
    never changes the answer (oversample variations agree)."""
    from simdcomp_spark.functions import mix
    import pytest
    rows = [(i, f"s{i % 5}") for i in range(1000)] + [(5000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = mix.stratified_sample(df, k=11, seed=3).collect()
    by_src: dict[str, list[int]] = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert {s: len(v) for s, v in by_src.items()} == {
        **{f"s{i}": 11 for i in range(5)}, "tiny": 1}
    again = sorted((r["doc_id"], r["source"]) for r in
                   mix.stratified_sample(df.repartition(17), k=11,
                                         seed=3).collect())
    assert again == sorted((r["doc_id"], r["source"]) for r in got)
    other = sorted((r["doc_id"], r["source"]) for r in
                   mix.stratified_sample(df, k=11, seed=4).collect())
    assert other != again
    huge = sorted((r["doc_id"], r["source"]) for r in
                  mix.stratified_sample(df, k=11, seed=3,
                                        oversample=1000).collect())
    assert huge == again
    with pytest.raises(ValueError, match="k must be positive"):
        mix.stratified_sample(df, k=0, seed=3)


def test_pack_chunks_per_group(spark):
    """partition_col packs each group independently: per-group streams,
    per-group chunk ids, no cross-group mixing; NULL groups raise."""
    from simdcomp_spark.functions import pack
    import pytest
    rows = [(1, "a", [1, 2, 3]), (2, "b", [10]), (3, "a", [4, 5]),
            (4, "b", [11, 12, 13, 14])]
    df = spark.createDataFrame(rows,
                               "doc_id long, src string, tokens array<int>")
    out = pack.pack_chunks(df, 4, partition_col="src",
                           with_boundaries=True).collect()
    got = {(r["src"], r["chunk_id"]): (r["tokens"], r["doc_starts"])
           for r in out}
    assert got == {
        ("a", 0): ([1, 2, 3, 4], [0, 3]),
        ("a", 1): ([5], []),      # continues doc 3 (started at a/0 pos 3)
        ("b", 0): ([10, 11, 12, 13], [0, 1]),
        ("b", 1): ([14], []),
    }
    withnull = spark.createDataFrame(
        [(1, None, [1])], "doc_id long, src string, tokens array<int>")
    with pytest.raises(Exception, match="contains NULL"):
        pack.pack_chunks(withnull, 4, partition_col="src").collect()


def test_wordpiece_tokenize(spark):
    """Greedy longest-match semantics: merges beat singles, UNK covers
    out-of-vocab chars, empty/NULL text yields empty arrays, and the
    UDF path equals the scalar reference on every doc; a non-string
    text column raises."""
    from simdcomp_spark.functions import tokenize as tk
    assert tk.tokenize_word("the") == [tk.VOCAB["the"]]
    assert tk.tokenize_word("then") == [tk.VOCAB["the"], tk.VOCAB["n"]]
    assert tk.tokenize_word("x€y") == [tk.VOCAB["x"], tk.UNK_ID,
                                       tk.VOCAB["y"]]
    rows = [(1, "the cat"), (2, ""), (3, None), (4, "  a  "),
            (5, "renting entire trains")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["tokens"], r["n_tok"])
           for r in tk.wordpiece_tokenize(df).collect()}
    for d, t in rows:
        want = [i for w in (t or "").split(" ") if w
                for i in tk.tokenize_word(w)]
        assert got[d] == (want, len(want)), d
    # the C DFA reads Arrow string buffers: other text types are refused
    binary = spark.createDataFrame([(1, bytearray(b"the"))],
                                   "doc_id long, text binary")
    with pytest.raises(Exception, match="expected string or large_string"):
        tk.wordpiece_tokenize(binary).collect()


def test_pack_greedy_boundary_respecting(spark):
    """pack_greedy never cuts a document: every doc's tokens appear
    contiguously inside exactly one chunk, all chunks fit chunk_len,
    next-fit order within a bucket is doc-id order, and oversized /
    NULL-id docs raise in-plan."""
    from simdcomp_spark.functions import pack
    rows = [(i, list(range(i * 10, i * 10 + 3 + (i % 4)))) for i in
            range(1, 40)]
    df = spark.createDataFrame(
        [(d, t) for d, t in rows], "doc_id long, tokens array<int>")
    out = pack.pack_greedy(df, 11, buckets=4).collect()
    body = {d: t for d, t in rows}
    seen = []
    for r in out:
        assert 0 < r["n_tok"] <= 11 and r["n_tok"] == len(r["tokens"])
        toks = r["tokens"]
        i = 0
        docs_in_chunk = 0
        while i < len(toks):            # chunk = concat of WHOLE docs
            d = toks[i] // 10
            assert toks[i:i + len(body[d])] == body[d], (r, d)
            i += len(body[d])
            docs_in_chunk += 1
            seen.append(d)
        assert docs_in_chunk == r["n_docs"]
    assert sorted(seen) == sorted(body)      # every doc exactly once
    # determinism: a different partitioning yields identical chunks
    out2 = pack.pack_greedy(df.repartition(7), 11, buckets=4).collect()
    key = lambda r: (r["bucket"], r["chunk_id"])  # noqa: E731
    assert sorted([(key(r), r["tokens"]) for r in out]) == \
        sorted([(key(r), r["tokens"]) for r in out2])
    with pytest.raises(Exception, match="exceeds chunk_len"):
        pack.pack_greedy(df, 5, buckets=4).collect()
    withnull = spark.createDataFrame(
        [(None, [1, 2])], "doc_id long, tokens array<int>")
    with pytest.raises(Exception, match="contains NULL"):
        pack.pack_greedy(withnull, 8).collect()


def test_next_fit_c_matches_python_reference():
    """native.next_fit (the C inner loop of pack_greedy's per-bucket
    assignment) must match the Python next-fit loop exactly — same
    1-based running chunk ids — on random doc-size streams, including
    empty input and docs that exactly fill the cap."""
    from simdcomp_spark import native

    def py_next_fit(ns, cap):
        chunk = np.empty(ns.size, dtype=np.int64)
        cid, fill = 0, cap
        for i, v in enumerate(ns):
            if fill + v <= cap:
                fill += v
            else:
                cid += 1
                fill = v
            chunk[i] = cid
        return chunk

    rng = np.random.default_rng(13)
    cases = [(np.array([], dtype=np.int64), 8),
             (np.array([8, 8, 8], dtype=np.int64), 8)]
    for _ in range(50):
        cap = int(rng.integers(1, 64))
        n = int(rng.integers(0, 400))
        cases.append((rng.integers(1, cap + 1, n).astype(np.int64), cap))
    for ns, cap in cases:
        got = native.next_fit(ns, cap)
        assert (got == py_next_fit(ns, cap)).all(), (ns[:8], cap)


def test_tokenize_c_dfa_matches_python_reference():
    """The C byte-trie DFA (native.tokenize_greedy) must be byte-identical
    to the scalar Python reference on adversarial inputs: NULLs, empty
    strings, multi-space runs, multibyte UTF-8 (UNK advances one CHARACTER,
    not one byte), out-of-vocab ASCII, long words, and non-space
    whitespace (tabs/newlines are NOT separators).  Also pins the
    sliced-array (non-zero Arrow offset) path."""
    import pyarrow as pa
    from simdcomp_spark import native
    from simdcomp_spark.functions import tokenize as tk
    texts = ["the thing is", "", None, "héllo wörld ☃ the",
             "  double  spaces ", "xyz@#$ %", "a" * 300 + " the",
             "日本語テキスト the end", "ingion theing",
             "\t tab\nnewline the", " ", "€" * 5]
    trans, accept = tk._trie_arrays(tk.VOCAB)

    def want_of(t):
        return [] if t is None else [
            i for w in t.split(" ") if w for i in tk.tokenize_word(w)]

    for arr in (pa.array(texts, type=pa.string()),
                pa.array(texts, type=pa.string()).slice(2, 7)):
        data, starts, ends = tk._string_slots(arr)
        flat, lens = native.tokenize_greedy(data, starts, ends,
                                            trans, accept, tk.UNK_ID)
        off = 0
        for i in range(len(arr)):
            t = arr[i].as_py()
            assert flat[off:off + lens[i]].tolist() == want_of(t), t
            off += lens[i]
    # vocab entries containing the separator byte are refused at build
    with pytest.raises(ValueError, match="separator"):
        tk._trie_arrays({"a b": 0})


def test_pack_chunks_composite_order_key(spark):
    """Segment-split tables pack in (doc_id, seg_id) order via a list
    order_col; per-doc segments stay adjacent and in order, NULL members
    raise, duplicate composite keys raise."""
    from simdcomp_spark.functions import pack
    import pytest
    rows = [(2, 0, [4, 5]), (1, 1, [2, 3]), (1, 0, [1]), (2, 1, [6])]
    df = spark.createDataFrame(rows,
                               "doc_id long, seg_id int, tokens array<int>")
    out = sorted(pack.pack_chunks(df, 4, order_col=["doc_id", "seg_id"])
                 .collect(), key=lambda r: r["chunk_id"])
    assert [t for r in out for t in r["tokens"]] == [1, 2, 3, 4, 5, 6]
    dup = spark.createDataFrame([(1, 0, [1]), (1, 0, [2])],
                                "doc_id long, seg_id int, tokens array<int>")
    with pytest.raises(Exception, match="duplicate order key"):
        pack.pack_chunks(dup, 4, order_col=["doc_id", "seg_id"]).collect()
    withnull = spark.createDataFrame(
        [(1, None, [1])], "doc_id long, seg_id int, tokens array<int>")
    with pytest.raises(Exception, match="contains NULL"):
        pack.pack_chunks(withnull, 4,
                         order_col=["doc_id", "seg_id"]).collect()


def test_source_overlap_exact_and_sketch(spark):
    """Exact cross-source overlap counts are right on constructed data."""
    from simdcomp_spark.functions import dedup as ddp
    # sources: a and b share half their sentences; c is disjoint
    shared = [f"common sentence number {i} shared by both feeds"
              for i in range(30)]
    only = {s: [f"{s}{i}x {s}{i}y {s}{i}z {s}{i}w {s}{i}v"
                for i in range(30)] for s in ("a", "b", "c")}
    rows = []
    did = 0
    for s in ("a", "b", "c"):
        texts = only[s] + (shared if s in ("a", "b") else [])
        for t in texts:
            rows.append((did, t, s))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    exact = {(r["src_a"], r["src_b"]): (r["inter"], r["n_a"], r["n_b"])
             for r in ddp.source_overlap(df).collect()}
    assert ("a", "b") in exact
    inter, n_a, n_b = exact[("a", "b")]
    assert inter > 0 and n_a == n_b
    # c shares nothing: absent from the exact output entirely
    assert not any("c" in pair for pair in exact)


def test_pack_skinny_and_guards_r7(spark):
    """Round-7 optimization internals: (a) a caller-supplied skinny frame
    yields chunk-identical output for both packers; (b) pack_greedy
    refuses duplicate ids and over-full buckets loudly."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F
    from simdcomp_spark.functions import pack

    rows = [(i, list(range(i % 7 + 1))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>") \
        .withColumn("n_tok", F.size("tokens"))
    skinny = df.select("doc_id", "n_tok")

    a = pack.pack_chunks(df.select("doc_id", "tokens"), 16).collect()
    b = pack.pack_chunks(df.select("doc_id", "tokens"), 16,
                         skinny=skinny).collect()
    key = lambda r: r["chunk_id"]
    assert sorted([(r["chunk_id"], r["n_tok"], list(r["tokens"]))
                   for r in a]) == \
        sorted([(r["chunk_id"], r["n_tok"], list(r["tokens"]))
                for r in b])

    g1 = pack.pack_greedy(df, 16, buckets=4).collect()
    g2 = pack.pack_greedy(df, 16, buckets=4, skinny=skinny).collect()
    norm = lambda rs: sorted((r["bucket"], r["chunk_id"], r["n_tok"],
                              r["n_docs"], list(r["tokens"])) for r in rs)
    assert norm(g1) == norm(g2)

    dup = df.unionByName(df.limit(1))
    with pytest.raises(Exception, match="duplicate"):
        pack.pack_greedy(dup, 16, buckets=1).collect()

    with pytest.raises(Exception, match="max_bucket_docs"):
        pack.pack_greedy(df, 16, buckets=1, max_bucket_docs=10).collect()


def test_trie_node_guard_r7():
    """Round-7: the trie builder refuses vocabularies whose DFA exceeds
    the node budget instead of silently allocating GBs."""
    import pytest
    from simdcomp_spark.functions import tokenize as tk

    vocab = {f"zq{i:04d}": i for i in range(50)}   # no prefix sharing
    with pytest.raises(ValueError, match="max_nodes"):
        tk._trie_arrays(vocab, max_nodes=16)
    # and a sane budget still builds
    trans, accept = tk._trie_arrays(vocab, max_nodes=1 << 12)
    assert accept.max() == 49
