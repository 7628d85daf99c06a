"""Deterministic synthetic tokens tables (FIXTURES.md).

Two generation paths:
* :func:`unit_rows` / :func:`unit_table` — small pattern-sweep corpus built on
  the driver (pytest);
* :func:`tokenish_table` — scalable generator: ``spark.range`` +
  ``mapInPandas`` with a per-partition rng seeded by partition id, so the
  SAME table materializes for any executor count (the local[8]-vs-local[32]
  scaling run needs identical input), and nothing is collected on the driver.

Schema is the BASELINE.json input_hint shape:
    doc_id string, tokens array<int>, n_tok int, source string
"""

from __future__ import annotations

import numpy as np

TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def unit_rows(seed: int = 42) -> list[tuple[str, list[int], int, str]]:
    """The FIXTURES.md pattern sweep as plain rows (int32 domain)."""
    rng = np.random.default_rng(seed)
    rows = []

    def add(pattern: str, i: int, arr: np.ndarray):
        arr = arr.astype(np.uint32).view(np.int32)
        rows.append((f"doc_{pattern}_{i:08d}", [int(v) for v in arr],
                     int(arr.size), pattern))

    lens = [0, 1, 2, 3, 4, 127, 128, 129, 255, 256, 257, 1000, 2048]
    for b in (0, 3, 11, 30):
        for j, n in enumerate(lens):
            add(f"const_bw{b}", j, np.full(n, (1 << b) - 1, dtype=np.uint32))
    for b in (1, 7, 16, 31, 32):
        mask = 0xFFFFFFFF if b == 32 else (1 << b) - 1
        for j, n in enumerate(lens):
            add(f"rand_bw{b}", j,
                rng.integers(0, 2**32, size=n, dtype=np.uint32) & np.uint32(mask))
    for g in (1, 3, 81, 243):
        add(f"sorted_gap{g}", 0,
            np.cumsum(rng.integers(0, g + 1, size=777, dtype=np.uint32)).astype(np.uint32))
    for g in (3, 19683, 387420489):
        add(f"lingap{g}", 0, (np.arange(500, dtype=np.uint64) * g).astype(np.uint32))
    for j, n in enumerate((1, 77, 300)):
        d = np.ones(n, dtype=np.uint32)
        d[-1] = 2
        add(f"delta2_len{n}", j, np.cumsum(d).astype(np.uint32))
    add("chars", 0, rng.integers(0, 256, size=512 * 4, dtype=np.uint8)
        .view(np.uint32).byteswap().view(np.uint32))  # arbitrary 32-bit noise
    for j in range(20):
        n = int(rng.lognormal(np.log(700), 0.8)) + 1
        add("tokenish", j, (rng.zipf(1.3, size=n) % 50257).astype(np.uint32))
    add("tokenish_huge", 0, (rng.zipf(1.3, size=70000) % 50257).astype(np.uint32))
    return rows


def unit_table(spark):
    return spark.createDataFrame(unit_rows(), schema=TOKENS_SCHEMA)


def _gen_partition_rows(start: int, count: int, seed: int, vocab: int,
                        mean_len: float):
    rng = np.random.default_rng((seed, start))
    lens = np.minimum(rng.lognormal(np.log(mean_len), 0.6, size=count)
                      .astype(np.int64) + 1, 16384)
    # deterministic skew: every 4096th doc is huge (length-split exercise)
    lens[(start + np.arange(count)) % 4096 == 0] = 80000
    tot = int(lens.sum())
    toks = (rng.zipf(1.3, size=tot) % vocab).astype(np.uint32).view(np.int32)
    offs = np.concatenate(([0], np.cumsum(lens)))
    return lens, toks, offs


def tokenish_table(spark, n_docs: int, seed: int = 42, vocab: int = 50257,
                   mean_len: float = 700.0, parts: int | None = None):
    """Distributed deterministic Zipf tokens table (bench preset).

    Partition-id-seeded: the table contents are identical regardless of
    executor count or `parts`, as long as (n_docs, seed, vocab, mean_len,
    parts) match — rows are keyed by global doc index.
    """
    parts = parts or max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_docs, 1, parts)

    def gen(it):
        import pandas as pd
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if ids.size == 0:
                continue
            # chunk by contiguous ranges so seeding is row-deterministic
            lens, toks, offs = _gen_partition_rows(int(ids[0]), ids.size,
                                                   seed, vocab, mean_len)
            yield pd.DataFrame({
                "doc_id": [f"doc_{i:010d}" for i in ids],
                "tokens": [toks[offs[k]:offs[k + 1]] for k in range(ids.size)],
                "n_tok": lens.astype(np.int32),
                "source": [f"src{i % 8}" for i in ids],
            })

    return base.mapInPandas(gen, schema=TOKENS_SCHEMA)


def clustered_embeddings(spark, n_vecs: int = 4096, dim: int = 32,
                         n_clusters: int = 16, sigma: float = 0.1,
                         seed: int = 7, parts: int | None = None):
    """Embeddings with PLANTED cluster structure: ``n_clusters`` Gaussian
    clusters on the unit sphere (cluster of row i = i % n_clusters), each
    vector = normalize(center + sigma * noise).

    The near-isotropic driver fixture can't reward a working IVF — its
    recall@nprobe ≈ fraction of rows scanned no matter how cells are
    assigned.  On this fixture, true cosine neighbors are overwhelmingly
    within-cluster (noise norm ≈ sigma*sqrt(dim) ≪ 1, inter-center cosine
    ≈ 0 at dim 32), so a correct IVF reaches recall ≈ 1 at nprobe ≪ K
    while a shuffled cell assignment stays ≈ nprobe/K — the metric now
    separates working from broken.  Row-deterministic for any partitioning
    (vector i depends only on (seed, i))."""
    parts = parts or max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_vecs, 1, parts)
    centers = np.random.default_rng(seed).normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def gen(it):
        import pandas as pd
        for pdf in it:
            ids = pdf["id"].to_numpy()
            if ids.size == 0:
                continue
            # per-row KEYED rng → identical vectors under any partitioning
            # AND independent streams: Philox keyed by (seed, row id).  A
            # counter offset of +1 per row would make adjacent rows share
            # most of their stream (the counter advances ~1 block per 4
            # draws), i.e. shifted copies of the same noise
            vecs = np.empty((ids.size, dim), dtype=np.float64)
            for k, i in enumerate(ids):
                rng = np.random.Generator(
                    np.random.Philox(key=[seed, int(i)]))
                vecs[k] = rng.normal(size=dim)
            cl = ids % n_clusters
            vecs = centers[cl] + sigma * vecs
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            yield pd.DataFrame({
                "vec_id": ids.astype(np.int64),
                "embedding": [row.astype(np.float32) for row in vecs],
                "cluster": cl.astype(np.int32),
            })

    return base.mapInPandas(
        gen, schema="vec_id long, embedding array<float>, cluster int")
