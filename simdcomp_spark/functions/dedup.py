"""Deduplication operators for training-data pipelines.

Four families, all DataFrame-native:
* exact          — hash groupBy (one shuffle, map-side combinable);
* n-gram Jaccard — EXACT pair similarity via a shingle inverted index
                   (explode → self-join on shingle → integer counts; the
                   standard scalable exact-dedup plan: the join key is the
                   shingle, so only docs sharing a shingle ever meet);
* MinHash + LSH  — shingle → K minhashes → B bands → bucket join →
                   candidate pairs (sub-quadratic at 100 TB);
* SimHash        — 64-bit signature from word-hash bit votes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def exact_dedup(df: DataFrame, col: str = "text") -> DataFrame:
    """Group identical texts: (text_hash, n_docs, first_doc)."""
    return (df.select(F.md5(F.col(col).cast("binary")).alias("text_hash"),
                      "doc_id")
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


def _shingles(col: str, k: int = 3):
    """Distinct word k-gram shingles as an array column (JVM-side)."""
    words = F.split(F.col(col), " ")
    n = F.size(words)
    return F.array_distinct(F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )).otherwise(F.array(F.concat_ws(" ", words))))


def ngram_jaccard_pairs(df: DataFrame, col: str = "text", k: int = 3,
                        min_pct: int = 15, max_df: int | None = None
                        ) -> DataFrame:
    """All-pairs word-k-gram Jaccard ≥ min_pct/100 via inverted index.

    Integer arithmetic only (inter*100 >= min_pct*union) so any SQL engine
    reproduces it bit-for-bit.  Returns (doc_a, doc_b, inter, union_sz).

    ``max_df`` bounds the quadratic blowup on hot shingles: a shingle shared
    by m docs emits O(m²) join rows, so boilerplate text (one shingle in
    every doc) makes the exact plan all-pairs.  With ``max_df=X`` shingles
    whose document frequency exceeds X are dropped from BOTH the index and
    the per-doc sizes — the result is exact Jaccard over the df≤X shingle
    subset (near-universal shingles carry no discriminating signal), and the
    worst-case join fan-out is bounded by X² per shingle.  At 100 TB this is
    the difference between a bounded shuffle and a cross join."""
    sh = (df.select("doc_id", F.explode(_shingles(col, k)).alias("sh"))
          .distinct())
    if max_df is not None:
        keep = (sh.groupBy("sh").agg(F.count("*").alias("df"))
                .where(F.col("df") <= max_df).select("sh"))
        sh = sh.join(keep, "sh")
    out = _overlap_pairs(sh, "doc_id", "doc_a", "doc_b")
    return (out
            .withColumn("union_sz",
                        F.col("n_a") + F.col("n_b") - F.col("inter"))
            .where(F.col("inter") * 100 >= min_pct * F.col("union_sz"))
            .select("doc_a", "doc_b", "inter", "union_sz"))


def _overlap_pairs(sh: DataFrame, key: str, a_name: str, b_name: str
                   ) -> DataFrame:
    """Shared exact-overlap core over a DISTINCT (key, sh) frame:
    per-key set sizes + the sh-keyed a<b self-join →
    (a_name, b_name, inter, n_a, n_b) — used by both the doc-level
    Jaccard and the source-level overlap so the machinery (and any
    future null/skew handling) lives once."""
    sizes = sh.groupBy(key).agg(F.count("*").alias("n"))
    pairs = (sh.alias("a").join(sh.alias("b"), "sh")
             .where(F.col(f"a.{key}") < F.col(f"b.{key}"))
             .groupBy(F.col(f"a.{key}").alias(a_name),
                      F.col(f"b.{key}").alias(b_name))
             .agg(F.count("*").alias("inter")))
    na = sizes.select(F.col(key).alias(a_name), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(key).alias(b_name), F.col("n").alias("n_b"))
    return (pairs.join(F.broadcast(na), a_name)
            .join(F.broadcast(nb), b_name)
            .select(a_name, b_name, "inter", "n_a", "n_b"))


def minhash_signatures(df: DataFrame, col: str = "text", k: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """K minhashes per doc: min over shingles of xxhash64(shingle, seed)."""
    sh = _shingles(col, k)
    sig = F.array(*[
        F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(i))))
        for i in range(num_hashes)])
    return df.select("doc_id", sig.alias("minhash"))


def minhash_lsh_candidates(df: DataFrame, col: str = "text", k: int = 3,
                           num_hashes: int = 16, bands: int = 4,
                           max_bucket: int | None = None) -> DataFrame:
    """LSH candidate pairs: docs agreeing on all rows of ≥1 band.

    The band bucket is the join key → sub-quadratic; at cluster scale the
    bucket join shuffles only signatures, never documents.

    ``max_bucket`` bounds the within-bucket blowup: a bucket holding m docs
    emits O(m²) pairs, and mass-duplicated boilerplate (the 100 TB reality)
    creates giant buckets.  Buckets larger than ``max_bucket`` are dropped —
    their members are near-identical copies that the cheaper exact/encoded
    dedup already groups, so spending the quadratic join on them is waste."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, col, k, num_hashes)
    buckets = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.col("minhash")[b * rows_per_band + r]
                                  for r in range(rows_per_band)]).alias("bkt"))
            for b in range(bands)])).alias("bb"))
    buckets = buckets.select("doc_id", "bb.band", "bb.bkt")
    if max_bucket is not None:
        keep = (buckets.groupBy("band", "bkt")
                .agg(F.count("*").alias("m"))
                .where(F.col("m") <= max_bucket)
                .select("band", "bkt"))
        buckets = buckets.join(keep, ["band", "bkt"])
    return (buckets.alias("x").join(buckets.alias("y"), ["band", "bkt"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"))
            .distinct())


def minhash_neardup_pairs(df: DataFrame, col: str = "text", k: int = 3,
                          num_hashes: int = 16, bands: int = 4,
                          min_pct: int = 50,
                          max_bucket: int | None = None) -> DataFrame:
    """MinHash-LSH near-dup with the EXACT-verify stage: LSH proposes
    candidate pairs (sub-quadratic), then true shingle Jaccard is computed
    for ONLY those pairs and pairs below ``min_pct``/100 are dropped.

    This is the standard two-stage plan at corpus scale: the shingle join
    runs over candidate pairs (|C| ≪ n²), never all pairs.  Returns
    (doc_a, doc_b, inter, union_sz) exactly like
    :func:`ngram_jaccard_pairs`, so downstream dedup logic is codec-free."""
    cand = minhash_lsh_candidates(df, col, k, num_hashes, bands, max_bucket)
    sh = (df.select("doc_id", F.explode(_shingles(col, k)).alias("sh"))
          .distinct())
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # two equi-joins: candidates × doc_a's shingles, matched against doc_b's
    inter = (cand
             .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
             .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "sh"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("union_sz",
                        F.col("sza") + F.col("szb") - F.col("inter"))
            .where(F.col("inter") * 100 >= min_pct * F.col("union_sz"))
            .select("doc_a", "doc_b", "inter", "union_sz"))


def simhash(df: DataFrame, col: str = "text") -> DataFrame:
    """64-bit SimHash: per-bit majority vote of word hashes (JVM-side:
    aggregate over bit positions with shiftright/bitwise ops)."""
    words = F.split(F.col(col), " ")
    hashes = F.transform(words, lambda w: F.xxhash64(w))
    def _vote_fn(i):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1,
            F.lit(1)).otherwise(F.lit(-1))

    sig = F.lit(0).cast("long")
    for i in range(64):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _vote_fn(i))
        bit_i = (1 << i) if i < 63 else -(1 << 63)  # avoid int64 overflow
        sig = sig.bitwiseOR(
            F.when(vote > 0, F.lit(bit_i).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return df.select("doc_id", sig.alias("simhash"))


def simhash_neardup_pairs(df: DataFrame, col: str = "text",
                          max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into ``bands``
    equal bit-slices and bucket-join on (band, slice) — by pigeonhole any
    pair within hamming distance ``bands - 1`` shares at least one intact
    band, so recall is GUARANTEED for ``max_hamming <= bands - 1`` (larger
    distances degrade gracefully).  Candidates are then exact-filtered with
    ``bit_count(xor)``.  The join key is a 16-bit slice + band id: at 100 TB
    this shuffles 10 bytes/doc/band, never documents, and hot buckets are
    bounded by how many docs genuinely share a slice.
    Returns (doc_a, doc_b, hamming)."""
    assert 64 % bands == 0
    width = 64 // bands
    sigs = simhash(df, col)
    slices = sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned("simhash", b * width)
                     .bitwiseAND(F.lit((1 << width) - 1)).alias("slice"))
            for b in range(bands)])).alias("bs"))
    slices = slices.select("doc_id", "simhash", "bs.band", "bs.slice")
    cand = (slices.alias("x").join(slices.alias("y"), ["band", "slice"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("doc_a"),
                    F.col("y.doc_id").alias("doc_b"),
                    F.bit_count(F.col("x.simhash")
                                .bitwiseXOR(F.col("y.simhash")))
                    .alias("hamming"))
            .distinct())
    return cand.where(F.col("hamming") <= max_hamming)


def dedup_keep_first(df: DataFrame, col: str = "text") -> DataFrame:
    """Exact dedup that keeps the lowest doc_id per duplicate group."""
    w = Window.partitionBy(F.md5(F.col(col).cast("binary"))).orderBy("doc_id")
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def decontaminate(df: DataFrame, probe_df: DataFrame,
                  col: str = "text", k: int = 3) -> DataFrame:
    """Benchmark DECONTAMINATION: flag corpus documents sharing ANY word
    k-gram with a probe set (eval-suite questions, held-out test docs) —
    the training-pipeline stage that keeps benchmarks out of the
    training mix.  Probe suites are small, so their distinct shingles
    BROADCAST and the check is a single scan + broadcast join + map-side
    combinable count: no shuffle of the corpus, cost linear in corpus
    size at any probe count that fits a broadcast.  Returns
    ``(doc_id, n_hits)`` — flagged docs with how many distinct probe
    shingles they contain (callers anti-join it against the corpus to
    drop or audit)."""
    probe_sh = (probe_df.select(F.explode(_shingles(col, k)).alias("sh"))
                .distinct())
    doc_sh = df.select("doc_id", F.explode(_shingles(col, k)).alias("sh"))
    return (doc_sh.join(F.broadcast(probe_sh), "sh")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))


def line_dedup(df: DataFrame, col: str = "text", max_df: int = 1,
               sep: str = "\n") -> DataFrame:
    """LINE-LEVEL boilerplate dedup (the C4 / RefinedWeb corpus-cleaning
    stage): a line occurring in more than ``max_df`` DISTINCT documents
    is dropped from every document (cookie banners, footers, nav bars);
    surviving lines are rejoined in original order.  Documents whose
    every line is boilerplate disappear.  Scale shape: one exact
    line-frequency aggregation (map-side combinable, shuffles distinct
    (line, doc) pairs) and one anti-join keyed on the line — only docs
    sharing a line ever meet, no pairwise comparison anywhere."""
    import re
    # F.split takes a Java REGEX but concat_ws uses sep literally: a
    # metacharacter separator ('.', '|') would silently shred every doc
    lines = df.select(
        "doc_id", F.posexplode(F.split(F.col(col), re.escape(sep)))
        .alias("pos", "line"))
    hot = (lines.select("doc_id", "line").distinct()
           .groupBy("line").agg(F.count("*").alias("line_df"))
           .where(F.col("line_df") > max_df).select("line"))
    kept = lines.join(hot, "line", "left_anti")
    return (kept.groupBy("doc_id")
            .agg(F.concat_ws(sep, F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line)).alias(col)))


def source_overlap(df: DataFrame, col: str = "text", k: int = 3,
                   source_col: str = "source") -> DataFrame:
    """Corpus analytics for mix design: EXACT word-k-gram shingle
    overlap between SOURCES — "how much of source A's content also
    appears in source B" (near-duplicate feeds, mirrored crawls,
    re-scraped dumps).  Returns ``(src_a, src_b, inter, n_a, n_b)``
    with integer counts (union = n_a + n_b - inter); source pairs
    sharing nothing are absent.

    Scale shape: the per-SOURCE distinct projection comes first (one
    map-side-combinable shuffle keyed by (source, shingle)); after it a
    shingle occurs at most once per source, so the shingle-keyed
    self-join fans out at most C(n_sources, 2) rows per shingle —
    bounded by source cardinality, never corpus size, which is why this
    needs no ``max_df`` cap (unlike the doc-level
    :func:`ngram_jaccard_pairs`)."""
    sh = (df.select(F.col(source_col).alias("src"),
                    F.explode(_shingles(col, k)).alias("sh"))
          .distinct())
    return _overlap_pairs(sh, "src", "src_a", "src_b")
