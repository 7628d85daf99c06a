"""DuckDB-SQL replication of Spark's ``xxhash64`` — oracle generators for
the hash-seeded gate queries (simhash, simhash_neardup, fingerprint,
minhash_lsh), which were previously rows-only because DuckDB has no
xxhash64 builtin.

Spark's ``xxhash64`` is the standard XXH64 with seed 42, fields chained
left-to-right (each field's finalized hash seeds the next):
STRING → XXH64 over the UTF-8 bytes; INT/LONG → the dedicated 4-/8-byte
paths (``XXH64.hashInt``/``hashLong``).  Everything here is generated SQL:
64-bit wraparound arithmetic runs in HUGEINT (int128) modulo 2**64, bytes
come from ``hex(encode(s))`` substrings, per-word/shingle loops are
``list_reduce`` folds with single-character lambda leaves (keeps the
generated text small), and multi-step chains become nested SELECT layers
of ≤3 named columns each so the binder never chases long lateral-alias
chains.  Every primitive is pinned bit-exact against Spark in
tests/test_oracles_xxh.py.
"""

from __future__ import annotations

M64 = 1 << 64
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5


def _u(x) -> str:
    return f"CAST({x} AS UBIGINT)"


def _mul64(a: str, c: int) -> str:
    """(a * c) mod 2^64 — a is a (short) UBIGINT expression, c a python
    int.  Split c into 32-bit halves so the HUGEINT products stay < 2^97
    (a full 64x64 product would overflow signed int128)."""
    bh, bl = c >> 32, c & 0xFFFFFFFF
    return (f"CAST(((CAST({a} AS HUGEINT) * {bl}) + "
            f"((((CAST({a} AS HUGEINT) % 4294967296) * {bh}) % 4294967296)"
            f" * 4294967296)) % {M64} AS UBIGINT)")


def _rotl(a: str, r: int) -> str:
    return (f"(CAST((CAST({a} AS HUGEINT) * {1 << r}) % {M64} AS UBIGINT)"
            f" | ({a} >> {64 - r}))")


def _add64(a: str, b: str) -> str:
    return (f"CAST((CAST({a} AS HUGEINT) + CAST({b} AS HUGEINT)) % {M64}"
            f" AS UBIGINT)")


def _xor(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def _fmix_steps(h: str, out: str) -> list[tuple[str, str]]:
    return [
        (f"{out}_f1", _xor(h, f"({h} >> 33)")),
        (f"{out}_f2", _mul64(f"{out}_f1", P2)),
        (f"{out}_f3", _xor(f"{out}_f2", f"({out}_f2 >> 29)")),
        (f"{out}_f4", _mul64(f"{out}_f3", P3)),
        (out, _xor(f"{out}_f4", f"({out}_f4 >> 32)")),
    ]


def _byte_at(hx: str, off: str) -> str:
    return f"CAST(('0x' || substr({hx}, 2*({off})+1, 2)) AS UBIGINT)"


def _word_le(hx: str, off: str, nbytes: int) -> str:
    parts = " || ".join(
        f"substr({hx}, 2*(({off})+{t})+1, 2)" for t in reversed(range(nbytes)))
    return f"CAST(('0x' || {parts}) AS UBIGINT)"


def hash_str_layers(hx: str = "hx", n: str = "n", out: str = "h64",
                    seed: int = 42) -> list[tuple[str, str]]:
    """Layers computing XXH64 of a byte string given as columns
    ``hx = hex(encode(s))`` and ``n = octet_length(encode(s))``.  ``seed``
    must be a python int (Spark's string hashing is always the first field,
    so its seed is the constant 42)."""
    L: list[tuple[str, str]] = []
    L.append(("w8", f"list_transform(generate_series(0, CAST({n}//8 AS INT)"
              f" - 1), j -> {_word_le(hx, '8*j', 8)})"))
    L.append(("nstripe", f"CAST({n}//32 AS INT)"))
    inits = [(seed + P1 + P2) % M64, (seed + P2) % M64, seed % M64,
             (seed - P1) % M64]
    for k in range(4):
        lam = _mul64("b", P2)
        lam = _add64("a", lam)
        lam = _rotl(f"({lam})", 31)
        lam = _mul64(f"({lam})", P1)
        L.append((f"v{k + 1}",
                  f"list_reduce(list_prepend({_u(inits[k])}, "
                  f"(w8)[{k + 1}:4*nstripe:4]), (a, b) -> {lam})"))
    m = _add64(_add64(_rotl("v1", 1), _rotl("v2", 7)),
               _add64(_rotl("v3", 12), _rotl("v4", 18)))
    L.append(("hm0", m))
    cur = "hm0"
    for k in range(4):
        rv = _mul64(f"v{k + 1}", P2)
        rv = _rotl(f"({rv})", 31)
        rv = _mul64(f"({rv})", P1)
        L.append((f"hm{k + 1}a", _xor(cur, f"({rv})")))
        L.append((f"hm{k + 1}", _add64(_mul64(f"hm{k + 1}a", P1), _u(P4))))
        cur = f"hm{k + 1}"
    L.append(("h0", f"CASE WHEN {n} >= 32 THEN hm4 "
              f"ELSE {_u((seed + P5) % M64)} END"))
    L.append(("h1", _add64("h0", _u(n))))
    lam = _mul64("b", P2)
    lam = _rotl(f"({lam})", 31)
    lam = _mul64(f"({lam})", P1)
    lam = _xor("a", f"({lam})")
    lam = _rotl(f"({lam})", 27)
    lam = _mul64(f"({lam})", P1)
    lam = _add64(f"{lam}", _u(P4))
    L.append(("h2", f"list_reduce(list_prepend(h1, (w8)[4*nstripe+1:]),"
              f" (a, b) -> {lam})"))
    L.append(("i4", f"8*CAST({n}//8 AS INT)"))
    k4 = _word_le(hx, "i4", 4)
    h3x = _xor("h2", f"({_mul64(f'({k4})', P1)})")
    h3r = _add64(_mul64(f"({_rotl(f'({h3x})', 23)})", P2), _u(P3))
    L.append(("h3", f"CASE WHEN {n} - i4 >= 4 THEN {h3r} ELSE h2 END"))
    L.append(("i1b", f"CASE WHEN {n} - i4 >= 4 THEN i4 + 4 ELSE i4 END"))
    lam = _mul64("b", P5)
    lam = _xor("a", f"({lam})")
    lam = _rotl(f"({lam})", 11)
    lam = _mul64(f"({lam})", P1)
    L.append(("h4", f"list_reduce(list_prepend(h3, list_transform("
              f"generate_series(0, CAST({n} AS INT) - i1b - 1),"
              f" j -> {_byte_at(hx, 'i1b + j')})), (a, b) -> {lam})"))
    L.extend(_fmix_steps("h4", out))
    return L


def hash_int_layers(i_expr: str, seed_col: str, out: str
                    ) -> list[tuple[str, str]]:
    """``XXH64.hashInt(input, seed)`` — input int expr, seed a column."""
    L = [(f"{out}_a", _add64(seed_col, _u((P5 + 4) % M64)))]
    m = _mul64(f"(CAST({i_expr} AS UBIGINT) % 4294967296)", P1)
    L.append((f"{out}_b", _xor(f"{out}_a", f"({m})")))
    L.append((f"{out}_c", _add64(_mul64(f"({_rotl(f'{out}_b', 23)})", P2),
                                 _u(P3))))
    L.extend(_fmix_steps(f"{out}_c", out))
    return L


def hash_long_layers(l_col: str, seed_col: str, out: str
                     ) -> list[tuple[str, str]]:
    """``XXH64.hashLong(input, seed)`` — input a UBIGINT column holding the
    long's two's-complement bits, seed a column or constant expr."""
    L = [(f"{out}_a", _add64(seed_col, _u((P5 + 8) % M64)))]
    m = _mul64(l_col, P2)
    m = _rotl(f"({m})", 31)
    m = _mul64(f"({m})", P1)
    L.append((f"{out}_b", _xor(f"{out}_a", f"({m})")))
    L.append((f"{out}_c", _add64(_mul64(f"({_rotl(f'{out}_b', 27)})", P1),
                                 _u(P4))))
    L.extend(_fmix_steps(f"{out}_c", out))
    return L


def layered_select(base_sql: str, layers: list[tuple[str, str]],
                   chunk: int = 3) -> str:
    """Nest ``base_sql`` under successive SELECT layers of ≤``chunk`` new
    columns; a layer never defines a column another column of the same
    layer references (checked conservatively by substring)."""
    sql = base_sql
    i = 0
    while i < len(layers):
        grp = layers[i:i + chunk]
        names = {c for c, _ in grp}
        safe: list[tuple[str, str]] = []
        for c, e in grp:
            if any(nm in e for nm in names if nm != c):
                break
            safe.append((c, e))
        if not safe:
            safe = grp[:1]
        grp = safe
        i += len(grp)
        cols = ", ".join(f"{e} AS {c}" for c, e in grp)
        sql = f"SELECT *, {cols} FROM ({sql})"
    return sql


def to_signed(col: str) -> str:
    return (f"CASE WHEN {col} >= 9223372036854775808 THEN "
            f"CAST(CAST({col} AS HUGEINT) - {M64} AS BIGINT) "
            f"ELSE CAST({col} AS BIGINT) END")


def to_unsigned(col: str) -> str:
    """Two's-complement bits of a signed BIGINT column as UBIGINT."""
    return (f"CAST(CASE WHEN {col} < 0 THEN CAST({col} AS HUGEINT) + {M64} "
            f"ELSE CAST({col} AS HUGEINT) END AS UBIGINT)")


# ---------------------------------------------------------------------------
# the four oracle queries
# ---------------------------------------------------------------------------

# distinct words of the documents table hashed once, joined back to
# occurrences — identical values, ~10x fewer hash evaluations
_WORD_HASH = (
    "SELECT w, h64 FROM (" +
    layered_select(
        "SELECT w, hex(encode(w)) AS hx, octet_length(encode(w)) AS n "
        "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w "
        "FROM documents)",
        hash_str_layers()) + ")")


def simhash_oracle() -> str:
    """SimHash: per-bit majority vote of per-occurrence word hashes.
    Mirrors functions/dedup.simhash (bit 63 enters as the most negative
    long, exactly like the Spark expression)."""
    terms = []
    for i in range(63):
        terms.append(
            f"CASE WHEN SUM(CASE WHEN (h64 >> {i}) & 1 = 1 THEN 1 "
            f"ELSE -1 END) > 0 THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END")
    terms.append(
        "CASE WHEN SUM(CASE WHEN (h64 >> 63) & 1 = 1 THEN 1 "
        "ELSE -1 END) > 0 THEN CAST(-9223372036854775808 AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END")
    sig = " + ".join(f"({t})" for t in terms)
    return f"""
WITH wh AS MATERIALIZED ({_WORD_HASH}),
occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
SELECT o.doc_id, {sig} AS simhash
FROM occ o JOIN wh ON wh.w = o.w
GROUP BY o.doc_id
"""


def simhash_neardup_oracle(max_hamming: int = 3) -> str:
    """All pairs with simhash hamming ≤ max_hamming.  The Spark operator's
    banded bucket join has GUARANTEED recall for max_hamming ≤ bands-1
    (pigeonhole) and exact bit_count verification, so its output equals
    the exhaustive answer structurally."""
    sim = simhash_oracle()
    return f"""
WITH sims AS MATERIALIZED ({sim})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def fingerprint_oracle() -> str:
    """Order-sensitive rolling fold acc' = xxhash64(acc, h_word) — i.e.
    hashLong(h_word, hashLong(acc, 42)) per word in document order,
    expressed as a recursive CTE over the word position (rows = total
    word count, depth = longest document)."""
    step = hash_long_layers("acc", _u(42), "s1") + \
        hash_long_layers(_to_ub_h64(), "s1", "s2")
    step_sql = layered_select(
        "SELECT f.doc_id, f.pos + 1 AS pos, wp.h64, f.acc, wp.np "
        "FROM fold f JOIN wp ON wp.doc_id = f.doc_id AND wp.pos = f.pos + 1",
        step)
    return f"""
WITH RECURSIVE
wh AS MATERIALIZED ({_WORD_HASH}),
wlist AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
wp AS MATERIALIZED (
  SELECT l.doc_id, p.i AS pos, wh.h64, len(l.ws) AS np
  FROM wlist l
  JOIN LATERAL (SELECT unnest(generate_series(1, len(l.ws))) AS i) p ON true
  JOIN wh ON wh.w = l.ws[p.i]),
fold AS (
  SELECT w.doc_id, 0 AS pos, CAST(0 AS UBIGINT) AS acc, w.np
  FROM (SELECT DISTINCT doc_id, np FROM wp) w
  UNION ALL
  SELECT doc_id, pos, s2 AS acc, np FROM ({step_sql})
)
SELECT doc_id, {to_signed('acc')} AS fingerprint
FROM fold WHERE pos = np
"""


def _to_ub_h64() -> str:
    # word hashes are already UBIGINT columns named h64
    return "h64"


def minhash_lsh_oracle(num_hashes: int = 16, bands: int = 8) -> str:
    """MinHash-LSH candidate pairs, full replication: per-shingle string
    hash, per-seed hashInt chain, SIGNED array_min per doc, band buckets
    via the chained hashLong of the band's signature rows, bucket join,
    distinct pairs.  Shingle construction matches functions/dedup._shingles
    (k=3, distinct, short-document fallback)."""
    rpb = num_hashes // bands
    sig_layers: list[tuple[str, str]] = []
    for i in range(num_hashes):
        sig_layers += hash_int_layers(str(i), "h64", f"m{i}")
    sh_hash = layered_select(
        "SELECT sh, hex(encode(sh)) AS hx, octet_length(encode(sh)) AS n "
        "FROM (SELECT DISTINCT sh FROM sh_doc)",
        hash_str_layers() + sig_layers)
    mins = ", ".join(
        f"MIN({to_signed(f'm{i}')}) AS sig{i}" for i in range(num_hashes))
    band_layers: list[tuple[str, str]] = []
    for b in range(bands):
        cols = [f"sig{b * rpb + r}" for r in range(rpb)]
        band_layers += hash_long_layers(to_unsigned(cols[0]), _u(42),
                                        f"bk{b}_0")
        for r in range(1, rpb):
            band_layers += hash_long_layers(to_unsigned(cols[r]),
                                            f"bk{b}_{r - 1}", f"bk{b}_{r}")
    bands_sql = layered_select("SELECT * FROM sigs", band_layers)
    bucket_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, bk{b}_{rpb - 1} AS bkt FROM bnd"
        for b in range(bands))
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh_doc AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
              ELSE array_to_string(w, ' ') END AS sh
  FROM words, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(w) - 2, 1))) AS i)),
shh AS MATERIALIZED ({sh_hash}),
sigs AS MATERIALIZED (
  SELECT d.doc_id, {mins}
  FROM sh_doc d JOIN shh ON shh.sh = d.sh
  GROUP BY d.doc_id),
bnd AS MATERIALIZED ({bands_sql}),
buckets AS MATERIALIZED ({bucket_union})
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM buckets x JOIN buckets y ON x.band = y.band AND x.bkt = y.bkt
WHERE x.doc_id < y.doc_id
"""


def _rotl_i(x: int, r: int) -> int:
    x %= M64
    return ((x << r) | (x >> (64 - r))) % M64


def xxh64_long(value: int, seed: int = 42) -> int:
    """Pure-python XXH64.hashLong (the 8-byte path Spark's ``xxhash64``
    uses for LONG fields) — for precomputing chained-field seeds so the
    generated SQL only has to replay the LAST field's hash.  Pinned
    bit-exact against Spark in tests/test_oracles_xxh.py."""
    h = (seed + P5 + 8) % M64
    k = _rotl_i((value % M64) * P2 % M64, 31) * P1 % M64
    h ^= k
    h = (_rotl_i(h, 27) * P1 + P4) % M64
    h ^= h >> 33
    h = h * P2 % M64
    h ^= h >> 29
    h = h * P3 % M64
    h ^= h >> 32
    return h


def _seeded_doc_hash_sql(seed: int, extra_cols: str = "") -> tuple[str, str]:
    """(subquery, signed-hash expr) computing Spark's chained
    ``xxhash64(seed_lit, doc_id)`` over documents: the constant first
    field reduces to a precomputed seed for hashLong(doc_id, ·) — the
    one shared preamble of every seeded-operator oracle below."""
    h1 = xxh64_long(int(seed), 42)
    sql = layered_select(
        f"SELECT doc_id{extra_cols}, " + to_unsigned("doc_id") + " AS ub "
        "FROM documents",
        hash_long_layers("ub", _u(h1), "h64"))
    return sql, to_signed("h64")


def corpus_shuffle_oracle(seed: int) -> str:
    """Replay functions.mix.corpus_shuffle's key bit-exactly."""
    sql, signed = _seeded_doc_hash_sql(seed)
    return (f"SELECT doc_id, {signed} AS shuffle_key "
            f"FROM ({sql})")


def split_corpus_oracle(seed: int, thresholds: list[tuple[str, int]],
                        resolution: int) -> str:
    """Replay functions.mix.split_corpus: same chained hash, bucket =
    pmod(signed hash, resolution), ascending-threshold CASE."""
    sql, signed = _seeded_doc_hash_sql(seed)
    bucket = f"((({signed}) % {resolution}) + {resolution}) % {resolution}"
    cases = " ".join(f"WHEN ({bucket}) < {t} THEN '{name}'"
                     for name, t in thresholds)
    return (f"SELECT doc_id, CASE {cases} END AS split FROM ({sql})")


def stratified_sample_oracle(seed: int, k: int) -> str:
    """Replay functions.mix.stratified_sample exactly: per source, the
    k smallest docs by (signed xxhash64(seed, doc_id), doc_id)."""
    sql, signed = _seeded_doc_hash_sql(seed, extra_cols=", source")
    return (f"SELECT doc_id, source FROM ("
            f"SELECT doc_id, source, row_number() OVER ("
            f"PARTITION BY source ORDER BY {signed}, doc_id) AS rk "
            f"FROM ({sql})) WHERE rk <= {int(k)}")


def training_mix_oracle(rates: dict[str, int]) -> str:
    """DuckDB replay of functions.mix.training_mix over documents:
    pmod(xxhash64(doc_id), 100) < rates[source], the hash being Spark's
    XXH64.hashLong(doc_id, 42) replayed in generated SQL."""
    sql = layered_select(
        "SELECT doc_id, source, " + to_unsigned("doc_id") + " AS ub "
        "FROM documents",
        hash_long_layers("ub", _u(42), "h64"))
    cases = " ".join(f"WHEN source = '{s}' THEN {r}"
                     for s, r in rates.items())
    signed = to_signed("h64")
    return (f"SELECT doc_id, source FROM ({sql}) "
            f"WHERE ((({signed}) % 100) + 100) % 100 "
            f"< CASE {cases} ELSE -1 END")


def pack_greedy_oracle(chunk_len: int, buckets: int) -> str:
    """DuckDB replay of functions.pack.pack_greedy over the lineitem
    token table (arrays keyed by l_orderkey, valued l_partkey in
    (l_linenumber, l_partkey) order): bucket = pmod(XXH64.hashLong(id,
    42), buckets) in generated SQL, next-fit packing as a recursive CTE
    stepping one doc per bucket per iteration, per-chunk content/order
    checksums recomposed from per-doc sums (w + offset*s)."""
    base = (
        "SELECT id, n, s, w, " + to_unsigned("id") + " AS ub FROM ("
        "SELECT l_orderkey AS id, count(*) AS n, sum(v) AS s, "
        "sum(v * p) AS w FROM ("
        "SELECT l_orderkey, CAST(l_partkey AS BIGINT) AS v, "
        "row_number() OVER (PARTITION BY l_orderkey "
        "ORDER BY l_linenumber, l_partkey) - 1 AS p FROM lineitem) "
        "GROUP BY l_orderkey)")
    hashed = layered_select(base, hash_long_layers("ub", _u(42), "h64"))
    signed = to_signed("h64")
    B, L = int(buckets), int(chunk_len)
    return f"""
WITH RECURSIVE docs AS (
  SELECT id, n, s, w, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY id) AS i
  FROM (SELECT id, n, s, w,
               CAST(((({signed}) % {B}) + {B}) % {B} AS INT) AS bucket
        FROM ({hashed}))),
st(bucket, i, chunk, fill) AS (
  SELECT bucket, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST({L} AS BIGINT)
  FROM (SELECT DISTINCT bucket FROM docs)
  UNION ALL
  SELECT d.bucket, s2.i + 1,
         CASE WHEN s2.fill + d.n <= {L} THEN s2.chunk ELSE s2.chunk + 1 END,
         CASE WHEN s2.fill + d.n <= {L} THEN s2.fill + d.n ELSE d.n END
  FROM st s2 JOIN docs d ON d.bucket = s2.bucket AND d.i = s2.i + 1),
placed AS (
  SELECT d.bucket, st.chunk, d.id, d.n, d.s, d.w
  FROM st JOIN docs d ON d.bucket = st.bucket AND d.i = st.i),
off AS (
  SELECT *, sum(n) OVER (PARTITION BY bucket, chunk ORDER BY id
           ROWS UNBOUNDED PRECEDING) - n AS o
  FROM placed)
SELECT bucket, chunk AS chunk_id,
       CAST(sum(n) AS INT) AS n_tok,
       CAST(count(*) AS INT) AS n_docs,
       CAST(sum(s) AS BIGINT) AS tok_sum,
       CAST(sum(w + o * s) AS BIGINT) AS tok_wsum
FROM off GROUP BY bucket, chunk
"""
