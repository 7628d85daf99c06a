"""Pin the DuckDB-SQL XXH64 replication (oracles_xxh) bit-exact against
Spark's xxhash64 for all three primitives (string / int-chain / long-chain)
across every length class of the algorithm (empty, <4, <8, <32, stripes,
unicode).  The four oracle queries built on these primitives are covered by
the driver-gate sweep in test_entry.py."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from simdcomp_spark import oracles_xxh as OX  # noqa: E402

CASES = ["", "a", "ab", "abc", "abcd", "hello w", "12345678", "x" * 15,
         "y" * 16, "z" * 31, "w" * 32, "v" * 33, "u" * 64, "t" * 100,
         "日本語テスト", "héllo wörld", "the quick brown fox"]


def test_xxh64_sql_matches_spark(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ", ".join(f"('{s}')" for s in CASES) + ") v(s)")
    layers = OX.hash_str_layers()
    for i in range(3):
        layers += OX.hash_int_layers(str(i), "h64", f"g{i}")
    layers += OX.hash_long_layers("h64", OX._u(42), "hl1")
    layers += OX.hash_long_layers("g0", "hl1", "hl2")
    sql = OX.layered_select(
        "SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n "
        "FROM t", layers)
    sel = ", ".join(f"{OX.to_signed(c)} AS {c}_s"
                    for c in ["h64", "g0", "g1", "g2", "hl2"])
    got = {r[0]: r[1:] for r in
           con.execute(f"SELECT s, {sel} FROM ({sql})").fetchall()}

    df = spark.createDataFrame([(c,) for c in CASES], "s string")
    exp = df.select(
        "s", F.xxhash64("s").alias("h"),
        *[F.xxhash64("s", F.lit(i)).alias(f"g{i}") for i in range(3)],
        F.xxhash64(F.xxhash64("s"),
                   F.xxhash64("s", F.lit(0))).alias("hl2")).collect()
    for r in exp:
        assert got[r["s"]] == (r["h"], r["g0"], r["g1"], r["g2"],
                               r["hl2"]), r["s"]


def _py_xxh64(b: bytes, seed: int = 42) -> int:
    """Reference XXH64 (validated against Spark) for the fuzz test."""
    M = (1 << 64) - 1
    P1, P2, P3 = OX.P1, OX.P2, OX.P3
    P4, P5 = OX.P4, OX.P5

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n = len(b)
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed & M,
             (seed - P1) & M]
        i = 0
        while i + 32 <= n:
            for j in range(4):
                k = int.from_bytes(b[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = (rotl((v[j] + k * P2) & M, 31) * P1) & M
            i += 32
        h = (rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12)
             + rotl(v[3], 18)) & M
        for x in v:
            h ^= (rotl((x * P2) & M, 31) * P1) & M
            h = (h * P1 + P4) & M
    else:
        h = (seed + P5) & M
        i = 0
    h = (h + n) & M
    while i + 8 <= n:
        k = int.from_bytes(b[i:i + 8], "little")
        h ^= (rotl((k * P2) & M, 31) * P1) & M
        h = (rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(b[i:i + 4], "little")
        h ^= (k * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (b[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def test_xxh64_sql_fuzz_random_strings():
    """Random unicode strings (every length class) through the SQL
    pipeline vs the python reference — no Spark needed, so this can fuzz
    broadly."""
    from hypothesis import given, settings, strategies as st

    con = duckdb.connect()
    layers = OX.hash_str_layers()

    sql = OX.layered_select(
        "SELECT hex(encode(s)) AS hx, octet_length(encode(s)) AS n "
        "FROM (VALUES (?::VARCHAR)) v(s)", layers)
    q = f"SELECT {OX.to_signed('h64')} FROM ({sql})"

    @settings(max_examples=60, deadline=None)
    @given(st.text(min_size=0, max_size=80,
                   alphabet=st.characters(exclude_characters="\x00",
                                          exclude_categories=("Cs",))))
    def check(s):
        got = con.execute(q, [s]).fetchone()[0]
        assert got == _py_xxh64(s.encode()), repr(s)

    check()


def test_to_unsigned_roundtrip():
    con = duckdb.connect()
    vals = [0, 1, -1, 2**63 - 1, -(2**63), -42]
    q = ", ".join(
        f"{OX.to_signed(OX.to_unsigned(f'CAST({v} AS BIGINT)'))}"
        for v in vals)
    assert list(con.execute(f"SELECT {q}").fetchone()) == vals


def test_xxh64_long_py_matches_spark(spark):
    """The pure-python hashLong (used to precompute chained-field seeds
    for corpus_shuffle/split_corpus oracles) is bit-identical to Spark's
    xxhash64 on LONG fields, including the two-field chain."""
    from pyspark.sql import functions as F
    import simdcomp_spark.oracles_xxh as OX
    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63), 123456789012345]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got1 = [r[0] for r in df.select(F.xxhash64("v")).collect()]
    def signed(x):      # unsigned 64-bit → Spark's signed long
        return x - OX.M64 if x >= 1 << 63 else x

    want1 = [signed(OX.xxh64_long(v, 42)) for v in vals]
    assert got1 == want1
    seed = 20260818
    got2 = [r[0] for r in
            df.select(F.xxhash64(F.lit(seed).cast("long"), "v")).collect()]
    h1 = OX.xxh64_long(seed, 42)
    want2 = [signed(OX.xxh64_long(v, h1)) for v in vals]
    assert got2 == want2
