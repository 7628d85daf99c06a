"""Text → token ids: a deterministic greedy longest-match subword
tokenizer (wordpiece-style, no ## continuation marks).

This is the stage that FEEDS the engine — raw documents become the
``tokens array<int>`` column everything downstream (encode, dedup,
pack_chunks) operates on.  The algorithm is the simplest deterministic
subword scheme: split on single spaces, then per word repeatedly take
the LONGEST vocabulary entry matching at the cursor (falling back to
``UNK_ID`` + advance-one-char when no entry matches, so any unicode
input tokenizes totally).  Deterministic and engine-reproducible by
construction — the DuckDB oracle replays it exactly with a recursive
CTE over the same vocabulary.

Spark shape: an Arrow-batched UDF (``mapInArrow``) — genuine
per-character control flow is the sanctioned UDF case; there is no JVM
expression for longest-match scanning.  It is embarrassingly parallel
(zero exchanges, whole-stage scan → udf → output).  The per-core hot
loop is a ~40-line C byte-trie DFA (native.tokenize_greedy, compiled
like the codec kernels) fed the Arrow string buffer directly — no
per-row Python, no per-row str materialization.  The text column must
be string or large_string.  :func:`tokenize_word` is the scalar
reference the tests compare the DFA against.  The vocabulary here is a fixed
demo table (ASCII singles + common English merges); a production run
swaps in a learned one — every code path is vocabulary-agnostic (the
trie is built from whatever VOCAB holds).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

_MERGES = (
    "the", "ing", "ion", "and", "ent", "er", "re", "on", "at", "or",
    "en", "ti", "es", "te", "an", "in", "is", "it", "ou", "ar",
    "st", "nd", "al", "ed", "to", "of", "ll", "th", "he", "se",
)
_CHARS = ("abcdefghijklmnopqrstuvwxyz"
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789.,;:!?-_'()")

VOCAB: dict[str, int] = {}
for _c in _CHARS:
    VOCAB[_c] = len(VOCAB)
for _m in _MERGES:
    VOCAB[_m] = len(VOCAB)
UNK_ID = len(VOCAB)
_MAX_LEN = max(len(t) for t in VOCAB)


def tokenize_word(w: str) -> list[int]:
    """Greedy longest-match ids for one word (the reference scalar
    implementation — the C DFA matches it, the oracle replays it)."""
    out: list[int] = []
    pos, n = 0, len(w)
    while pos < n:
        for ln in range(min(_MAX_LEN, n - pos), 0, -1):
            tid = VOCAB.get(w[pos:pos + ln])
            if tid is not None:
                out.append(tid)
                pos += ln
                break
        else:
            out.append(UNK_ID)
            pos += 1
    return out


_TRIE_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


TRIE_MAX_NODES = 1 << 18        # 256 MB of trans rows — override per call


def _trie_arrays(vocab: dict[str, int],
                 max_nodes: int = TRIE_MAX_NODES
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Byte-trie DFA of ``vocab`` as two flat int32 arrays:
    ``trans[node*256 + byte]`` = next node or -1 (node 0 = root) and
    ``accept[node]`` = token id or -1.  Memory is nodes × 1 KiB with
    nodes ≤ 1 + Σ entry bytes: ~1 KiB/entry-byte WORST case when
    prefixes share nothing — a 50k-entry vocab of ~6-byte entries
    budgets ~300 MB, not the "~100 MB" an earlier note assumed for
    strong sharing.  ``max_nodes`` (default 2^18 ≈ 256 MB) refuses a
    pathological vocabulary LOUDLY instead of silently OOM-ing the
    executor that builds it.  Entries may not contain the separator
    byte 0x20 (the DFA treats it as a hard word boundary)."""
    # content key, not id(): a recycled object id after GC would silently
    # serve the WRONG trie for a new vocabulary.  Hashing the items is a
    # one-time ~ms cost per process.
    key = (len(vocab), hash(frozenset(vocab.items())))
    hit = _TRIE_CACHE.get(key)
    if hit is not None:
        return hit
    trans: list[list[int]] = [[-1] * 256]
    accept: list[int] = [-1]
    for tok, tid in vocab.items():
        bs = tok.encode("utf-8")
        if b" " in bs:
            raise ValueError(f"vocab entry {tok!r} contains the separator "
                             "byte 0x20 — split-on-space semantics forbid it")
        node = 0
        for b in bs:
            nxt = trans[node][b]
            if nxt < 0:
                nxt = len(trans)
                if nxt >= max_nodes:
                    raise ValueError(
                        f"vocabulary trie exceeds max_nodes={max_nodes} "
                        f"(~{max_nodes // 1024} MiB of transition rows) — "
                        "this vocabulary shares almost no prefixes; "
                        "raise max_nodes deliberately or compress the "
                        "alphabet before OOM-ing executors")
                trans[node][b] = nxt
                trans.append([-1] * 256)
                accept.append(-1)
            node = nxt
        accept[node] = int(tid)
    out = (np.array(trans, dtype=np.int32).ravel(),
           np.array(accept, dtype=np.int32))
    _TRIE_CACHE.clear()          # one live vocab per process is the norm
    _TRIE_CACHE[key] = out
    return out


def _string_slots(col: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow string column → (full data buffer uint8, absolute slot
    starts, slot ends), nulls clamped to empty — the zero-copy feed for
    the C DFA (the buffer is NOT re-sliced per row)."""
    if pa.types.is_large_string(col.type) or pa.types.is_large_binary(
            col.type):
        odt = np.int64
    else:
        odt = np.int32
    bufs = col.buffers()
    off = np.frombuffer(bufs[1], dtype=odt)[
        col.offset:col.offset + len(col) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.zeros(0, np.uint8))
    starts, ends = off[:-1].copy(), off[1:].copy()
    if col.null_count:
        nulls = np.asarray(col.is_null())
        ends[nulls] = starts[nulls]
    return data, starts, ends


def wordpiece_tokenize(df: DataFrame, col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id_col, tokens array<int>, n_tok int) for every document; empty
    or NULL text yields an empty array (documents are never dropped)."""
    # ship the (small) vocab dict in the closure, NOT the trie arrays:
    # a learned 50k-entry vocab's DFA is hundreds of MB, and closure
    # capture would serialize it into every task command.  Each worker
    # PROCESS builds the trie once on first batch and the content-keyed
    # module cache shares it across tasks under worker reuse (guide
    # §4.5); the driver pays nothing.
    vocab = dict(VOCAB)
    unk = UNK_ID

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .. import engine, native
        trans, accept = _trie_arrays(vocab)
        for batch in batches:
            ids_col, text_col = batch.column(0), batch.column(1)
            if not (pa.types.is_string(text_col.type)
                    or pa.types.is_large_string(text_col.type)):
                raise TypeError(
                    f"wordpiece_tokenize: column {col!r} is "
                    f"{text_col.type}, expected string or large_string")
            data, starts, ends = _string_slots(text_col)
            flat, lens = native.tokenize_greedy(data, starts, ends,
                                                trans, accept, unk)
            tokens_arr = pa.ListArray.from_arrays(
                engine._offsets32(lens), pa.array(flat, type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [ids_col, tokens_arr,
                 pa.array(lens.astype(np.int32), type=pa.int32())],
                names=[id_col, "tokens", "n_tok"])

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, tokens array<int>, n_tok int"
    return df.select(id_col, col).mapInArrow(fn, schema=out_schema)


def tokenize_oracle_ctes(table: str = "documents") -> str:
    """The recursive-CTE bodies replaying :func:`wordpiece_tokenize` in
    DuckDB over ``table`` (which needs ``doc_id`` and ``text``): one
    state per (doc, word, cursor), each step taking the longest
    vocabulary entry matching at the cursor (LATERAL top-1 by length)
    or UNK+advance-1.  Returned WITHOUT the ``WITH RECURSIVE`` keyword
    so composite oracles can prepend their own CTEs; the final relation
    is ``step(doc_id, wi, w, pos, tid, ord)`` with one token per row
    where ``tid IS NOT NULL``, ordered within a doc by (wi, ord)."""
    vals = ", ".join("('%s', %d)" % (t.replace("'", "''"), i)
                     for t, i in VOCAB.items())
    return f"""vocab(tok, id) AS (VALUES {vals}),
words AS (
  SELECT doc_id, w, wi FROM (
    SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS wi
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM {table}))
  WHERE length(w) > 0),
step(doc_id, wi, w, pos, tid, ord) AS (
  SELECT doc_id, wi, w, 0, CAST(NULL AS INT), 0 FROM words
  UNION ALL
  SELECT doc_id, wi, w, next_pos, next_tid, ord + 1 FROM (
    SELECT s.doc_id, s.wi, s.w, s.ord,
           coalesce(m.mlen, 1) + s.pos AS next_pos,
           coalesce(m.mid, {UNK_ID}) AS next_tid
    FROM step s LEFT JOIN LATERAL (
      SELECT length(v.tok) AS mlen, CAST(v.id AS INT) AS mid
      FROM vocab v
      WHERE v.tok = substr(s.w, s.pos + 1, length(v.tok))
      ORDER BY length(v.tok) DESC LIMIT 1) m ON true
    WHERE s.pos < length(s.w)))"""


def tokenize_oracle_sql(table: str = "documents") -> str:
    """DuckDB replay of :func:`wordpiece_tokenize` over ``table``:
    per-doc token count plus order- and content-sensitive checksums
    (sum and position-weighted sum of ids, positions ordered by
    (word index, step))."""
    return f"""
WITH RECURSIVE {tokenize_oracle_ctes(table)},
toks AS (
  SELECT doc_id, CAST(tid AS BIGINT) AS tid,
         row_number() OVER (PARTITION BY doc_id ORDER BY wi, ord) - 1
             AS gp
  FROM step WHERE tid IS NOT NULL)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_tokens,
       CAST(sum(tid) AS BIGINT) AS tok_sum,
       CAST(sum(tid * gp) AS BIGINT) AS tok_wsum
FROM toks GROUP BY doc_id
"""
