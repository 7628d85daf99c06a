"""The workloads.  Each drives the public API of ``simdcomp_spark`` as one
closed-loop client.  ``ingest_zipf`` and ``read_reassemble`` are the ones
``BENCHMARK.json`` lists; ``probe_sorted`` runs the same way by hand.

A workload object goes through:

* ``prepare()`` — timed inside ``setup_s``: the program's own preparation
  of the workload input (encoding the read and probe tables; a small
  encode that spawns and warms the Python workers for ingest);
* ``after_setup()`` — untimed: the benchmark's oracle preparation;
* ``run_op(i)`` — one timed operation, which consumes its whole result;
* ``check(result)`` — untimed oracle check of that result;
* ``finish()`` — untimed: the stored table (for ingest, the last one
  written) decodes back to the input documents; read checks every pass
  in ``check()`` instead.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen
import oracles


class Workload:
    name = ""
    warm_ops = 1                        # untimed operations before timing

    def __init__(self, spark_ref, entry: Path, scratch: Path, seed: int,
                 tracer):
        self.spark_ref = spark_ref      # callable returning the session
        self.entry = entry
        self.input = str(entry / "input")
        self.files = sorted(str(p) for p in (entry / "input").glob(
            "*.parquet"))
        self.table_codecs: list[str | None] = [None] * len(self.files)
        self.rows = gen.load_rows(entry)
        self.tokens = int(self.rows.lens.sum())
        self.segments = int(np.maximum(
            (self.rows.lens + gen.SPLIT_THRESHOLD - 1)
            // gen.SPLIT_THRESHOLD, 1).sum())
        self.scratch = scratch
        self.seed = seed
        self.tr = tracer
        self.table = ""                 # the stored table ops run over
        self.prepare_wall = 0.0         # wall of the encode that made it
        self.decode_wall = 0.0          # wall of the last decode_table()
        self.n_prepared = 0
        self.expected = None

    @property
    def spark(self):
        return self.spark_ref()

    def encoded(self):
        """The encoded frame the stored table is written from; codec per
        input file as in ``table_codecs`` (None: ``codecs.auto``)."""
        from simdcomp_spark import engine
        with self.tr.span("engine.encode_files"):
            return engine.encode_files(self.spark, self.input, codec="auto")

    def _publish(self, df, table: str) -> dict:
        from simdcomp_spark import iceberg
        with self.tr.span("iceberg.export_encoded"):
            return iceberg.export_encoded(df, table)

    def prepare(self) -> None:
        self.n_prepared += 1
        table = str(self.scratch / f"{self.name}-table-{self.n_prepared}")
        t0 = time.perf_counter()
        self._publish(self.encoded(), table)
        self.prepare_wall = time.perf_counter() - t0
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = table

    def after_setup(self) -> None:
        self.expected = oracles.expected_hashes(self.spark, self.input)

    def finish(self) -> tuple[int, int]:
        """(attempted, failed): the stored table decodes back to the
        generated documents."""
        return 1, int(oracles.compare_hashes(self.expected,
                                             self.decode_table()) > 0)

    def decode_table(self):
        """The stored table decoded and reassembled, as (doc_id, n_tok, h)
        arrow rows; every decode in the benchmark goes through here."""
        from simdcomp_spark import engine, iceberg
        t0 = time.perf_counter()
        with self.tr.span("iceberg.read_table"):
            df = iceberg.read_table(self.spark, self.table)
        with self.tr.span("engine.decode"):
            dec = engine.decode(df, reassemble=True)
        with self.tr.span("engine.execute"):
            out = oracles.hash_frame(dec).toArrow()
        self.decode_wall = time.perf_counter() - t0
        return out


class IngestZipf(Workload):
    """encode_files(auto) + export to a fresh Iceberg table per pass."""
    name = "ingest_zipf"
    warm_ops = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_ops = 0
        # small input for the worker warm-up: 64 rows of every file
        self.warm = self.scratch / "warm-input"
        self.warm.mkdir(parents=True, exist_ok=True)
        for f in self.files:
            pq.write_table(pq.read_table(f).slice(0, 64),
                           self.warm / Path(f).name)

    def prepare(self) -> None:
        from simdcomp_spark import engine
        self.n_prepared += 1
        table = str(self.scratch / f"warm-table-{self.n_prepared}")
        self._publish(engine.encode_files(self.spark, str(self.warm),
                                          codec="auto"), table)
        shutil.rmtree(table, ignore_errors=True)

    def run_op(self, i: int):
        self.n_ops += 1
        table = str(self.scratch / f"pass-{self.n_ops}")
        meta = self._publish(self.encoded(), table)
        return table, meta

    def check(self, result) -> bool:
        table, meta = result
        snap = next(s for s in meta["snapshots"]
                    if s["snapshot-id"] == meta["current-snapshot-id"])
        ok = int(snap["summary"]["added-records"]) == self.segments
        # keep only the newest table: its content is checked by finish()
        if self.table and self.table != table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = table
        return ok


class ReadReassemble(Workload):
    """engine.decode(reassemble=True) over a table encoded in set-up."""
    name = "read_reassemble"
    warm_ops = 4

    def run_op(self, i: int):
        return self.decode_table()

    def check(self, result) -> bool:
        return oracles.compare_hashes(self.expected, result) == 0

    def finish(self) -> tuple[int, int]:
        return 0, 0                     # check() compared every pass


class ProbeSorted(Workload):
    """Compressed-domain probes over sorted rows stored with the fixed
    codecs d1 (first half of the files) and for: the four probe kinds in
    rotation, with seeded keys."""
    name = "probe_sorted"
    warm_ops = 4
    KINDS = ("search_sorted", "range_count", "contains_token",
             "point_lookup")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        half = len(self.files) // 2
        self.table_codecs = ["d1"] * half + ["for"] * (len(self.files) - half)
        self.rng = np.random.default_rng([self.seed, 11])

    def encoded(self):
        from simdcomp_spark import engine
        parts = []
        for codec in ("d1", "for"):
            files = [f for f, c in zip(self.files, self.table_codecs)
                     if c == codec]
            with self.tr.span("engine.encode_files"):
                parts.append(engine.encode_files(self.spark, self.input,
                                                 codec=codec, files=files))
        return parts[0].unionByName(parts[1])

    def _params(self, i: int) -> tuple[str, tuple]:
        # kinds in a fixed rotation, so every run has the same mix
        kind = self.KINDS[i % len(self.KINDS)]
        flat = self.rows.flat
        v = int(flat[int(self.rng.integers(flat.size))])
        if kind == "range_count":
            return kind, (v, v + int(self.rng.integers(1_000, 200_000)))
        if kind == "point_lookup":
            return kind, (int(self.rng.integers(1000)),)
        return kind, (v,)

    def run_op(self, i: int):
        from pyspark.sql import functions as F
        from simdcomp_spark import engine, iceberg
        kind, p = self._params(i)
        with self.tr.span("iceberg.read_table"):
            table = iceberg.read_table(self.spark, self.table)
        with self.tr.span(f"engine.{kind}"):
            if kind == "search_sorted":
                df = engine.search_sorted(table, p[0])
            elif kind == "range_count":
                df = engine.range_count(table, p[0], p[1])
            elif kind == "contains_token":
                df = engine.contains_token(table, p[0], assume_sorted=True)
            else:
                df = engine.point_lookup(table.withColumn(
                    "lookup_idx",
                    F.expr(f"cast((n_tok * {p[0]}) div 1000 as int)")))
        with self.tr.span("engine.execute"):
            return kind, p, df.toArrow()

    def check(self, result) -> bool:
        kind, p, tbl = result
        lens, flat = self.rows.lens, self.rows.flat
        ids = np.asarray(tbl.column("doc_id").to_pylist(), dtype=str)
        row = np.minimum(np.searchsorted(self.rows.doc_ids, ids),
                         lens.size - 1)
        if not np.array_equal(self.rows.doc_ids[row], ids):
            return False                          # unknown doc ids
        if kind == "contains_token":
            return np.array_equal(np.sort(row),
                                  oracles.probe_contains(lens, flat, p[0]))
        if np.unique(row).size != lens.size or row.size != lens.size:
            return False                          # one answer per row
        if kind == "search_sorted":
            want = oracles.probe_lower_bound(lens, flat, p[0])
            return np.array_equal(tbl.column("idx").to_numpy(), want[row])
        if kind == "range_count":
            want = oracles.probe_range_count(lens, flat, *p)
            return np.array_equal(tbl.column("n_in_range").to_numpy(),
                                  want[row])
        idx = oracles.lookup_index(lens, p[0])[row]
        val = oracles.probe_lookup(lens, flat, p[0])[row]
        return (np.array_equal(tbl.column("idx").to_numpy(), idx)
                and np.array_equal(
                    tbl.column("val").to_numpy().view(np.uint32), val))


WORKLOADS = {w.name: w for w in (IngestZipf, ReadReassemble, ProbeSorted)}
