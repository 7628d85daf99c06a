"""Self-tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import oracles
import replay
from tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setitem(gen.SIZES, "ingest_zipf", 800_000)
    monkeypatch.setitem(gen.SIZES, "read_reassemble", 1_500_000)
    monkeypatch.setitem(gen.SIZES, "probe_sorted", 40_000)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_deterministic_per_seed(small_sizes, workload):
    a, b = gen.make_rows(workload, 7), gen.make_rows(workload, 7)
    c = gen.make_rows(workload, 8)
    for f in ("doc_ids", "sources", "lens", "flat"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert not np.array_equal(a.flat[:1000], c.flat[:1000])
    assert int(a.lens.sum()) == gen.SIZES[workload] == a.flat.size


def test_generator_shapes(small_sizes):
    z = gen.make_rows("ingest_zipf", 1)
    assert z.flat.max() < gen.VOCAB
    assert (z.lens > gen.SPLIT_THRESHOLD).sum() == 4
    r = gen.make_rows("read_reassemble", 1)
    long_tok = r.lens[r.lens >= 70_000].sum()
    assert long_tok >= 0.5 * r.lens.sum()
    p = gen.make_rows("probe_sorted", 1)
    assert p.lens.max() <= gen.SPLIT_THRESHOLD
    for row in np.split(p.flat, np.cumsum(p.lens)[:-1]):
        assert np.all(np.diff(row.astype(np.int64)) > 0)


def test_generate_caches_and_matches_rows(small_sizes, tmp_path):
    e1 = gen.generate(tmp_path, "probe_sorted", 3)
    mtime = (e1 / "rows.npz").stat().st_mtime_ns
    e2 = gen.generate(tmp_path, "probe_sorted", 3)
    assert e1 == e2 and (e2 / "rows.npz").stat().st_mtime_ns == mtime
    rows = gen.load_rows(e1)
    tbl = pq.read_table(e1 / "input")
    assert tbl.column("doc_id").to_pylist() == rows.doc_ids.tolist()
    flat = np.concatenate([np.asarray(t, dtype=np.uint32) for t in
                           tbl.column("tokens").to_pylist()])
    assert np.array_equal(flat, rows.flat)
    assert len(list((e1 / "input").glob("*.parquet"))) == \
        gen.N_FILES["probe_sorted"]


@pytest.mark.parametrize("b", range(33))
def test_reference_full_block(b):
    vals = np.zeros(128, dtype=np.uint32)
    vals[5] = (1 << b) - 1
    assert oracles.reference_bytes(np.array([128]), vals) == 1 + 16 * b


def test_reference_tail_and_rows():
    # a 5-value tail at 3 bits: ceil(5/4)*3 = 6 bits -> one 16-byte vector
    assert oracles.reference_bytes(np.array([5]), np.array(
        [1, 7, 0, 2, 3], dtype=np.uint32)) == 1 + 16
    # 32-bit tail: raw words
    assert oracles.reference_bytes(np.array([5]), np.array(
        [1 << 31, 0, 0, 0, 0], dtype=np.uint32)) == 1 + 20
    # all-zero blocks: width byte only; rows are blocked independently
    lens = np.array([130, 3])
    flat = np.zeros(133, dtype=np.uint32)
    flat[129] = 1                           # row 0's 2-value tail, 1 bit
    assert oracles.reference_bytes(lens, flat) == 1 + (1 + 16) + 1


def test_probe_oracles_match_row_loop():
    rng = np.random.default_rng(0)
    lens = rng.integers(1, 300, 40)
    rows = [np.sort(rng.choice(5000, n, replace=False)).astype(np.uint32)
            for n in lens]
    flat = np.concatenate(rows)
    for key in (0, 17, 2500, 4999, 6000):
        want = [int(np.searchsorted(r, key)) for r in rows]
        assert oracles.probe_lower_bound(lens, flat, key).tolist() == want
        assert oracles.probe_contains(lens, flat, key).tolist() == [
            i for i, r in enumerate(rows) if key in r]
    assert oracles.probe_range_count(lens, flat, 100, 900).tolist() == [
        int(((r >= 100) & (r < 900)).sum()) for r in rows]
    assert oracles.probe_lookup(lens, flat, 999).tolist() == [
        int(r[n * 999 // 1000]) for r, n in zip(rows, lens)]


def test_split_and_sort_helpers():
    lens = np.array([10, (1 << 16) * 2 + 5, 1 << 16])
    assert replay._split(lens).tolist() == [10, 1 << 16, 1 << 16, 5,
                                            1 << 16]
    flat = np.array([3, 1, 2, 9, 0], dtype=np.uint32)
    assert replay._sorted_rows(flat, np.array([3, 2])).tolist() == [
        1, 2, 3, 0, 9]


def test_tracer_self_times():
    tr = Tracer(True)
    with tr.span("bench.op"):
        with tr.span("engine.decode"):
            pass
        with tr.span("iceberg.read_table"):
            pass
    total = tr.spans[0]["end"] - tr.spans[0]["start"]
    st = tr.self_times()
    assert set(st) == {"bench", "engine", "iceberg"}
    assert abs(sum(st.values()) - total) < 1e-9
    off = Tracer(False)
    with off.span("bench.op"):
        pass
    assert off.spans == []


def test_benchmark_json_contract():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    assert doc["paths"] == ["perfbench"]
    assert 1 <= doc["run_seconds"] <= 60
    names = []
    for w in doc["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
        names.append(w["name"])
    assert 2 <= len(names) and set(names) <= set(gen.WORKLOADS)
    e2e = {m["name"]: m for m in doc["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in doc["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in doc["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    metrics = doc["end_to_end"] + doc["per_layer"]
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
