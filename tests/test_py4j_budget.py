"""The Spark driver's plan-building cost, in py4j commands: each public
call builds its plan in a small, fixed number of JVM round trips,
whatever the number of input files.  Commands are counted by wrapping
py4j's ``ClientServerConnection.send_command``; py4j's own detach
commands (``m\\nd\\n``, sent when a Python proxy is garbage collected)
are not the program's and are skipped."""

from __future__ import annotations

import contextlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection

from simdcomp_spark import engine, iceberg

# the measured counts plus ~10%
INGEST_BUDGET = 80
READ_BUDGET = 82


@contextlib.contextmanager
def _py4j_commands():
    count = [0]
    real = ClientServerConnection.send_command

    def send(self, command):
        if not command.startswith("m\nd\n"):
            count[0] += 1
        return real(self, command)
    ClientServerConnection.send_command = send
    try:
        yield count
    finally:
        ClientServerConnection.send_command = real


@pytest.fixture(scope="module")
def tokens_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("budget_in")
    for i in range(4):
        n = 40 + 10 * i
        pq.write_table(pa.table({
            "doc_id": [f"f{i}d{j}" for j in range(n)],
            "source": ["t"] * n,
            "tokens": pa.array([[j, i, j * 3 % 100] for j in range(n)],
                               pa.list_(pa.int32()))}),
            d / f"part-{i}.parquet")
    return str(d)


def test_ingest_pass_py4j_budget(spark, tokens_dir, tmp_path):
    """export_encoded(encode_files(...)) over 4 small files, run (job
    included): the work units are planned in Python, so the count does
    not grow with the files."""
    iceberg.export_encoded(engine.encode_files(spark, tokens_dir),
                           str(tmp_path / "warm"))
    with _py4j_commands() as n:
        iceberg.export_encoded(engine.encode_files(spark, tokens_dir),
                               str(tmp_path / "t"))
    assert n[0] <= INGEST_BUDGET, n[0]


def test_read_plan_py4j_budget(spark, tokens_dir, tmp_path):
    """Building decode(read_table(t), reassemble=True): plan only."""
    table = str(tmp_path / "t")
    iceberg.export_encoded(engine.encode_files(spark, tokens_dir), table)
    engine.decode(iceberg.read_table(spark, table), reassemble=True)
    with _py4j_commands() as n:
        engine.decode(iceberg.read_table(spark, table), reassemble=True)
    assert n[0] <= READ_BUDGET, n[0]
