"""Python worker start-up: the stat-guarded zip-import cache that
importing simdcomp_spark installs in Spark Python workers, and the
master/core choice of ``engine.get_spark``."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pyarrow as pa
import pyspark
import pytest

import simdcomp_spark
from simdcomp_spark import engine, fixtures

REPO = str(Path(__file__).resolve().parent.parent)
_MODS = ("zipcache_probe_a", "zipcache_probe_b")


def _write_zip(path: Path, *mods: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for m in mods:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def zip_reads(monkeypatch, tmp_path):
    """A zip of module ``zipcache_probe_a`` on sys.path, the wrapper
    installed for this test only, and a list of the archives
    ``zipimport._read_directory`` parses."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    simdcomp_spark._install_zip_import_cache()
    archive = tmp_path / "probe.zip"
    _write_zip(archive, _MODS[0])
    monkeypatch.syspath_prepend(str(archive))
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for m in _MODS:
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(str(archive), None)
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_zip_cache_rereads_only_changed_archives(zip_reads):
    archive, reads = zip_reads
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper.__module__ == "simdcomp_spark"
    simdcomp_spark._install_zip_import_cache()
    assert zipimport.zipimporter.invalidate_caches is wrapper

    assert importlib.import_module(_MODS[0]).NAME == _MODS[0]
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # first call through the wrapper reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0

    _write_zip(archive, *_MODS)  # same path, new content
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module(_MODS[1]).NAME == _MODS[1]
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1

    archive.unlink()  # stat fails: the stdlib method runs, as without it
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


@pytest.fixture(scope="module")
def unit_df(spark):
    return fixtures.unit_table(spark).cache()


def test_zip_cache_only_in_spark_workers(spark, unit_df):
    """A worker that ran a simdcomp UDF and then imports simdcomp_spark
    has the wrapper, and its next ``importlib.invalidate_caches()`` parses
    no zip; the driver keeps the stdlib method."""
    assert engine.encode(unit_df, codec="bitpack").count() > 0

    def probe(batches):
        import importlib
        import zipimport

        import simdcomp_spark  # noqa: F401
        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({
            "method": [zipimport.zipimporter.invalidate_caches.__module__],
            "zips": [zips], "reads": [len(reads)]})

    rows = unit_df.sparkSession.range(4, numPartitions=4).mapInArrow(
        probe, "method string, zips long, reads long").collect()
    assert len(rows) == 4
    for r in rows:
        assert r["zips"] > 0  # the worker's PYTHONPATH holds zips
        assert r["reads"] == 0
        assert r["method"] == "simdcomp_spark"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "__wrapped__")


_SESSION_SCRIPT = """\
from simdcomp_spark import engine
s = engine.get_spark()
print("SESSION", s.sparkContext.master,
      s.conf.get("spark.sql.shuffle.partitions"),
      s.sparkContext.getConf().get("spark.driver.memory", "unset"))
s.stop()
"""


def _session_of(tmp_path, *launcher) -> list[str]:
    """Run ``get_spark()`` in a fresh interpreter started by ``launcher``
    (no ``$SPARK_GRAFT_CPUS``); return its master, shuffle partitions and
    driver memory."""
    script = tmp_path / "session.py"
    script.write_text(_SESSION_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    r = subprocess.run([*launcher, str(script)], capture_output=True,
                       text=True, cwd=REPO, env=env, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("SESSION ")]
    return line[0].split()[1:]


def test_get_spark_keeps_spark_submit_master(tmp_path):
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    submit = os.path.join(home, "bin", "spark-submit")
    master, partitions, memory = _session_of(
        tmp_path, submit, "--master", "local[2]", "--driver-memory", "1g")
    assert (master, memory) == ("local[2]", "1g")
    assert partitions == str(len(os.sched_getaffinity(0)))


def test_get_spark_defaults_to_usable_cpus(tmp_path):
    cpus = len(os.sched_getaffinity(0))
    master, partitions, _ = _session_of(tmp_path, sys.executable)
    assert (master, partitions) == (f"local[{cpus}]", str(cpus))
