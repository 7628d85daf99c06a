"""encode_files' work-unit planner (engine._plan_units), Spark-free: a
task list per core, every row group read exactly once, whatever the
file sizes and row-group counts."""

from __future__ import annotations

import numpy as np
import pytest

from simdcomp_spark import engine

MiB = 1 << 20


def _reads(plan, n_rg: dict) -> list[tuple[str, int]]:
    """The (file, row group) reads of ``plan`` over files of ``n_rg``
    row groups each."""
    return [(f, g) for task in plan for f, j, m in task
            for g in range(j, n_rg[f], m)]


@pytest.mark.parametrize("seed", range(6))
def test_every_row_group_read_once(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 120))
    files = [f"f{i}" for i in range(n)]
    sizes = [int(s) for s in rng.integers(0, 900 * MiB, n)]
    n_rg = dict(zip(files, (int(r) for r in rng.integers(0, 12, n))))
    par = int(rng.integers(1, 9))
    plan = engine._plan_units(files, sizes, par)
    assert sorted(_reads(plan, n_rg)) == sorted(
        (f, g) for f in files for g in range(n_rg[f]))
    units = [u for task in plan for u in task]
    assert len(units) == len(set(units))
    assert all(task for task in plan)


def test_empty_slices_read_nothing():
    """A 1 GiB file is 8 slices; with 3 row groups, slices 3-7 are empty
    and the file is still read once, one row group per slice."""
    plan = engine._plan_units(["big"], [1 << 30], 4)
    assert sorted(u for task in plan for u in task) == \
        [("big", j, 8) for j in range(8)]
    reads = [list(range(j, 3, m)) for task in plan for _, j, m in task]
    assert sorted(map(tuple, reads)) == [()] * 5 + [(0,), (1,), (2,)]


def test_slices_balance_largest_first():
    """Slices weigh size / m and go largest first to the least-loaded
    task: a 1 GiB file's eight 128 MiB slices sit alone in eight tasks,
    and the small files spread evenly over the other eight."""
    files = ["big"] + [f"s{i}" for i in range(40)]
    sizes = [1 << 30] + [16 * MiB] * 40
    plan = engine._plan_units(files, sizes, 4)
    assert len(plan) == 16
    assert plan[:8] == [[("big", j, 8)] for j in range(8)]
    assert [len(task) for task in plan[8:]] == [5] * 8


def test_task_caps():
    par = 4
    # small: at most _UNITS_PER_CORE files per core, none over 256 MiB →
    # whole files in min(files, par) tasks
    for n in (1, 3, par, par * engine._UNITS_PER_CORE):
        plan = engine._plan_units([f"f{i}" for i in range(n)],
                                  [MiB] * n, par)
        assert len(plan) == min(n, par)
        assert all((j, m) == (0, 1) for task in plan for _, j, m in task)
    # one file more, or one file over 256 MiB → slices in at most
    # par * _UNITS_PER_CORE tasks
    n = par * engine._UNITS_PER_CORE + 1
    plan = engine._plan_units([f"f{i}" for i in range(n)], [MiB] * n, par)
    assert len(plan) == par * engine._UNITS_PER_CORE
    plan = engine._plan_units(["a", "b"], [MiB, 257 * MiB], par)
    assert sorted(u for task in plan for u in task) == \
        [("a", 0, 1), ("b", 0, 3), ("b", 1, 3), ("b", 2, 3)]
    assert len(plan) == 4
    assert engine._plan_units([], [], par) == []
    plan = engine._plan_units(["a"], [1 << 40], par)
    assert len(plan) == par * engine._UNITS_PER_CORE
