"""Guard against dead code, Spark-free: every top-level function and class
in ``simdcomp_spark/`` is named somewhere in program code other than its
own definition, or is listed in ``ALLOWED`` with the reason it stays.

Program code is the package itself, ``scripts/``, ``__spark_entry__.py``
and ``perfbench/`` (its tests aside); tests do not count, so a function
only tests call fails here.  A name counts where it is loaded, read as an
attribute, imported, or spelled as a string constant (``getattr``)."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "simdcomp_spark"

# name -> why it stays although no program code names it
_PORT = ("a kernels.py reference port that COVERAGE.md lists; golden "
         "vectors from the compiled reference pin it")
_RECOVERY = "a recovery step the program's own error messages name"
_FIXTURE = "a FIXTURES.md test fixture"
ALLOWED = {
    "avxmaxbits": _PORT,
    "avxpack": _PORT,
    "avxunpack": _PORT,
    "avx512maxbits": _PORT,
    "avx512pack": _PORT,
    "avx512unpack": _PORT,
    "fastset_d1": _PORT,
    "fastset_for": _PORT,
    "minmax": _PORT,
    "scan_d1": _PORT,
    "scan_search_d1": _PORT,
    "simdpackFOR_length": _PORT,
    "simdunpackFOR_length": _PORT,
    "compact_files": _RECOVERY,
    "drop_branch": _RECOVERY,
    "remove_tag": _RECOVERY,
    "tokenish_table": _FIXTURE,
    "unit_table": _FIXTURE,
    "tokenize_word": "the scalar oracle the C tokenizer is checked "
                     "against",
}


def _program_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py")) + sorted((ROOT / "scripts").rglob(
        "*.py")) + [ROOT / "__spark_entry__.py"]
    return files + sorted(p for p in (ROOT / "perfbench").rglob("*.py")
                          if not p.name.startswith("test_"))


def _names(node: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every name ``node`` refers to."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append((n.id, n.lineno))
        elif isinstance(n, ast.Attribute):
            out.append((n.attr, n.lineno))
        elif isinstance(n, ast.ImportFrom):
            out += [(a.name, n.lineno) for a in n.names]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.append((n.value, n.lineno))
    return out


def test_every_top_level_name_is_used_by_program_code():
    defs = {}           # name -> [(file, first line, last line)]
    refs = {}           # name -> [(file, line)]
    for path in _program_files():
        tree = ast.parse(path.read_text())
        for top in tree.body:
            if path.is_relative_to(PKG) and isinstance(
                    top, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
                defs.setdefault(top.name, []).append(
                    (path, top.lineno, top.end_lineno))
        for name, line in _names(tree):
            refs.setdefault(name, []).append((path, line))

    def used(name):
        spans = defs[name]
        return any(not any(p == path and lo <= line <= hi
                           for path, lo, hi in spans)
                   for p, line in refs.get(name, []))

    unused = sorted(n for n in defs if not used(n) and n not in ALLOWED)
    assert unused == [], (
        "top-level names no program code uses (delete them, or add them "
        f"to ALLOWED with the reason they stay): {unused}")
    stale = sorted(n for n in ALLOWED if n not in defs or used(n))
    assert stale == [], f"ALLOWED entries that no longer need it: {stale}"
