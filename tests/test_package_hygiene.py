"""Static hygiene of the package, one AST pass, no Spark: a module-level name
is bound once, and a private module-level name is read somewhere. A second
binding silently shadows the first (the reader of the first line is
misled about what runs), and an unread private name is dead code."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pdfextractor_spark"


def _sources() -> list[pathlib.Path]:
    """Every file that may read a package name: the package, the tests,
    the benchmark, the entry point and the ``scripts_*.py`` tools."""
    files = sorted(PACKAGE.rglob("*.py")) + sorted((ROOT / "tests").rglob("*.py"))
    files += sorted((ROOT / "perfbench").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    files += sorted(ROOT.glob("scripts_*.py"))
    return [f for f in files if f.is_file()]


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _bound_names(stmt: ast.stmt) -> list[str]:
    """Names a module-body statement binds (not counting nested blocks)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in stmt.names if a.name != "*"]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) and stmt.value else [])
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)]


def _reads(tree: ast.Module) -> set[str]:
    """Every identifier a file reads: loaded names, attribute names,
    imported names, and identifier-like strings (``getattr``/monkeypatch)."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _module_bindings() -> dict[str, list[str]]:
    """package module (relative path) -> its top-level bound names, in order."""
    return {str(p.relative_to(ROOT)): [name for stmt in _parse(p).body
                                       for name in _bound_names(stmt)]
            for p in sorted(PACKAGE.rglob("*.py"))}


def test_no_module_binds_a_top_level_name_twice():
    twice = []
    for mod, names in _module_bindings().items():
        seen = set()
        for name in names:
            if name in seen and name != "__all__":
                twice.append(f"{mod}: {name}")
            seen.add(name)
    assert not twice, twice


def test_every_private_top_level_name_is_read():
    reads: set[str] = set()
    for f in _sources():
        reads |= _reads(_parse(f))
    unread = [f"{mod}: {name}"
              for mod, names in _module_bindings().items()
              for name in dict.fromkeys(names)
              if name.startswith("_") and not name.startswith("__") and name not in reads]
    assert not unread, unread
