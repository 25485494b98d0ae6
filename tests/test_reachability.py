"""Every module in ``velesdb_spark/`` is reached from a non-test entry point.

A static import walk (stdlib ``ast``, no Spark) starts from the programs
that run the engine:

- ``__spark_entry__.py`` (the ``queries()`` contract) and ``bench.py``;
- ``tools/*.py``, ``perfbench/*.py`` (not its tests) and ``examples/*.py``;
- every ``velesdb_spark`` module with a ``__main__`` block.

It follows module-level and function-local imports, absolute and relative,
and ``velesdb_spark.*`` module names held in string constants (the
perfbench tracer imports the modules it wraps by name). Importing
``a.b.c`` runs ``a/__init__.py`` and ``a/b/__init__.py`` too, so those
count as reached. A module that no entry point reaches has no caller
outside the tests: gate it with a ``queries()`` entry or delete it.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "velesdb_spark"
_MODULE_NAME = re.compile(r"velesdb_spark(\.\w+)*")


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _has_main_block(tree: ast.Module) -> bool:
    return any(isinstance(node, ast.If)
               and isinstance(node.test, ast.Compare)
               and isinstance(node.test.left, ast.Name)
               and node.test.left.id == "__name__"
               and any(isinstance(c, ast.Constant) and c.value == "__main__"
                       for c in node.test.comparators)
               for node in tree.body)


def _entry_points() -> list[Path]:
    paths = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for folder in ("tools", "perfbench", "examples"):
        paths += sorted((ROOT / folder).glob("*.py"))
    paths += [p for p in sorted(PKG.rglob("*.py")) if _has_main_block(_parse(p))]
    return paths


def _resolve(dotted: str, bases: list[Path]) -> list[Path]:
    """Files that ``import dotted`` runs: each package ``__init__.py`` on
    the way, then the module itself, from the first base that has it."""
    for base in bases:
        files, here = [], base
        for part in dotted.split("."):
            if (here / part / "__init__.py").is_file():
                here = here / part
                files.append(here / "__init__.py")
            else:
                if (here / f"{part}.py").is_file():
                    files.append(here / f"{part}.py")
                break
        if files:
            return files
    return []


def _imports(path: Path) -> list[Path]:
    # A script runs with its own folder first on sys.path; a package module
    # resolves absolute imports from the repo root only.
    bases = [ROOT] if PKG in path.parents else [path.parent, ROOT]
    found = []
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found += _resolve(alias.name, bases)
        elif isinstance(node, ast.ImportFrom):
            here = [path.parents[node.level - 1]] if node.level else bases
            prefix = f"{node.module}." if node.module else ""
            for alias in node.names:
                # ``pkg.name`` resolves to the submodule when ``name`` is
                # one, else to ``pkg`` itself.
                found += _resolve(prefix + alias.name, here)
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and _MODULE_NAME.fullmatch(node.value)):
            found += _resolve(node.value, [ROOT])
    return found


def _reached() -> set[Path]:
    seen: set[Path] = set()
    todo = _entry_points()
    while todo:
        path = todo.pop()
        if path not in seen:
            seen.add(path)
            todo += _imports(path)
    return seen


def test_every_engine_module_is_reached_from_an_entry_point():
    reached = _reached()
    unreached = sorted(str(p.relative_to(ROOT)) for p in PKG.rglob("*.py")
                       if p not in reached)
    assert not unreached, (
        "modules no non-test entry point imports (gate them with a "
        f"queries() entry or delete them): {unreached}")
