"""Every module in ``velesdb_spark/`` is reached from a non-test entry point.

A static walk (stdlib ``ast``, no Spark) starts from the programs that
run the engine:

- ``__spark_entry__.py`` (the ``queries()`` contract) and ``bench.py``;
- ``tools/*.py``, ``perfbench/*.py`` (not its tests) and ``examples/*.py``;
- every ``velesdb_spark`` module with a ``__main__`` block.

It follows imports, absolute and relative, and ``velesdb_spark.*``
module names held in string constants (the perfbench tracer imports the
modules it wraps by name). Importing ``a.b.c`` runs ``a/__init__.py``
and ``a/b/__init__.py`` too, so those count as reached.

The walk is function-aware. Module-level code of a reached module runs
on import, and every function of an entry point counts as run. Any other
function counts only once its name is used by code that already counts:
a name, an attribute, an imported name or a string constant (perfbench
wraps functions by name). Dunder methods run implicitly, so they count
with their module. A function-local import counts only inside a function
that counts, so a module whose only importer is a method nothing calls
is not reached.

A module that no entry point reaches has no caller outside the tests:
gate it with a ``queries()`` entry or delete it.
"""

import ast
import re
from functools import lru_cache
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


class _Unit:
    """One scope's code: the module level, or one function body (nested
    functions are units of their own)."""

    def __init__(self, name: str | None):
        self.name = name
        self.imports: list[Path] = []
        self.names: set[str] = set()


def _collect(node, unit: _Unit, units: list[_Unit], path: Path, bases):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        body = _Unit(node.name)
        units.append(body)
        for stmt in node.body:
            _collect(stmt, body, units, path, bases)
        # decorators and defaults run where the function is defined
        for part in node.decorator_list + node.args.defaults \
                + [d for d in node.args.kw_defaults if d is not None]:
            _collect(part, unit, units, path, bases)
        return
    if isinstance(node, ast.Name):
        unit.names.add(node.id)
    elif isinstance(node, ast.Attribute):
        unit.names.add(node.attr)
    elif isinstance(node, ast.Constant) and isinstance(node.value, str):
        if node.value.isidentifier():
            unit.names.add(node.value)
        elif _MODULE_NAME.fullmatch(node.value):
            unit.imports += _resolve(node.value, [ROOT])
    elif isinstance(node, ast.Import):
        for alias in node.names:
            unit.imports += _resolve(alias.name, bases)
    elif isinstance(node, ast.ImportFrom):
        here = [path.parents[node.level - 1]] if node.level else bases
        prefix = f"{node.module}." if node.module else ""
        for alias in node.names:
            # ``pkg.name`` resolves to the submodule when ``name`` is one,
            # else to ``pkg`` itself, where ``name`` is then used
            unit.imports += _resolve(prefix + alias.name, here)
            unit.names.add(alias.name)
    for child in ast.iter_child_nodes(node):
        _collect(child, unit, units, path, bases)


@lru_cache(maxsize=None)
def _units(path: Path) -> tuple[_Unit, ...]:
    """The module-level unit first, then every function's."""
    # A script runs with its own folder first on sys.path; a package module
    # resolves absolute imports from the repo root only.
    bases = [ROOT] if PKG in path.parents else [path.parent, ROOT]
    units = [_Unit(None)]
    _collect(_parse(path), units[0], units, path, bases)
    return tuple(units)


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _reached() -> set[Path]:
    entries = set(_entry_points())
    modules, names, live = set(entries), set(), set()
    changed = True
    while changed:
        changed = False
        for path in list(modules):
            for unit in _units(path):
                if id(unit) in live:
                    continue
                if (unit.name is None or path in entries
                        or unit.name in names or _is_dunder(unit.name)):
                    live.add(id(unit))
                    names |= unit.names
                    modules.update(unit.imports)
                    changed = True
    return modules


def test_every_engine_module_is_reached_from_an_entry_point():
    reached = _reached()
    unreached = sorted(str(p.relative_to(ROOT)) for p in PKG.rglob("*.py")
                       if p not in reached)
    assert not unreached, (
        "modules no non-test entry point reaches (gate them with a "
        f"queries() entry or delete them): {unreached}")
