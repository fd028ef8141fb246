"""Every import of the package resolves to a module and name that exist.

A normal ``import`` never runs the function-level lazy imports inside
``dedup``, ``embed``, ``invindex`` or ``ann`` (``from .x import y`` in a
function body), so a dangling name there fails only when some caller
reaches it. This check parses every source file instead of importing it
(no Spark needed) and resolves, statically:

- each ``import``/``from ... import`` of the package or of
  ``__spark_entry__`` (absolute or relative, module level or lazy): the
  module must exist and every imported name must be bound at the top
  level of that module or be one of its submodules;
- each ``alias.name`` read through a module alias bound by one of those
  imports (``from ...operators import ann as _ann`` then ``_ann.x``).
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "adk_noui_vectordb_spark"
INTERNAL = {PKG, "__spark_entry__"}

SOURCES = sorted(
    [
        *(REPO / PKG).rglob("*.py"),
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *(REPO / "tools").glob("*.py"),
        *(REPO / "tests").glob("*.py"),
    ]
)


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds at top level, descending into if/try/
    with/for blocks but not into functions or classes."""
    out: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out |= {a.asname or a.name.split(".")[0] for a in node.names}
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign, ast.For)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                out |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
        for field in ("body", "orelse", "finalbody", "handlers"):
            out |= _bound_names(getattr(node, field, []))
    return out


@cache
def _exports(dotted: str) -> frozenset[str]:
    path = _module_file(dotted)
    return frozenset(_bound_names(ast.parse(path.read_text()).body))


def _has(dotted: str, name: str) -> bool:
    return (
        name.startswith("__")
        or name in _exports(dotted)
        or _module_file(f"{dotted}.{name}") is not None
    )


def _resolve_from(path: Path, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    pkg = list(path.relative_to(REPO).parent.parts)  # the importer's package
    base = pkg[: len(pkg) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _check_file(path: Path) -> tuple[list[str], int]:
    tree = ast.parse(path.read_text())
    rel = path.relative_to(REPO)
    errors: list[str] = []
    checked = 0
    aliases: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] not in INTERNAL:
                    continue
                checked += 1
                if _module_file(a.name) is None:
                    errors.append(f"{rel}:{node.lineno}: no module {a.name}")
                elif a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
        elif isinstance(node, ast.ImportFrom):
            mod = _resolve_from(path, node)
            if mod.split(".")[0] not in INTERNAL:
                continue
            checked += 1
            if _module_file(mod) is None:
                errors.append(f"{rel}:{node.lineno}: no module {mod}")
                continue
            for a in node.names:
                if a.name == "*":
                    continue
                if not _has(mod, a.name):
                    errors.append(f"{rel}:{node.lineno}: {mod} has no {a.name}")
                elif _module_file(f"{mod}.{a.name}") is not None:
                    aliases.setdefault(a.asname or a.name, set()).add(
                        f"{mod}.{a.name}"
                    )
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            mods = aliases[node.value.id]
            checked += 1
            if not any(_has(m, node.attr) for m in mods):
                errors.append(
                    f"{rel}:{node.lineno}: {'/'.join(sorted(mods))} "
                    f"has no {node.attr}"
                )
    return errors, checked


def test_package_imports_resolve():
    errors: list[str] = []
    checked = 0
    for path in SOURCES:
        errs, n = _check_file(path)
        errors += errs
        checked += n
    assert not errors, "\n".join(errors)
    # guard against a vacuous pass (a broken glob checks nothing)
    assert checked > 500, checked


def _assigned(path: Path, name: str) -> ast.expr:
    """The value of the top-level ``name = ...`` assignment in ``path``."""
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            return node.value
    raise AssertionError(f"{path.relative_to(REPO)}: no top-level {name}")


def _string_keys(node: ast.expr) -> list[str]:
    """String keys of a dict literal, or string items of a list or set
    literal."""
    items = node.keys if isinstance(node, ast.Dict) else node.elts
    return [i.value for i in items if isinstance(i, ast.Constant)]


def test_catalogue_key_lists_name_registered_keys():
    """Every key the timing tools iterate is a key ``queries()``
    registers, so deleting an operator cannot leave a stale name behind
    that fails only when the tool runs."""
    def registered(fn: str) -> set[str]:
        body = next(
            node
            for node in ast.parse((REPO / "__spark_entry__.py").read_text()).body
            if isinstance(node, ast.FunctionDef) and node.name == fn
        )
        returned = next(n.value for n in ast.walk(body) if isinstance(n, ast.Return))
        return set(_string_keys(returned))

    known = registered("queries")
    assert known and known == registered("oracle_sql"), sorted(
        known ^ registered("oracle_sql")
    )
    for path, name in (
        (REPO / "bench.py", "BENCH_KEYS"),
        (REPO / "tools" / "scaling_exponents.py", "KEYS"),
        (REPO / "tools" / "third_decade.py", "DEFAULT_KEYS"),
    ):
        keys = _string_keys(_assigned(path, name))
        assert keys, f"{path.name}: {name} lists no keys"
        stale = sorted(set(keys) - known)
        assert not stale, f"{path.name}: {name} names unregistered keys {stale}"


def test_slow_tests_name_existing_tests():
    """Every name in ``conftest.SLOW_TESTS`` is a ``test_*`` function
    under ``tests/``. The skip hook matches by bare name, so a slow test
    that is renamed would otherwise start running in the default suite
    while its stale old name lingers in the set."""
    slow = _string_keys(_assigned(REPO / "tests" / "conftest.py", "SLOW_TESTS"))
    assert slow, "conftest.py: SLOW_TESTS lists no tests"
    defined = {
        node.name
        for path in (REPO / "tests").rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }
    stale = sorted(set(slow) - defined)
    assert not stale, f"SLOW_TESTS names no test function: {stale}"


def test_every_catalogue_key_has_an_oracle_twin():
    """``queries()`` and ``oracle_sql()`` hold the same keys. The parity
    test runs only their intersection, so a key left on one side by a
    deletion would otherwise go unchecked. Building both dicts starts no
    Spark session."""
    import __spark_entry__ as entrymod

    spark_keys, oracle_keys = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert spark_keys == oracle_keys, (
        f"no oracle twin: {sorted(spark_keys - oracle_keys)}; "
        f"no Spark query: {sorted(oracle_keys - spark_keys)}"
    )


def _dotted(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def test_no_package_module_exists_only_for_tests():
    """Every module under the package is imported by package code,
    ``__spark_entry__.py``, ``bench.py``, ``tools/`` or ``perfbench/`` —
    a module only tests import is dead code. Importing a submodule
    imports its package too."""
    importers = [
        p
        for p in (*SOURCES, *(REPO / "perfbench").rglob("*.py"))
        if "tests" not in p.relative_to(REPO).parts
    ]
    imported: set[str] = set()
    for path in importers:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = _resolve_from(path, node)
                mods = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            for mod in mods:
                found = _module_file(mod)
                if found is None or _dotted(found) == _dotted(path):
                    continue
                parts = mod.split(".")
                imported |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    modules = {_dotted(p) for p in (REPO / PKG).rglob("*.py")}
    assert len(modules) > 20, len(modules)
    orphans = sorted(modules - imported)
    assert not orphans, f"modules no package code or tool imports: {orphans}"
