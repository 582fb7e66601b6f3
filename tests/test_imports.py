"""Static import checks (``ast`` only; no Spark session is started).

- Every module of the package is imported by something in the checkout,
  so a module nothing uses shows up as a failure instead of lingering.
- Every repo-local import in ``scripts/*.py`` (including imports inside
  functions) resolves to a file in the checkout and, for ``from … import
  name``, to a name that module defines — a script left importing a
  deleted module fails here rather than at its next run.
"""

from __future__ import annotations

import ast
import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "spotify_app_etl_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names ``path`` imports; ``from a import b`` yields ``a`` and ``a.b``."""
    package = _module_name(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0] if node.level > 1 else package
                module = f"{base}.{node.module}" if node.module else base
            else:
                module = node.module
            names.add(module)
            names.update(f"{module}.{alias.name}" for alias in node.names)
    return names


def _plan_modules() -> set[str]:
    """The ``_PLAN_MODULES`` strings, which ``load_all`` imports by name."""
    tree = ast.parse((REPO / PACKAGE / "registry.py").read_text())
    for node in tree.body:
        targets = [node.target] if isinstance(node, ast.AnnAssign) else getattr(node, "targets", [])
        if any(isinstance(t, ast.Name) and t.id == "_PLAN_MODULES" for t in targets):
            return set(ast.literal_eval(node.value))
    raise AssertionError("registry._PLAN_MODULES not found")


def _sources() -> list[Path]:
    files = [REPO / "__spark_entry__.py"]
    for top in (PACKAGE, "tests", "scripts", "perfbench"):
        files += sorted((REPO / top).rglob("*.py"))
    return files


def test_every_package_module_is_imported():
    modules = {
        _module_name(p): p
        for p in (REPO / PACKAGE).rglob("*.py")
        if p.name != "__init__.py"
    }
    imports: dict[Path, set[str]] = {p: _imported_names(p) for p in _sources()}
    plan_modules = _plan_modules()
    unused = sorted(
        name
        for name, path in modules.items()
        if name not in plan_modules
        and not any(name in names for src, names in imports.items() if src != path)
    )
    assert not unused, f"modules nothing imports: {unused}"


def _repo_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for candidate in (base.with_suffix(".py"), base / "__init__.py"):
        if candidate.is_file():
            return candidate
    return None


def _top_level_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = [node.target] if isinstance(node, ast.AnnAssign) else node.targets
            names.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _resolves(module: str) -> bool:
    top = module.split(".")[0]
    if _repo_file(top) is not None:
        return _repo_file(module) is not None
    return top in sys.stdlib_module_names or importlib.util.find_spec(top) is not None


def test_script_imports_resolve_in_the_checkout():
    problems: list[str] = []
    for script in sorted((REPO / "scripts").glob("*.py")):
        for node in ast.walk(ast.parse(script.read_text(), str(script))):
            if isinstance(node, ast.Import):
                modules = [(alias.name, ()) for alias in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                modules = [(node.module, tuple(a.name for a in node.names))]
            else:
                continue
            for module, names in modules:
                where = f"{script.name}:{node.lineno} {module}"
                if not _resolves(module):
                    problems.append(f"{where}: no such module")
                    continue
                path = _repo_file(module)
                if path is None or not names:
                    continue
                defined = _top_level_names(path)
                missing = [
                    n for n in names
                    if n != "*" and n not in defined and _repo_file(f"{module}.{n}") is None
                ]
                if missing:
                    problems.append(f"{where}: does not define {missing}")
    assert not problems, problems
