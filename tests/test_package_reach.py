"""Every package module must be reachable from a real entry point, so
code that only its own tests import cannot creep back in.

The walk reads files only: it follows ``import`` and ``from ... import``
statements (function-local ones included) with ``ast``, starting from
the contract registry, the pipeline, the session factory, ``bench.py``,
``perfbench/`` and ``scripts/``. Importing a submodule also runs its
parent packages, so those count as reached too."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "seaexplorertools_spark"

ROOT_MODULES = [f"{PKG}.contract", f"{PKG}.pipeline", f"{PKG}.session"]
ROOT_FILES = ["bench.py", "perfbench/*.py", "scripts/*.py"]

# not reached by any entry point, kept on purpose: the reference's own
# capabilities (NetCDF load, verify_depth_bias, debug plots, data model)
# and the plan helpers the plan-shape tests use
ALLOWED_UNREACHED = {
    f"{PKG}.sources.netcdf",
    f"{PKG}.sources.netcdf3",
    f"{PKG}.sources.netcdf_ds",
    f"{PKG}.pipeline.diagnostics",
    f"{PKG}.operators.plotsink",
    f"{PKG}.model",
    f"{PKG}.plans",
    f"{PKG}.plans.inspect",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str | None, is_pkg: bool) -> set[str]:
    """Dotted names a file may import: each ``import a.b`` and, for
    ``from x import y``, both ``x`` and ``x.y`` (y may be a submodule)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".") if is_pkg else module.split(".")[:-1]
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo: list[tuple[Path, str | None]] = [(mods[m], m) for m in ROOT_MODULES]
    for pattern in ROOT_FILES:
        todo += [(p, None) for p in sorted(REPO.glob(pattern))]
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module, path.name == "__init__.py"):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods and prefix not in seen:
                    seen.add(prefix)
                    todo.append((mods[prefix], prefix))
    return seen | set(ROOT_MODULES)


def test_every_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    assert ALLOWED_UNREACHED <= set(mods), sorted(ALLOWED_UNREACHED - set(mods))
    unreached = set(mods) - _reached(mods) - ALLOWED_UNREACHED
    assert not unreached, "modules no entry point imports:\n" + "\n".join(sorted(unreached))
