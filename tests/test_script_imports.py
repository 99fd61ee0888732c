"""The scripts outside the package (bench.py, attestations/, perfbench/)
import package names that no test runs: each `from purescript_ifrit_spark…
import name` must still resolve, so a rename or deletion in the package
fails here instead of in the next benchmark or attestation run. The
scripts are only parsed, never run; no Spark session starts."""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "purescript_ifrit_spark"
SCRIPTS = [
    ROOT / "bench.py",
    *sorted((ROOT / "attestations").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _package_imports(path: pathlib.Path):
    """(module, name) for every package import in the file, name None for
    a plain `import module`."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PKG:
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield alias.name, None


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_script_package_imports_resolve():
    seen, missing = 0, []
    for path in SCRIPTS:
        for module, name in _package_imports(path):
            seen += 1
            if not _resolves(module, name):
                missing.append(f"{path.relative_to(ROOT)}: {module}.{name}")
    assert seen > 50, seen
    assert not missing, missing
