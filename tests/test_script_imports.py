"""Every package name the scripts and bench.py import must exist.

No test runs scripts/*.py or bench.py, so a package rename or deletion
would otherwise only surface the next time someone runs the script.
This walks their ASTs (no Spark session, nothing executed) and
resolves each ``from mr_mpi_blast_spark... import name`` and
``import mr_mpi_blast_spark...`` against the installed package.
"""

import ast
import importlib
import importlib.util
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "mr_mpi_blast_spark"
FILES = sorted(ROOT.glob("scripts/*.py")) + [ROOT / "bench.py"]


def _package_imports(path):
    """(line, module, name-or-None) for each package import in a file."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module and node.module.split(".")[0] == PKG:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    # ``from pkg import submodule`` names a module, not an attribute
    return (hasattr(mod, "__path__")
            and importlib.util.find_spec(f"{module}.{name}") is not None)


@pytest.mark.parametrize("path", FILES, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    missing = [f"{path.name}:{line}: {module}"
               + (f".{name}" if name else "")
               for line, module, name in _package_imports(path)
               if not _resolves(module, name)]
    assert not missing, "unresolved package imports:\n" + "\n".join(missing)


def test_import_walk_sees_the_scripts():
    """Guard against a vacuous pass: the scripts do import the package."""
    assert any(list(_package_imports(p)) for p in FILES)
