"""Every ``lasdb_spark`` import in the package, the query entry module
and the test fixtures resolves to an existing module and attribute.

Function-local (lazy) imports only fail when their function runs, so a
deleted module can leave them dangling behind a green import of the
package. This walks the whole AST of each file, not just its top level.
"""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "lasdb_spark"


def _files():
    yield from sorted((ROOT / PACKAGE).rglob("*.py"))
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "tests" / "conftest.py"


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path):
    """(line, module, names) per import of the package; ``names`` is
    empty for a plain ``import``."""
    mod = _module_name(path)
    is_pkg = path.name == "__init__.py"
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = mod.split(".")
                base = base[: len(base) - node.level + (1 if is_pkg else 0)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            if target.split(".")[0] == PACKAGE:
                yield node.lineno, target, [a.name for a in node.names]


def _unresolved(target: str, names: list) -> list:
    if importlib.util.find_spec(target) is None:
        return [target]
    module = importlib.import_module(target)
    return [
        f"{target}.{n}"
        for n in names
        if not hasattr(module, n)
        and importlib.util.find_spec(f"{target}.{n}") is None
    ]


def test_package_imports_resolve():
    missing = [
        f"{path.relative_to(ROOT)}:{line}: {m}"
        for path in _files()
        for line, target, names in _imports(path)
        for m in _unresolved(target, names)
    ]
    assert not missing, missing
