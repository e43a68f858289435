"""The package's environment-variable surface is exactly the known set.

An environment variable is a configuration knob that never shows up in a
signature or a CLI flag, so a new one is easy to miss in review.  This
test scans the package's source for environment reads and fails when the
set of names changes: adding or removing a knob must update ``EXPECTED``
here, in the same change."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cardano_analytics_duckdb_spark"

EXPECTED = {
    "SPARK_GRAFT_CPUS",  # local core count (session, warm_lake)
    "SPARK_DRIVER_MEMORY",  # driver heap of the package's session
    "SPARK_GRAFT_LAYOUT_DIR",  # where layouts of read-only sources live
}


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<non-literal name>"


def _env_reads(tree: ast.AST):
    """(lineno, name) for ``os.environ.get/setdefault(name)``,
    ``os.environ[name]``, ``name in os.environ`` and ``os.getenv(name)``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            arg = node.args[0] if node.args else None
            if f.attr in ("get", "setdefault") and _is_environ(f.value):
                yield node.lineno, _key(arg)
            elif (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                yield node.lineno, _key(arg)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.lineno, _key(node.slice)
        elif isinstance(node, ast.Compare) and any(
            isinstance(op, (ast.In, ast.NotIn)) for op in node.ops
        ) and any(_is_environ(c) for c in node.comparators):
            yield node.lineno, _key(node.left)


def test_env_reads_are_the_known_set():
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for lineno, name in _env_reads(tree):
            found.setdefault(name, []).append(
                f"{path.relative_to(ROOT)}:{lineno}"
            )
    assert set(found) == EXPECTED, {
        "unexpected": {k: v for k, v in found.items() if k not in EXPECTED},
        "missing": sorted(EXPECTED - set(found)),
    }
