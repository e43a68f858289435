"""The package's hidden surface is exactly the known set.

An environment variable is a configuration knob that never shows up in a
signature or a CLI flag, so a new one is easy to miss in review.  This
test scans the package's source for environment reads and fails when the
set of names changes: adding or removing a knob must update ``EXPECTED``
here, in the same change.

A module that no product entry point imports is dead weight that still
costs review and test time, so the same AST scan also walks the import
graph: every module must be reached from a product root (the CLI, the
driver contract, the query registry, the ingest/maintenance package or
the session builder), or be a named exception here."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cardano_analytics_duckdb_spark"

EXPECTED = {
    "SPARK_GRAFT_CPUS",  # local core count (session builder)
    "SPARK_DRIVER_MEMORY",  # driver heap of the package's session
    "SPARK_GRAFT_LAYOUT_DIR",  # where layouts of file-table sources live
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


# Where the product enters the package.  ``operators`` is the query
# registry, ``streaming`` the ingest/maintenance package (append, compact,
# rollback), ``plans`` the session builder.
PRODUCT_ROOTS = (
    "cli",
    "__main__",
    "operators",
    "streaming",
    "plans",
)
ENTRY_SCRIPT = ROOT / "__spark_entry__.py"
# Modules allowed to stay unreached from every product root, each with
# its reason.  None today.
UNREACHED_ALLOWED: set[str] = set()


def _module_name(path: Path) -> str:
    rel = path.relative_to(PACKAGE).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(tree: ast.AST, module: str, is_pkg: bool, known: set[str]):
    """Package-relative names of the modules ``tree`` imports, at any
    depth (the package imports lazily inside functions)."""
    here = module.split(".") if module else []
    if not is_pkg:
        here = here[:-1]
    top = PACKAGE.name
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == top or a.name.startswith(top + "."):
                    yield a.name[len(top) + 1:]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - (node.level - 1)]
                if node.module:
                    base = base + node.module.split(".")
            elif node.module and (
                node.module == top or node.module.startswith(top + ".")
            ):
                base = node.module.split(".")[1:]
            else:
                continue
            yield ".".join(base)
            for a in node.names:
                sub = ".".join(base + [a.name])
                if sub in known:
                    yield sub


def _package_trees() -> tuple[dict[str, ast.AST], set[str]]:
    """Parsed source of every package module, and the package names."""
    trees = {}
    pkgs = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        name = _module_name(path)
        trees[name] = ast.parse(path.read_text(), filename=str(path))
        if path.name == "__init__.py":
            pkgs.add(name)
    return trees, pkgs


def test_every_module_is_reached_from_a_product_root():
    trees, pkgs = _package_trees()
    known = set(trees)

    def parents(name: str):
        parts = name.split(".") if name else []
        return [".".join(parts[:i]) for i in range(len(parts))]

    todo = list(PRODUCT_ROOTS) + list(
        _imported(ast.parse(ENTRY_SCRIPT.read_text()), "", True, known)
    )
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen or name not in known:
            continue
        seen.add(name)
        todo.extend(parents(name))
        todo.extend(_imported(trees[name], name, name in pkgs, known))
    assert set(PRODUCT_ROOTS) <= seen
    unreached = known - seen - UNREACHED_ALLOWED
    assert not unreached, (
        f"modules no product root imports: {sorted(unreached)} — wire "
        "each into a product path or delete it"
    )
    assert UNREACHED_ALLOWED.isdisjoint(seen), (
        "a named exception is now reached; drop it from UNREACHED_ALLOWED"
    )


# Bucketed layouts serve file tables only: on the Cardano lake they lost
# on every read path (SCALE_PROBE r13_cardano_layout_10000x), so the
# lake's readers and its maintenance never consult one.  The file-table
# reader and the ``bucketize`` verb are the only ways in.
LAYOUT_IMPORTERS = {"lake.tables", "cli"}


def test_only_file_table_readers_import_layout():
    trees, pkgs = _package_trees()
    known = set(trees)
    importers = {
        name
        for name, tree in trees.items()
        if name != "lake.layout"
        and "lake.layout" in _imported(tree, name, name in pkgs, known)
    }
    assert importers == LAYOUT_IMPORTERS
