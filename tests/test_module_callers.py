"""Every product module has a non-test caller.

An import walk over the source with ``ast`` (no Spark, nothing
imported): start from the files that run outside the suite — the driver
contract, the bench, perfbench, the tools and every ``aggregator_spark``
module with a ``__main__`` block — and follow every import, function-local
ones included, plus the dotted ``aggregator_spark.*`` string constants
that name modules loaded by name (``media_store._CODE_MODULES``). A module
under ``aggregator_spark/`` that the walk never reaches is reached only by
tests, and is dead code to delete rather than keep."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "aggregator_spark"

# plans/lint.py checks physical plans for the suite (the catalog plan
# lint and the shuffle-budget pins); the product never calls it.
EXEMPT = {"aggregator_spark.plans.lint"}


def _modules() -> dict[str, Path]:
    out = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _has_main_block(tree: ast.Module) -> bool:
    for node in tree.body:
        if isinstance(node, ast.If):
            src = ast.unparse(node.test)
            if "__name__" in src and "__main__" in src:
                return True
    return False


def _named(tree: ast.Module, this: str, is_pkg: bool) -> set[str]:
    """Dotted names a module's source imports or names as a string."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = this.split(".")
                pkg = pkg[: len(pkg) - node.level + (1 if is_pkg else 0)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith(PKG + ".")
            and all(p.isidentifier() for p in node.value.split("."))
        ):
            names.add(node.value)
    return names


def _reached() -> tuple[set[str], dict[str, Path]]:
    modules = _modules()
    trees = {m: ast.parse(p.read_text(), str(p)) for m, p in modules.items()}
    roots = [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *(p for p in sorted((ROOT / "perfbench").glob("*.py"))
          if not p.name.startswith("test_")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    todo = [
        (f"__root__.{p.stem}", ast.parse(p.read_text(), str(p)), False)
        for p in roots
    ]
    todo += [
        (m, t, modules[m].name == "__init__.py")
        for m, t in trees.items()
        if _has_main_block(t)
    ]
    reached = {m for m, _, _ in todo if m in modules}
    while todo:
        this, tree, is_pkg = todo.pop()
        for name in _named(tree, this, is_pkg):
            parts = name.split(".")
            # a.b.c imports a and a.b as well; a name past the module
            # (a function, a class) resolves to its longest module prefix
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append(
                        (mod, trees[mod], modules[mod].name == "__init__.py")
                    )
    return reached, modules


def test_every_product_module_has_a_non_test_caller():
    reached, modules = _reached()
    unreached = sorted(set(modules) - reached - EXEMPT)
    assert not unreached, (
        f"{len(unreached)} module(s) under {PKG}/ are reached only by "
        f"tests; give each a product caller or delete it: {unreached}"
    )
    # an exemption outlives neither its module nor the module's
    # first product caller
    assert EXEMPT <= set(modules), "an exempt module no longer exists"
    assert not EXEMPT & reached, (
        "an exempt module now has a product caller; drop its exemption"
    )
