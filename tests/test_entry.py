"""Driver-contract smoke tests: entry() runs, every query runs at sf0.001,
oracle_sql keys are a subset of queries keys, and every package module is
reachable from an entry point."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "event_count" in df.columns


def test_all_queries_run_at_smoke_sf(spark, sf_dir):
    qs = entry_mod.queries()
    assert qs, "registry must not be empty"
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        df.limit(5).collect()  # runs without error


def test_oracle_keys_subset_of_queries(spark):
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)


def _package_imports(path: Path, module: str, is_pkg: bool) -> set[str]:
    """Dotted names a file imports, at any depth (function-level imports
    included), with relative imports resolved against ``module``. For
    ``from X import a`` both ``X`` and ``X.a`` are listed: ``a`` may be a
    submodule."""
    here = module.split(".") if is_pkg else module.split(".")[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = here[: len(here) - (node.level - 1)]
                base = ".".join(parent + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reachable_outside_tests():
    """Package code that only its own tests import is dead weight: every
    package module must be in the import closure of the entry points
    (driver contract, CLI, bench, tools, perfbench). The listed modules
    are the ones still waiting to be wired in or deleted; this set may
    only shrink."""
    repo = Path(__file__).resolve().parents[1]
    pkg = "aws_snowflake_kinesis_airflow_pipeline_spark"
    modules: dict[str, tuple[Path, bool]] = {}
    for f in (repo / pkg).rglob("*.py"):
        parts = f.relative_to(repo).with_suffix("").parts
        is_pkg = parts[-1] == "__init__"
        modules[".".join(parts[:-1] if is_pkg else parts)] = (f, is_pkg)

    roots = [repo / "__spark_entry__.py", repo / "bench.py",
             *sorted((repo / "tools").glob("*.py")),
             *(f for f in sorted((repo / "perfbench").glob("*.py"))
               if not f.name.startswith("test_"))]
    todo = {f"{pkg}.__main__"}
    for f in roots:
        todo |= _package_imports(f, f.stem, False)
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        for mod in (".".join(name.split(".")[:i])
                    for i in range(1, name.count(".") + 2)):
            if mod in modules and mod not in seen:
                seen.add(mod)
                path, is_pkg = modules[mod]
                todo |= _package_imports(path, mod, is_pkg)

    unreachable = {m.removeprefix(pkg + ".") for m in set(modules) - seen}
    assert unreachable == {
        "operators.ddl", "operators.sharding", "operators.skew",
        "operators.zorder",
    }
