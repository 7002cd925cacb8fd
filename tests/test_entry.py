"""Driver-contract smoke tests: entry() runs, every query runs at sf0.001,
oracle_sql keys are a subset of queries keys, and every package module and
top-level definition is reachable from an entry point."""

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


_REPO = Path(__file__).resolve().parents[1]
_PKG = "aws_snowflake_kinesis_airflow_pipeline_spark"


def _roots() -> list[Path]:
    """Entry points: driver contract, bench, tools, perfbench (not its
    tests). The package ``__main__`` is a root too, seeded by module name."""
    return [_REPO / "__spark_entry__.py", _REPO / "bench.py",
            *sorted((_REPO / "tools").glob("*.py")),
            *(f for f in sorted((_REPO / "perfbench").glob("*.py"))
              if not f.name.startswith("test_"))]


def _package_modules() -> dict[str, tuple[Path, bool]]:
    modules: dict[str, tuple[Path, bool]] = {}
    for f in (_REPO / _PKG).rglob("*.py"):
        parts = f.relative_to(_REPO).with_suffix("").parts
        is_pkg = parts[-1] == "__init__"
        modules[".".join(parts[:-1] if is_pkg else parts)] = (f, is_pkg)
    return modules


def _reachable_modules(modules: dict[str, tuple[Path, bool]]) -> set[str]:
    """Import closure of the roots over the package's modules."""
    todo = {f"{_PKG}.__main__"}
    for f in _roots():
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
    return seen


def test_every_package_module_is_reachable_outside_tests():
    """Package code that only its own tests import is dead weight: every
    package module must be in the import closure of the entry points
    (driver contract, CLI, bench, tools, perfbench)."""
    modules = _package_modules()
    unreachable = set(modules) - _reachable_modules(modules)
    assert {m.removeprefix(_PKG + ".") for m in unreachable} == set()


def _referenced_names(node: ast.AST) -> set[str]:
    """Every name ``node`` can reach a definition by: bare names,
    attribute names (``mod.fn``) and imported names."""
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _is_registered(node: ast.AST) -> bool:
    """A plan the registry reaches: decorated with ``register(...)``."""
    return any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
               and d.func.id == "register"
               for d in getattr(node, "decorator_list", ()))


# Definitions only tests call, each kept on purpose.
_TEST_ONLY_KEPT = {
    # reference K1: the keyed record shape a Kafka/Kinesis sink takes
    "sources.rate_events.keyed_for_stream_sink",
    # reference K2: the Firehose-style landing writer
    "sources.json_landing.landing_stream_writer",
    # reference S3: the one-shot batch read of the landing zone
    "sources.json_landing.read_landing_batch",
    # B16 stream side; the registered s5 is its batch twin, tested equal
    "streaming.windows.dedup_within_watermark",
    # reference the registered grouped_mad_outliers_paired is tested against
    "operators.robust.grouped_mad_outliers",
    # small companions of registered operators, each pinned by its own test;
    # deleting them with their tests is ROADMAP item 4's last step
    "functions.vectors.l2_normalize",        # B28 unit-norm step
    "operators.funnel.apply_funnel",         # B27 funnel ≡ filtered corpus
    "operators.diffing.diff_summary",        # B41 audit rollup
    "operators.diffing.delta_for_ingest",    # B41 added+changed bodies
    "operators.retention.retention_rates",   # B44 rates column
    "operators.transitions.transition_matrix",  # B45 row-normalized matrix
    "operators.multimodal.frame_sample_plan",   # video frame explode
    "operators.multimodal.resize_nearest",      # thumbnail resize
}


def test_every_package_definition_is_used_outside_tests():
    """Every top-level def/class in the package is referenced from an
    entry point or from package code that is itself used, computed to a
    fixed point so that references inside unused definitions do not
    count. Functions decorated ``register(...)`` are reached by the
    registry; the kept test-only references are treated as used. Names
    match across modules, so a collision can only hide dead code, never
    fail a live definition."""
    modules = _package_modules()
    defs: dict[str, tuple[str, set[str]]] = {}   # qualname -> (name, refs)
    live: set[str] = set()                       # names referenced by live code
    for f in _roots():
        live |= _referenced_names(ast.parse(f.read_text(), str(f)))
    for mod in _reachable_modules(modules):
        path = modules[mod][0]
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                qual = f"{mod.removeprefix(_PKG + '.')}.{node.name}"
                refs = _referenced_names(node) - {node.name}
                if _is_registered(node):
                    live |= refs
                    continue
                if qual in _TEST_ONLY_KEPT:
                    live |= refs
                defs[qual] = (node.name, refs)
            else:
                live |= _referenced_names(node)
    unused = set(defs)
    while True:
        used = {q for q in unused if defs[q][0] in live}
        if not used:
            break
        unused -= used
        for q in used:
            live |= defs[q][1]
    assert unused == _TEST_ONLY_KEPT
