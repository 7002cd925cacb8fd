"""Driver-contract smoke tests: entry() runs, every query runs at sf0.001,
oracle_sql keys are a subset of queries keys, every package module and
top-level definition is reachable from an entry point, every argument a
test sets is also set outside the tests, and no parameter takes one
constant at every call."""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))

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


def _signatures(modules: dict[str, tuple[Path, bool]]) -> dict[str, list[str]]:
    """Parameter names of every top-level function, class (its
    ``__init__``, or a dataclass's annotated fields) and method of the
    reachable package modules. ``self``/``cls`` are dropped: calls bind
    the instance implicitly. Keyword-only names follow a ``*`` entry
    (``*args`` for a star parameter), where positional binding stops."""
    def params(fn: ast.FunctionDef, method: bool) -> list[str]:
        a = fn.args
        names = [p.arg for p in (*a.posonlyargs, *a.args)]
        if method and names[:1] in (["self"], ["cls"]):
            names = names[1:]
        if a.vararg or a.kwonlyargs:
            names.append("*" + (a.vararg.arg if a.vararg else ""))
        return names + [p.arg for p in a.kwonlyargs]

    sigs: dict[str, list[str]] = {}
    for mod in _reachable_modules(modules):
        path = modules[mod][0]
        rel = mod.removeprefix(_PKG + ".")
        for node in ast.parse(path.read_text(), str(path)).body:
            qual = f"{rel}.{node.name}" if hasattr(node, "name") else ""
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                sigs[qual] = params(node, False)
            elif isinstance(node, ast.ClassDef):
                sigs[qual] = [n.target.id for n in node.body
                              if isinstance(n, ast.AnnAssign)
                              and isinstance(n.target, ast.Name)]
                for m in node.body:
                    if isinstance(m, ast.FunctionDef):
                        if m.name == "__init__":
                            sigs[qual] = params(m, True)
                        sigs[f"{qual}.{m.name}"] = params(m, True)
    return sigs


def _parameters_set(path: Path, module: str, is_pkg: bool, modules: dict,
                    sigs: dict[str, list[str]]) -> set[tuple[str, str, str | None]]:
    """(package callable, parameter, argument source) for every argument
    calls in ``path`` pass, by keyword or by position, and (callable,
    parameter, None) for each parameter a call leaves out. Names resolve
    through imports (``as`` aliases included), the module's own
    definitions, subclasses of package classes, and variables assigned
    from a package constructor (plus ``self`` inside a package class);
    ``<expr>.name(...)`` on an unresolved receiver matches a package
    function the file imports as ``name`` (a namespace of imports). A
    call the scan cannot bind in full yields (callable, "", None): one
    with ``**kw`` yields nothing else, one with ``*args`` yields the
    arguments before it and its keywords."""
    tree = ast.parse(path.read_text(), str(path))
    here = module.split(".") if is_pkg else module.split(".")[:-1]

    def rel(name: str) -> str:
        return name.removeprefix(_PKG + ".")

    bound: dict[str, tuple[str, str]] = {}   # local name -> (kind, target)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = here[: len(here) - (node.level - 1)]
                base = ".".join(parent + ([base] if base else []))
            for a in node.names:
                full = f"{base}.{a.name}"
                if full in modules:
                    bound[a.asname or a.name] = ("mod", full)
                elif f"{rel(base)}.{a.name}" in sigs:
                    bound[a.asname or a.name] = ("def", f"{rel(base)}.{a.name}")
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname] = ("mod", a.name)
                else:
                    head = a.name.split(".")[0]
                    bound[head] = ("mod", head)
    if module in modules:
        for node in tree.body:
            if f"{rel(module)}.{getattr(node, 'name', '')}" in sigs:
                bound[node.name] = ("def", f"{rel(module)}.{node.name}")

    def resolve(func: ast.AST) -> str | None:
        parts: list[str] = []
        while isinstance(func, ast.Attribute):
            parts.insert(0, func.attr)
            func = func.value
        if not isinstance(func, ast.Name) or func.id not in bound:
            kind, target = bound.get(parts[-1] if len(parts) == 1 else "",
                                     ("", ""))
            return target if kind == "def" else None
        kind, target = bound[func.id]
        if kind == "mod":
            dotted = [*target.split("."), *parts]
            for i in range(len(dotted) - 1, 0, -1):
                if ".".join(dotted[:i]) in modules:
                    target = ".".join([rel(".".join(dotted[:i])), *dotted[i:]])
                    break
            else:
                return None
        elif parts:
            target = ".".join([target, *parts])
        return target if target in sigs else None

    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            base = next(filter(None, map(resolve, node.bases)), None)
            if base is not None:
                bound[node.name] = ("def", base)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign) and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Call)):
            cls = resolve(node.value.func)
            if cls is not None and f"{cls}.__init__" in sigs:
                bound[node.targets[0].id] = ("def", cls)

    found: set[tuple[str, str, str | None]] = set()

    def scan(scope: ast.AST) -> None:
        for call in ast.walk(scope):
            target = resolve(call.func) if isinstance(call, ast.Call) else None
            if target is None:
                continue
            if any(k.arg is None for k in call.keywords):
                found.add((target, "", None))
                continue
            names = sigs[target]
            given: dict[str, ast.expr] = {}
            for name, arg in zip(names, call.args):
                if isinstance(arg, ast.Starred) or name.startswith("*"):
                    break
                given[name] = arg
            given.update((k.arg, k.value) for k in call.keywords)
            found.update((target, n, ast.unparse(v)) for n, v in given.items())
            if any(isinstance(a, ast.Starred) for a in call.args):
                found.add((target, "", None))
            else:
                found.update((target, n, None) for n in names
                             if n not in given and not n.startswith("*"))

    for node in tree.body:
        if isinstance(node, ast.ClassDef) and node.name in bound:
            bound["self"] = bound[node.name]
        scan(node)
        bound.pop("self", None)
    return found


# (callable, parameter) pairs only tests set, each kept on purpose.
_TEST_ONLY_PARAMS = {
    # the uncapped join form over a cap-filtered index: the reference the
    # capped grouped emission and the MinHash recall check compare against
    ("operators.dedup.ngram_jaccard_pairs", "index"),
    ("operators.dedup.ngram_jaccard_pairs", "sizes"),
    # batch reference at the incremental store's LSH parameters
    ("operators.dedup.embedding_near_dup_pairs", "n_bits"),
    # k=2 lets the LSH ⊆ exact property run on two-token documents
    ("operators.dedup.minhash_lsh_pairs", "k"),
    # the store's meta round-trip and dimension check at small sizes
    ("operators.incremental.write_embedding_index", "dim"),
    ("operators.incremental.write_embedding_index", "n_bits"),
    ("operators.incremental.write_embedding_index", "n_tables"),
    ("operators.incremental.write_embedding_index", "seed"),
    # hand-built near-dup pairs pin the split's component closure
    ("operators.leakage.leakage_safe_split", "pairs"),
    # the round-not-truncate rule needs a fine 1/buckets grid
    ("operators.sampling.with_split", "buckets"),
    # the per-cell memory guard and the in-kernel re-split need bounds
    # smaller than the fixture's cells
    ("operators.semdedup.semantic_dedup_pairs", "cell_cap"),
    ("operators.semdedup.semantic_dedup_pairs", "max_cluster_rows"),
    # the non-convergence raise needs a bound shorter than a test chain
    ("operators.dedup.connected_components", "max_iterations"),
    # S1 one file per trigger: the multi-batch replay test
    ("streaming.pipeline.IngestPipeline.start", "max_files_per_trigger"),
}


def _test_files() -> list[Path]:
    return [*sorted((_REPO / "tests").glob("*.py")),
            *sorted((_REPO / "perfbench").glob("test_*.py"))]


def _live_calls(modules: dict, sigs: dict[str, list[str]]
                ) -> set[tuple[str, str, str | None]]:
    """What :func:`_parameters_set` finds in the entry points and the
    reachable package modules."""
    found = set()
    for f in _roots():
        found |= _parameters_set(f, f.stem, False, modules, sigs)
    for mod in _reachable_modules(modules):
        path, is_pkg = modules[mod]
        found |= _parameters_set(path, mod, is_pkg, modules, sigs)
    return found


def _test_calls(modules: dict, sigs: dict[str, list[str]]
                ) -> set[tuple[str, str, str | None]]:
    found = set()
    for f in _test_files():
        found |= _parameters_set(f, f.stem, False, modules, sigs)
    return found


def _is_kept_test_only(fn: str) -> bool:
    return any(fn == k or fn.startswith(k + ".") for k in _TEST_ONLY_KEPT)


def test_every_keyword_a_test_passes_is_passed_outside_tests():
    """A parameter that only tests set selects a branch no entry point
    runs. Every (package callable, parameter) pair a test sets must also
    be set by an entry point or by reachable package code, or be one of
    the kept pairs; parameters of the kept test-only definitions are
    exempt."""
    modules = _package_modules()
    sigs = _signatures(modules)
    live = {(fn, p) for fn, p, src in _live_calls(modules, sigs) if src}
    tested = {(fn, p) for fn, p, src in _test_calls(modules, sigs) if src}
    test_only = {(fn, p) for fn, p in tested - live
                 if not _is_kept_test_only(fn)}
    assert test_only == _TEST_ONLY_PARAMS


def _declared_defaults(modules: dict[str, tuple[Path, bool]]
                       ) -> tuple[dict[tuple[str, str], str], set[str], set[str]]:
    """The source of each default, keyed by (package callable, parameter)
    over the callables :func:`_signatures` names (a class's ``__init__``
    under the class's name); every reachable function, nested or lambda
    included, that declares ``**kwargs``; and the top-level
    ``pandas_udf`` functions. A dataclass field's default is the
    record's initial state, not a choice a caller makes, so fields are
    not counted."""
    defaults: dict[tuple[str, str], str] = {}
    var_kw: set[str] = set()
    udfs: set[str] = set()
    for mod in _reachable_modules(modules):
        path = modules[mod][0]
        rel = mod.removeprefix(_PKG + ".")
        tree = ast.parse(path.read_text(), str(path))
        var_kw |= {f"{rel}:{n.lineno}" for n in ast.walk(tree)
                   if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.Lambda)) and n.args.kwarg}
        for node in tree.body:
            fns: list[tuple[str, ast.FunctionDef]] = []
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns.append((f"{rel}.{node.name}", node))
                if any(ast.unparse(getattr(d, "func", d)).endswith("pandas_udf")
                       for d in node.decorator_list):
                    udfs.add(f"{rel}.{node.name}")
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef):
                        fns.append((f"{rel}.{node.name}" if m.name == "__init__"
                                    else f"{rel}.{node.name}.{m.name}", m))
            for qual, fn in fns:
                a = fn.args
                pos = [*a.posonlyargs, *a.args]
                named = [*zip(pos[len(pos) - len(a.defaults):], a.defaults),
                         *((p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None)]
                defaults |= {(qual, p.arg): ast.unparse(d) for p, d in named}
    return defaults, var_kw, udfs


def _is_constant(src: str) -> bool:
    """A literal, or an ALL-CAPS module constant, bare or as an attribute."""
    try:
        ast.literal_eval(src)
    except (ValueError, TypeError, SyntaxError):
        return re.fullmatch(r"(\w+\.)*_*[A-Z][A-Z0-9_]*", src) is not None
    return True


# Parameters that take one constant at every call, each kept on purpose.
_ONE_VALUED_KEPT = {
    # the CLI's own entry: argparse reads sys.argv when no list is passed
    ("__main__.main", "argv"),
    # a deployment setting (cluster URL), not a choice the engine makes
    ("session.get_spark", "master"),
    # the vectors' length, a property of the input
    ("operators.dedup.embedding_near_dup_pairs", "dim"),
    ("operators.similarity.lsh_topk", "dim"),
}


def test_no_parameter_takes_one_constant_at_every_call():
    """A parameter every call sets to the same constant is a constant in a
    parameter's clothes, and the branches only another value would select
    are dead. Over the calls of the entry points, reachable package code
    and the tests, an omitted argument counts as its default, so a
    callable nothing calls contributes its defaults and a default no call
    overrides is one-valued. No pair may take one constant (a literal or
    an ALL-CAPS module constant) at every call, except the kept pairs.
    Exempt: the kept test-only definitions, ``pandas_udf`` functions
    (their parameter is the data batch) and any callable with a call the
    scan cannot bind. ``**kwargs`` is banned outright: the scan cannot
    see through it."""
    modules = _package_modules()
    sigs = _signatures(modules)
    defaults, var_kw, udfs = _declared_defaults(modules)
    assert var_kw == set()
    calls = _live_calls(modules, sigs) | _test_calls(modules, sigs)
    called = {fn for fn, _, _ in calls}
    values: dict[tuple[str, str], set[str | None]] = {
        pair: {d} for pair, d in defaults.items() if pair[0] not in called}
    for fn, p, src in calls:
        if p:
            values.setdefault((fn, p), set()).add(
                defaults.get((fn, p)) if src is None else src)
    exempt = udfs | {fn for fn, p, _ in calls if not p}
    one_valued = {
        (fn, p) for (fn, p), vs in values.items()
        if len(vs) == 1 and None not in vs and _is_constant(*vs)
        and fn not in exempt and not _is_kept_test_only(fn)}
    assert one_valued == _ONE_VALUED_KEPT
