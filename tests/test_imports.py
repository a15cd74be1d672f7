"""Every ``from spark_aknn... import name`` and every ``<engine
module>.<name>`` in the repo's scripts, tools, benchmark and tests
resolves to a module or a top-level name of the package — read from
source with ``ast``, no Spark needed — so deleting or renaming engine
code cannot strand a caller."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
IMPORTERS = ["tools", "perfbench", "tests", "spark_aknn"]
SCRIPTS = ["bench.py", "bench_extra.py", "__spark_entry__.py"]


def _module_file(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _top_level_names(path: str) -> set[str]:
    names: set[str] = set()
    for node in _parse(path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


def _importer_files() -> list[str]:
    files = [os.path.join(REPO, s) for s in SCRIPTS]
    for d in IMPORTERS:
        files += glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    return sorted(files)


def _engine_imports() -> list[tuple[str, int, str, str | None]]:
    """(file, line, module, name) for every engine import; name is None
    for a plain ``import spark_aknn...``."""
    out = []
    for path in _importer_files():
        rel = os.path.relpath(path, REPO)
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("spark_aknn"):
                out += [(rel, node.lineno, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                out += [
                    (rel, node.lineno, a.name, None)
                    for a in node.names
                    if a.name.split(".")[0] == "spark_aknn"
                ]
    return out


def test_engine_imports_resolve():
    imports = _engine_imports()
    assert {"spark_aknn.aknn", "spark_aknn.grid", "spark_aknn.manifest"} <= {
        m for _, _, m, _ in imports
    }
    stranded = []
    for path, line, module, name in imports:
        module_file = _module_file(module)
        if module_file is None:
            stranded.append(f"{path}:{line}: no module {module}")
        elif name is not None and not (
            name in _top_level_names(module_file) or _module_file(f"{module}.{name}")
        ):
            stranded.append(f"{path}:{line}: {module} has no {name}")
    assert not stranded, "\n".join(stranded)


def _dotted(node: ast.AST) -> str | None:
    """``a.b.c`` for a chain of names and attributes, else None."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


def _module_aliases(tree: ast.Module) -> dict[str, str]:
    """Local name -> engine module, for every engine module the file
    binds by an import and never rebinds."""
    aliases, rebound = {}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("spark_aknn"):
            for a in node.names:
                if _module_file(f"{node.module}.{a.name}"):
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "spark_aknn":
                    aliases[a.asname or "spark_aknn"] = a.name if a.asname else "spark_aknn"
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            rebound.add(node.id)
        elif isinstance(node, ast.arg):
            rebound.add(node.arg)
    return {k: v for k, v in aliases.items() if k not in rebound}


def test_engine_module_attributes_resolve():
    """``aknn._sorted_training``, ``ann.release_cached`` and the like —
    perfbench reaches the engine through module attributes, which the
    import check above cannot see. Also covers ``setattr(module,
    "name", ...)`` as tests monkeypatch it."""
    seen, stranded = 0, []
    for path in _importer_files():
        tree = _parse(path)
        aliases = _module_aliases(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                owner, attr = _dotted(node.value), node.attr
            elif (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "setattr"
                and len(node.args) >= 2
                and isinstance(node.args[1], ast.Constant)
            ):
                owner, attr = _dotted(node.args[0]), node.args[1].value
            else:
                continue
            head, _, rest = (owner or "").partition(".")
            if head not in aliases or attr.startswith("__"):
                continue
            module = aliases[head] + (f".{rest}" if rest else "")
            module_file = _module_file(module)
            if module_file is None:
                continue
            seen += 1
            if attr not in _top_level_names(module_file) and not _module_file(f"{module}.{attr}"):
                rel = os.path.relpath(path, REPO)
                stranded.append(f"{rel}:{node.lineno}: {module} has no {attr}")
    assert seen > 0
    assert not stranded, "\n".join(stranded)


def test_join_keeps_the_defaults_perfbench_reads():
    """perfbench reads these two defaults off all_knn_join's signature."""
    tree = _parse(_module_file("spark_aknn.aknn"))
    fn = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "all_knn_join"
    )
    positional = fn.args.args[len(fn.args.args) - len(fn.args.defaults):]
    defaults = dict(zip([a.arg for a in positional], fn.args.defaults))
    defaults.update(zip([a.arg for a in fn.args.kwonlyargs], fn.args.kw_defaults))
    for name in ("margin_factor", "eager_stats_max_rows"):
        assert isinstance(defaults.get(name), ast.Constant), name


def _repo_files() -> list[str]:
    """Every .py file of the repo, skipping hidden directories."""
    out = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _public_defs() -> list[tuple[str, ast.FunctionDef | ast.ClassDef]]:
    """(file, node) for every public top-level function or class of the
    engine package."""
    out = []
    for path in glob.glob(os.path.join(REPO, "spark_aknn", "**", "*.py"), recursive=True):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                out.append((path, node))
    return out


def _referenced_names(tree: ast.Module, skip: tuple[int, int] | None = None) -> set[str]:
    """Names, attribute names and import aliases in ``tree``, leaving out
    the nodes inside the line span ``skip``."""
    names = set()
    for node in ast.walk(tree):
        if skip and skip[0] <= getattr(node, "lineno", 0) <= skip[1]:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.split(".")[-1])
    return names


def test_every_public_engine_name_is_used():
    """A public engine function or class that nothing in the repo names
    outside its own definition is dead code: delete it, or call and
    test it."""
    trees = {path: _parse(path) for path in _repo_files()}
    refs = {path: _referenced_names(tree) for path, tree in trees.items()}
    unused = []
    for path, node in _public_defs():
        if any(node.name in r for p, r in refs.items() if p != path):
            continue
        own = _referenced_names(trees[path], (node.lineno, node.end_lineno))
        if node.name not in own:
            unused.append(f"{os.path.relpath(path, REPO)}:{node.lineno}: {node.name}")
    assert not unused, "\n".join(unused)


def test_keyword_arguments_name_engine_parameters():
    """Every keyword any repo file passes to a public engine function is
    one of its parameters, so deleting an option cannot strand a caller
    that only the benchmark runs. Functions that share a name are
    checked against the union of their parameters."""
    params: dict[str, set[str] | None] = {}
    for _, node in _public_defs():
        if not isinstance(node, ast.FunctionDef):
            continue
        a = node.args
        if a.kwarg is not None:
            params[node.name] = None  # **kwargs takes any keyword
        elif params.get(node.name, set()) is not None:
            names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
            params[node.name] = params.get(node.name, set()) | names
    stranded = []
    for path in _repo_files():
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            accepted = params.get(name)
            if accepted is None:
                continue
            for kw in node.keywords:
                if kw.arg is not None and kw.arg not in accepted:
                    rel = os.path.relpath(path, REPO)
                    stranded.append(f"{rel}:{node.lineno}: {name}({kw.arg}=)")
    assert "minhash_dedup_pairs" in params and "all_knn_join" in params
    assert not stranded, "\n".join(stranded)
