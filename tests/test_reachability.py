"""Every package module is reached from an entry point, and so is every
top-level definition not named here; every parameter a package function
takes is read by its body, and every defaulted one is set to another value
by at least one caller.

The engine's entry points are the oracle queries (`__spark_entry__.py`),
the extraction job (`jobs/`), the benchmarks (`bench.py`, `perfbench/`) and
the operator tools (`tools/`). A module or definition none of them reaches
is code that only tests run: it gets wired in under an oracle or deleted.
The few definitions kept on purpose, as the reference a live path is
tested against, are listed in KEPT_UNREACHED_DEFS with the reason.
"""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "api_ocr_spark"
ENTRY_FILES = ("__spark_entry__.py", "bench.py")
ENTRY_DIRS = ("jobs", "tools", "perfbench")

KEPT_UNREACHED_DEFS = {
    "operators.similarity.lsh_bucket": "literal-expression bucketer the Arrow bucketer is checked against",
    "operators.similarity.ivf_assign": "literal-codebook quantizer ivf_assign_table is checked against",
    "operators.similarity.ivf_topk": "literal-codebook top-k ivf_topk_table is checked against",
    "functions.html.classify_blocks": "python boilerplate classifier the Catalyst twin is checked against",
    "functions.html.html_boilerpipe": "python boilerplate extractor the Catalyst twin is checked against",
    "imaging.render.render_checkbox_form": "renders the checkbox-form fixtures of the checkbox-mode tests",
}

KEPT_UNREAD_PARAMS = {
    "operators.pipeline.extract_documents.strategy": "perfbench/run.py passes it; it goes with the next benchmark change",
}

# operators read fixed input column names; the one key a live caller renames
KEPT_COLUMN_NAME_PARAMS = {"functions.html.html_main_content.id_col"}


def _py_files(d):
    for dirpath, _, names in os.walk(d):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(dirpath, n)


def _entry_paths():
    paths = [os.path.join(ROOT, f) for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        paths.extend(_py_files(os.path.join(ROOT, d)))
    return paths


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def _package_modules():
    """Dotted names (without the package prefix) of every non-init module."""
    out = {}
    pkg_dir = os.path.join(ROOT, PKG)
    for path in _py_files(pkg_dir):
        rel = os.path.relpath(path, pkg_dir)[:-3].replace(os.sep, ".")
        if not rel.endswith("__init__"):
            out[rel] = path
    return out


def _imported(path, modules):
    """Package modules named by the import statements of one file.

    Relative imports resolve against the file's own package. A package's
    `__init__` is not followed: its convenience re-exports would count
    every sibling as reached whether or not anything uses it.
    """
    rel = os.path.relpath(path, ROOT)[:-3].split(os.sep)
    pkg_parts = rel[:-1]
    found = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            bases = [a.name for a in node.names]
            names = []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = pkg_parts[: len(pkg_parts) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            bases = [base]
            names = [a.name for a in node.names]
        else:
            continue
        for base in bases:
            if base != PKG and not base.startswith(PKG + "."):
                continue
            mod = base[len(PKG) + 1:]
            for cand in [mod] + [f"{mod}.{n}".lstrip(".") for n in names]:
                if cand in modules:
                    found.add(cand)
    return found


def test_only_named_modules_are_unreached_from_entry_points():
    """Every package module is reached."""
    modules = _package_modules()
    todo = _entry_paths()
    reached = set()
    while todo:
        for mod in _imported(todo.pop(), modules) - reached:
            reached.add(mod)
            todo.append(modules[mod])
    assert set(modules) - reached == set()


def _names(node):
    """Every bare name a node mentions: variables, attributes, imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _defined_name(stmt):
    """The name a top-level def, class or single-name assignment binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1 \
            and isinstance(stmt.targets[0], ast.Name):
        return stmt.targets[0].id
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return stmt.target.id
    return None


def test_only_named_definitions_are_unreached_from_entry_points():
    """Names are matched bare: a name mentioned by reached code reaches
    every top-level definition of that name, whatever module defines it,
    so a name shared between modules can only over-count reach."""
    defs = {}  # bare name -> [(dotted definition, node)]
    live = set()
    for path in _entry_paths():
        live |= _names(_parse(path))
    for mod, path in _package_modules().items():
        for stmt in _parse(path).body:
            name = _defined_name(stmt)
            if name is None:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    live |= _names(stmt)
            else:
                defs.setdefault(name, []).append((f"{mod}.{name}", stmt))
    todo = list(live & set(defs))
    while todo:
        for _, node in defs[todo.pop()]:
            for name in _names(node) - live:
                live.add(name)
                if name in defs:
                    todo.append(name)
    unreached = {dotted for name, ds in defs.items() if name not in live
                 for dotted, _ in ds}
    assert unreached == set(KEPT_UNREACHED_DEFS)


def _functions(node, prefix):
    """(dotted name, def node) of every function under node, methods and
    nested functions included."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            name = f"{prefix}.{child.name}"
            if not isinstance(child, ast.ClassDef):
                yield name, child
            yield from _functions(child, name)
        else:
            yield from _functions(child, prefix)


def test_every_parameter_is_read():
    """A parameter its own body never reads is an input the function
    ignores: a caller who sets it gets the default's behavior anyway.
    Column names are not parameters either: an operator reads doc_id,
    text, html, ... and a caller with other names renames them."""
    unread, column_names = set(), set()
    for mod, path in _package_modules().items():
        for name, fn in _functions(_parse(path), mod):
            a = fn.args
            params = a.posonlyargs + a.args + a.kwonlyargs \
                + [p for p in (a.vararg, a.kwarg) if p is not None]
            read = {n.id for stmt in fn.body for n in ast.walk(stmt)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
            unread |= {f"{name}.{p.arg}" for p in params
                       if p.arg not in read | {"self", "cls"}}
            positional = a.posonlyargs + a.args
            defaults = list(zip(positional[len(positional) - len(a.defaults):], a.defaults)) \
                + list(zip(a.kwonlyargs, a.kw_defaults))
            column_names |= {f"{name}.{p.arg}" for p, d in defaults
                             if p.arg.endswith("_col") and isinstance(d, ast.Constant)
                             and isinstance(d.value, str)}
    assert unread == set(KEPT_UNREAD_PARAMS)
    assert column_names == KEPT_COLUMN_NAME_PARAMS


DOCUMENTED_IN = ("CLAUDE.md", "README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))


def test_documented_commands_exist():
    """Every `python <file>.py` command the docs tell a reader to run names a
    file in the repo, so a deleted tool cannot linger in the docs."""
    missing = []
    for doc in DOCUMENTED_IN:
        with open(os.path.join(ROOT, doc)) as f:
            for script in re.findall(r"\bpython3? ([\w./-]+\.py)\b", f.read()):
                if not os.path.isfile(os.path.join(ROOT, script)):
                    missing.append(f"{doc}: {script}")
    assert missing == []


def _caller_paths():
    """The entry points, the package itself and the tests."""
    return _entry_paths() + [p for d in (PKG, "tests")
                             for p in _py_files(os.path.join(ROOT, d))]


def _calls(path):
    """(bare callee name, call node) of every call in one file; a name an
    `import ... as` renamed is resolved back to the name it imports."""
    tree = _parse(path)
    alias = {a.asname: a.name.rsplit(".", 1)[-1] for n in ast.walk(tree)
             if isinstance(n, (ast.Import, ast.ImportFrom)) for a in n.names if a.asname}
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            f = n.func
            name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
            if name is not None:
                yield alias.get(name, name), n


def _passed(call, positional, param):
    """Source text of the value one call passes for param, "*" when a
    starred argument may carry it, None when the call leaves the default."""
    if any(k.arg is None for k in call.keywords):
        return "*"
    for k in call.keywords:
        if k.arg == param.arg:
            return ast.unparse(k.value)
    for i, a in enumerate(call.args):
        if isinstance(a, ast.Starred):
            return "*"
        if i < len(positional) and positional[i] is param:
            return ast.unparse(a)
    return None


def test_every_default_has_another_value():
    """A defaulted parameter no caller sets to another value is a constant
    with a second name: it is one configuration nothing runs but the
    default. Calls are matched by bare name, so a name shared between
    functions can only over-count the values passed."""
    defaulted = {}  # bare name -> [(dotted param, positional params, param, default text)]
    for mod, path in _package_modules().items():
        for name, fn in _functions(_parse(path), mod):
            if any(name == k or name.startswith(k + ".") for k in KEPT_UNREACHED_DEFS):
                continue
            a = fn.args
            positional = [p for p in a.posonlyargs + a.args if p.arg not in ("self", "cls")]
            pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults)) \
                + [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            defaulted.setdefault(fn.name, []).extend(
                (f"{name}.{p.arg}", positional, p, ast.unparse(d)) for p, d in pairs)
    varied = set()
    for path in _caller_paths():
        for callee, call in _calls(path):
            for dotted, positional, p, default in defaulted.get(callee, ()):
                if _passed(call, positional, p) not in (None, default):
                    varied.add(dotted)
    one_value = {d for ps in defaulted.values() for d, *_ in ps} - varied
    assert sorted(one_value) == []
