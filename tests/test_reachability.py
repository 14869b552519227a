"""Every package module is reached from an entry point, or is named here.

The engine's entry points are the oracle queries (`__spark_entry__.py`),
the extraction job (`jobs/`), the benchmarks (`bench.py`, `perfbench/`) and
the operator tools (`tools/`). A module none of them imports is code that
only tests run: it gets wired in under an oracle or deleted, and the few
kept on purpose are listed in KEPT_UNREACHED with the reason.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "api_ocr_spark"
ENTRY_FILES = ("__spark_entry__.py", "bench.py")
ENTRY_DIRS = ("jobs", "tools", "perfbench")

KEPT_UNREACHED = {
    "streaming.stream": "Structured Streaming variant of the span stage; tested against batch",
    "plans.bucketing": "write-time bucketed co-located join, a COVERAGE feature with its own tests",
    "ocr.postprocess": "python twins of the Catalyst text extractors in functions/text.py",
}


def _py_files(d):
    for dirpath, _, names in os.walk(d):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(dirpath, n)


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
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = set()
    for node in ast.walk(tree):
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
    modules = _package_modules()
    todo = [os.path.join(ROOT, f) for f in ENTRY_FILES]
    for d in ENTRY_DIRS:
        todo.extend(_py_files(os.path.join(ROOT, d)))
    reached = set()
    while todo:
        for mod in _imported(todo.pop(), modules) - reached:
            reached.add(mod)
            todo.append(modules[mod])
    assert set(modules) - reached == set(KEPT_UNREACHED)
