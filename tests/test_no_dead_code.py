"""Every top-level function, class and constant of `ds2_spark` is used
by some code outside its own definition — in the package, its tests,
its tools or the benchmark — so code that nothing calls cannot come
back unnoticed. A use is an identifier, attribute, imported name or
identifier-shaped string (getattr) in any .py file of the repo; a
mention in a comment or docstring is not. Registered catalog queries
are left out: the catalog reaches them through `queries()`. No Spark
session."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP_DIRS = {"__pycache__", "dist", "build", "spark-warehouse"}


def _trees():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    yield p, ast.parse(fh.read())


def _used_name(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value if node.value.isidentifier() else None
    return None


def _definitions(tree):
    """(name, first line, last line) of each top-level def, class and
    constant, decorators included; @register queries left out."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            decs = [d.func if isinstance(d, ast.Call) else d for d in node.decorator_list]
            if any(_used_name(d) == "register" for d in decs):
                continue
            names = [node.name]
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
            first = node.lineno
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, first, node.end_lineno


def unused() -> list[str]:
    trees = dict(_trees())
    uses: dict[str, list] = {}  # name -> [(file, line)]
    for p, tree in trees.items():
        for node in ast.walk(tree):
            name = _used_name(node)
            if name:
                uses.setdefault(name, []).append((p, getattr(node, "lineno", 0)))
    package = os.path.join(ROOT, "ds2_spark") + os.sep
    dead = []
    for p, tree in trees.items():
        if p.startswith(package):
            for name, first, last in _definitions(tree):
                if all(q == p and first <= i <= last for q, i in uses.get(name, [])):
                    dead.append(f"{os.path.relpath(p, ROOT)}:{first} {name}")
    return sorted(dead)


def test_every_package_name_is_used():
    assert unused() == []
