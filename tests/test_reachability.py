"""Every engine module must be imported by something other than a test.

Roots are every ``.py`` outside ``tests/`` and ``osm_search_spark/`` (the
driver entry, ``bench.py``, ``jobs/``, ``tools/``, ``perfbench/``) plus the
served API, ``osm_search_spark/api.py``. Imports are followed through the
engine with ``ast``, absolute and relative alike. An engine module that no
root reaches is code only its own tests keep alive: serve it or delete it.
"""
import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "osm_search_spark"
SKIP_DIRS = {"tests", PKG, "__pycache__", "dist", "spark-warehouse"}


def _module_name(path):
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _engine_modules():
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                mods[_module_name(path)] = path
    return mods


def _roots():
    roots = [os.path.join(ROOT, PKG, "api.py")]
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in SKIP_DIRS and not d.startswith(".")]
        roots += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return roots


def _imports(path, name, is_pkg):
    """Dotted names a file imports: for ``from a import b`` both ``a`` and
    ``a.b`` (b may be a submodule), relative imports resolved against
    ``name``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = base[: len(base) - node.level + 1]
                mod = ".".join(parts + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _reached(engine):
    todo = [(p, _module_name(p), p.endswith("__init__.py")) for p in _roots()]
    seen = {name for _, name, _ in todo if name in engine}
    while todo:
        path, name, is_pkg = todo.pop()
        for imp in _imports(path, name, is_pkg):
            parts = imp.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in engine and mod not in seen:
                    seen.add(mod)
                    todo.append((engine[mod], mod, engine[mod].endswith("__init__.py")))
    return seen


def test_every_engine_module_is_reached_outside_tests():
    engine = _engine_modules()
    unreached = sorted(set(engine) - _reached(engine))
    assert not unreached, (
        f"{len(unreached)} engine modules are imported only by tests: {unreached}"
    )
