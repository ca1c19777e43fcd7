"""Dead-module guard: every ``dtaidistance_spark`` module must be
reachable from a program entry point, or sit on the keep-list below.

The walk is static (``ast``): it starts at ``bench.py``,
``__spark_entry__.py``, ``scripts/*.py`` and ``perfbench/*.py``,
follows every ``import`` / ``from ... import`` (function-local ones
too, relative ones resolved against the importing module), and also
counts a string constant that is exactly a module's dotted name, as
``session.py`` names ``dtaidistance_spark.pydaemon`` in
``spark.python.daemon.module``.  Importing a module imports the
packages that hold it, so those ``__init__``s are reached too.

A module only tests reach fails this test: delete it with its tests,
or add it to the keep-list with the reason it stays.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dtaidistance_spark"

# Modules no entry point reaches that stay on purpose.
KEEP_UNREACHED = {
    # The incremental 1m tier (Structured Streaming) that the append
    # mode of sinks/tiers.py and sinks/snapshots.py exists for.
    "streaming.rollup_stream",
    # Streaming twin of operators/dedup.py's exact dedup, sharing its
    # text normalization.
    "streaming.dedup_stream",
    # The reference's generic DP engine (dp.dp) with its output
    # conventions, so its fixtures port; q_edit_distance uses the
    # JVM levenshtein instead.
    "kernels.dp",
}


def _package_modules():
    """dotted name -> source path for every module of the package."""
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _with_parents(name):
    parts = name.split(".")
    return {".".join(parts[:k]) for k in range(1, len(parts) + 1)}


def _references(path, module, is_pkg):
    """Dotted names ``path`` imports or names in a string constant."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = module.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[:len(base) - (node.level - 1)]
                stem = ".".join(base + ([node.module] if node.module
                                        else []))
            else:
                stem = node.module
            out.add(stem)
            out.update(f"{stem}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out


def _reached(mods):
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
             *sorted((ROOT / "scripts").glob("*.py")),
             *sorted((ROOT / "perfbench").glob("*.py"))]
    reached = set()
    todo = [(p, p.stem, False) for p in roots]
    while todo:
        path, module, is_pkg = todo.pop()
        for name in _references(path, module, is_pkg):
            for hit in _with_parents(name) & mods.keys() - reached:
                reached.add(hit)
                src = mods[hit]
                todo.append((src, hit, src.name == "__init__.py"))
    return reached


def test_only_keep_listed_modules_are_unreached():
    mods = _package_modules()
    keep = {f"{PKG}.{m}" for m in KEEP_UNREACHED}
    assert keep <= mods.keys(), sorted(keep - mods.keys())
    held = set().union(*(_with_parents(m) for m in keep))
    unreached = mods.keys() - _reached(mods) - (held - keep)
    assert sorted(unreached) == sorted(keep)
