"""Every package module is reached from a product surface.

The product surfaces are the spark-submit jobs (``jobs/*.py``), the
driver contract (``__spark_entry__.py``) and the bench (``bench.py``).
Walking their ``import`` / ``from … import`` statements with ``ast`` —
relative imports and imports inside functions included — must reach
every module under ``search_engine_spark/``; a module nothing reaches is
code no surface runs, and is deleted rather than kept (ROADMAP aim 2).
No Spark session is needed.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "search_engine_spark"


def _module_file(name: str) -> pathlib.Path | None:
    """The repo file that defines module ``name``, or None if the module
    is not part of this repo (stdlib, pyspark, ...)."""
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: pathlib.Path) -> set[str]:
    """Names of the modules ``path`` imports; ``from m import x`` yields
    both ``m`` and ``m.x`` (the latter is kept only if it is a module)."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - (node.level - 1)]
                if node.module:
                    base.append(node.module)
                mod = ".".join(base)
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{alias.name}" for alias in node.names)
    # importing a.b.c runs a/__init__ and a/b/__init__ too
    return {".".join(m.split(".")[:i + 1])
            for m in out for i in range(m.count(".") + 1)}


def _reached() -> set[str]:
    roots = [*sorted((ROOT / "jobs").glob("*.py")),
             ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        for mod in _imported(todo.pop()):
            path = _module_file(mod)
            if path is not None and mod not in seen:
                seen.add(mod)
                todo.append(path)
    return seen


def test_every_package_module_is_reached_from_a_surface():
    modules = {_module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")}
    unreached = sorted(modules - _reached())
    assert not unreached, (
        "modules no product surface imports (delete them, or wire them "
        f"to a surface): {unreached}")
