"""Every package module is reached from an entry point.

Pure ``ast``, no Spark. The walk starts at the files the engine is run
through — the driver contract (``__spark_entry__.py`` and the query
registry), the batch jobs, the benchmark harness and ``bench.py`` — and
follows every import, function-local ones included. A string constant
that equals a package module's dotted name also counts as a reach: that
is how ``session.get_spark`` names ``geotrellis_spark.pydaemon`` in a
Spark conf. A module no entry point reaches is code only tests run; the
test names each one so such code cannot grow back unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "geotrellis_spark"

ENTRY_FILES = (
    ["__spark_entry__.py", "geotrellis_spark/plans/driver_queries.py", "bench.py"]
    + sorted(f"jobs/{p.name}" for p in (ROOT / "jobs").glob("*.py"))
    + sorted(f"perfbench/{p.name}" for p in (ROOT / "perfbench").glob("*.py"))
)

# Kept without an entry point, on purpose. Rasterize and local map
# algebra are named GeoTrellis capabilities; kept tests of tiling and
# zonal stats build their inputs with them. The per-tile raster-op
# kernels are a self-contained library with their own test files; they
# are the next candidate for removal.
KEPT_UNREACHED = {
    "geotrellis_spark.operators.algebra",
    "geotrellis_spark.core.raster_ops",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def _reached_names(path: Path, modname: str | None) -> set[str]:
    """Dotted names one file imports or names in a string constant."""
    tree = ast.parse(path.read_text(), filename=str(path))
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = (modname or "").split(".")
                if not is_pkg:
                    pkg = pkg[:-1]
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    return names


def _reached(mods: dict[str, Path]) -> set[str]:
    todo = [(ROOT / f, None) for f in ENTRY_FILES]
    seen: set[str] = set()
    while todo:
        path, modname = todo.pop()
        for name in _reached_names(path, modname):
            parts = name.split(".")
            # a.b.c also runs the packages a and a.b
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    reached = _reached(mods)
    unreached = sorted(
        m for m, p in mods.items() if p.name != "__init__.py" and m not in reached
    )
    assert not set(unreached) - KEPT_UNREACHED, (
        f"{len(unreached)} package modules are reached from no entry point "
        f"(kept on purpose: {sorted(KEPT_UNREACHED)}):\n  "
        + "\n  ".join(unreached)
    )
    # an exemption for a module that is gone or now reached must go too
    assert KEPT_UNREACHED <= set(unreached), KEPT_UNREACHED - set(unreached)
