"""Every top-level package function and class is reached from an entry point.

Pure ``ast``, no Spark. One walk starts at the module-level statements
of the files the engine is run through: the driver contract
(``__spark_entry__.py`` and the query registry), the batch jobs, the
benchmark harness, ``bench.py``, ``bench_extra.py`` and ``tools/``.

- A *use* of a name is an ``ast.Name``, an ``Attribute.attr``, an
  imported name, or a string constant equal to the name (how
  ``perfbench/layers.py`` ``WRAPPED`` names what it wraps). An
  ``__all__`` entry is not a use: nothing star-imports the package.
- A package module is reached when walked code imports it, or names its
  dotted path in a string constant (how ``session.get_spark`` names
  ``geotrellis_spark.pydaemon`` in a Spark conf). Its module-level
  statements are then walked.
- A top-level def of a reached module is reached when its bare name is
  used; its decorators, defaults and body are then walked. Names match
  without the module prefix, so the walk can only over-reach: it never
  flags code that runs.

A def no entry point reaches is code only tests run. The test names each
one, so such code cannot grow back unnoticed. Two more checks catch what
a deletion leaves behind: a ``KEPT_UNREACHED`` def that no test names
any more, and a module-level import that nothing in its module uses.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "geotrellis_spark"

ENTRY_FILES = (
    [
        "__spark_entry__.py",
        "geotrellis_spark/plans/driver_queries.py",
        "bench.py",
        "bench_extra.py",
    ]
    + sorted(f"jobs/{p.name}" for p in (ROOT / "jobs").glob("*.py"))
    + sorted(f"perfbench/{p.name}" for p in (ROOT / "perfbench").glob("*.py"))
    + sorted(f"tools/{p.name}" for p in (ROOT / "tools").glob("*.py"))
)

# Kept without an entry point, on purpose: qualified name (of a def, or
# of a whole module) -> reason. Entries are roots too, so what a kept
# def calls needs no entry of its own.
_REF = "reference that a live kernel's test compares against"
_INPUTS = "builds the inputs of a live decoder's tests"
_INVERSE = "inverse in a live encoder's round-trip test"
_METRIC = "fidelity measure that live codecs' tests assert on"
_NEXT = "next batch"
KEPT_UNREACHED: dict[str, str] = {
    "geotrellis_spark.operators.algebra": (
        "rasterize and local map algebra, a named GeoTrellis capability "
        "with its own tests"
    ),
    "geotrellis_spark.core.geom.points_in_polygon": _REF,
    "geotrellis_spark.core.jpeg.jpeg_encode": _INPUTS,
    "geotrellis_spark.core.jpeg.jpeg_encode_gray": _INPUTS,
    "geotrellis_spark.core.jpeg.jpeg_encode_rgb": _INPUTS,
    "geotrellis_spark.core.tiff.tiff_encode": _INPUTS,
    "geotrellis_spark.core.codecs.png_decode_rgba": _INVERSE,
    "geotrellis_spark.core.sfc.zorder_decode": _INVERSE,
    "geotrellis_spark.core.s2cell.s2_center": _INVERSE,
    "geotrellis_spark.core.s2cell.s2_parent": _INVERSE,
    "geotrellis_spark.core.s2cell.s2_range": _INVERSE,
    "geotrellis_spark.core.imagery.psnr": _METRIC,
    "geotrellis_spark.core.imagery.hamming64": _NEXT,
    "geotrellis_spark.core.kernels.focal_max": _NEXT,
    "geotrellis_spark.core.kernels.focal_mean": _NEXT,
    "geotrellis_spark.core.kernels.focal_median": _NEXT,
    "geotrellis_spark.core.kernels.focal_min": _NEXT,
    "geotrellis_spark.core.kernels.focal_mode": _NEXT,
    "geotrellis_spark.core.kernels.focal_std": _NEXT,
    "geotrellis_spark.core.kernels.focal_sum": _NEXT,
    "geotrellis_spark.core.layout.lonlat_to_slippy_key": _NEXT,
    "geotrellis_spark.core.proj.utm_zone": _NEXT,
    "geotrellis_spark.core.sfc.children_cells": _NEXT,
    "geotrellis_spark.core.sfc.rowmajor": _NEXT,
    "geotrellis_spark.core.sfc.z3": _NEXT,
    "geotrellis_spark.core.sfc.z3_decode": _NEXT,
    "geotrellis_spark.operators.multimodal.image_features": _NEXT,
    "geotrellis_spark.operators.multimodal.image_quality_gate": _NEXT,
    "geotrellis_spark.operators.multimodal.transcode_image": _NEXT,
    "geotrellis_spark.operators.multimodal.transcode_image_multiband": _NEXT,
    "geotrellis_spark.operators.render.color_ramp": _NEXT,
    "geotrellis_spark.operators.reproject.reproject_layer_utm": _NEXT,
    "geotrellis_spark.operators.similarity.ivf_build_index": _NEXT,
    "geotrellis_spark.operators.similarity.ivf_query_index": _NEXT,
    "geotrellis_spark.operators.tokenize.bpe_encode": _NEXT,
    "geotrellis_spark.operators.tokenize.bpe_train": _NEXT,
    "geotrellis_spark.sources.iceberg_shape.read_layer_metadata": _NEXT,
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modname(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _is_all(node: ast.AST) -> bool:
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _uses(nodes: list[ast.AST], modname: str, is_pkg: bool):
    """What one piece of code (a module's top level, or one top-level
    def) uses: bare names, and dotted names of modules it imports or
    names in a string."""
    names: set[str] = set()
    dotted: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.Import):
                dotted.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = modname.split(".")
                    if not is_pkg:
                        pkg = pkg[:-1]
                    pkg = pkg[: len(pkg) - (node.level - 1)]
                    base = ".".join(pkg + ([base] if base else []))
                dotted.add(base)
                for a in node.names:
                    names.add(a.name)
                    dotted.add(f"{base}.{a.name}")
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                names.add(node.value)
                dotted.add(node.value)
    return names, dotted


class _Graph:
    def __init__(self):
        files = {_modname(p): p for p in (ROOT / PKG).rglob("*.py")}
        self.entries = [_modname(ROOT / f) for f in ENTRY_FILES]
        files.update(zip(self.entries, (ROOT / f for f in ENTRY_FILES)))
        self.top = {}  # module -> uses of its module-level statements
        self.defs = {}  # module -> def name -> uses of the def
        for m, p in files.items():
            tree = ast.parse(p.read_text(), filename=str(p))
            is_pkg = p.name == "__init__.py"
            body = [n for n in tree.body if not isinstance(n, _DEFS) and not _is_all(n)]
            self.top[m] = _uses(body, m, is_pkg)
            self.defs[m] = {
                n.name: _uses([n], m, is_pkg) for n in tree.body if isinstance(n, _DEFS)
            }

    def package_defs(self) -> set[str]:
        return {
            f"{m}.{d}" for m, ds in self.defs.items()
            if m.split(".")[0] == PKG for d in ds
        }

    def reach(self, roots=()) -> set[str]:
        """Qualified names of the defs reached from the entry files and
        ``roots`` (qualified names of defs or modules)."""
        mods: set[str] = set()
        used: set[str] = set()
        reached: set[str] = set()
        todo = []

        def reach_module(dotted: str) -> None:
            parts = dotted.split(".")
            # a.b.c also runs the packages a and a.b
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in self.top and m not in mods:
                    mods.add(m)
                    todo.append(self.top[m])
                    for d in self.defs[m].keys() & used:
                        reach_def(m, d)

        def reach_def(m: str, d: str) -> None:
            if f"{m}.{d}" not in reached:
                reached.add(f"{m}.{d}")
                todo.append(self.defs[m][d])

        for m in self.entries:
            reach_module(m)
        # an entry file outside the package is called into by name (as
        # ``__spark_entry__.entry`` is), so all its functions are roots
        scripts = [m for m in self.entries if m.split(".")[0] != PKG]
        for q in [*scripts, *roots]:
            if q in self.top:
                reach_module(q)
                for d in self.defs[q]:
                    reach_def(q, d)
            elif q.rpartition(".")[0] in self.top:
                m, _, d = q.rpartition(".")
                reach_module(m)
                if d in self.defs[m]:
                    reach_def(m, d)
        while todo:
            names, dotteds = todo.pop()
            for dotted in dotteds:
                reach_module(dotted)
            for name in names - used:
                used.add(name)
                for m in mods:
                    if name in self.defs[m]:
                        reach_def(m, name)
        return reached


def _kept(key: str, q: str) -> bool:
    return q == key or q.startswith(key + ".")


def test_every_package_module_is_reached_from_an_entry_point():
    g = _Graph()
    defs = g.package_defs()
    unreached = sorted(defs - g.reach(KEPT_UNREACHED))
    assert not unreached, (
        f"{len(unreached)} package functions/classes are reached from no "
        "entry point; delete them, or list them in KEPT_UNREACHED with a "
        "reason:\n  " + "\n  ".join(unreached)
    )
    # an exemption for a def that is gone, or that an entry point now
    # reaches, must go too
    live = g.reach()
    stale = sorted(
        key for key in KEPT_UNREACHED
        if not any(_kept(key, q) for q in defs) or any(_kept(key, q) for q in live)
    )
    assert not stale, f"stale KEPT_UNREACHED entries: {stale}"


def test_kept_defs_are_named_by_a_test():
    """A def kept for tests of live code (as their reference, inputs,
    inverse or metric) is kept for nothing once no test names it: the
    entry and the def must go."""
    g = _Graph()
    named: set[str] = set()
    for p in (ROOT / "tests").glob("*.py"):
        if p.name != Path(__file__).name:
            tree = ast.parse(p.read_text(), filename=str(p))
            named |= _uses([tree], _modname(p), False)[0]
    unnamed = sorted(
        key for key in KEPT_UNREACHED
        if key not in g.top and KEPT_UNREACHED[key] != _NEXT
        and key.rpartition(".")[2] not in named
    )
    assert not unnamed, f"KEPT_UNREACHED defs no test names: {unnamed}"


def test_package_modules_use_their_imports():
    """No package module keeps a module-level import it never uses: the
    walk above counts an imported name as a use, so a stale import
    could keep a dead def out of its report."""
    unused = []
    for p in sorted((ROOT / PKG).rglob("*.py")):
        tree = ast.parse(p.read_text(), filename=str(p))
        loaded = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Import):
                bound = [a.asname or a.name.split(".")[0] for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound = [a.asname or a.name for a in node.names]
            else:
                continue
            unused += [
                f"{_modname(p)}: {name}" for name in bound if name not in loaded
            ]
    assert not unused, "unused module-level imports:\n  " + "\n  ".join(unused)
