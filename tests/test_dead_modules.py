"""Every package module is reachable by imports from the product entry
points: ``jobs``, ``session`` and every module of the ``plans`` (the query
registry) and ``streaming`` packages.

A static walk over ``import``/``from`` statements (function-local ones
included, since lazy imports are common here), with no Spark: a module
that only its own tests import is dead code and fails this test by name.
The standalone media codecs in ``PENDING_DELETION`` are the one known
exception; that list may only shrink.
"""

from __future__ import annotations

import ast
import pathlib

PKG = "fund_data_etl_pipeline_spark"
ROOT = pathlib.Path(__file__).resolve().parent.parent / PKG
ENTRY_POINTS = ("jobs", "plans", "streaming", "session")
# Unreached codecs whose deletion is still open (ROADMAP item 3). A
# listed module that is gone or has become reached fails the test too,
# so the list cannot go stale.
PENDING_DELETION = frozenset(
    f"{PKG}.operators.{m}"
    for m in ("avi_mjpeg", "flac_codec", "mp4_meta", "png_codec", "wav_codec")
)


def _package_modules() -> dict[str, pathlib.Path]:
    mods = {}
    for py in ROOT.rglob("*.py"):
        parts = (PKG,) + py.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = py
    return mods


def _imported(name: str, path: pathlib.Path, mods: dict) -> set[str]:
    """Package modules that ``name`` (at ``path``) imports, plus the
    parent packages each import loads."""
    pkg = name if path.name == "__init__.py" else name.rsplit(".", 1)[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg.rsplit(".", node.level - 1)[0]
                target = f"{base}.{node.module}" if node.module else base
            else:
                target = node.module
            found.add(target)
            found.update(f"{target}.{a.name}" for a in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & set(mods)


def test_every_package_module_is_reached_from_an_entry_point():
    mods = _package_modules()
    entry = tuple(f"{PKG}.{e}." for e in ENTRY_POINTS)
    todo = [m for m in mods if (m + ".").startswith(entry)]
    todo.append(PKG)  # importing any entry point loads the package
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imported(name, mods[name], mods) - seen)
    unreached = set(mods) - seen
    dead = sorted(unreached - PENDING_DELETION)
    assert not dead, f"modules no entry point imports: {dead}"
    stale = sorted(PENDING_DELETION - unreached)
    assert not stale, f"pending deletion but gone or reached: {stale}"
