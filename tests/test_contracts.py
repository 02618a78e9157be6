"""Source-level guards for the CLAUDE.md kernel and persist contracts.

Every boolean operator folds through the verified
``geometry.gh_split_rings_robust``; the raw multi-ring kernel
``gh_clip_rings`` is called only inside geometry.py, and the retired
single-ring kernel and duplicate wrapper names must not come back.
Operators never ``.cache()``/``.persist(`` (re-invoked operators
accumulate CacheManager entries) — eager ``localCheckpoint()`` instead."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "mapshaper_spark"

RAW_KERNEL = "gh_clip_rings"
REMOVED = {
    "gh_clip",
    "gh_intersection",
    "gh_difference",
    "gh_union",
    "gh_clip_rings_robust",
}


def _modules():
    mods = sorted(PKG.rglob("*.py"))
    assert mods, f"no modules under {PKG}"
    return mods


def _called_name(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def test_boolean_operators_call_only_the_robust_wrapper():
    bad = []
    for path in _modules():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _called_name(node)
            forbidden = name in REMOVED or (
                name == RAW_KERNEL and path.name != "geometry.py"
            )
            if forbidden:
                bad.append(f"{path.relative_to(PKG.parent)}:{node.lineno} {name}")
    assert not bad, "raw or removed GH kernel calls: " + ", ".join(bad)


def test_no_cache_or_persist():
    pat = re.compile(r"\.cache\(\)|\.persist\(")
    bad = [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path in _modules()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not bad, ".cache()/.persist( in: " + ", ".join(bad)
