"""Engine hygiene: no dead top-level names, no imports from the tests.

An AST sweep over every tracked ``.py`` file. A top-level name defined
under ``osmnetfusion_spark/`` must be referenced somewhere in the
repository (as a loaded name, an attribute or an imported name), so dead
code cannot grow back unnoticed; and the engine must not import from
``tests/``, which holds the reference twins the tests compare against.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "osmnetfusion_spark"
ALLOWED_UNREFERENCED = {"__version__"}
_WORD = re.compile(r"[A-Za-z_]\w*")


def _tracked_py() -> list[str]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.split()
    except (OSError, subprocess.CalledProcessError):
        # not a git checkout (e.g. an exported tree): every .py file counts
        out = []
        for d, dirs, files in os.walk(ROOT):
            dirs[:] = [x for x in dirs if not x.startswith(".")]
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files if f.endswith(".py")]
    return sorted(p for p in out if os.path.exists(os.path.join(ROOT, p)))


def _parse_all() -> dict[str, ast.Module]:
    trees = {}
    for path in _tracked_py():
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), filename=path)
    return trees


def _top_level_defs(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    # `__all__` is read by the import system, and the names
                    # it lists count as referenced through its strings
                    if isinstance(n, ast.Name) and n.id != "__all__":
                        names.append(n.id)
    return names


def _references(trees: dict[str, ast.Module]) -> set[str]:
    refs: set[str] = set()
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
            elif isinstance(n, ast.alias):
                refs.add(n.name.split(".")[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                # docstring cross-references and name-keyed registries
                refs.update(_WORD.findall(n.value))
    return refs


def test_every_engine_top_level_name_is_referenced():
    trees = _parse_all()
    refs = _references(trees)
    dead = [
        f"{path}: {name}"
        for path, tree in trees.items()
        if path.startswith(ENGINE + "/")
        for name in _top_level_defs(tree)
        if name not in refs and name not in ALLOWED_UNREFERENCED
    ]
    assert not dead, "top-level names no tracked .py file references:\n" + "\n".join(dead)


def test_engine_does_not_import_from_tests():
    trees = _parse_all()
    test_modules = {"tests"} | {
        os.path.splitext(os.path.basename(p))[0] for p in trees if p.startswith("tests/")
    }
    bad = []
    for path, tree in trees.items():
        if not path.startswith(ENGINE + "/"):
            continue
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                mods = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom) and n.level == 0 and n.module:
                mods = [n.module]
            else:
                continue
            bad += [f"{path}:{n.lineno} imports {m}" for m in mods if m.split(".")[0] in test_modules]
    assert not bad, "\n".join(bad)
