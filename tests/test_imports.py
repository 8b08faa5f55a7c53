"""Every in-package import resolves. Many imports sit inside function bodies,
so importing a module does not exercise them; this parses each source file
instead and resolves every ``embulk_filter_copy_spark.*`` target without
running any Spark code."""

from __future__ import annotations

import ast
import functools
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "embulk_filter_copy_spark"
SOURCES = sorted(
    [*(ROOT / PKG).rglob("*.py"), ROOT / "__spark_entry__.py", *(ROOT / "cdcbench").rglob("*.py")]
)


@functools.cache
def _top_level_names(path: str) -> set[str]:
    names: set[str] = set()
    stack = list(ast.parse(Path(path).read_text()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            )
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            stack.extend(ast.iter_child_nodes(node))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    return names


def _spec(name: str):
    # find_spec imports the parent packages, which may themselves fail
    try:
        return importlib.util.find_spec(name)
    except ImportError:
        return None


def _unresolved(path: Path) -> list[str]:
    bad = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            targets = [(node.module, a.name) for a in node.names]
        else:
            continue
        for mod, name in targets:
            if mod != PKG and not mod.startswith(PKG + "."):
                continue
            spec = _spec(mod)
            if spec is None:
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno} {mod}")
                continue
            if name is None or name == "*":
                continue
            if spec.submodule_search_locations is not None and _spec(f"{mod}.{name}"):
                continue
            if name not in _top_level_names(spec.origin):
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno} {mod}.{name}")
    return bad


def test_in_package_imports_resolve():
    bad = [b for path in SOURCES for b in _unresolved(path)]
    assert not bad, f"unresolved in-package imports: {bad}"
