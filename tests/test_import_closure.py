"""The KG engine's import closure stays free of off-path families.

A static walk (``ast``, no imports executed) from the KG entry modules
follows every ``import``/``from … import`` at module AND function level,
resolving relative imports and ``from pkg import submodule``. Modules that
only non-KG analytics use must not be reachable from build, fold or query.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "mmkg_rag_spark"
ROOT = Path(__file__).resolve().parent.parent

ENTRY = [
    "pipeline",
    "streaming",
    "operators.retrieval",
    "sinks",
    "sources.catalog",
    "session",
    "metrics",
    "kernels.refpipeline",
    "run",
]

# used by the analytics side of the package, never by build/fold/query
OFF_PATH = [
    "operators.graph",
    "operators.mentions",
    "functions.cms",
    "functions.heavyhitters",
    "functions.qsketch",
    "functions.timeops",
]

# removed from the package; an import of any of them must not come back
DELETED = [
    "operators.media",
    "kernels.jpeg",
    "kernels.avi",
    "kernels.y4m",
    "functions.zorder",
    "kernels.labels",
]


def _file(mod: str) -> Path | None:
    base = ROOT.joinpath(*mod.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _imports(mod: str, path: Path) -> set[str]:
    """Package modules ``mod`` imports anywhere in its source."""
    pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = pkg.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module or ""
            out.add(base)
            # ``from pkg import submodule`` imports the submodule
            out.update(f"{base}.{a.name}" for a in node.names)
    return {m for m in out if m.split(".")[0] == PKG and _file(m)}


def kg_closure() -> set[str]:
    """Every package module the KG entries reach (parent packages'
    ``__init__`` included, as Python imports them)."""
    todo = [f"{PKG}.{m}" for m in ENTRY]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        parts = mod.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imports(mod, _file(mod)))
    return seen


def test_kg_closure_excludes_off_path_modules():
    closure = kg_closure()
    assert all(f"{PKG}.{m}" in closure for m in ENTRY)
    reached = sorted(m for m in OFF_PATH + DELETED if f"{PKG}.{m}" in closure)
    assert reached == [], f"KG import closure reaches {reached}"


def test_deleted_modules_stay_deleted():
    assert [m for m in DELETED if _file(f"{PKG}.{m}")] == []


# public closure names with no caller outside tests/: the lineage reader the
# verify recipe documents and the fixture writers tests build WARC input with
KEEP_UNCALLED = {
    "metrics.read_metrics",
    "sources.warc.write_warc",
    "sources.warc.write_wet",
}


def _referenced_names() -> set[str]:
    """Every Name, Attribute and import alias in ``.py`` files outside
    ``tests/`` (a definition alone is not a reference)."""
    out: set[str] = set()
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if rel[0] == "tests" or any(s.startswith(".") for s in rel):
            continue
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rpartition(".")[2])
    return out


def test_closure_public_names_have_callers():
    used = _referenced_names()
    uncalled = []
    for mod in sorted(kg_closure()):
        tree = ast.parse(_file(mod).read_text())
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            qual = f"{mod.removeprefix(PKG + '.')}.{node.name}"
            if node.name not in used and qual not in KEEP_UNCALLED:
                uncalled.append(qual)
    assert uncalled == [], f"only tests reach {uncalled}"
