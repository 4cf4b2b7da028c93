"""Reach guard: every package module and public definition has a caller
outside ``tests/``.

Non-test code is the package itself, ``scripts/``, ``bench.py``,
``perfbench/`` and ``__spark_entry__.py``. A reference is an AST ``Name``,
``Attribute`` or ``ImportFrom`` node; docstrings, comments and other
strings do not count, so a module that only its own docs and its tests
mention fails here."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "docling_rag_spark"

# Kept on purpose although only tests reach them, one reason per entry:
# modules (rule a) and public definitions (rule b), dotted under the
# package. The list only shrinks: an entry that gains a caller, or whose
# code is deleted, must leave it.
_REGISTRY = "registry chain; wiring it or deleting it is still open"
_MEDIA = "media op that no oracle calls; keep-or-delete still open"
ALLOWED = {
    "plans.registry": _REGISTRY,
    "operators.metadata": _REGISTRY,
    "plans.registry.upsert_registry_table": _REGISTRY,
    "operators.metadata.extract_metadata": _REGISTRY,
    "operators.search.resolve_allowed_urls": _REGISTRY,
    "operators.pipeline.documents_table": _REGISTRY,
    "operators.pq.coarse_assign":
        "numpy reference the Spark cell expression is tested against",
    "operators.pq.adc_scores":
        "numpy reference the Spark ADC expression is tested against",
    "operators.extract_pdf.detect_text_layer":
        "fail-soft form of classify_pdf that the S3 detector matrix pins",
    "plans.dedup_index.append_band_delta":
        "append half of the incremental dedup index; no ingest calls it yet",
    "operators.multimodal.resize_images": _MEDIA,
    "operators.multimodal.sample_frames": _MEDIA,
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _non_test_files() -> list[Path]:
    files = [*(ROOT / PKG).rglob("*.py"), *(ROOT / "scripts").glob("*.py"),
             *(ROOT / "perfbench").glob("*.py"), ROOT / "bench.py",
             ROOT / "__spark_entry__.py"]
    return sorted(f for f in files if f.is_file())


def _trees() -> dict[Path, ast.Module]:
    return {f: ast.parse(f.read_text(), str(f)) for f in _non_test_files()}


def _package_modules() -> set[str]:
    return {_module_name(f) for f in (ROOT / PKG).rglob("*.py")}


def _short(name: str) -> str:
    return name.removeprefix(PKG + ".")


def _imported(tree: ast.Module, modules: set[str]) -> set[str]:
    """Package modules one file imports, with their parent packages."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names |= {f"{node.module}.{a.name}" for a in node.names}
    out = set()
    for name in names:
        parts = name.split(".")
        out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return out & modules


def _references(tree: ast.Module, skip: set[int]) -> set[str]:
    """Names a file refers to, leaving out the nodes whose ids are in
    ``skip`` (a definition's own subtree)."""
    out, stack = set(), [tree]
    while stack:
        node = stack.pop()
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            out |= {a.name for a in node.names}
        stack.extend(ast.iter_child_nodes(node))
    return out


def _public_defs(tree: ast.Module):
    for node in tree.body:
        if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef))
                and not node.name.startswith("_")):
            yield node


def _unimported_modules() -> list[str]:
    modules = _package_modules()
    reached = {PKG}
    for path, tree in _trees().items():
        reached |= _imported(tree, modules) - {_module_name(path)}
    return sorted(_short(m) for m in modules - reached)


def _unreferenced_defs() -> list[str]:
    trees = _trees()
    refs = {path: _references(tree, set()) for path, tree in trees.items()}
    out = []
    for path, tree in trees.items():
        if path.relative_to(ROOT).parts[0] != PKG:
            continue
        mod = _short(_module_name(path))
        for d in _public_defs(tree):
            if any(d.name in r for p, r in refs.items() if p != path):
                continue
            # within its own module, a reference from inside its own body
            # (recursion) is no caller
            if d.name not in _references(tree, {id(d)}):
                out.append(f"{mod}.{d.name}")
    return sorted(out)


def _check(unreached: list[str], allowed: set[str]) -> None:
    assert sorted(set(unreached) - allowed) == []
    assert sorted(allowed - set(unreached)) == [], "stale ALLOWED entry"


def test_every_package_module_is_imported_outside_tests():
    modules = {_short(m) for m in _package_modules()}
    _check(_unimported_modules(), set(ALLOWED) & modules)


def test_every_public_definition_has_a_non_test_caller():
    modules = {_short(m) for m in _package_modules()}
    _check(_unreferenced_defs(), set(ALLOWED) - modules)
