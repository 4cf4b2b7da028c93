"""One bucket-rewrite path: staged buckets are installed only through
``snapshots.commit_rewrite`` — extraction (overwrite and merge), delete,
registry upsert and stream fold all call it — so every warehouse policy
(retention, spec and schema pinning, lineage validation) reaches every
writer. Rebucket installs a whole new layout and commits on its own; it
still stages through ``warehouse.stage_buckets``."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "docling_rag_spark"
ALLOWED = {"io/snapshots.py", "plans/maintenance.py"}
CALL = re.compile(r"(?<!def )\bcommit_buckets(?:_retained)?\(")


def test_only_the_shared_module_installs_buckets():
    callers = set()
    for f in PKG.rglob("*.py"):
        rel = f.relative_to(PKG).as_posix()
        if CALL.search(f.read_text()):
            callers.add(rel)
    assert callers - ALLOWED == set(), (
        "commit_buckets / commit_buckets_retained called outside "
        "io/snapshots.commit_rewrite (and rebucket)")
    assert "io/snapshots.py" in callers


def test_only_the_warehouse_routes_buckets():
    """Every bucket-aligned write routes through ``warehouse.route_buckets``:
    no other module picks its own partitioner for the bucket layout."""
    callers = {f.relative_to(PKG).as_posix() for f in PKG.rglob("*.py")
               if re.search(r"\brepartitionBy(?:Id|Range)\(", f.read_text())}
    assert callers == {"io/warehouse.py"}
