"""Every engine module must be reachable from a shipped entry point.

Walks the static import graph (``ast``; imports inside functions count)
from ``__spark_entry__.py``, the CLI, the bench and every registered query
module. A ``kinesis_vcr_spark`` module that only ``tests/`` or ``tools/``
import fails here: wire it into a query, the CLI or the bench, or delete
it together with its tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

from kinesis_vcr_spark.queries import _MODULE_ORDER

ROOT = Path(__file__).resolve().parents[1]
PKG = "kinesis_vcr_spark"
ENTRIES = ["__spark_entry__", "bench", f"{PKG}.__main__"] + [
    f"{PKG}.queries.{m}" for m in _MODULE_ORDER
]

# The streaming twins, the ingest harness they run on, the Kinesis
# emulator and the state store are the paper's streaming surface (record
# runs on a stream). Tests drive them, not the batch query registry.
# ``metrics`` is imported by no twin: it stays exempt only while its
# fate is open (it waits on the run-record work, ROADMAP direction 1).
# Any other module under streaming/ must be reachable like the rest of
# the engine.
EXEMPT = {f"{PKG}.statefs"} | {
    f"{PKG}.streaming.{m}"
    for m in (
        "annstream", "graph", "htmlstream", "neardup", "searchstream",
        "seasonalstream", "spanstream", "tarstream", "urlstream",
        "warcstream", "ingest", "metrics", "kinesis_emulator",
    )
}


def _path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _imports(name: str) -> set[str]:
    # absolute imports only (the package uses no relative ones; one
    # would show up here as a false orphan, never hide a real one)
    out: set[str] = set()
    for node in ast.walk(ast.parse(_path(name).read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out |= {node.module} | {f"{node.module}.{a.name}" for a in node.names}
    mods = {m for m in out if m.startswith(PKG) and _path(m)}
    # importing a.b.c runs a/__init__ and a/b/__init__ first
    return mods | {m.rsplit(".", i)[0] for m in mods for i in range(1, m.count(".") + 1)}


def test_every_engine_module_is_reachable():
    seen: set[str] = set()
    todo = list(ENTRIES)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += _imports(name) - seen
    modules = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in (ROOT / PKG).rglob("*.py")
    }
    orphans = sorted(modules - seen - EXEMPT)
    assert not orphans, f"reached only from tests/ or tools/: {orphans}"


def test_every_exemption_names_an_existing_module():
    # an exemption must not outlive its module
    stale = sorted(m for m in EXEMPT if _path(m) is None)
    assert not stale, f"EXEMPT lists missing modules: {stale}"
