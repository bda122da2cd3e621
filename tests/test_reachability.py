"""Every engine module and operator def must be reachable from a shipped
entry point.

Walks the static import graph (``ast``; imports inside functions count)
from ``__spark_entry__.py``, the CLI, the bench and every registered query
module. A ``kinesis_vcr_spark`` module that only ``tests/`` or ``tools/``
import fails here: wire it into a query, the CLI or the bench, or delete
it together with its tests.

A module reached that way can still carry defs only tests call, so a
second walk goes one level down: every top-level def, class and
assigned constant under ``operators/`` must be named by shipped code
outside its own body.
"""

from __future__ import annotations

import ast
from pathlib import Path

from kinesis_vcr_spark.queries import _MODULE_ORDER

ROOT = Path(__file__).resolve().parents[1]
PKG = "kinesis_vcr_spark"
OPS = f"{PKG}.operators."
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


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts).removesuffix(".__init__")


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


def _reached() -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRIES)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += _imports(name) - seen
    return seen


def test_every_engine_module_is_reachable():
    seen = _reached()
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    orphans = sorted(modules - seen - EXEMPT)
    assert not orphans, f"reached only from tests/ or tools/: {orphans}"


def test_every_exemption_names_an_existing_module():
    # an exemption must not outlive its module
    stale = sorted(m for m in EXEMPT if _path(m) is None)
    assert not stale, f"EXEMPT lists missing modules: {stale}"


# Operator defs that stay although no shipped path names them -> why.
EXEMPT_DEFS = {
    f"{PKG}.operators.compaction.compact_archive":
        "the archive's small-file maintenance, run between record runs",
    f"{PKG}.operators.compaction.plan_compaction":
        "the archive's small-file maintenance, run between record runs",
    f"{PKG}.operators.triangles.triangles":
        "reference the streaming triangle loop is tested against",
    f"{PKG}.operators.blockfilter.flag_blocked":
        "reference its single-pass twin is tested against",
    f"{PKG}.operators.pq.pq_decode":
        "reference the quantization error is measured against",
    f"{PKG}.operators.multimodal.MEDIA_SCHEMA":
        "the input schema the media operators document; tests build "
        "frames with it",
}


def _refs(nodes: list[ast.AST], bind: dict[str, str], mod: str) -> set[str]:
    """Qualified names that ``nodes`` mention through a ``Name``, an
    ``Attribute`` chain or an import alias. Strings never count."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.ImportFrom) and node.module:
                out |= {f"{node.module}.{a.name}" for a in node.names}
            elif isinstance(node, (ast.Name, ast.Attribute)):
                chain = []
                while isinstance(node, ast.Attribute):
                    chain.append(node.attr)
                    node = node.value
                if isinstance(node, ast.Name):
                    q = bind.get(node.id, f"{mod}.{node.id}")
                    for attr in reversed(chain):
                        out.add(q)
                        q = f"{q}.{attr}"
                    out.add(q)
    return out


def _scan(path: Path):
    """(module, top-level defs → the names each body mentions, names
    the module-level code mentions)."""
    mod = _module_name(path)
    tree = ast.parse(path.read_text())
    bind: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                # ``import a.b`` binds ``a``; ``import a.b as x`` binds a.b
                target = a.name if a.asname else a.name.split(".")[0]
                bind[a.asname or target] = target
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                bind[a.asname or a.name] = f"{node.module}.{a.name}"
    defs: dict[str, set[str]] = {}
    top: list[ast.AST] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            # decorators and class bases run at import, with the module
            top += node.decorator_list + getattr(node, "bases", [])
            body = [n for n in ast.iter_child_nodes(node)
                    if n not in node.decorator_list + getattr(node, "bases", [])]
            defs[f"{mod}.{node.name}"] = _refs(body, bind, mod)
        elif mod.startswith(OPS) and (names := _assigned(node)):
            # an operator module's constant counts like a def: its value
            # is live only if shipped code names the constant
            refs = _refs([node.value], bind, mod) if node.value else set()
            defs |= {f"{mod}.{n}": refs for n in names}
        else:
            top.append(node)
    return mod, defs, _refs(top, bind, mod)


def _assigned(node: ast.AST) -> list[str]:
    """Plain names a module-level assignment binds (dunders aside)."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    if not all(isinstance(t, ast.Name) for t in targets):
        return []
    return [t.id for t in targets if not t.id.startswith("__")]


def _unreached_defs() -> list[str]:
    """Operator defs that no shipped code names, closed transitively: a
    def named only from unreached defs is itself unreached."""
    shipped = [_path(m) for m in _reached() | EXEMPT if _path(m)]
    bench = sorted((ROOT / "perfbench").glob("*.py"))
    body: dict[str, set[str]] = {}
    live: set[str] = set()
    todo: list[str] = list(EXEMPT_DEFS)
    for path in shipped + bench:
        mod, defs, top = _scan(path)
        body |= defs
        todo += top
        # the streaming surface, the entry points and the bench are
        # called by the driver, tests and the command line, not by name
        if mod in EXEMPT or mod == f"{PKG}.__main__" or not mod.startswith(PKG):
            todo += defs
    while todo:
        name = todo.pop()
        if name in body and name not in live:
            live.add(name)
            todo += body[name]
    return sorted(d for d in body if d.startswith(OPS) and d not in live)


def test_every_operator_def_is_reachable():
    dead = _unreached_defs()
    assert not dead, (
        "operator defs reached only from tests/ or tools/:\n  " + "\n  ".join(dead)
    )


def test_every_def_exemption_names_an_existing_def():
    names = {d for p in (ROOT / PKG / "operators").glob("*.py") for d in _scan(p)[1]}
    stale = sorted(EXEMPT_DEFS.keys() - names)
    assert not stale, f"EXEMPT_DEFS lists missing defs: {stale}"
