"""Orphan guard: every module-level function and class in ``har2tree_spark/``
is referred to somewhere in the code that ships — the package itself,
``tools/``, ``perfbench/``, ``__spark_entry__.py`` and ``bench*.py`` —
outside its own definition. A test alone does not count as a caller: code
that only pytest reaches is a second path nobody runs.

A reference is any ``ast.Name``, ``ast.Attribute`` or import alias with the
definition's name. Matching is by name only, so two definitions that share
a name keep each other alive; the guard can miss an orphan, never invent
one. The scanned files are only read."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "har2tree_spark"

# The real-HAR surface: each of these is reached only by tests that need a
# reference capture corpus, which skip without one. Whether to wire or
# delete them waits for a fixture factory that can run those tests
# (ROADMAP direction 4). ``pip_join`` is SURVEY's broadcast R-tree
# point-in-polygon join; its last caller outside the tests was the
# polygon-list zonal aggregate.
DEFERRED = {
    "capture_report": "pipeline.py real-HAR capture report",
    "attach_frames": "operators/frames.py iframe attachment from frames.json",
    "stream_har_documents": "sources/har_source.py streaming HAR ingest",
    "cookie_provenance": "sources/har_cookies.py per-cookie provenance",
    "host_cookie_rollup": "sources/har_cookies.py per-host cookie rollup",
    "initial_cookies": "sources/har_cookies.py root-entry sent cookies",
    "pip_join": "operators/fallback.py broadcast R-tree PIP join (J11/J12)",
}


def _scanned_files() -> list[Path]:
    files = list(PACKAGE.rglob("*.py"))
    files += list((ROOT / "tools").rglob("*.py"))
    files += list((ROOT / "perfbench").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    return sorted(p for p in files if p.is_file())


def _refs(node: ast.AST) -> Counter:
    """Names referred to anywhere under ``node``."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out[n.asname] += 1
    return out


def orphans() -> list[str]:
    total: Counter = Counter()
    defs = []  # (qualified name, name, references inside the definition)
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        total.update(_refs(tree))
        if PACKAGE not in path.parents:
            continue
        mod = path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((f"{mod}.{node.name}", node.name, _refs(node)[node.name]))
    return sorted(
        qual
        for qual, name, inside in defs
        if total[name] - inside == 0 and name not in DEFERRED
    )


def test_no_orphan_definitions():
    assert orphans() == []


def test_deferred_names_still_exist():
    """A deferred name that was deleted or wired up leaves the list."""
    defined = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defined.add(node.name)
    assert set(DEFERRED) <= defined
