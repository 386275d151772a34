"""Orphan guard over ``har2tree_spark/``, judged by the code that ships —
the package itself, ``tools/``, ``perfbench/``, ``__spark_entry__.py`` and
``bench*.py``. A test alone does not count as a caller: code that only
pytest reaches is a second path nobody runs. Three checks:

* every module-level function and class is referred to outside its own
  definition;
* every module-level assignment (dunders aside) is read outside its own
  statement; a statement binding several names at once is one table and
  lives while any of its names is read;
* every defaulted parameter of a module-level function or of a method of
  a module-level class is passed by some call: by keyword, by position,
  or through ``*``/``**`` unpacking. A parameter with one value in use is
  a constant.

A reference is any ``ast.Name``, ``ast.Attribute`` or import alias with the
definition's name, and a call is matched to a function by its name alone.
Two definitions that share a name keep each other alive, so the guard can
miss an orphan, never invent one. The scanned files are only read."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "har2tree_spark"

# The real-HAR surface: no shipped code calls these, only tests.
# ``stream_har_documents`` is reached only by a test that needs the
# reference capture corpus and skips without it; the others run in
# corpus-free tests (synthetic captures written by the tests). Whether to
# wire or delete each is ROADMAP direction 6.
DEFERRED = {
    "capture_report": "pipeline.py real-HAR capture report",
    "attach_frames": "operators/frames.py iframe attachment from frames.json",
    "stream_har_documents": "sources/har_source.py streaming HAR ingest",
    "cookie_provenance": "sources/har_cookies.py per-cookie provenance",
    "host_cookie_rollup": "sources/har_cookies.py per-host cookie rollup",
    "initial_cookies": "sources/har_cookies.py root-entry sent cookies",
}

# The real-HAR readers' file selectors: a capture corpus names its own
# files, and only tests pass these. They are settled with the entries
# above.
DEFERRED_PARAMS = {
    "read_har_dir(pattern)": "sources/har_source.py HAR file glob",
    "read_har_packed(pattern)": "sources/har_source.py packed-capture glob",
    "stream_har_documents(pattern)": "sources/har_source.py streaming HAR glob",
    "stream_har_documents(max_files)": "sources/har_source.py files per micro-batch",
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


def _modules() -> list[tuple[Path, ast.Module]]:
    return [(p, ast.parse(p.read_text(), filename=str(p))) for p in _scanned_files()]


def _module_name(path: Path) -> str:
    return path.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")


def orphans() -> list[str]:
    total: Counter = Counter()
    defs = []  # (qualified name, name, references inside the definition)
    for path, tree in _modules():
        total.update(_refs(tree))
        if PACKAGE not in path.parents:
            continue
        mod = _module_name(path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append((f"{mod}.{node.name}", node.name, _refs(node)[node.name]))
    return sorted(
        qual
        for qual, name, inside in defs
        if total[name] - inside == 0 and name not in DEFERRED
    )


def unread_constants() -> list[str]:
    total: Counter = Counter()
    stmts = []  # (module, names bound, references inside the statement)
    for path, tree in _modules():
        total.update(_refs(tree))
        if PACKAGE not in path.parents:
            continue
        mod = _module_name(path)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            else:
                continue
            names = [
                n.id
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name) and not n.id.startswith("__")
            ]
            if names:
                stmts.append((mod, names, _refs(node)))
    return sorted(
        f"{mod}.{name}"
        for mod, names, inside in stmts
        if all(total[n] - inside[n] == 0 for n in names)
        for name in names
    )


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index at the call site or None if keyword-only)
    of each parameter that has a default. A method's index skips its
    ``self``/``cls``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    shift = 1 if is_method else 0
    out = [
        (arg.arg, i - shift)
        for i, arg in enumerate(pos)
        if i >= len(pos) - len(a.defaults)
    ]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def unset_parameters() -> list[str]:
    keywords: dict[str, set] = {}
    max_pos: Counter = Counter()
    unpacked: set[str] = set()
    params = []  # (qualified name, called name, parameter, positional index)
    for path, tree in _modules():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                unpacked.add(name)
            max_pos[name] = max(max_pos[name], len(call.args))
            keywords.setdefault(name, set()).update(k.arg for k in call.keywords)
        if PACKAGE not in path.parents:
            continue
        mod = _module_name(path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for param, idx in _defaulted(node, False):
                    params.append((f"{mod}.{node.name}", node.name, param, idx))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in m.decorator_list
                    )
                    # a constructor is called by its class's name
                    called = node.name if m.name == "__init__" else m.name
                    for param, idx in _defaulted(m, not static):
                        params.append((f"{mod}.{node.name}.{m.name}", called, param, idx))
    return sorted(
        f"{qual}({param})"
        for qual, called, param, idx in params
        if called not in unpacked
        and param not in keywords.get(called, ())
        and (idx is None or max_pos[called] <= idx)
        and f"{called}({param})" not in DEFERRED_PARAMS
    )


def test_no_orphan_definitions():
    assert orphans() == []


def test_no_unread_constants():
    assert unread_constants() == []


def test_no_unset_parameters():
    assert unset_parameters() == []


def test_deferred_names_still_exist():
    """A deferred name that was deleted or wired up leaves the list."""
    defined = set()
    params = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defined.add(node.name)
            if isinstance(node, ast.FunctionDef):
                params.update(f"{node.name}({p})" for p, _ in _defaulted(node, False))
    assert set(DEFERRED) <= defined
    assert set(DEFERRED_PARAMS) <= params
